package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem}
import org.apache.spark.sql.SparkSession

/** A fresh JVM on the test classpath, for checks that need a JVM whose
  * SparkContext and Hadoop FileSystem cache nothing has touched yet: the
  * suite's shared JVM built both when its first session was made.
  */
object ChildJvm {

  final case class Result(exit: Int, output: String) {
    /** The values of the child's `RESULT key=value` lines. */
    def results: Map[String, String] = output.linesIterator
      .collect { case l if l.startsWith("RESULT ") => l.stripPrefix("RESULT ") }
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** Runs `main` with this JVM's options but a 1g heap, in `dir`, with
    * `env` added to this process's environment; kills it after
    * `timeoutS` seconds.
    */
  def run(main: String, args: Seq[String], dir: Path, env: Map[String, String],
      timeoutS: Int = 300): Result = {
    val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(_.startsWith("-Xmx")) :+ "-Xmx1g"
    val cmd = Seq(javaBin) ++ opts ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args
    val out = new StringBuffer
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val p = Process(cmd, dir.toFile, env.toSeq: _*).run(log)
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (p.isAlive() && System.nanoTime() < deadline) Thread.sleep(200)
    if (p.isAlive()) { p.destroy(); Result(-1, s"$out\n(killed after $timeoutS s)") }
    else Result(p.exitValue(), out.toString)
  }

  /** The last `n` lines of a child's output, for a failure message. */
  def tail(r: Result, n: Int = 40): String =
    r.output.linesIterator.toSeq.takeRight(n).mkString("\n")

  /** A session built the way the benchmark harness builds one: a plain
    * builder with the engine's extensions, plus `confs`.
    */
  def session(confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    val s = confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The class of the `file:` FileSystem the session's writes get, and of
    * the raw one under its checksum layer.
    */
  def fileSystemClasses(s: SparkSession): (String, String) = {
    val fs = FileSystem.get(java.net.URI.create("file:///"), s.sparkContext.hadoopConfiguration)
    val raw = fs match { case f: FilterFileSystem => f.getRawFileSystem; case f => f }
    (fs.getClass.getName, raw.getClass.getName)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
}

/** Child of ForkGuardSpec: one ETL write (climate_monthly to CSV, then the
  * split by `nation_name`) and one registry query's production to parquet.
  * Args: `<sfDir> <outDir>`.
  */
object ForkGuardMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val s = ChildJvm.session()
    val monthly = pipeline.Climate.monthly.fn(s, sfDir)
    monthly.write.option("header", "true").csv(s"$out/climate_monthly")
    s.read.option("header", "true").schema(monthly.schema).csv(s"$out/climate_monthly")
      .write.option("header", "true").partitionBy("nation_name").csv(s"$out/split_by_state")
    SparkEntry.defs.find(_.name == "sql_pricing_summary").get
      .production(s, sfDir).write.parquet(s"$out/sql_pricing_summary")
    val (fs, raw) = ChildJvm.fileSystemClasses(s)
    println(s"RESULT fs=$fs")
    println(s"RESULT raw=$raw")
    s.stop()
  }
}

/** Child of SessionSpec: a session whose own conf names `fs.file.impl`.
  * Args: `<fs.file.impl class>`.
  */
object UserFileSystemMain {
  def main(args: Array[String]): Unit = {
    val s = ChildJvm.session("spark.hadoop.fs.file.impl" -> args(0))
    println(s"RESULT impl=${s.sparkContext.hadoopConfiguration.get("fs.file.impl")}")
    println(s"RESULT raw=${ChildJvm.fileSystemClasses(s)._2}")
    s.stop()
  }
}
