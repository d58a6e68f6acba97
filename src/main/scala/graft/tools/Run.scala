package graft.tools

import graft.SparkEntry
import graft.core.{Pin, Session}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev runner: builds one session with [[Session.local]], runs one
  * named probe in it, prints the probe's total wall time and stops the
  * session.
  *
  * {{{
  * time <q> <sfDir> [reps] [explain|reuse]   per-rep wall and construct time of one
  *                                          registered query (2 reps by default);
  *                                          per-job wall and driver gap on the last rep
  * plan <outDir> <suffix> <q1,q2,...> <sfDir>
  *                                          formatted plan of each query to
  *                                          <outDir>/<q>_<suffix>.txt
  * entry                                    ENTRY_ROWS=n of the driver's entry() query
  * ann <gen|eval|evalstrict|recall> ...     planted-recall embedding probe (AnnProbe)
  * ann-lifecycle <append|gc|stream> <sfDir> ANN band-store lifecycle costs (AnnLifecycle)
  * crossmodal <sfDir>                       cross-modal state growth (CrossModalProbe)
  * er <sfDir>                               ER stage attribution (ErProbe)
  * simhash <sfDir> [flags]                  SimHash bucket occupancy (SimhashProbe)
  * genscale <srcDir> <outDir> <factor> [tables]  upsampled fixtures (GenScale)
  * }}}
  *
  * Usage: `sbt 'runMain graft.tools.Run <probe> <args...>'`; cores follow
  * `SPARK_GRAFT_CPUS` like every engine session. Unknown probes, query
  * names and flags fail loudly.
  */
object Run {

  private val probes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "time" -> (timeQuery _),
    "plan" -> (plan _),
    "entry" -> (entry _),
    "ann" -> (AnnProbe.run _),
    "ann-lifecycle" -> (AnnLifecycle.run _),
    "crossmodal" -> (CrossModalProbe.run _),
    "er" -> (ErProbe.run _),
    "simhash" -> (SimhashProbe.run _),
    "genscale" -> (GenScale.run _))

  def main(args: Array[String]): Unit = {
    val probe = args.headOption.flatMap(probes.get).getOrElse(sys.error(
      s"usage: Run <${probes.keys.toSeq.sorted.mkString("|")}> <args...>"))
    val spark = Session.local()
    try time(s"${args.head} total")(probe(spark, args.toSeq.tail))
    finally spark.stop()
  }

  /** Run `f`, print `label` with its wall seconds, return both. */
  def time[A](label: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[run] $label%-40s $s%8.2f s")
    (r, s)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"not in registry: $name"))

  private def timeQuery(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, "usage: time <q> <sfDir> [reps] [explain|reuse]")
    val Seq(name, sfDir) = args.take(2)
    val (nums, flags) = args.drop(2).partition(_.toIntOption.isDefined)
    require(flags.forall(Set("explain", "reuse")), s"unknown flags: $flags")
    val reps = nums.headOption.fold(2)(_.toInt)
    val fn = query(name)
    if (flags.contains("explain")) fn(spark, sfDir).explain("formatted")
    if (flags.contains("reuse")) {
      val df = fn(spark, sfDir)
      df.collect()
      val fin = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      println("REUSED_EXCHANGE=" + fin.contains("ReusedExchange"))
    }
    val jobs = new JobTimes
    spark.sparkContext.addSparkListener(jobs)
    (1 to reps).foreach { i =>
      jobs.verbose = i == reps // only the last rep prints per-job lines
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tc = System.nanoTime()
      val n = df.count()
      println(f"ITER $i $name rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"(construct ${(tc - t0) / 1e9}%.2f s)")
    }
    spark.sparkContext.removeSparkListener(jobs)
  }

  /** Every job's wall time and the driver-side gap since the previous job
    * ended, printed while `verbose`. For driver-coordinated queries
    * (iterative rounds, store round-trips) this localizes whether time
    * goes to task execution, broadcast builds or driver-side planning
    * between jobs.
    */
  private final class JobTimes extends SparkListener {
    @volatile var verbose = false
    @volatile private var lastEnd = System.nanoTime()
    private val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val now = System.nanoTime()
      started.put(j.jobId, now)
      val gap = (now - lastEnd) / 1e9
      if (verbose && gap > 0.05) println(f"  gap $gap%6.2f s (driver)")
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val now = System.nanoTime()
      lastEnd = now
      val wall = (now - started.getOrDefault(j.jobId, now)) / 1e9
      if (verbose) println(f"  job ${j.jobId}%4d wall=$wall%6.2f s")
    }
  }

  private def plan(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 4, "usage: plan <outDir> <suffix> <q1,q2,...> <sfDir>")
    val Seq(outDir, suffix, list, sfDir) = args
    val fns = list.split(",").map(_.trim).filter(_.nonEmpty).map(q => q -> query(q))
    Files.createDirectories(Paths.get(outDir))
    fns.foreach { case (name, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(out, txt)
      println(s"PLAN $name -> $out")
      Pin.releaseAll()
    }
  }

  /** The driver's entry() contract: the flagship query has rows. */
  private def entry(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.isEmpty, "usage: entry")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, truncate = false)
  }
}
