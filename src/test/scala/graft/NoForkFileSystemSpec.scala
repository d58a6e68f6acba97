package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.core.{NoForkLocalFileSystem, NoForkRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system sets the same permissions as the
  * stock one: on every path a sink writes, and for every mode
  * `setPermission` can be given.
  */
class NoForkFileSystemSpec extends SparkSpec {

  /** What an unset `fs.file.impl` resolves `file:` to: the class the
    * engine's replaces (Hive's `ProxyLocalFileSystem`, a `LocalFileSystem`,
    * when hive-exec is on the classpath).
    */
  private val stockClass = FileSystem.getFileSystemClass("file", new Configuration())

  /** The full mode bits, sticky bit included. */
  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path (write UUIDs masked) -> mode, for every path under `root`. */
  private def modes(root: Path): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") -> mode(p)
    }.toMap

  /** `df` written by `write` through an uncached `file:` FileSystem of class
    * `impl` under `umask`.
    */
  private def written(impl: Class[_], umask: String, root: Path)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit): Map[String, Int] = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", impl.getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("fs.permissions.umask-mode", umask)
    val out = root.resolve(impl.getName)
    write(s.range(0, 400).selectExpr("id", "CAST(id % 3 AS STRING) AS part",
      "CAST(id * 1.5 AS DOUBLE) AS v").repartition(3), out.toString)
    modes(out)
  }

  test("sink outputs get the stock file system's permissions: partitioned CSV and parquet") {
    val root = Files.createTempDirectory("graft_fsparity")
    try {
      val writes = Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
        "csv" -> ((df, out) => df.write.option("header", "true").partitionBy("part").csv(out)),
        "parquet" -> ((df, out) => df.write.parquet(out)))
      for ((format, write) <- writes; umask <- Seq("022", "027")) {
        val dir = Files.createDirectory(root.resolve(s"$format-$umask"))
        val stock = written(stockClass, umask, dir)(write)
        val engine = written(classOf[NoForkLocalFileSystem], umask, dir)(write)
        val names = stock.keySet.map(k => k.substring(k.lastIndexOf('/') + 1))
        assert(names.exists(_.startsWith("part-")) && names.exists(_.endsWith(".crc")) &&
          names.contains("_SUCCESS"), s"$format: ${stock.keys}")
        if (format == "csv")
          assert(stock.keySet.count(k => k.startsWith("part=") && !k.contains('/')) === 3)
        assert(engine.keySet === stock.keySet, format)
        val differ = stock.collect { case (k, m) if engine(k) != m =>
          f"$k: stock ${m}%04o, engine ${engine(k)}%04o" }
        assert(differ.isEmpty, s"$format umask $umask:\n${differ.mkString("\n")}")
        // the umask reached both: data files lose its bits
        assert(stock.forall { case (k, m) =>
          !k.split('/').last.startsWith("part-") || (m & Integer.parseInt(umask, 8)) == 0 })
      }
    } finally ChildJvm.deleteRecursively(root)
  }

  test("setPermission matches stock chmod for every mode 0000-0777, on a file and a directory") {
    val root = Files.createTempDirectory("graft_fsmodes")
    val conf = new Configuration()
    def fs(raw: RawLocalFileSystem) = { raw.initialize(java.net.URI.create("file:///"), conf); raw }
    val (stock, engine) = (fs(new RawLocalFileSystem), fs(new NoForkRawLocalFileSystem))
    try {
      val targets = Seq(Files.createFile(root.resolve("f")), Files.createDirectory(root.resolve("d")))
      val differ = for (t <- targets; m <- 0 to 0x1ff) yield {
        val (p, perm) = (new HPath(t.toUri), new FsPermission(m.toShort))
        // each call starts from the complement, so a no-op cannot pass
        def via(fs: RawLocalFileSystem) = {
          Files.setPosixFilePermissions(t, NoForkRawLocalFileSystem.posix(~m & 0x1ff))
          fs.setPermission(p, perm)
          mode(t)
        }
        val (viaStock, viaEngine) = (via(stock), via(engine))
        if (viaStock == m && viaEngine == m) None
        else Some(f"${t.getFileName} $m%04o: stock $viaStock%04o, engine $viaEngine%04o")
      }
      assert(differ.flatten.isEmpty, differ.flatten.take(10).mkString("\n"))
      // the sticky bit, which NIO cannot set, takes the stock path
      val d = new HPath(targets(1).toUri)
      engine.setPermission(d, new FsPermission(Integer.parseInt("1750", 8).toShort))
      assert(mode(targets(1)) === Integer.parseInt("1750", 8))
      engine.setPermission(d, new FsPermission(Integer.parseInt("0755", 8).toShort))
      assert(mode(targets(1)) === Integer.parseInt("0755", 8))
    } finally {
      Files.setPosixFilePermissions(root.resolve("d"), NoForkRawLocalFileSystem.posix(0x1ff))
      ChildJvm.deleteRecursively(root)
    }
  }
}
