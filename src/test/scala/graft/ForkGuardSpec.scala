package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Sink writes fork no child process. Without the native Hadoop library
  * the stock local file system runs `chmod` for every directory and file a
  * write commits; the engine's `file:` file system, installed by
  * `GraftExtensions`, sets permissions in-process. The check runs in a
  * fresh JVM, because the Hadoop FileSystem cache is per JVM, with logging
  * shims first on its `PATH` for `chmod` and for `ls`/`stat` (what the
  * stock file system forks to load permissions, which writes must not do
  * either), and fails on any call.
  */
class ForkGuardSpec extends AnyFunSuite {
  private val commands = Seq("chmod", "ls", "stat")

  /** A shell script per command that logs its call, then runs the real
    * binary found on `path`.
    */
  private def shims(dir: Path, path: Seq[String], log: Path): Unit = commands.foreach { c =>
    val real = path.map(d => Path.of(d, c)).find(Files.isExecutable)
      .map(p => s"""exec "$p" "$$@"""").getOrElse("exit 127")
    val shim = dir.resolve(c)
    Files.writeString(shim, s"#!/bin/sh\necho \"$c $$*\" >> \"$log\"\n$real\n")
    shim.toFile.setExecutable(true)
  }

  test("an ETL write and a registry query's parquet write fork no chmod, ls or stat") {
    val root = Files.createTempDirectory("graft_forkguard")
    try {
      val bin = Files.createDirectory(root.resolve("bin"))
      val log = root.resolve("forks.log")
      Files.createFile(log)
      val path = sys.env.getOrElse("PATH", "").split(':').toSeq.filter(_.nonEmpty)
      shims(bin, path, log)
      val r = ChildJvm.run("graft.ForkGuardMain",
        Seq(SparkTestSession.sfDir, root.resolve("out").toString), root,
        Map("PATH" -> (bin.toString +: path).mkString(":")))
      assert(r.exit === 0, s"child JVM failed:\n${ChildJvm.tail(r)}")
      val calls = Files.readAllLines(log).asScala.toSeq
      val counts = commands.map(c => c -> calls.count(_.startsWith(s"$c "))).toMap
      assert(calls.size === 0,
        s"sink writes forked ${commands.map(c => s"$c: ${counts(c)} calls").mkString(", ")}; " +
          s"first: ${calls.take(5).mkString(" | ")}")
      assert(r.results.get("raw").contains(classOf[core.NoForkRawLocalFileSystem].getName),
        s"child wrote through ${r.results}")
      // the outputs are there, so zero calls is not zero writes
      Seq("climate_monthly", "split_by_state", "sql_pricing_summary").foreach { d =>
        assert(Files.exists(root.resolve(s"out/$d/_SUCCESS")), s"$d not written")
      }
    } finally ChildJvm.deleteRecursively(root)
  }
}
