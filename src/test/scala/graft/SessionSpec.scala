package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** core.Session.local, the one session builder: its confs, the engine's
  * four `graft_` functions resolving through the installed extensions
  * alone, and the `file:` file system the extensions install.
  */
class SessionSpec extends AnyFunSuite {
  test("Session.local: UTC, partitions = cores, codegen cache, graft_dot without register") {
    // build the shared test context first, so the fresh session below
    // joins it instead of creating one with other cores
    val prior = Some(SparkTestSession.spark)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a fresh session: its function registry is the builtins plus
      // the extensions, never the shared session's register() calls
      val s = core.Session.local(3)
      assert(!prior.contains(s))
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
      val d = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(d === 11.0)
      // the other three graft_ functions resolve the same way
      val decomposed = "cafe\u0301"
      // the bloom probe takes a column value, as bloom_pruned_join calls
      // it: a constant-folded literal fails Spark's codegen for it
      val r = s.sql(s"""SELECT graft_nfc('$decomposed') AS n,
        graft_might_contain((SELECT graft_bloom_agg(xxhash64(id), 100L, 800L)
          FROM range(3)), xxhash64(id)) AS hit FROM range(1, 2)""").head()
      assert(r.getString(0) === "caf\u00e9")
      assert(r.getBoolean(1))
      // writes go through the engine's file: file system, which forks no chmod
      assert(s.sparkContext.hadoopConfiguration.get("fs.file.impl") ===
        classOf[core.NoForkLocalFileSystem].getName)
      assert(ChildJvm.fileSystemClasses(s) ===
        (classOf[core.NoForkLocalFileSystem].getName, classOf[core.NoForkRawLocalFileSystem].getName))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      // the factory set WARN on the shared context; keep the suite quiet
      SparkTestSession.spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("a session's own spark.hadoop.fs.file.impl wins over the engine's file system") {
    // a fresh JVM: this one's context and FileSystem cache already hold
    // the engine's class
    val dir = java.nio.file.Files.createTempDirectory("graft_userfs")
    try {
      val stock = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
      val r = ChildJvm.run("graft.UserFileSystemMain", Seq(stock), dir, Map.empty)
      assert(r.exit === 0, s"child JVM failed:\n${ChildJvm.tail(r)}")
      assert(r.results === Map("impl" -> stock,
        "raw" -> classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName))
    } finally ChildJvm.deleteRecursively(dir)
  }
}
