package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset (local iteration only)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // fail LOUDLY on unknown names (the Bench SPARK_GRAFT_ONLY rule,
    // ADVICE r13): a typo'd or not-yet-registered query would otherwise
    // silently dump nothing and a subset check would "pass" vacuously —
    // exactly how an unregistered anova_oneway hid for one run in r14
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      sys.error(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // an earlier run's output must not stand in for a query that
      // fails now: check.py reports a query with no output as MISSING
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release this query's persist()-pinned frames: across a 250+
      // query session pins would otherwise accumulate in the session
      // CacheManager (storage growth + cross-query plan-substitution
      // surface — see graft.core.Pin). Bench deliberately does NOT
      // release (its 2-pass min reuses pass-1 cache; short-lived JVMs).
      graft.core.Pin.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
