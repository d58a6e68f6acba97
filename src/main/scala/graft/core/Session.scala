package graft.core

import org.apache.spark.sql.SparkSession

/** The one way to build an engine session. Bench, Verify, every tool and
  * the test suite go through [[local]], so a query is checked, timed and
  * profiled under the same plan rules: the engine's Catalyst extensions
  * (`graft.GraftExtensions`: `graft_dot`/`graft_nfc`, RangeJoinRewrite,
  * the as-of join strategy and the unhinted-cartesian check) are
  * installed once, here, at session build — the single injection point
  * Spark's extension API is designed around.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else every available processor. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, no UI, UTC
    * session time, a 5000-entry codegen cache (the default 100 entries
    * evict constantly across a registry pass, so Janino recompiles every
    * stage every pass) and WARN logging. Returns the existing session if
    * one is active.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
