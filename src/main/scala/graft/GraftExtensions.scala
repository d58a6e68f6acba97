package graft

import graft.core.NoForkLocalFileSystem
import graft.functions.{DotProduct, NfcNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.Bridge

/** SparkSessionExtensions entry point: makes the engine available to ANY
  * session via `--conf spark.sql.extensions=graft.GraftExtensions` — the
  * standard deployment path on a shared cluster, and the only way the
  * engine installs itself (`graft.core.Session.local` sets it; no
  * per-session registration call exists). It installs the native
  * functions, the plan rules and, on the running context, the engine's
  * `file:` file system [[graft.core.NoForkLocalFileSystem]] as
  * `fs.file.impl`, unless the context's Hadoop configuration already
  * names one (a user's `spark.hadoop.fs.file.impl` wins). Spark applies
  * the extensions after it creates the context and before `SharedState`
  * fetches its first `file:` FileSystem, so the JVM-wide Hadoop
  * FileSystem cache holds this class from the start.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Bridge.activeContext.map(_.hadoopConfiguration)
      .filter(_.getTrimmed("fs.file.impl", "").isEmpty)
      .foreach(_.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName))
    def function(name: String, cls: Class[_], usage: String)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, null, name, usage,
          "", "", "", "", "", "", "built-in"),
        build))
    function("graft_dot", classOf[DotProduct],
      "graft_dot(a, b) - dot product of two array<double> columns " +
        "(codegen'd single fused loop).")(e => DotProduct(e(0), e(1)))
    function("graft_nfc", classOf[NfcNormalize],
      "graft_nfc(s) - Unicode NFC normalization (UAX#15), codegen'd " +
        "with a zero-copy already-normalized fast path.")(e => NfcNormalize(e(0)))
    // Spark's own Bloom-filter expressions (built for AQE's runtime-filter
    // injection, absent from the public registry) under graft_ names, so
    // bloom_pruned_join can make semi-join reduction structural
    function("graft_bloom_agg", classOf[BloomFilterAggregate],
      "graft_bloom_agg(x, expectedItems, numBits) - Bloom sketch of x.")(
      e => new BloomFilterAggregate(e(0), e(1), e(2)))
    function("graft_might_contain", classOf[BloomFilterMightContain],
      "graft_might_contain(bloom, x) - false only if x is not in the sketch.")(
      e => BloomFilterMightContain(e(0), e(1)))
    // auto-rewrite pure interval-containment joins (else planned as a
    // BroadcastNestedLoopJoin) into bucketed equi-joins — see the rule's
    // scaladoc for the shape and the binSize conf
    ext.injectOptimizerRule(graft.plans.RangeJoinRewrite)
    // whole-operator extension: native as-of join (custom LogicalPlan +
    // strategy + per-partition merge exec) — see plans/AsOfJoin.scala
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // analysis check rule: reject unhinted, unbounded cartesian joins
    // session-wide (spark.graft.failOnCartesian=false to opt out)
    ext.injectCheckRule(_ => graft.plans.NoUnhintedCartesian)
  }
}
