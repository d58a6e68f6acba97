package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** The one `private[sql]` bridge the engine needs: constructing a
  * DataFrame from a custom logical plan ([[graft.plans.AsOfJoinPlan]]),
  * and a Column from a Catalyst expression ([[graft.core.Num]]'s exact
  * cents sum, which needs an ANSI `Sum` over [[graft.functions.Cents]]
  * that no public function builds). `Dataset.ofRows` and
  * `ExpressionUtils` are `private[sql]`, so this object lives under
  * `org.apache.spark.sql` — the standard pattern for Spark extension
  * libraries that add whole-plan operators (Spark's own connectors and
  * every planner-extension library ship the same shim). Everything else
  * in the engine uses only public APIs; keep it that way — new code goes
  * through here only for plan and expression construction, and for the
  * running context `graft.GraftExtensions` installs the engine's `file:`
  * file system on (`SparkContext.getActive` is `private[spark]`).
  * A Column built here needs no function registration: it carries the
  * expression itself.
  */
object Bridge {

  /** DataFrame over an already-resolved custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column over a Catalyst expression, and the expression of a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The running SparkContext, if any; never creates one
    * (`SparkContext.getActive` is `private[spark]`).
    */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** The analyzed plan of a DataFrame (resolved attributes, stable ids). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Idempotently register an extra planner strategy on a live session —
    * the programmatic twin of `injectPlannerStrategy` for sessions the
    * caller did not build (the driver hands `QueryDef.fn` a ready-made
    * session).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    // Dedup against the full planner strategy list, not just
    // experimental.extraStrategies: when GraftExtensions already injected
    // the strategy via injectPlannerStrategy it shows up only in
    // sessionState.planner.strategies, and registering a second copy
    // would make the planner evaluate it twice per query.
    val present = cs.experimental.extraStrategies.contains(s) ||
      cs.sessionState.planner.strategies.contains(s)
    if (!present)
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
