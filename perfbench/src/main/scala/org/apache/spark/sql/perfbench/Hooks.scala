package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The few Spark internals the benchmark's tracer reads. They live in a
  * Spark package because Spark keeps them package-private; nothing here
  * changes engine state.
  */
object Hooks {

  /** Block until every posted listener event has been delivered, so a
    * traced op's job, stage and SQL events are all in before it is summed.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)

  /** (files, bytes, rows) written by the data-writing commands of `qe`. */
  def written(qe: QueryExecution): (Long, Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val writes = nodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w }
    def m(w: DataWritingCommandExec, k: String): Long =
      w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
    (writes.map(m(_, "numFiles")).sum, writes.map(m(_, "numOutputBytes")).sum,
      writes.map(m(_, "numOutputRows")).sum)
  }
}
