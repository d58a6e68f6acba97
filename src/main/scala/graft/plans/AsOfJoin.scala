package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator Catalyst extension path
  * (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`), completing the
  * engine's extension ladder above codegen'd expressions
  * ([[graft.functions.DotProduct]]) and an optimizer rule
  * ([[RangeJoinRewrite]]).
  *
  * Semantics (pandas `merge_asof(direction='backward',
  * allow_exact_matches=True)`, the 1-D temporal analogue of the
  * reference's nearest-neighbor `sel` lookups — see `ops/Joins.scala`
  * `asof_join` for the window-trick formulation of the same idea): for
  * every left row, attach the single right row with equal keys and the
  * greatest `rightTime <= leftTime`; left rows with no such match emit
  * nulls on the right (left-outer). Ties on `rightTime` are broken by
  * `rightTiebreak` (greatest wins), making the operator deterministic.
  *
  * Why a physical operator: expressed relationally this is a
  * theta-join + argmax — Spark plans the `r.ts <= l.ts` conjunct as the
  * residual of an equi-join on the keys, materializing EVERY (left,
  * earlier-right) pair before the per-left argmax prunes them: O(n·m)
  * within each key group. The union+window trick (`asof_join`) avoids
  * the blow-up but forces both inputs through one union schema. This
  * exec instead requires both children hash-clustered on the keys and
  * sorted by (keys, time) — `EnsureRequirements` inserts the exchanges
  * and sorts exactly as it does for a sort-merge join — then runs a
  * single forward-only per-partition merge: O(n + m), no buffering
  * beyond ONE retained right row, no state that grows with key-group
  * size. At 100 TB that is the same shuffle a sort-merge join would do,
  * with a strictly cheaper probe side.
  *
  * Null handling: keys compare with ordering semantics (null == null, a
  * null-keyed left row can match a null-keyed right row) — callers who
  * want SQL equi-join null semantics filter null keys first. A null
  * `rightTime` sorts lowest (matches any left time); a null `leftTime`
  * only matches a null `rightTime`. The fixture columns are non-null;
  * the spec pins the null-key behavior explicitly.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Injected session-wide via
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`) or per-session via
  * `AsOfJoin.leftJoin` (which registers through `experimental
  * .extraStrategies` so driver-created sessions work unmodified).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Per-partition forward merge of two co-partitioned, co-sorted inputs.
  *
  * Left is scanned once in (keys, time) order; a single lookahead row of
  * right is held, plus a copy of the latest right row whose time was
  * <= the current left time ("matched"). Because left times ascend
  * within a key group, the right pointer NEVER rewinds — each right row
  * is examined exactly once per partition. `matched` is only emitted
  * while its key still equals the current left key.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // same contract as a shuffled join: both children clustered on the
  // join keys (EnsureRequirements co-partitions the two exchanges)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // the merge needs (keys, time) order; the right side additionally
  // tiebreak-ordered so "last consumed at equal time" is deterministic
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTime) ++ rightTiebreak).map(SortOrder(_, Ascending)))

  // merge is order- and partition-preserving on the left (probe) side
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext) Iterator.empty
      else {
        val lKey = UnsafeProjection.create(lKeyExprs, lOut)
        val rKey = UnsafeProjection.create(rKeyExprs, rOut)
        val lTs = UnsafeProjection.create(Seq(lTimeExpr), lOut)
        val rTs = UnsafeProjection.create(Seq(rTimeExpr), rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
        // bind against the NULLABLE right attrs (outAttrs tail), not rOut:
        // binding takes nullability from the input schema, and a
        // false-nullable bound ref skips isNullAt and reads nulls as 0
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val nullRight = new GenericInternalRow(rOut.length)
        val joined = new JoinedRow
        // single lookahead row; valid until the next rIter.next() (shuffle
        // readers reuse row objects, hence the .copy() when retaining)
        var rHead: InternalRow = null
        var rHeadKey: UnsafeRow = null
        def advance(): Unit =
          if (rIter.hasNext) { rHead = rIter.next(); rHeadKey = rKey(rHead) }
          else { rHead = null; rHeadKey = null }
        advance()
        var matched: InternalRow = null
        var matchedKey: UnsafeRow = null
        lIter.map { l =>
          val lk = lKey(l)
          val lt = lTs(l)
          var stop = false
          while (!stop && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lk)
            if (c < 0) advance() // right group already behind this left key
            else if (c == 0 && tsOrd.compare(rTs(rHead), lt) <= 0) {
              matched = rHead.copy(); matchedKey = rHeadKey.copy(); advance()
            } else stop = true // right ahead of this left row: stop here
          }
          if (matched != null && keyOrd.compare(matchedKey, lk) == 0)
            outProj(joined(l, matched))
          else outProj(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing constructor: `AsOfJoin.leftJoin(trades, quotes,
  * Seq("sym"), Seq("q_sym"), "ts", "q_ts", Seq("q_seq"))`.
  */
object AsOfJoin {
  def leftJoin(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
      "as-of join needs equally many (>=1) keys on both sides")
    val spark = left.sparkSession
    org.apache.spark.sql.graft.Bridge.ensureStrategy(spark, AsOfJoinStrategy)
    val lPlan = org.apache.spark.sql.graft.Bridge.analyzed(left)
    val rPlan = org.apache.spark.sql.graft.Bridge.analyzed(right)
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "left and right must be independent plans (re-read or alias one side " +
        "— shared attribute ids would make the merge's column lineage ambiguous)")
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column '$n' not in [${p.output.map(_.name).mkString(", ")}]"))
    val lk = leftKeys.map(attr(lPlan, _))
    val rk = rightKeys.map(attr(rPlan, _))
    val lt = attr(lPlan, leftTime)
    val rt = attr(rPlan, rightTime)
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType, s"key type mismatch: $a vs $b") }
    require(lt.dataType == rt.dataType,
      s"time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lk, rk, lt, rt,
        rightTiebreak.map(attr(rPlan, _))))
  }
}
