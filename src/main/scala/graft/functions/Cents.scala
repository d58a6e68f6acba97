package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, UnaryExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}

/** The unscaled long of `CAST(x AS DECIMAL(18,2))`: x in whole cents.
  *
  * Rationale: `graft.core.Num` sums 2-dp doubles exactly through that
  * cast, and Spark types the decimal sum DECIMAL(28,2) — a BigDecimal
  * aggregation buffer, fed by a cast that goes through
  * `Double.toString` on every row. Catalyst's own fix for this
  * (`DecimalAggregates`, sum over `UnscaledValue`) only fires for
  * inputs of 8 digits or fewer. This expression is the same idea for
  * DECIMAL(18,2): the caller sums the longs.
  *
  * Fast path: a double x with |x·100| < 1e13 whose x·100 lies within
  * 1e-3 of an integer k returns k = rint(x·100). That is exactly the
  * cast's answer: below 1e13 the error of x·100 and of x's shortest
  * decimal rendering are each under 1e-3 cents, so the cast's HALF_UP
  * rounding of that rendering lands on k as well — nowhere near a
  * half-cent tie.
  *
  * Everything else — off-grid values (half-cent midpoints included),
  * NaN/±Inf, magnitudes past the fast-path bound, non-double inputs —
  * is evaluated by the cast itself, in the eval mode captured when the
  * expression was built, so values, nulls and errors stay the cast's.
  */
case class Cents(child: Expression, evalMode: EvalMode.Value)
    extends UnaryExpression {

  // The cast over the child (non-double inputs, and type checks), and
  // over an already-evaluated double (the fast path's fallback).
  @transient private lazy val exactOfChild = Cents.exact(child, evalMode)
  @transient private lazy val exactOfValue =
    Cents.exact(BoundReference(0, DoubleType, nullable = false), evalMode)

  override def dataType: DataType = LongType
  override def nullable: Boolean = exactOfChild.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    exactOfChild.child.checkInputDataTypes()

  override def eval(input: InternalRow): Any =
    if (child.dataType != DoubleType) exactOfChild.eval(input)
    else child.eval(input) match {
      case null => null
      case d: Double =>
        val x = d * 100.0
        val k = math.rint(x)
        if (math.abs(x) < Cents.FastBound && math.abs(x - k) <= Cents.GridTol) k.toLong
        else exactOfValue.eval(InternalRow(d))
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (child.dataType != DoubleType) exactOfChild.genCode(ctx)
    else {
      val exact = ctx.addReferenceObj("exact", exactOfValue, classOf[Expression].getName)
      val c = child.genCode(ctx)
      val x = ctx.freshName("x")
      val k = ctx.freshName("k")
      val o = ctx.freshName("o")
      ev.copy(code = code"""
        |${c.code}
        |boolean ${ev.isNull} = ${c.isNull};
        |long ${ev.value} = -1L;
        |if (!${ev.isNull}) {
        |  double $x = ${c.value} * 100.0;
        |  double $k = java.lang.Math.rint($x);
        |  if (java.lang.Math.abs($x) < ${Cents.FastBound}D &&
        |      java.lang.Math.abs($x - $k) <= ${Cents.GridTol}D) {
        |    ${ev.value} = (long) $k;
        |  } else {
        |    Object $o = $exact.eval(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        |      new Object[] { java.lang.Double.valueOf(${c.value}) }));
        |    if ($o == null) { ${ev.isNull} = true; }
        |    else { ${ev.value} = ((java.lang.Long) $o).longValue(); }
        |  }
        |}
      """.stripMargin)
    }

  override protected def withNewChildInternal(newChild: Expression): Cents =
    copy(child = newChild)
}

object Cents {
  private val FastBound = 1e13
  private val GridTol = 1e-3
  private val Dec = DecimalType(18, 2)

  /** Cents of `child`, with the session's current eval mode. */
  def apply(child: Expression): Cents =
    Cents(child, EvalMode.fromSQLConf(SQLConf.get))

  private def exact(c: Expression, mode: EvalMode.Value): UnscaledValue =
    UnscaledValue(Cast(c, Dec, None, mode))
}
