package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Native Catalyst dot product over two array<double> columns.
  *
  * Rationale (builder brief: custom Expression with doGenCode beats a UDF
  * beats anything else): the pure-`functions` formulation
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0d, (acc, x) -> acc + x)`
  * allocates an intermediate array and evaluates two interpreted lambdas
  * per element (higher-order functions are CodegenFallback). This
  * expression is a single fused loop that whole-stage-codegens into the
  * surrounding stage — no allocation, no virtual calls.
  *
  * Summation order is left-to-right, IDENTICAL to the aggregate/zip_with
  * form and to DuckDB's list_dot_product, so the oracle parity of the
  * embedding queries is unchanged.
  *
  * Malformed input follows the HOF baseline's null-propagation: a length
  * mismatch or a null element yields NULL (zip_with pads the short side
  * with NULL and the aggregate then null-propagates) — never a silently
  * truncated or nulls-as-zero dot product.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Result can be null even for non-null inputs (ragged / null-element
  // arrays), so nullability can't be derived from the children.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $s = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    $s += $a.getDouble($i) * $b.getDouble($i);
        |  }
        |  if (!${ev.isNull}) { ${ev.value} = $s; }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
