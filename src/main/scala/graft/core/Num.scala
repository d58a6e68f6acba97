package graft.core

import graft.functions.Cents
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{EvalMode, MakeDecimal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine numeric parity helpers (SURVEY.md §7 "hard parts").
  *
  * Problem: double summation is order-dependent; Spark's partial/final
  * aggregation over 32 partitions sums in a different order than the DuckDB
  * oracle, so `sum(double)` can differ in the last ulp and flip a rounded
  * digit exactly at a .xx5 boundary. The reference's inputs are 2-decimal
  * currency-ish values (and its own outputs are `round(2)` —
  * reference scripts/process_climate_amazon_monthly.py:452-455), so the fix
  * is exact decimal accumulation:
  *
  *   sum:  the value of sum(CAST(x AS DECIMAL(18,2))) — exact,
  *         order-independent, identical in Spark and DuckDB; as DOUBLE.
  *   avg:  exact decimal sum as double, divided by count — one IEEE
  *         division of identical operands on both engines.
  *   std:  exact decimal sums of x and x*x, variance computed in double from
  *         identical operands.
  *
  * How the sum is computed (Spark side): not as a decimal. Spark types
  * sum(DECIMAL(18,2)) as DECIMAL(28,2), a BigDecimal-backed buffer, and
  * Catalyst's `DecimalAggregates` rewrite to a long sum only fires for
  * inputs of 8 digits or fewer. So `dsum` sums [[graft.functions.Cents]]
  * — the unscaled long of the same cast, with a codegen'd fast path for
  * on-grid doubles — in a 64-bit `Sum` that raises on overflow in every
  * session (ANSI add, whatever `spark.sql.ansi.enabled` says): a group
  * whose cents total leaves the long range (|sum| above about 9.2e16)
  * fails the query instead of wrapping. The decimal form's own bound was
  * DECIMAL(28,2)'s 1e26; no input here comes near either.
  *
  * The long total S becomes a double as S / 100.0 while |S| < 2^52, a
  * single correctly rounded IEEE division of two exact operands —
  * bit-identical to JDK `BigDecimal.doubleValue`, which the decimal
  * form's cast to double runs and which takes that very branch. Above
  * the bound it goes through the exact decimal conversion. NumSpec pins
  * the whole chain bit-identical to the decimal form.
  *
  * Rounding: SUMS and std use half-even (Spark `bround` == DuckDB
  * `round_even` == pandas/numpy `round(2)`, matching the reference's
  * output semantics) — safe because an exact decimal sum never lands on a
  * true 2-dp midpoint. MEANS (`avg2`/`sqlAvg2`) instead use the HALF-UP
  * floor form floor(x*100+0.5)/100: a decimal sum divided by a count DOES
  * land on true midpoints, where bround (rounds the shortest decimal
  * rendering) and round_even (rounds the binary value) disagree — see the
  * avg2 scaladoc. New operators: sums → sum2, means → avg2/Text.hround.
  *
  * At 100 TB these stay single-pass partial+final hash aggregations over
  * one long buffer per sum — codegen'd, no extra shuffle.
  */
object Num {
  private val Dec = DecimalType(18, 2)
  // |S| < 2^52: S / 100.0 is exact-operand IEEE division (see above)
  private val DivBound = (1L << 52) - 1

  /** Exact decimal sum of a 2-dp column, as DOUBLE: a long sum of cents. */
  def dsum(c: Column): Column = {
    val cents = Bridge.column(
      Sum(Cents(Bridge.expression(c)), NumericEvalContext(EvalMode.ANSI))
        .toAggregateExpression())
    when(cents.between(-DivBound, DivBound), cents / lit(100.0))
      .otherwise(Bridge.column(MakeDecimal(Bridge.expression(cents), 19, 2))
        .cast(DoubleType))
  }

  /** sum rounded half-even to 2 dp (reference output precision). */
  def sum2(c: Column): Column = bround(dsum(c), 2)

  /** mean rounded to 2 dp, exact-sum based. Rounding is HALF-UP via
    * floor(x*100 + 0.5)/100 rather than bround: an exact-decimal sum divided
    * by a count lands on TRUE 2-dp midpoints (e.g. 649452.45/10 =
    * 64945.245), where Spark's bround (rounds the shortest decimal
    * representation of the double) and DuckDB's round_even (rounds the
    * binary value) disagree. floor(x*100+0.5)/100 is a chain of IEEE ops
    * each bit-identical on both engines — no midpoint ambiguity.
    */
  def avg2(c: Column): Column =
    floor(dsum(c) * lit(100.0) / count(c) + lit(0.5)) / lit(100.0)

  /** Sample standard deviation from exact decimal sums, rounded to 4 dp. */
  def std4(c: Column): Column = {
    val d  = c.cast(Dec)
    val s  = sum(d).cast(DoubleType)
    val s2 = sum(d * d).cast(DoubleType)
    val n  = count(c).cast(DoubleType)
    bround(sqrt((s2 - s * s / n) / (n - lit(1.0))), 4)
  }

  /** SQL fragments with the same bit-exact semantics, for the DuckDB oracle. */
  def sqlSum2(x: String): String =
    s"round_even(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE), 2)"
  def sqlAvg2(x: String): String =
    s"floor(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) * 100.0 / count($x) + 0.5) / 100.0"
  def sqlStd4(x: String): String =
    s"round_even(sqrt((CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($x AS DECIMAL(18,2))) AS DOUBLE) - " +
      s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / count($x)) / (count($x) - 1.0)), 4)"

  /** Snap a continuous coordinate to the nearest multiple of `grid`.
    * floor-based (floor(x/g + 0.5) * g) rather than round-based so both
    * engines agree at midpoints (Spark round = HALF_UP, DuckDB = HALF_EVEN;
    * floor has a single definition). This is the J2 snap-to-grid key
    * (reference `sel(..., method='nearest')`,
    * scripts/process_climate_amazon_monthly.py:253-256): on a regular grid,
    * nearest-neighbor == equality on the snapped key.
    */
  def snap(c: Column, grid: Double): Column =
    floor(c / lit(grid) + lit(0.5)) * lit(grid)

  def sqlSnap(x: String, grid: Double): String =
    s"floor($x / $grid + 0.5) * $grid"
}
