package graft

import org.apache.spark.sql.functions._

/** Native codegen DotProduct vs the interpreted HOF formulation. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot: matches aggregate/zip_with bit-for-bit") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    val got = df.select(
      expr("graft_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("slow"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(got(0).getDouble(0) === 32.0)
  }

  test("graft_dot: null propagation") {
    val df = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).head().isNullAt(0))
  }

  test("graft_dot: ragged lengths and null elements yield null, like the HOF") {
    val df = Seq(
      (Seq(Option(1.0), Option(2.0)), Seq(Option(3.0))),             // ragged
      (Seq(Option(1.0), None), Seq(Option(3.0), Option(4.0))),       // null elem
      (Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option(4.0))) // clean
    ).toDF("a", "b")
    val got = df.select(
      expr("graft_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("slow"))
      .collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    assert(!got(2).isNullAt(0) && got(2).getDouble(0) === 11.0 &&
      got(2).getDouble(1) === 11.0)
  }

  test("graft_dot: rejects non-double arrays at analysis") {
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    intercept[Exception] {
      df.select(expr("graft_dot(a, b)")).collect()
    }
  }

  test("graft_dot: survives whole-stage codegen path on a real scan") {
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(expr("graft_dot(v, v)").as("d"))
      .filter(col("d") > 0).count()
    assert(n > 0)
  }
}
