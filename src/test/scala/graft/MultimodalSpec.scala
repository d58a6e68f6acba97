package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow
import org.apache.spark.sql.functions._

/** Binary-column plumbing: schema, batch shape, deterministic features. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media frame: payload is BINARY, metadata struct carries through") {
    val m = Multimodal.media(spark, sfDir)
    assert(m.schema("payload").dataType.typeName === "binary")
    assert(m.schema("meta").dataType.typeName === "struct")
    val row = m.orderBy("doc_id").head()
    assert(row.getAs[Array[Byte]]("payload").nonEmpty)
  }

  test("decodeBatch: partition-parallel, deterministic checksum") {
    val rows = Seq(
      MediaRow(1L, "hello".getBytes("UTF-8"), "en"),
      MediaRow(2L, "world!".getBytes("UTF-8"), "es"),
      MediaRow(3L, Array.emptyByteArray, "en")).toDS().repartition(3)
    val got = Multimodal.decodeBatch(rows).collect().sortBy(_.doc_id)
    assert(got.map(_.n_bytes).toSeq === Seq(5, 6, 0))
    // checksum is a pure function of the bytes: recompute and compare
    val again = Multimodal.decodeBatch(rows).collect().sortBy(_.doc_id)
    assert(got.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
    assert(got(2).checksum === 0L)
  }

  test("frame_sample: every 4th frame, ids deterministic") {
    val fs = Multimodal.frameSample.fn(spark, sfDir)
    val bad = fs.filter(col("frame_i") % 4 =!= 0).count()
    assert(bad === 0L)
    assert(fs.count() > 0)
    assert(fs.filter(length(col("frame_id")) =!= 8).count() === 0L)
  }
}
