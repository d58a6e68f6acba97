package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** X5 input-side: corrupt-record quarantine on CSV ingest. The reference
  * try/excepts per key and keeps going (monthly.py:332-333); the engine's
  * ingest analog is PERMISSIVE mode + a corrupt-record column — bad rows
  * are captured, good rows flow, the pipeline never throws.
  */
class QuarantineSpec extends SparkSpec {

  test("PERMISSIVE CSV ingest quarantines malformed rows, keeps good ones") {
    val dir = Files.createTempDirectory("graft_csvq")
    val f = dir.resolve("in.csv")
    Files.writeString(f,
      """id,qty,price
        |1,10,1.5
        |2,notanumber,2.5
        |3,30,bad
        |4,40,4.5
        |""".stripMargin)
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema("id BIGINT, qty BIGINT, price DOUBLE, _bad STRING")
      .csv(f.toString)
      .cache() // corrupt-record column requires the raw row to be retained
    val bad = df.filter(col("_bad").isNotNull)
    val good = df.filter(col("_bad").isNull)
    assert(bad.count() === 2)
    assert(good.count() === 2)
    assert(good.select(sum("qty")).head().getLong(0) === 50L)
    // quarantined rows keep their raw text for later repair
    val raw = bad.select("_bad").collect().map(_.getString(0)).sorted
    assert(raw(0).startsWith("2,notanumber"))
    assert(raw(1).startsWith("3,30,bad"))
    df.unpersist()
    Files.deleteIfExists(f); Files.deleteIfExists(dir)
  }
}
