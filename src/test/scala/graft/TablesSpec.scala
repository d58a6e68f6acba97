package graft

import graft.core.Tables
import java.nio.file.Files
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}

/** `Tables` reads parquet with a cached schema: no footer job after the
  * first read of a path, and a re-inference whenever the files change.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of a path launches no job") {
    val dir = Files.createTempDirectory("tables_spec_jobs").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    // the first read infers the schema: one footer job
    assert(jobsDuring(Tables.table(spark, dir, "t")).nonEmpty)
    assert(jobsDuring(Tables.table(spark, dir, "t")).isEmpty)
    Tables.lineitem(spark, sfDir)
    assert(jobsDuring(Tables.lineitem(spark, sfDir)).isEmpty)
  }

  test("a table rewritten in place with a new file set and schema reads the new schema") {
    val dir = Files.createTempDirectory("tables_spec_rewrite").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2)
      .write.parquet(s"$dir/t.parquet")
    val before = Tables.table(spark, dir, "t")
    assert(before.schema.map(f => f.name -> f.dataType) ===
      Seq("k" -> LongType, "v" -> StringType))
    Seq((3L, 0.5, "c")).toDF("k", "w", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.schema.map(f => f.name -> f.dataType) ===
      Seq("k" -> LongType, "w" -> DoubleType, "v" -> StringType))
    assert(after.as[(Long, Double, String)].collect().toSeq === Seq((3L, 0.5, "c")))
  }

  test("events in TIMESTAMP(NANOS) read correctly through a cached schema") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("tables_spec_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    // sub-µs digits: the µs rebuild must truncate them, not round
    val nanos = Seq(1700000000123456789L, 1700000001999999999L, 1L)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("event_type", "view")
        .append("value", 1.5).append("props", "{}"))
    }
    w.close()
    val want = nanos.map(ns => java.time.Instant.EPOCH.plusNanos(ns / 1000 * 1000))
    def read() = {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType)
      df.orderBy("event_id").select("ts").as[java.sql.Timestamp].collect()
        .map(_.toInstant).toSeq
    }
    assert(read() === want)
    assert(jobsDuring(Tables.events(spark, dir)).isEmpty)
    assert(read() === want)
  }
}
