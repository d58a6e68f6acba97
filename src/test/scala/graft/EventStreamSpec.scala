package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Ev, SessOut}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming: watermark windowed agg + custom sessionization
  * state, driven with MemoryStream micro-batches.
  */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("windowedAgg on a stream: watermark + tumbling window, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(df, withWatermark = true)
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // day 1 events, then a day-3 event to move the watermark past day 1
      mem.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0),
        (ts(30), "view", 5.0))
      q.processAllAvailable()
      mem.addData((ts(3 * 1440), "click", 9.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select("event_type", "n_events", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      // day-1 windows are closed and emitted exactly once
      assert(out.contains(("click", 2L, 3.0)))
      assert(out.contains(("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("ohlcWindowed on a stream: bar emits once closed, OHLC correct") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "event_id", "event_type", "value")
    val q = EventStream.ohlcWindowed(df, withWatermark = true)
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // day-1 ticks out of value order (open=first by ts, not min), then
      // a day-3 tick to close day 1 past the watermark
      mem.addData((ts(10), 1L, "trade", 5.0), (ts(20), 2L, "trade", 9.0),
        (ts(30), 3L, "trade", 2.0), (ts(40), 4L, "trade", 7.0))
      q.processAllAvailable()
      mem.addData((ts(3 * 1440), 5L, "trade", 1.0))
      q.processAllAvailable()
      val out = spark.table("ohlc_out")
        .select("event_type", "open_v", "high_v", "low_v", "close_v", "n_ev")
        .as[(String, Double, Double, Double, Double, Long)].collect().toSet
      assert(out.contains(("trade", 5.0, 9.0, 2.0, 7.0, 4L)),
        s"closed day-1 bar wrong: $out")
    } finally q.stop()
  }

  test("watermark end-to-end: a late-beyond-watermark row is DROPPED (file source)") {
    // The full production shape: files land in a directory, each new file
    // is a micro-batch. Batch 1 carries day-1 events plus a day-2 01:00
    // event, so after it commits the watermark is day-2 00:50 — past the
    // day-1 window end. Batch 2 then delivers a day-1 straggler: it must
    // be filtered by the watermark, and the day-1 window must emit with
    // ONLY the batch-1 rows.
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes)
    write("batch1.json",
      """{"ts":"2021-01-01T10:00:00Z","event_type":"click","value":1.0}""",
      """{"ts":"2021-01-01T11:00:00Z","event_type":"click","value":2.0}""",
      """{"ts":"2021-01-02T01:00:00Z","event_type":"click","value":3.0}""")
    val src = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE").json(dir)
    val q = EventStream.windowedAgg(src, withWatermark = true)
      .writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // 100.0 at day-1 12:00 — two hours inside the closed window
      write("batch2.json",
        """{"ts":"2021-01-01T12:00:00Z","event_type":"click","value":100.0}""")
      q.processAllAvailable()
      val day1 = spark.table("wm_out")
        .filter(col("win_start") === lit("2021-01-01 00:00:00").cast("timestamp"))
        .select("n_events", "sum_value").as[(Long, Double)].collect()
      assert(day1.length === 1, s"day-1 window emitted ${day1.length} times")
      assert(day1.head === ((2L, 3.0)),
        s"late row leaked into the closed window: ${day1.head}")
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes offsets and window state") {
    // Production restart semantics, end-to-end: batch 1 (two day-1 clicks)
    // is committed, the query STOPS, the already-committed input file is
    // DELETED, and a day-2 file lands while the query is down. On restart
    // from the same checkpoint the day-1 window must emit with n=2 — those
    // two rows can ONLY come from recovered state (their source file is
    // gone), and the deleted file must not be re-read (offset log).
    // the memory sink is not fault-tolerant (no recovery support), so this
    // test drives the real production sink: parquet + _spark_metadata log
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft_ckpt_src"); val ck = tmp("graft_ckpt_meta")
    val outDir = tmp("graft_ckpt_out")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes)
    def stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE").json(dir)
    write("batch1.json",
      """{"ts":"2021-01-01T10:00:00Z","event_type":"click","value":1.0}""",
      """{"ts":"2021-01-01T11:00:00Z","event_type":"click","value":2.0}""")
    val q1 = EventStream.windowedAgg(stream, withWatermark = true)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append()).start()
    try { q1.processAllAvailable() } finally q1.stop()
    // while down: committed input vanishes, new day-2 data arrives
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "batch1.json"))
    write("batch2.json",
      """{"ts":"2021-01-02T01:00:00Z","event_type":"click","value":3.0}""")
    val q2 = EventStream.windowedAgg(stream, withWatermark = true)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append()).start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
      .select("win_start", "n_events", "sum_value")
      .as[(Timestamp, Long, Double)].collect()
    val day1 = out.filter(_._1.toString.startsWith("2021-01-01"))
    assert(day1.length == 1 && day1.head._2 == 2L && day1.head._3 == 3.0,
      s"day-1 window state not recovered across restart: ${out.toSeq}")
  }

  test("foreachBatch idempotent sink: a replayed batch does not duplicate rows") {
    // Crash-before-commit simulation: after the first run commits batch 0,
    // delete the checkpoint's commit marker (offset log intact — exactly
    // the on-disk state after a crash between offset write and commit
    // write). The restart re-executes batch 0 with the SAME batch id; the
    // idempotent sink overwrites bid=0 instead of appending, so the total
    // row count stays equal to the input. An append-mode sink would show
    // the duplicates this recipe exists to prevent.
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft_fb_src"); val ck = tmp("graft_fb_ck")
    val outDir = tmp("graft_fb_out")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b0.json"),
      Seq(
        """{"ts":"2021-01-01T10:00:00Z","event_type":"click","value":1.0}""",
        """{"ts":"2021-01-01T11:00:00Z","event_type":"view","value":2.0}""")
        .mkString("\n").getBytes)
    def stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE").json(dir)
    val q1 = EventStream.idempotentParquetSink(stream, outDir, ck)
    try q1.processAllAvailable() finally q1.stop()
    // stop() returns before the run deregisters its checkpoint lease;
    // wait out the async release or q2 trips the concurrent-use guard
    val deadline = System.nanoTime() + 30e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    // wipe the commit marker for the newest batch; offsets stay
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // also drop Hadoop ChecksumFileSystem's sidecar, or the rewrite of
    // commits/N trips FileAlreadyExists on the stale .N.crc
    new java.io.File(ck, s"commits/.${commits.last.getName}.crc").delete()
    val q2 = EventStream.idempotentParquetSink(stream, outDir, ck)
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.option("basePath", outDir).parquet(outDir)
    assert(out.count() == 2L,
      s"replayed batch duplicated rows: ${out.collect().toSeq}")
  }

  /** Read the newest state snapshot the maintenance stream produced. */
  private def latestAggSnapshot(stateDir: String) = {
    val id = graft.core.BidLog.latest(spark, stateDir, Long.MaxValue)
      .getOrElse(fail(s"no snapshot in $stateDir"))
    spark.read.parquet(s"$stateDir/bid=$id")
  }

  private def awaitStreamRelease(): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
  }

  test("incremental agg maintenance stream: commit-wipe replay does not double-count") {
    // Same crash-before-commit simulation as the idempotent-sink test,
    // but against MERGED state: after batch 1 merges on top of batch 0's
    // snapshot, wipe its commit marker and restart. The replayed batch 1
    // must re-read batch 0's snapshot (not its own crashed output) and
    // rewrite bid=1 — final state equals the full recompute, cents exact.
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft_mv_src"); val ck = tmp("graft_mv_ck")
    val stateDir = tmp("graft_mv_state")
    def stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE").json(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b0.json"),
      Seq(
        """{"user_id":1,"ts":"2021-01-01T10:00:00Z","value":1.25}""",
        """{"user_id":2,"ts":"2021-01-01T11:00:00Z","value":2.50}""")
        .mkString("\n").getBytes)
    val q1 = EventStream.incrementalAggMaintainStream(stream, stateDir, ck)
    try q1.processAllAvailable() finally q1.stop()
    awaitStreamRelease()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b1.json"),
      Seq(
        """{"user_id":1,"ts":"2021-01-02T09:00:00Z","value":3.75}""",
        """{"user_id":3,"ts":"2021-01-02T10:00:00Z","value":0.10}""")
        .mkString("\n").getBytes)
    val q2 = EventStream.incrementalAggMaintainStream(stream, stateDir, ck)
    try q2.processAllAvailable() finally q2.stop()
    awaitStreamRelease()
    // crash-before-commit: offsets for batch 1 exist, commit marker wiped
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2)
    assert(commits.last.delete())
    new java.io.File(ck, s"commits/.${commits.last.getName}.crc").delete()
    val q3 = EventStream.incrementalAggMaintainStream(stream, stateDir, ck)
    try q3.processAllAvailable() finally q3.stop()
    val fin = latestAggSnapshot(stateDir)
      .select("user_id", "n_events", "cents")
      .as[(Long, Long, Long)].collect().toSet
    assert(fin === Set((1L, 2L, 500L), (2L, 1L, 250L), (3L, 1L, 10L)),
      s"replayed merge diverged from full recompute: $fin")
  }

  test("incremental agg maintenance stream: parity with batch recompute at three SFs") {
    // The hash-parity contract of the batch QueryDef, carried to the
    // stream: run the fixture events through the maintenance stream in
    // file-per-trigger micro-batches; the final snapshot must equal the
    // one-shot aggregate (merge ≡ rebuild — the monoid claim, now proven
    // across ARBITRARY micro-batch splits, not just the batch 8/2 one).
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val src = s"/root/testdata/$sf"
      val ev = graft.core.Tables.events(spark, src)
        .select(col("user_id"), col("ts"), col("value"))
      val stage = tmp(s"graft_mvp_src_$sf")
      ev.repartition(4).write.mode("overwrite").parquet(stage)
      val stateDir = tmp(s"graft_mvp_state_$sf")
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = EventStream.incrementalAggMaintainStream(
        stream, stateDir, tmp(s"graft_mvp_ck_$sf"))
      try q.processAllAvailable() finally q.stop()
      awaitStreamRelease()
      val got = latestAggSnapshot(stateDir)
      val want = graft.ops.Aggregates.userAggPartial(ev)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$sf: streamed state != batch recompute")
    }
  }

  test("foreachBatch incremental MV merge: running store equals full recompute") {
    // The streaming twin of the batch `mv_incremental_merge` identity:
    // each micro-batch contributes a partial (count, exact-cents)
    // aggregate that is MERGED into a keyed store; after any number of
    // batches the store must equal the full recompute — the associative
    // mergeable-state property the MV pattern rests on.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val store = scala.collection.concurrent.TrieMap[String, (Long, Long)]()
    val q = mem.toDF().toDF("event_type", "value")
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          batch.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              (sum(col("value").cast("decimal(18,2)")) * lit(100))
                .cast("long").as("c"))
            .collect().foreach { r =>
              val (n0, c0) = store.getOrElse(r.getString(0), (0L, 0L))
              store(r.getString(0)) = (n0 + r.getLong(1), c0 + r.getLong(2))
            }
          ()
      }
      .start()
    try {
      mem.addData(("click", 1.25), ("view", 2.50), ("click", 3.10))
      q.processAllAvailable()
      mem.addData(("click", 0.65), ("purchase", 10.00))
      q.processAllAvailable()
      mem.addData(("view", 4.75))
      q.processAllAvailable()
    } finally q.stop()
    assert(store("click") == ((3L, 500L)))
    assert(store("view") == ((2L, 725L)))
    assert(store("purchase") == ((1L, 1000L)))
  }

  test("dedupStream: duplicates dropped within watermark, state evicted after") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = EventStream.dedupStream(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // in-batch duplicate (id 1 twice) and a cross-batch duplicate
      mem.addData((1L, ts(0), 1.0), (1L, ts(1), 99.0), (2L, ts(2), 2.0))
      q.processAllAvailable()
      mem.addData((1L, ts(3), 77.0))
      q.processAllAvailable()
      // advance the watermark far past id 1's expiry → its state is evicted
      mem.addData((9L, ts(1000), 0.0))
      q.processAllAvailable()
      // same key recurring after eviction is emitted again (by contract)
      mem.addData((1L, ts(1001), 5.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out")
        .select("event_id", "value").as[(Long, Double)].collect()
      // exactly ONE of the three pre-eviction duplicates survives (which
      // one is unspecified within a micro-batch), plus the re-emit
      val ones = out.filter(_._1 == 1L).map(_._2).toSet
      assert(ones.size == 2 && ones.contains(5.0) &&
        (ones - 5.0).subsetOf(Set(1.0, 77.0, 99.0)),
        s"expected one pre-eviction survivor + post-eviction re-emit, got $ones")
      assert(out.count(_._1 == 2L) == 1)
    } finally q.stop()
  }

  test("sessionizeClosed: flatMapGroupsWithState emits only closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStream.sessionizeClosed(mem.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("closed_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Ev(7L, ts(0), 1.0), Ev(7L, ts(10), 2.0))
      q.processAllAvailable()
      // nothing closed yet: session still open in state
      assert(spark.table("closed_out").count() === 0)
      mem.addData(Ev(7L, ts(100), 5.0)) // 90-min gap closes the first session
      q.processAllAvailable()
      val closed = spark.table("closed_out")
        .as[EventStream.ClosedSession].collect()
      assert(closed.length === 1)
      assert(closed.head.n_events === 2L)
      assert(math.abs(closed.head.sum_value - 3.0) < 1e-9)
      assert(closed.head.start_ms === 0L)
      assert(closed.head.end_ms === 10L * 60000L)
    } finally q.stop()
  }

  test("stream-static broadcast join: dimension enrichment inside a streaming agg") {
    // The standard streaming enrichment shape: micro-batch events join a
    // static broadcast dimension BEFORE the watermarked window agg — the
    // same plan a 1000-executor cluster runs with a reference-data table.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("error", "ops")).toDF("event_type", "category")
    val enriched = mem.toDF().toDF("ts", "event_type", "value")
      .join(broadcast(dim), Seq("event_type"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("category"), col("n"))
    val q = enriched.writeStream.format("memory").queryName("ss_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(10), "click", 1.0), (ts(20), "view", 2.0),
        (ts(30), "error", 3.0))
      q.processAllAvailable()
      mem.addData((ts(3 * 1440), "click", 9.0)) // closes the day-1 windows
      q.processAllAvailable()
      val out = spark.table("ss_out").select("category", "n")
        .as[(String, Long)].collect().toSet
      assert(out.contains(("engagement", 2L)))
      assert(out.contains(("ops", 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join: matches within window, no unbounded state") {
    // Two live streams joined on user_id + a two-sided time bound: the
    // only stream-stream join shape whose state Spark can evict. Inner
    // joins emit on match; the out-of-window purchase must never appear.
    implicit val sqlCtx = spark.sqlContext
    val signups   = MemoryStream[(Timestamp, Long, Double)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = EventStream.intervalJoin(
      signups.toDF().toDF("ts", "user_id", "value"),
      purchases.toDF().toDF("ts", "user_id", "value"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    try {
      signups.addData((ts(10), 1L, 0.0))
      purchases.addData(
        (ts(25), 1L, 9.5),  // 15 min after signup -> within 30-min window
        (ts(55), 1L, 3.0),  // 45 min after        -> outside the window
        (ts(25), 2L, 7.0))  // no signup for user 2
      q.processAllAvailable()
      val out = spark.table("ij_out")
        .select("user_id", "signup_ts", "purchase_ts", "purchase_value")
        .as[(Long, Timestamp, Timestamp, Double)].collect().toSet
      assert(out === Set((1L, ts(10), ts(25), 9.5)))
    } finally q.stop()
  }

  test("left-outer interval join: null row emits only after watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    val signups   = MemoryStream[(Timestamp, Long, Double)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = EventStream.intervalJoinOuter(
      signups.toDF().toDF("ts", "user_id", "value"),
      purchases.toDF().toDF("ts", "user_id", "value"))
    val q = joined.writeStream.format("memory").queryName("ijo_out")
      .outputMode(OutputMode.Append()).start()
    try {
      signups.addData((ts(10), 1L, 0.0), (ts(10), 2L, 0.0))
      purchases.addData((ts(25), 1L, 9.5)) // user 1 matches; user 2 never will
      q.processAllAvailable()
      def rows = spark.table("ijo_out")
        .select("user_id", "purchase_value")
        .as[(Long, Option[Double])].collect().toSet
      // watermark (max ts - 10 min = ts 15) has NOT passed user 2's window
      // end (ts 40): the unmatched row must not have been emitted yet
      assert(rows === Set((1L, Some(9.5))))
      // advance both watermarks far past ts 40, over two micro-batches so
      // the outer-emission pass runs with the new watermark
      signups.addData((ts(200), 9L, 0.0))
      purchases.addData((ts(200), 9L, 1.0))
      q.processAllAvailable()
      signups.addData((ts(210), 9L, 0.0))
      purchases.addData((ts(211), 9L, 1.0))
      q.processAllAvailable()
      assert(rows.contains((2L, None)),
        s"unmatched signup not null-emitted after watermark: $rows")
    } finally q.stop()
  }

  test("semi/anti interval join: semi emits on match, anti only after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val signups    = MemoryStream[(Timestamp, Long, Double)]
    val purchases  = MemoryStream[(Timestamp, Long, Double)]
    val signups2   = MemoryStream[(Timestamp, Long, Double)]
    val purchases2 = MemoryStream[(Timestamp, Long, Double)]
    val semi = EventStream.intervalJoinSemi(
      signups.toDF().toDF("ts", "user_id", "value"),
      purchases.toDF().toDF("ts", "user_id", "value"))
    val anti = EventStream.intervalJoinAnti(
      signups2.toDF().toDF("ts", "user_id", "value"),
      purchases2.toDF().toDF("ts", "user_id", "value"))
    val qs = semi.writeStream.format("memory").queryName("ijs_out")
      .outputMode(OutputMode.Append()).start()
    val qa = anti.writeStream.format("memory").queryName("ija_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1 matched in-window, user 2 unmatched, user 3's purchase is
      // outside the 30-min window (45 min later) — matched for NEITHER
      val su = Seq((ts(10), 1L, 0.5), (ts(10), 2L, 0.7), (ts(10), 3L, 0.9))
      val pu = Seq((ts(25), 1L, 9.5), (ts(55), 3L, 3.0))
      signups.addData(su: _*); purchases.addData(pu: _*)
      signups2.addData(su: _*); purchases2.addData(pu: _*)
      qs.processAllAvailable(); qa.processAllAvailable()
      def semiRows = spark.table("ijs_out")
        .select("user_id", "signup_value")
        .as[(Long, Double)].collect().toSet
      def antiRows = spark.table("ija_out")
        .select("user_id", "signup_value")
        .as[(Long, Double)].collect().toSet
      // semi emits on match, exactly once, left columns only
      assert(semiRows === Set((1L, 0.5)), s"semi: $semiRows")
      // anti must NOT have emitted yet: the watermark (max ts − 10 min)
      // hasn't passed the unmatched signups' window end (ts 40)
      assert(antiRows === Set.empty, s"anti emitted early: $antiRows")
      // advance the watermark far past ts 40 on both anti inputs, two
      // micro-batches so the outer-emission pass sees the new watermark
      signups2.addData((ts(200), 9L, 0.0)); purchases2.addData((ts(200), 9L, 1.0))
      qa.processAllAvailable()
      signups2.addData((ts(210), 9L, 0.0)); purchases2.addData((ts(211), 9L, 1.0))
      qa.processAllAvailable()
      // users 2 and 3 are the decontamination keep-set (3's purchase was
      // out-of-window); user 1 must never appear
      assert(antiRows.intersect(Set((1L, 0.5), (2L, 0.7), (3L, 0.9))) ===
        Set((2L, 0.7), (3L, 0.9)), s"anti keep-set wrong: $antiRows")
    } finally { qs.stop(); qa.stop() }
  }

  test("full-outer interval join: both sides null-emit after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val signups   = MemoryStream[(Timestamp, Long, Double)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = EventStream.intervalJoinFullOuter(
      signups.toDF().toDF("ts", "user_id", "value"),
      purchases.toDF().toDF("ts", "user_id", "value"))
    val q = joined.writeStream.format("memory").queryName("ijf_out")
      .outputMode(OutputMode.Append()).start()
    try {
      signups.addData((ts(10), 1L, 0.0), (ts(10), 2L, 0.0))
      purchases.addData(
        (ts(25), 1L, 9.5),  // matches user 1's signup
        (ts(25), 3L, 7.0))  // user 3 has no signup: right-side orphan
      q.processAllAvailable()
      def rows = spark.table("ijf_out")
        .select("user_id", "signup_ts", "purchase_value")
        .as[(Long, Option[Timestamp], Option[Double])].collect().toSet
      // the match emits immediately; neither orphan may emit before the
      // watermark closes its side (user 2's window end ts 40; user 3's
      // candidate-signup range is already bounded by its own ts 25)
      assert(rows === Set((1L, Some(ts(10)), Some(9.5))),
        s"orphans emitted before watermark: $rows")
      // advance both watermarks far past every window, across two
      // micro-batches so the outer-emission pass sees the new watermark
      signups.addData((ts(200), 9L, 0.0))
      purchases.addData((ts(200), 9L, 1.0))
      q.processAllAvailable()
      signups.addData((ts(210), 9L, 0.0))
      purchases.addData((ts(211), 9L, 1.0))
      q.processAllAvailable()
      assert(rows.contains((2L, Some(ts(10)), None)),
        s"unmatched signup not null-emitted: $rows")
      assert(rows.contains((3L, None, Some(7.0))),
        s"unmatched purchase not null-emitted: $rows")
    } finally q.stop()
  }

  test("sessionize: state accumulates within gap, resets across gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStream.sessionize(mem.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Ev(1L, ts(0), 1.0), Ev(1L, ts(10), 2.0))
      q.processAllAvailable()
      mem.addData(Ev(1L, ts(20), 4.0))  // within gap: same session
      q.processAllAvailable()
      mem.addData(Ev(1L, ts(120), 8.0)) // 100-minute gap: new session
      q.processAllAvailable()
      val hist = spark.table("sess_out").as[SessOut].collect()
      val latest = hist.last
      assert(hist.exists(o => o.n_events == 3L && math.abs(o.sum_value - 7.0) < 1e-9))
      assert(latest.n_events === 1L)
      assert(math.abs(latest.sum_value - 8.0) < 1e-9)
    } finally q.stop()
  }

  test("histQuantileState: bin-width-bounded p50/p95 on bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (lo, hi, bins) = (0.0, 100.0, 50)
    val binW = (hi - lo) / bins
    val rnd = new scala.util.Random(17)
    // two keys, skewed differently; values split across 3 micro-batches
    val vals1 = Seq.fill(120)(rnd.nextDouble() * 60)          // uniform-ish
    val vals2 = Seq.fill(120)(90 - math.abs(rnd.nextGaussian()) * 20)
    val evs = vals1.zipWithIndex.map { case (v, i) => Ev(1L, ts(i), v) } ++
      vals2.zipWithIndex.map { case (v, i) => Ev(2L, ts(i), v) }
    val mem = MemoryStream[Ev]
    val q = EventStream.histQuantileState(mem.toDS(), lo, hi, bins)
      .writeStream.format("memory").queryName("qsk_out")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(80).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      val hist = spark.table("qsk_out").as[EventStream.QSketch].collect()
      def exact(vs: Seq[Double], p: Double): Double = {
        val s = vs.sorted
        s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
      }
      // final state per key = the max-n emission; estimates must sit
      // within one bin width of the exact batch quantiles (the
      // histogram contract), and state never exceeded `bins` counters
      Seq(1L -> vals1, 2L -> vals2).foreach { case (k, vs) =>
        val fin = hist.filter(_.user_id == k).maxBy(_.n)
        assert(fin.n === vs.size, s"key $k lost rows: $fin")
        assert(math.abs(fin.p50 - exact(vs, 0.5)) <= binW + 1e-9,
          s"key $k p50 ${fin.p50} vs exact ${exact(vs, 0.5)}")
        assert(math.abs(fin.p95 - exact(vs, 0.95)) <= binW + 1e-9,
          s"key $k p95 ${fin.p95} vs exact ${exact(vs, 0.95)}")
      }
      // the two keys' distributions must actually differ (non-vacuity)
      val f1 = hist.filter(_.user_id == 1L).maxBy(_.n)
      val f2 = hist.filter(_.user_id == 2L).maxBy(_.n)
      assert(math.abs(f1.p50 - f2.p50) > 5 * binW,
        "keys' quantiles indistinguishable — vacuous test data")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("kllQuantileState: certified rank bound holds across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rnd = new scala.util.Random(23)
    // two keys with different distributions and enough rows that the
    // k=64 sketch actually compacts (err > 0) — otherwise the bound
    // check is vacuous exactness
    val vals1 = Seq.fill(900)(rnd.nextDouble() * 100)
    val vals2 = Seq.fill(900)(500 + rnd.nextGaussian() * 50)
    val evs = vals1.zipWithIndex.map { case (v, i) => Ev(1L, ts(i), v) } ++
      vals2.zipWithIndex.map { case (v, i) => Ev(2L, ts(i), v) }
    val mem = MemoryStream[Ev]
    val q = EventStream.kllQuantileState(mem.toDS(), k = 64, floor = 16)
      .writeStream.format("memory").queryName("kllq_out")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(600).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      val outs = spark.table("kllq_out").as[EventStream.KllQ].collect()
      Seq(1L -> vals1, 2L -> vals2).foreach { case (key, vs) =>
        val fin = outs.filter(_.user_id == key).maxBy(_.n)
        assert(fin.n === vs.size, s"key $key lost rows: $fin")
        assert(fin.err > 0, s"key $key never compacted — vacuous bound check")
        // the KllSketch tie-safe selection contract vs exact batch ranks
        Seq(0.5 -> fin.p50, 0.95 -> fin.p95).foreach { case (p, est) =>
          val target = math.ceil(p * vs.size).toLong.max(1L)
          val rankLe = vs.count(_ <= est).toLong
          val rankLt = vs.count(_ < est).toLong
          assert(rankLe >= target - fin.err,
            s"key $key p=$p: rankLe=$rankLe target=$target err=${fin.err}")
          assert(rankLt <= target - 1 + fin.err,
            s"key $key p=$p: rankLt=$rankLt target=$target err=${fin.err}")
        }
      }
      // distributions must actually differ (non-vacuity)
      val f1 = outs.filter(_.user_id == 1L).maxBy(_.n)
      val f2 = outs.filter(_.user_id == 2L).maxBy(_.n)
      assert(f2.p50 - f1.p50 > 100, "keys indistinguishable — vacuous data")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("kmvDistinctState: stream == batch KMV triple, both sketch branches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.{KmvEst, TypedEv}
    val k = 64
    // users 25302 and 82945 COLLIDE on jvmH32 (both hash to 2071346635,
    // found by exhaustive search) — planted in the exact branch, where a
    // hash-VALUE-dedup sketch (the bug class: batch ranks rows, not
    // values) would report m = 21 instead of 22
    val collA = 25302L; val collB = 82945L
    assert(graft.core.Text.jvmH32(collA.toString)
      === graft.core.Text.jvmH32(collB.toString), "collision pair stale")
    val viewUsers: Seq[Long] = (1L to 20L) ++ Seq(collA, collB)
    val clickUsers: Seq[Long] = (1L to 500L)
    // "click": 500 distinct users (sketch full, estimator branch, with
    // repeats to prove distinctness); "view": 22 users (exact branch)
    val evs =
      clickUsers.map(u => TypedEv(u, ts(u), "click")) ++
        (1 to 200).map(u => TypedEv(u.toLong, ts(600 + u), "click")) ++
        viewUsers.zipWithIndex.map { case (u, i) =>
          TypedEv(u, ts(900 + i), "view") }
    val mem = MemoryStream[TypedEv]
    val q = EventStream.kmvDistinctState(mem.toDS(), k = k)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // 3 micro-batches: bottom-k union must be partition-insensitive
      evs.grouped(300).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val outs = spark.table("kmv_out").as[KmvEst].collect()
      def expected(users: Seq[Long]) = {
        // the batch twin's semantics: bottom-k (h, user) ROWS
        val rows = users.map(u => (graft.core.Text.jvmH32(u.toString), u))
          .distinct.sorted.take(k)
        (rows.size.toLong, rows.last._1,
          if (rows.size < k) rows.size.toDouble
          else (k - 1).toDouble * 4294967296.0 / rows.last._1.toDouble)
      }
      Seq("click" -> clickUsers, "view" -> viewUsers).foreach {
        case (typ, users) =>
          // LAST emission per type (memory sink preserves batch order;
          // theta only shrinks as more of the universe arrives, so an
          // earlier full-sketch emission has the same m but larger theta)
          val fin = outs.filter(_.event_type == typ).last
          val (em, eth, eest) = expected(users)
          assert((fin.m, fin.theta, fin.est_distinct) === ((em, eth, eest)),
            s"$typ stream != batch-formula triple: $fin")
          if (typ == "click") {
            assert(fin.m === k.toLong, "click sketch never filled — vacuous")
            // sanity only (k=64 → 1σ ≈ 12.6%; this fixed universe draws
            // ~2.8σ high, deterministically) — correctness is the exact
            // triple equality above, not this anti-insanity band
            assert(math.abs(fin.est_distinct - users.size) <= users.size * 0.5,
              s"click estimate wild: ${fin.est_distinct}")
          } else {
            // both colliding users hold a slot: 22, not 21
            assert(fin.m === 22L, s"collision pair collapsed: $fin")
            assert(fin.est_distinct === users.size.toDouble)
          }
      }
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("MapState + TTL: per-entry expiry across micro-batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.{TypedEv, TypeCounts}
    val mem = MemoryStream[TypedEv]
    // TTL is processing-time based (the Spark contract): 1 s TTL, with a
    // 3 s wall-clock gap between micro-batches — generous enough that the
    // eviction assertion is deterministic on a loaded box.
    //
    // POLL, never processAllAvailable(): in TimeMode.ProcessingTime,
    // TransformWithStateExec.shouldRunAnotherBatch is ALWAYS true, so
    // the query triggers continuously (empty batches advance the TTL
    // clock) and never reports idle — processAllAvailable() blocks
    // forever and Trigger.AvailableNow never terminates (measured:
    // 2000+ empty epochs before this test was restructured). Only
    // data-carrying batches emit rows (no timers registered), so
    // polling the foreachBatch buffer for the expected rows is exact.
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[TypeCounts]()
    val q = EventStream.rollingDistinctState(mem.toDS(),
        java.time.Duration.ofMillis(1000))
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[TypeCounts], _: Long) =>
          b.collect().foreach(buf.add)
      }
      .start()
    def await(p: () => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!p() && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(p(), s"$what not observed in 60 s; buf=${buf.toArray.toSeq}")
    }
    try {
      mem.addData(TypedEv(1L, ts(0), "click"), TypedEv(1L, ts(1), "view"),
        TypedEv(1L, ts(2), "click"), TypedEv(2L, ts(3), "purchase"))
      // within the TTL window: both of user 1's types live, counts exact
      await(() => buf.contains(TypeCounts(1L, 2L, 3L)) &&
        buf.contains(TypeCounts(2L, 1L, 1L)), "batch-1 live state")
      Thread.sleep(3000) // let the 1 s TTL elapse for every batch-1 entry
      buf.clear()
      mem.addData(TypedEv(1L, ts(10), "purchase"))
      // EVICTION: click/view expired — only the fresh type is live. A
      // ValueState[Map] (or TTL-less MapState) would report 3 types / 4
      // hits here; per-entry TTL is exactly what makes the count roll.
      await(() => buf.contains(TypeCounts(1L, 1L, 1L)),
        "post-TTL eviction (1 live type)")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState last-N buffer: bounded history, rolling mean (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.{EvK, LastN}
    val mem = MemoryStream[EvK]
    val q = EventStream.lastNState(mem.toDS(), 3)
      .writeStream.format("memory").queryName("lastn_out")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(EvK(1L, ts(0), 1L, 10.0), EvK(1L, ts(1), 2L, 20.0))
      q.processAllAvailable()
      mem.addData(EvK(1L, ts(2), 3L, 30.0), EvK(1L, ts(3), 4L, 100.0))
      q.processAllAvailable()
      // 4 EQUAL-ts events whose values are NOT monotone in event_id, so
      // the trim boundary falls INSIDE the tie group: the (ts, event_id)
      // order appends [30, 7, 100, 2] and keeps ids 6..8 → {7, 100, 2}
      // (mean 36.33), while a (ts, value) order would append
      // [2, 7, 30, 100] and keep {7, 30, 100} (mean 45.67).
      mem.addData(EvK(1L, ts(4), 5L, 30.0), EvK(1L, ts(4), 6L, 7.0),
        EvK(1L, ts(4), 7L, 100.0), EvK(1L, ts(4), 8L, 2.0))
      q.processAllAvailable()
      val hist = spark.table("lastn_out").as[LastN].collect()
      // batch 1: buffer [10, 20] → mean 15; batch 2: buffer trimmed to
      // the newest 3 of [10, 20, 30, 100] → [20, 30, 100] → mean 50.
      // A ValueState running agg would report mean 40 over all 4 — the
      // trim is what the assertion distinguishes.
      assert(hist.contains(LastN(1L, 2L, 15.0)), s"batch-1 wrong: ${hist.toSeq}")
      assert(hist.contains(LastN(1L, 3L, 50.0)),
        s"last-N trim not applied: ${hist.toSeq}")
      // batch 3: newest 3 by (ts, event_id) of the equal-ts group are
      // ids 6,7,8 → values 7, 100, 2 → mean 36.33; a (ts, value) order
      // would instead keep 30, 100 and drop 2 or 7 → mean 45.67/44.0 —
      // the twin-equivalence regression this guards.
      assert(hist.contains(LastN(1L, 3L, 36.33)),
        s"equal-ts trim not tie-broken by event_id: ${hist.toSeq}")
      assert(!hist.exists(r => r.n_recent > 3), "buffer exceeded N")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("event-time timers: idle session flushed by watermark, not by traffic") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.ClosedSession
    val gapMs = 10 * 60000L // 10-minute session gap
    val mem = MemoryStream[Ev]
    val q = EventStream.sessionizeWithTimers(mem.toDS(), gapMs)
      .writeStream.format("memory").queryName("timersess_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1's whole session arrives in batch 1; user 1 then goes IDLE.
      // (events start at minute 1, not 0: the operator's late-row filter
      // keeps only ts STRICTLY ABOVE the watermark, and the initial
      // watermark is 0 — a ts-0 event would be silently dropped)
      mem.addData(Ev(1L, ts(1), 1.0), Ev(1L, ts(5), 2.0))
      q.processAllAvailable()
      assert(spark.table("timersess_out").isEmpty,
        "session emitted before the watermark proved it closed")
      // batch 2: only OTHER-user traffic; it advances the watermark past
      // user 1's last-event + gap, so user 1's timer fires and the
      // session flushes with ZERO further events from user 1 — the case
      // the input-driven sessionizeClosed can never emit
      mem.addData(Ev(2L, ts(60), 9.0))
      q.processAllAvailable()
      val out = spark.table("timersess_out").as[ClosedSession].collect()
      assert(out.contains(ClosedSession(1L, 2L, 3.0, 60000L, 5L * 60000L)),
        s"idle session not flushed by timer: ${out.toSeq}")
      // user 2 is still open (its own timer hasn't passed the watermark)
      assert(!out.exists(_.user_id == 2L), s"open session leaked: ${out.toSeq}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("chained stateful ops: sessionize re-emits event time into a window agg") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapMs = 10 * 60000L
    val mem = MemoryStream[Ev]
    val q = EventStream.sessionsPerWindow(mem.toDS(), gapMs, "1 hour")
      .writeStream.format("memory").queryName("sesswin_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 session A (min 1-5) closes IN-BATCH when the
      // min-70 event exceeds the gap (end_ts = 15, above the batch's
      // wm=0); session B (min 70) and user 2 (min 20) stay open.
      mem.addData(Ev(1L, ts(1), 1.0), Ev(1L, ts(5), 2.0),
        Ev(1L, ts(70), 3.0), Ev(2L, ts(20), 4.0))
      q.processAllAvailable()
      // batch 2: a third user far in the future advances the watermark,
      // firing the remaining timers.
      mem.addData(Ev(3L, ts(400), 9.0))
      q.processAllAvailable()
      // batch 3: advance the watermark once more so the window holding
      // session B's clamped flush can close.
      mem.addData(Ev(4L, ts(800), 8.0))
      q.processAllAvailable()
      val out = spark.table("sesswin_out")
        .select(col("win_start").cast("long"), col("n_sessions"),
          col("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      // FLUSH-TIME SEMANTICS, pinned: a timer-driven close re-emits at
      // max(expiry, wm+1ms), because the runtime rejects rows behind the
      // watermark (EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED).
      //  - hour [0,1): session A only (in-batch close at its TRUE end,
      //    min 15 — the watermark was still 0 when it flushed).
      //  - hour [1,2): user 2's session expired at min 30 but flushed
      //    when wm was already 70 → clamped to 70min+1ms.
      //  - session B (expiry min 80) flushed when wm was 400 → lands in
      //    hour [6,7) at 400min+1ms. With a dense stream (or a nonzero
      //    watermark delay) the clamp shrinks to ~one batch; sparse
      //    traffic makes it visible, which is exactly what this pins.
      val want = Set((0L, 1L, 2L), (3600L, 1L, 1L), (21600L, 1L, 1L))
      assert(out == want, s"got $out want $want")
      // users 3/4: sessions still open (or their window unclosed) —
      // nothing at/after user 3's flush hour
      assert(!out.exists(_._1 >= 13 * 3600L), s"open session leaked: $out")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState: typed ValueState running agg on RocksDB store") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store (the scale
    // path: incremental snapshots, state spills beyond heap)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = EventStream.runningAggState(mem.toDS())
      .writeStream.format("memory").queryName("twstate_out")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Ev(1L, ts(0), 1.0), Ev(1L, ts(1), 2.0), Ev(2L, ts(2), 10.0))
      q.processAllAvailable()
      mem.addData(Ev(1L, ts(3), 4.0)) // state carries across micro-batches
      q.processAllAvailable()
      val hist = spark.table("twstate_out").as[EventStream.RunAgg].collect()
      assert(hist.contains(EventStream.RunAgg(1L, 2L, 3.0)))  // batch 1
      assert(hist.contains(EventStream.RunAgg(2L, 1L, 10.0)))
      assert(hist.contains(EventStream.RunAgg(1L, 3L, 7.0)))  // batch 2
      // oracle: the batch groupBy over the same rows equals final state
      val batch = Seq(Ev(1L, ts(0), 1.0), Ev(1L, ts(1), 2.0),
        Ev(2L, ts(2), 10.0), Ev(1L, ts(3), 4.0)).toDS()
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .as[(Long, Long, Double)].collect()
        .map { case (u, n, s) => u -> ((n, s)) }.toMap
      val finalPerUser = hist.groupBy(_.user_id).map {
        case (u, rows) => u -> rows.maxBy(_.n_events)
      }
      assert(batch.forall { case (u, (n, s)) =>
        finalPerUser(u).n_events == n && math.abs(finalPerUser(u).sum_value - s) < 1e-9
      })
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static incremental dedup against the corpus bucket store") {
    implicit val sqlCtx = spark.sqlContext
    val corpusDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val store = graft.ops.Extended.bucketStoreOf(corpusDocs)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.incrementalDedupStream(
        mem.toDS().toDF("doc_id", "ts", "text"), store)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // doc 10 copies corpus doc 1's text exactly: every band bucket
      // matches -> dup_of = 1; doc 11 shares no shingle -> kept;
      // doc 13 is under 3 words -> no signature, kept via the
      // stateless branch
      mem.addData(
        (10L, ts(0), "alpha beta gamma delta epsilon zeta"),
        (11L, ts(1), "totally different words here indeed"),
        (13L, ts(1), "two words"))
      q.processAllAvailable()
      // a later batch still probes the same static store
      mem.addData((12L, ts(2), "one two three four five six seven"))
      q.processAllAvailable()
      val out = spark.table("incdedup_out")
        .as[(Long, Option[Long], Boolean)].collect()
        .groupBy(_._1).map { case (id, rows) => id -> rows.last }
      assert(out(10L) == ((10L, Some(1L), false)))
      assert(out(11L) == ((11L, None, true)))
      assert(out(12L) == ((12L, Some(2L), false)))
      assert(out(13L) == ((13L, None, true)))
    } finally q.stop()
  }

  test("transformWithState: streaming Misra-Gries keeps every heavy hitter") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Zipf-ish stream split across two micro-batches mid-term — state
    // must carry partial counts across the batch boundary
    val stream = (1 to 30).flatMap(i => Seq.fill(600 / i)(s"t$i"))
    val (b1, b2) = stream.splitAt(stream.length / 2)
    val k = 6
    val n = stream.length
    val mustSurvive = stream.groupBy(identity).collect {
      case (t, occ) if occ.size.toLong * (k + 1) > n => t
    }.toSet
    assert(mustSurvive.nonEmpty, "fixture must contain heavy hitters")
    val mem = MemoryStream[String]
    val q = EventStream.heavyHittersState(mem.toDS(), k, shards = 3)
      .writeStream.format("memory").queryName("mg_out")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val hist = spark.table("mg_out").as[EventStream.ShardCands].collect()
      // latest emission per shard = current sketch state
      val latest = hist.zipWithIndex.groupBy(_._1.shard)
        .map { case (_, rows) => rows.maxBy(_._2)._1 }
      latest.foreach(sc => assert(sc.terms.length <= k,
        s"shard ${sc.shard} sketch exceeded k"))
      val cands = latest.flatMap(_.terms).toSet
      assert(mustSurvive.subsetOf(cands),
        s"streaming sketch lost guaranteed heavy hitter(s) ${mustSurvive -- cands}")
      // pass-2 exact recount of candidates == plain exact heavy hitters
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val twoPass = cands.filter(t => exact(t) * (k + 1) > n)
      assert(twoPass == mustSurvive)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("cdcApply: change stream folds to last-writer-wins; stale replays are no-ops") {
    import graft.streaming.EventStream.{CdcOut, Change}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = EventStream.cdcApply(mem.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode(OutputMode.Update()).start()
    // the full change log, applied across 3 micro-batches; batch 3
    // REPLAYS two stale changes (at-least-once delivery) which must not
    // regress the state
    val b1 = Seq(Change(1L, "upsert", 10.0, 1L), Change(2L, "upsert", 5.0, 2L),
      Change(3L, "upsert", 7.0, 3L))
    val b2 = Seq(Change(1L, "upsert", 11.0, 4L), Change(2L, "delete", 0.0, 5L),
      Change(4L, "upsert", 1.0, 6L))
    val b3 = Seq(Change(1L, "upsert", 10.0, 1L), // stale replay: seq 1 < 4
      Change(2L, "upsert", 5.0, 2L), // stale replay after delete
      Change(3L, "delete", 0.0, 7L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      // final snapshot = max-seq output row per key
      val snap = spark.table("cdc_out").as[CdcOut].collect()
        .groupBy(_.k).map { case (k, rows) => k -> rows.maxBy(_.seq) }
      assert(snap(1L).present && snap(1L).value === 11.0 && snap(1L).seq === 4L,
        s"key 1 regressed by stale replay: ${snap(1L)}")
      assert(!snap(2L).present && snap(2L).seq === 5L,
        s"key 2 tombstone lost to stale replay: ${snap(2L)}")
      assert(!snap(3L).present && snap(3L).seq === 7L)
      assert(snap(4L).present && snap(4L).value === 1.0)
      // batch twin: last-writer-wins window over the SAME change log —
      // the independent computation the streaming fold must agree with
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("seq").desc)
      val twin = (b1 ++ b2 ++ b3).toDS()
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k"), (col("op") =!= "delete").as("present"),
          when(col("op") =!= "delete", col("value")).otherwise(0.0).as("value"),
          col("seq"))
        .as[CdcOut].collect().map(o => o.k -> o).toMap
      assert(snap.toMap === twin, s"stream snapshot != batch twin:\n$snap\n$twin")
    } finally q.stop()
  }

  test("CEP funnel: skip-till-next-match across batches, timeout reset, twin parity") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{CepMatch, EvT}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val winUs = 60L * 60000000L // 60 minutes
    def us(minutes: Long): Long = minutes * 60000000L
    val mem = MemoryStream[EvT]
    val q = EventStream.cepFunnelState(mem.toDS(), winUs)
      .writeStream.format("memory").queryName("cep_out")
      .outputMode(OutputMode.Append()).start()
    // user 2 never clicks — the key-isolation control
    val b1 = Seq(EvT(1L, ts(2), 2L, "click"), EvT(1L, ts(1), 1L, "view"),
      EvT(2L, ts(5), 10L, "view"), EvT(2L, ts(6), 11L, "purchase"))
    val b2 = Seq(EvT(1L, ts(10), 3L, "purchase"), // closes match 1 (cross-batch)
      EvT(1L, ts(20), 4L, "view"), EvT(1L, ts(25), 5L, "click"))
    val b3 = Seq(EvT(1L, ts(90), 6L, "purchase"), // 70 min > window: reset, no match
      EvT(1L, ts(95), 7L, "view"), EvT(1L, ts(96), 8L, "click"),
      EvT(1L, ts(100), 9L, "purchase"), // match 2
      // boundary pair: the window predicate is STRICTLY ts − start > T,
      // so a purchase at exactly start + T still matches (user 3) and
      // one microsecond-equivalent later (1 min granularity here) does
      // not (user 4)
      EvT(3L, ts(200), 20L, "view"), EvT(3L, ts(201), 21L, "click"),
      EvT(3L, ts(260), 22L, "purchase"), // exactly start + 60 min: match
      EvT(4L, ts(200), 30L, "view"), EvT(4L, ts(201), 31L, "click"),
      EvT(4L, ts(261), 32L, "purchase")) // start + 61 min: timeout, no match
    try {
      // b1 is fed OUT of event order: the (ts, event_id) intra-batch sort
      // must still see view before click
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      val got = spark.table("cep_out").as[CepMatch].collect().toSet
      assert(got === Set(
        CepMatch(1L, 1, us(1), us(10)),
        CepMatch(1L, 2, us(95), us(100)),
        CepMatch(3L, 1, us(200), us(260))), s"stream emissions wrong: $got")
      // batch-twin parity: the fold over the same rows reports the same
      // end-of-stream summary the stream's final state implies
      val twin = EventStream.cepFunnelFold(
        (b1 ++ b2 ++ b3).toDS().toDF()
          .select(col("user_id"), (col("ts").cast("long") * 1000000L).as("tsu"),
            col("event_id"), col("event_type")), winUs)
        .as[(Long, Int, Long)].collect().toSet
      assert(twin === Set((1L, 2, us(100)), (3L, 1, us(260))),
        s"batch twin wrong: $twin")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
  test("matchup stream: order-complete pair emission matches batch matchupPairs") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.{LineEv, MatchupPair}
    val gapMs = 10 * 60000L
    val mem = MemoryStream[LineEv]
    val q = EventStream.matchupStream(mem.toDS(), gapMs)
      .writeStream.format("memory").queryName("matchup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // order 10: lines straddle batches — supplier 1 overtakes supplier 2
      // only once BOTH its lines are summed (an early emission flips iwin);
      // order 20: exact revenue tie → lower suppkey wins;
      // order 30: single supplier → no matchup, must emit nothing.
      // (events start at minute 1: the late-row filter drops ts ≤ the
      // initial watermark 0)
      mem.addData(LineEv(10L, 1L, 500L, ts(1)), LineEv(10L, 2L, 700L, ts(2)),
        LineEv(20L, 5L, 400L, ts(3)), LineEv(20L, 9L, 400L, ts(3)),
        LineEv(30L, 7L, 100L, ts(4)))
      q.processAllAvailable()
      assert(spark.table("matchup_out").isEmpty,
        "pairs emitted before the watermark closed the orders")
      mem.addData(LineEv(10L, 1L, 300L, ts(5))) // order 10 still open
      q.processAllAvailable()
      assert(spark.table("matchup_out").isEmpty,
        "pairs emitted while an order could still grow")
      // sentinel order advances the watermark past every timer; its own
      // order stays open and must NOT emit (single supplier anyway)
      mem.addData(LineEv(99L, 1L, 1L, ts(60)))
      q.processAllAvailable()
      val out = spark.table("matchup_out").as[MatchupPair].collect()
      assert(out.length === 2, s"unexpected emissions: ${out.toSeq}")
      // expectation derived from the BATCH side's semantics (the
      // round-13 twin rule): run Learn.matchupPairs on the same totals
      val osr = Seq((10L, 1L, 800L), (10L, 2L, 700L), (20L, 5L, 400L),
        (20L, 9L, 400L), (30L, 7L, 100L)).toDF("ok", "sk", "rev")
      val batch = graft.ops.Learn.matchupPairs(osr)
        .as[(Long, Long, Long, Long)].collect().toSet
      val streamed = out.groupBy(p => (p.i, p.j))
        .map { case ((i, j), ps) =>
          (i, j, ps.length.toLong, ps.map(_.iwin.toLong).sum) }.toSet
      assert(streamed === batch,
        s"stream pairs $streamed != batch matchupPairs $batch")
      assert(out.toSet === Set(MatchupPair(10L, 1L, 2L, 1),
        MatchupPair(20L, 5L, 9L, 1)),
        s"wrong pair verdicts: ${out.toSeq}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("matchup stream: cross-batch OUT-OF-ORDER line must not pull the timer earlier") {
    // The quiet-period clock is the max event time EVER SEEN: a later
    // batch delivering an EARLIER (still-valid under the watermark
    // delay) line re-armed the timer at that earlier ts + gap before
    // the fix, emitting while the order could still grow — and a
    // subsequent line then produced a SECOND emission for the same
    // order (duplicate pairs downstream).
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import EventStream.{LineEv, MatchupPair}
    val mem = MemoryStream[LineEv]
    val q = EventStream.matchupStream(mem.toDS(), gapMs = 10 * 60000L,
      delay = "30 minutes")
      .writeStream.format("memory").queryName("matchup_ooo_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // order 10's max event time is minute 20
      mem.addData(LineEv(10L, 1L, 500L, ts(20)), LineEv(10L, 2L, 700L, ts(20)))
      q.processAllAvailable()
      // out-of-order line at minute 5 (valid: watermark is 20 - 30 < 0);
      // the timer must stay at 20 + gap = 30, not drop to 5 + gap = 15
      mem.addData(LineEv(10L, 1L, 300L, ts(5)))
      q.processAllAvailable()
      // watermark -> 47 - 30 = 17: past the BUGGY timer (15), before the
      // correct one (30) — nothing may emit
      mem.addData(LineEv(99L, 1L, 1L, ts(47)))
      q.processAllAvailable()
      assert(spark.table("matchup_ooo_out").isEmpty,
        "out-of-order line pulled the quiet-period timer earlier")
      // watermark -> 69: the correct timer fires, ONE emission with all
      // three lines summed (supplier 1: 500 + 300 = 800 >= 700)
      mem.addData(LineEv(98L, 1L, 1L, ts(99)))
      q.processAllAvailable()
      val out = spark.table("matchup_ooo_out").as[MatchupPair].collect()
      assert(out.toSeq === Seq(MatchupPair(10L, 1L, 2L, 1)),
        s"expected one complete emission, got: ${out.toSeq}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
