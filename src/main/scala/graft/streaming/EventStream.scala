package graft.streaming

import graft.core.{BidLog, Num, QueryDef, Tables}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators + their oracle-checked batch twins.
  *
  * The reference is a batch engine; the streaming surface is an engine
  * extension (SURVEY.md §"streaming": flagged engine-extension only).
  * Design: every streaming transform is written against a DataFrame so the
  * SAME code runs on `readStream` sources (tested with MemoryStream in
  * EventStreamSpec) and on batch frames (registered as oracle-checked
  * QueryDefs below — `window`/`session_window` are batch-executable).
  *
  * Scale posture: watermark + tumbling window keeps state bounded per
  * (window, key); sessionization state is one small case class per active
  * user, dropped on timeout — the standard 1000-executor streaming shape.
  */
object EventStream {

  /** Tumbling-window counts/sums; with a 10-minute watermark when run on a
    * stream (append mode), identical semantics in batch.
    */
  def windowedAgg(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "10 minutes") else events
    src.groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Num.sum2(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Daily OHLC bars over the tick stream — open/high/low/close via
    * min_by/max_by over the unique (ts, event_id) ordering, identical to
    * the batch weekly `ohlc_bars` but on a 1-day tumbling event-time
    * window so the SAME code runs under `readStream` with a watermark
    * (min_by/max_by are declarative aggregates with partial merge, so
    * streaming state is one partially-merged bar per open (window, type)
    * — bounded by the watermark, never the stream length).
    */
  def ohlcWindowed(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "10 minutes") else events
    src.groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_v"),
        max(col("value")).as("high_v"), min(col("value")).as("low_v"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_v"),
        count(lit(1)).as("n_ev"))
      .select(col("win.start").as("day_start"), col("event_type"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"),
        col("n_ev"))
  }

  /** Batch twin of [[ohlcWindowed]], oracle-checked. */
  val ohlcStreamTwin: QueryDef = QueryDef(
    "ohlc_daily_stream_twin",
    (s, d) =>
      ohlcWindowed(Tables.events(s, d), withWatermark = false)
        .orderBy(col("day_start"), col("event_type")),
    Some("""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
             first(value ORDER BY ts, event_id) AS open_v,
             max(value) AS high_v, min(value) AS low_v,
             last(value ORDER BY ts, event_id) AS close_v,
             count(*) AS n_ev
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = "daily OHLC bars (streaming twin carries a watermark)")

  /** Batch twin, oracle-checked: 1-day tumbling window == date_trunc. */
  val tumblingWindow: QueryDef = QueryDef(
    "tumbling_window_agg",
    (s, d) =>
      windowedAgg(Tables.events(s, d), withWatermark = false)
        .orderBy(col("win_start"), col("event_type")),
    Some(s"""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start, event_type,
             count(*) AS n_events, ${Num.sqlSum2("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = "tumbling 1-day window agg (streaming twin carries a watermark)")

  /** Sliding (hopping) event-time windows — `window(ts, 7 days, 1 day)`:
    * every event lands in the 7 daily-aligned windows covering it, giving
    * a 7-day rolling aggregate that advances once per day. Spark expands
    * the overlap IN-PLAN (one generated row per covering window, then a
    * plain hash aggregate on (window, event_type)) — no self-join and no
    * per-key window function, so at 100 TB the cost is a fixed 7×
    * row-expansion feeding one shuffle on the (already daily-aligned)
    * window start, and the same code runs under `readStream` with a
    * watermark exactly like the tumbling twin. The oracle reproduces
    * Spark's window assignment from first principles: window starts
    * covering ts are date_trunc('day', ts) − k days for k = 0..6
    * (day-aligned starts in (ts − 7d, ts]).
    */
  val slidingWindow: QueryDef = QueryDef(
    "sliding_window_agg",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "7 days", "1 day").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), Num.sum2(col("value")).as("sum_value"))
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type")),
    Some(s"""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - k * INTERVAL '1 day'
               AS win_start,
             event_type, count(*) AS n_events,
             ${Num.sqlSum2("value")} AS sum_value
      FROM events, range(7) t(k)
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = "sliding 7d/1d hopping window agg (in-plan 7x expansion, one shuffle)")

  /** Session windows (30-minute gap) per user — Spark's `session_window`
    * runs in batch too; the oracle reproduces it with the lag/gap-island
    * construction. Spark's session is the half-open [start, last + gap):
    * an event arriving EXACTLY `gap` after the previous one falls outside
    * the window and starts a NEW session, so the oracle splits on
    * gaps >= 30m (not >) to match the end-exclusive semantics.
    */
  val sessionWindow: QueryDef = QueryDef(
    "session_window_agg",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), Num.sum2(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("sess_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start")),
    Some(s"""
      WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      s AS (SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM g)
      SELECT user_id, min(ts) AS sess_start, count(*) AS n_events,
             ${Num.sqlSum2("value")} AS sum_value
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_start
    """),
    doc = "session_window(30m) agg; oracle = lag/gap-island SQL")

  /** Streaming exact dedup with BOUNDED state — the streaming twin of the
    * batch `exact_dedup` query. `dropDuplicatesWithinWatermark` keeps one
    * state entry per key only until the watermark passes that key's event
    * time + delay, so state size tracks the watermark window rather than
    * the whole stream history — the property plain `dropDuplicates` cannot
    * give on an unbounded stream. The trade: a key recurring AFTER its
    * state is evicted is emitted again (exactly-once dedup within the
    * delay, at-least-once beyond it) — the right contract for a pipeline
    * whose downstream batch dedup is idempotent.
    */
  def dedupStream(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream interval join: each signup matched to purchases by the
    * same user with purchase ts in [signup ts, signup ts + `within`].
    * On streams BOTH sides carry watermarks and the join predicate bounds
    * event time in BOTH directions — the two conditions Spark needs to
    * evict join state (a stream-stream join without a time bound holds
    * every row forever: the canonical unbounded-state trap). Inner joins
    * emit on match without waiting for the watermark. The same code runs
    * on batch frames (`streaming = false` skips the no-op watermarks) and
    * is oracle-checked as `interval_join_events`.
    */
  def intervalJoin(signups: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", streaming: Boolean = true): DataFrame = {
    val l = (if (streaming) signups.withWatermark("ts", "10 minutes")
             else signups).as("l")
    val r = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).as("r")
    l.join(r, expr("l.user_id = r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"interval $within"))
      .select(col("l.user_id").as("user_id"), col("l.ts").as("signup_ts"),
        col("r.ts").as("purchase_ts"), col("r.value").as("purchase_value"))
  }

  /** Batch twin of [[intervalJoin]] over the events fixture: signups ⋈
    * purchases within 30 minutes. The user_id equality conjunct makes
    * this a plain sort-merge/hash join with the time range as residual —
    * never a nested loop.
    */
  val intervalJoinEvents: QueryDef = QueryDef(
    "interval_join_events",
    (s, d) => {
      val ev = Tables.events(s, d)
      intervalJoin(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        streaming = false)
        .orderBy(col("user_id"), col("signup_ts"), col("purchase_ts"),
          col("purchase_value"))
    },
    Some("""
      SELECT l.user_id,
             CAST(l.ts AS TIMESTAMP) AS signup_ts,
             CAST(r.ts AS TIMESTAMP) AS purchase_ts,
             r.value AS purchase_value
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'signup' AND r.event_type = 'purchase'
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
      ORDER BY 1, 2, 3, 4
    """),
    doc = "interval join (batch twin of the watermarked stream-stream join)")

  /** LEFT OUTER stream-stream interval join — the same state-evictable
    * shape as [[intervalJoin]] plus the outer contract: a signup with NO
    * purchase inside its window emits exactly once, null-padded, and only
    * after the watermark passes the END of its join window (any earlier
    * emission could be contradicted by a late-arriving match; Spark holds
    * the row in join state until the watermark proves no match can come).
    */
  def intervalJoinOuter(signups: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", streaming: Boolean = true): DataFrame = {
    val l = (if (streaming) signups.withWatermark("ts", "10 minutes")
             else signups).as("l")
    val r = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).as("r")
    l.join(r, expr("l.user_id = r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"interval $within"), "left_outer")
      .select(col("l.user_id").as("user_id"), col("l.ts").as("signup_ts"),
        col("r.ts").as("purchase_ts"), col("r.value").as("purchase_value"))
  }

  /** Batch twin of [[intervalJoinOuter]] — LEFT JOIN semantics with the
    * null-padded no-purchase rows; null sort position pinned explicitly on
    * both engines (Spark ASC = NULLS FIRST, DuckDB default = NULLS LAST).
    */
  val intervalJoinOuterEvents: QueryDef = QueryDef(
    "interval_join_outer",
    (s, d) => {
      val ev = Tables.events(s, d)
      intervalJoinOuter(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        streaming = false)
        .orderBy(col("user_id"), col("signup_ts"),
          asc_nulls_first("purchase_ts"), asc_nulls_first("purchase_value"))
    },
    Some("""
      SELECT l.user_id,
             CAST(l.ts AS TIMESTAMP) AS signup_ts,
             CAST(r.ts AS TIMESTAMP) AS purchase_ts,
             r.value AS purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'signup') l
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
      ORDER BY l.user_id, signup_ts,
               purchase_ts ASC NULLS FIRST, purchase_value ASC NULLS FIRST
    """),
    doc = "left-outer interval join (null-padded twin of the stream-stream outer)")

  /** FULL OUTER stream-stream interval join — completes the join-mode
    * matrix (inner / left-outer / full-outer): unmatched rows from BOTH
    * sides emit exactly once, null-padded on the other side, each only
    * after the watermark proves no match can still arrive — for a
    * signup, once the watermark passes the END of its window (a later
    * purchase could still match); for a purchase, once the watermark
    * passes its own ts (its candidate signups lie in [ts − within, ts],
    * all already bounded). Same two-sided time bound as [[intervalJoin]],
    * so join state stays evictable — the condition Spark needs to run
    * ANY outer interval join without unbounded state. user_id must
    * coalesce across sides: on an unmatched row the other side's key is
    * null.
    */
  def intervalJoinFullOuter(signups: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", streaming: Boolean = true): DataFrame = {
    val l = (if (streaming) signups.withWatermark("ts", "10 minutes")
             else signups).as("l")
    val r = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).as("r")
    l.join(r, expr("l.user_id = r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"interval $within"), "full_outer")
      .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
        col("l.ts").as("signup_ts"),
        col("r.ts").as("purchase_ts"), col("r.value").as("purchase_value"))
  }

  /** Batch twin of [[intervalJoinFullOuter]] — FULL JOIN semantics with
    * null padding on either side; null sort position pinned on all
    * nullable columns (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST).
    */
  val intervalJoinFullOuterEvents: QueryDef = QueryDef(
    "interval_join_full_outer",
    (s, d) => {
      val ev = Tables.events(s, d)
      intervalJoinFullOuter(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        streaming = false)
        .orderBy(col("user_id"), asc_nulls_first("signup_ts"),
          asc_nulls_first("purchase_ts"), asc_nulls_first("purchase_value"))
    },
    Some("""
      SELECT coalesce(l.user_id, r.user_id) AS user_id,
             CAST(l.ts AS TIMESTAMP) AS signup_ts,
             CAST(r.ts AS TIMESTAMP) AS purchase_ts,
             r.value AS purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'signup') l
      FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
      ORDER BY user_id, signup_ts ASC NULLS FIRST,
               purchase_ts ASC NULLS FIRST, purchase_value ASC NULLS FIRST
    """),
    doc = "full-outer interval join (both-side null-padded stream-stream twin)")

  /** LEFT-SEMI stream-stream interval join — the existence filter of the
    * join-mode matrix: a signup emits (once, left columns only) as soon
    * as ANY purchase by the same user lands inside [ts, ts + within].
    * Semi is the "keep if seen in the other stream" primitive (the
    * positive half of streaming decontamination); like inner it emits on
    * match without waiting for the watermark, and the same two-sided
    * time bound keeps join state evictable.
    */
  def intervalJoinSemi(signups: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", streaming: Boolean = true): DataFrame = {
    val l = (if (streaming) signups.withWatermark("ts", "10 minutes")
             else signups).as("l")
    val r = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).as("r")
    l.join(r, expr("l.user_id = r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"interval $within"), "left_semi")
      .select(col("user_id"), col("ts").as("signup_ts"),
        col("value").as("signup_value"))
  }

  /** LEFT-ANTI stream-stream interval join — streaming DECONTAMINATION:
    * drop every event whose key appeared in the other stream within the
    * window, keep the rest. Spark does not support `left_anti` between
    * two streams, so the anti is encoded as the SUPPORTED left-outer
    * join filtered to its null-padded rows — semantically identical
    * (an unmatched left row emits exactly once, and only after the
    * watermark passes the END of its join window, since any earlier
    * emission could be contradicted by a late match) and with the same
    * evictable state. The filter references only the outer join's
    * output, so it composes with Append mode. Runs unchanged on batch
    * frames, where Catalyst sees the isNull filter on the outer join.
    */
  def intervalJoinAnti(signups: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", streaming: Boolean = true): DataFrame = {
    val l = (if (streaming) signups.withWatermark("ts", "10 minutes")
             else signups).as("l")
    val r = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).as("r")
    l.join(r, expr("l.user_id = r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"interval $within"), "left_outer")
      .filter(col("r.ts").isNull)
      .select(col("l.user_id").as("user_id"), col("l.ts").as("signup_ts"),
        col("l.value").as("signup_value"))
  }

  /** Batch twin of [[intervalJoinSemi]] — EXISTS semantics: signups with
    * at least one purchase in-window, left columns only, each signup row
    * at most once (duplicate-signup rows stay distinct rows).
    */
  val intervalJoinSemiEvents: QueryDef = QueryDef(
    "interval_join_semi",
    (s, d) => {
      val ev = Tables.events(s, d)
      intervalJoinSemi(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        streaming = false)
        .orderBy(col("user_id"), col("signup_ts"), col("signup_value"))
    },
    Some("""
      SELECT l.user_id, CAST(l.ts AS TIMESTAMP) AS signup_ts,
             l.value AS signup_value
      FROM events l
      WHERE l.event_type = 'signup' AND EXISTS (
        SELECT 1 FROM events r
        WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
      ORDER BY 1, 2, 3
    """),
    doc = "left-semi interval join (EXISTS twin of the stream-stream semi)")

  /** Batch twin of [[intervalJoinAnti]] — NOT EXISTS semantics: signups
    * with NO purchase in-window (the decontamination keep-set).
    */
  val intervalJoinAntiEvents: QueryDef = QueryDef(
    "interval_join_anti",
    (s, d) => {
      val ev = Tables.events(s, d)
      intervalJoinAnti(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("value")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        streaming = false)
        .orderBy(col("user_id"), col("signup_ts"), col("signup_value"))
    },
    Some("""
      SELECT l.user_id, CAST(l.ts AS TIMESTAMP) AS signup_ts,
             l.value AS signup_value
      FROM events l
      WHERE l.event_type = 'signup' AND NOT EXISTS (
        SELECT 1 FROM events r
        WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
      ORDER BY 1, 2, 3
    """),
    doc = "left-anti interval join (NOT EXISTS twin of the streaming decontamination)")

  /** foreachBatch sink with idempotent-by-batchId writes — the
    * exactly-once recipe for sinks with no transactional commit: each
    * micro-batch commits its own bid of the [[graft.core.BidLog]], so a
    * batch replayed after a crash-before-commit rewrites the same bid
    * instead of appending duplicates.
    */
  def idempotentParquetSink(df: DataFrame, outDir: String, ckDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BidLog.stream(df, ckDir)((batch, id) => BidLog.commit(Seq("" -> batch), outDir, id))

  // ---- incremental aggregate maintenance, streaming twin -----------------

  /** Streaming twin of the batch `incremental_agg_maintain`
    * (ops/Aggregates.scala): each micro-batch's per-user partial
    * aggregate is MERGED into a parquet state store instead of
    * recomputing history — the materialized-view refresh loop run
    * continuously. Every snapshot is a full fold of the
    * [[graft.core.BidLog]]: batch `id` reads the newest snapshot below
    * it, merges its own partial (the shared
    * [[graft.ops.Aggregates.userAggPartial]]/`userAggMerge` monoid —
    * exact-integer cents, so merge ≡ rebuild) and commits its own bid, so
    * a replay re-reads the same predecessor; EventStreamSpec proves it
    * with a commit-wipe replay. Steady-state disk is two snapshots. At
    * 100 TB each refresh costs one batch-sized aggregate plus one
    * state-keyed shuffle — never a history scan.
    */
  def incrementalAggMaintainStream(events: DataFrame, stateDir: String,
      ckDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    BidLog.stream(events, ckDir)(mergeAggSnapshot(_, stateDir, _))

  /** One micro-batch of the snapshot merge (factored out so the spec can
    * also drive it directly). See [[incrementalAggMaintainStream]].
    */
  private[graft] def mergeAggSnapshot(batch: Dataset[org.apache.spark.sql.Row],
      stateDir: String, id: Long): Unit = {
    val partial = graft.ops.Aggregates.userAggPartial(batch)
    val merged = BidLog.readLive(batch.sparkSession, stateDir, id)
      .map(prev => graft.ops.Aggregates.userAggMerge(
        prev.drop("bid").unionByName(partial)))
      .getOrElse(partial)
    BidLog.commit(Seq("" -> merged), stateDir, id, fold = true)
    BidLog.gc(batch.sparkSession, stateDir, id)
  }

  // ---- cross-modal curation gate, streaming twin (round 15) --------------

  /** Streaming twin of the batch `cross_modal_check`
    * (ops/Multimodal.scala) — the last batch-only composition of the
    * curation family (r14 verdict task 7): as documents ARRIVE, maintain
    * the text near-dup clusters incrementally and re-emit the
    * text-dup-but-media-distinct verdicts for the corpus seen so far.
    * State: one [[graft.core.BidLog]] bid per batch in `<stateDir>/log`
    * ([[crossModalBid]]): `members` (doc_id, root, n_chars, ph — all the
    * election and phash verdict need), `buckets` (band, bkey, root — the
    * LSH frontier, every bucket pointing at its component's ROOT so an
    * arrival unions in one join), `verdicts` and `remap`.
    *
    * Per micro-batch: band the arriving docs with the SAME LSH helpers
    * the batch query uses (Extended.signaturesOf/bandsOf), build the
    * star-contracted edges (batch hub → batch members, batch hub → the
    * roots of matching stored buckets), run the SAME min-label CC
    * (Extended.ccOverEdges — components over the contracted node space
    * {batch docs} ∪ {touched roots} relabel exactly like the batch CC
    * over the full graph, because stored roots ARE min-reachable ids),
    * remap merged roots through the old→new map, and commit the batch's
    * own bid, one rename (members + buckets + remap + the verdicts by
    * the batch query's election: canonical = longest text, tie lowest
    * id; media_match = aHash Hamming ≤ 1; NULL phash → false). Replay
    * safety is the bid log's: a replayed batch re-reads the bids below
    * its own and rewrites its own.
    *
    * Honest divergence note: the batch star contraction drops buckets
    * outside [2, 1000] members RETROACTIVELY; an online twin cannot
    * un-emit edges a bucket contributed before crossing the cap. At the
    * MinHash family's hash-valued bucket domain the cap is a measured
    * no-op at every probed scale (SCALING.md), and CrossModalStreamSpec
    * asserts exact batch parity at all three fixture SFs.
    */
  def crossModalStream(docs: DataFrame, stateDir: String, ckDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BidLog.stream(docs, ckDir)(mergeCrossModalSnapshot(_, stateDir, _))

  /** The canonical election + media verdict over a resolved members
    * frame — the batch query's exact row semantics (cross_modal_check).
    */
  private def xmElect(m: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wElect = org.apache.spark.sql.expressions.Window
      .partitionBy(col("root"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    m.withColumn("nmem",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("root"))))
      .filter(col("nmem") >= 2)
      .withColumn("canon_id", first(col("doc_id")).over(wElect))
      .withColumn("cph", first(col("ph")).over(wElect))
      .filter(col("doc_id") =!= col("canon_id"))
      .select(col("doc_id"), col("root").as("cluster_id"), col("canon_id"),
        expr("CAST(bit_count(ph ^ cph) AS INT)").as("hamming"),
        coalesce(expr("bit_count(ph ^ cph) <= 1"), lit(false))
          .as("media_match"))
  }

  /** The cross-modal verdict READ VIEW at a bid bound: verdict rows are
    * UPSERTS (a touched cluster re-emits every non-canonical member),
    * so the view is each doc's newest row. A doc once emitted always
    * has a current verdict — members never leave clusters, clusters
    * only grow/merge, and a non-canonical doc can never become
    * canonical (the merged cluster's canonical is one of the two old
    * canonicals) — so upsert-latest needs no retirement leg.
    */
  private[graft] def crossModalVerdictsAt(
      s: org.apache.spark.sql.SparkSession, stateDir: String,
      bound: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val log = s"$stateDir/log"
    BidLog.read(s, log, BidLog.live(s, log, bound), "verdicts")
      .map(newestPerKey(_, "doc_id"))
      .getOrElse(Seq.empty[(Long, Long, Long, Option[Int], Boolean)]
        .toDF("doc_id", "cluster_id", "canon_id", "hamming", "media_match"))
  }

  /** The upsert view of a part: each `key`'s row from its newest bid. */
  private def newestPerKey(rows: org.apache.spark.sql.DataFrame, key: String)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("bid").desc)
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "bid")
  }

  /** Current cross-modal verdicts (the stream's queryable output). */
  def crossModalVerdicts(s: org.apache.spark.sql.SparkSession,
      stateDir: String): org.apache.spark.sql.DataFrame =
    crossModalVerdictsAt(s, stateDir, Long.MaxValue)

  /** One micro-batch of the cross-modal union-find merge: one commit of
    * [[crossModalBid]] and one GC. See [[crossModalStream]].
    */
  private[graft] def mergeCrossModalSnapshot(
      batch: Dataset[org.apache.spark.sql.Row], stateDir: String,
      id: Long, foldEvery: Int = BidLog.FoldEvery): Unit = {
    val log = s"$stateDir/log"
    val (parts, fold) = crossModalBid(batch, log, id, foldEvery)
    BidLog.commit(parts, log, id, fold)
    BidLog.gc(batch.sparkSession, log, id)
  }

  /** Bid `id` of the cross-modal `log` (its named parts) and whether it
    * folds. The parts are APPEND-ONLY deltas, so a batch WRITES only
    * batch-proportional data:
    *
    *  - `members`: this batch's docs with their ARRIVAL root (immutable);
    *  - `buckets`: only bucket keys NOT already in the store, with their
    *    arrival root (immutable);
    *  - `verdicts`: rows ONLY for clusters this batch touched (upserts —
    *    [[crossModalVerdictsAt]] is the view);
    *  - `remap`: (old_root → current_root) rows ONLY for roots this batch
    *    moved; the view is each old_root's newest row, path-compressed (a
    *    merged root never un-merges), so reads resolve in ONE join.
    *
    * State-sided work per batch: columnar SCANS of the member and bucket
    * views — no state-sized WRITE. Every `foldEvery`-th batch FOLDS the
    * resolved members, buckets and verdicts (and an empty remap) into
    * its own bid, amortizing the full rewrite to 1/64 of batches.
    */
  private[graft] def crossModalBid(
      batch: Dataset[org.apache.spark.sql.Row], log: String,
      id: Long, foldEvery: Int): (Seq[(String, org.apache.spark.sql.DataFrame)], Boolean) = {
    val s = batch.sparkSession
    import s.implicits._
    val live = BidLog.live(s, log, id)
    val remapOld = BidLog.read(s, log, live, "remap").map(newestPerKey(_, "old_root"))
      .getOrElse(Seq.empty[(Long, Long)].toDF("old_root", "new_root"))
    def resolve(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val others = df.columns.filter(_ != "root").toSeq
      df.alias("x")
        .join(remapOld.alias("r"), col("x.root") === col("r.old_root"), "left")
        .select(others.map(c => col(s"x.$c")) :+
          coalesce(col("r.new_root"), col("x.root")).as("root"): _*)
    }
    val membersOldRaw = BidLog.read(s, log, live, "members")
      .map(_.select(col("doc_id"), col("root"), col("n_chars"), col("ph")))
      .getOrElse(Seq.empty[(Long, Long, Long, Option[Long])]
        .toDF("doc_id", "root", "n_chars", "ph"))
    val bucketsOldRaw = BidLog.read(s, log, live, "buckets")
      .map(_.select(col("band"), col("bkey"), col("root")))
      .getOrElse(Seq.empty[(Int, String, Long)].toDF("band", "bkey", "root"))
    val bucketsOld = resolve(bucketsOldRaw)
    val bdocs = batch
      .select(col("doc_id"), col("text"), col("n_chars").cast("long").as("n_chars"))
    val words = bdocs.select(col("doc_id"), col("n_chars"),
        graft.core.Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val ph = graft.ops.Multimodal.phashOf(
        bdocs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
      .select(col("doc_id"), col("ph"))
    val bStar = graft.ops.Extended.bandsOf(graft.ops.Extended.signaturesOf(
        words.select(col("doc_id"), col("w"))))
      .select(col("band"), col("bkey"), col("doc_id"))
      .groupBy(col("band"), col("bkey"))
      .agg(expr("array_sort(collect_list(doc_id))").as("ds"))
      .localCheckpoint(false)
    val batchEdges = bStar
      .select(explode(expr(
        "transform(slice(ds, 2, size(ds) - 1), " +
          "y -> struct(element_at(ds, 1) AS d1, y AS d2))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    // ONE bucket-store pass: the inner probe (broadcast batch side)
    // yields both the star edges AND the matched-key set; the
    // new-bucket anti then runs against the TINY matched set instead of
    // the 20M-row store — the naive bStar-anti-bucketsOld shape
    // SHUFFLES the whole store per batch (LeftAnti cannot broadcast its
    // big right side), measured as the dominant term of the 5M-member
    // probe's +8 s/decade before this fix.
    val hits = broadcast(bStar
        .select(col("band"), col("bkey"), expr("element_at(ds, 1)").as("d1")))
      .join(bucketsOld, Seq("band", "bkey"))
      .localCheckpoint(false)
    val prevEdges = hits.select(col("d1"), col("root").as("d2"))
    val cc = graft.ops.Extended.ccOverEdges(
      batchEdges.unionByName(prevEdges)).localCheckpoint(false)
    val rootMap = cc
      .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))

    // remap: TOUCHED PRIOR ROOTS that moved (never batch docs — their
    // member rows carry the post-CC root, so adding them would grow the
    // table corpus-sized), and the older entries pointing at them
    val touchedPrior = prevEdges.select(col("d2").as("old_root")).distinct()
    val remapDelta = rootMap
      .join(touchedPrior, Seq("old_root"), "semi")
      .filter(col("old_root") =!= col("new_root"))
    val remapMoved = remapOld.alias("o")
      .join(rootMap.alias("m2"), col("o.new_root") === col("m2.old_root"))
      .filter(col("m2.new_root") =!= col("o.new_root"))
      .select(col("o.old_root"), col("m2.new_root"))

    // materialized once: written as a part, read again by the verdicts
    val newMembers = words.select(col("doc_id"), col("n_chars"))
      .join(ph, Seq("doc_id"), "left")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("root"),
        col("n_chars"), col("ph"))
      .localCheckpoint(false)
    val newBuckets = bStar
      .select(col("band"), col("bkey"), expr("element_at(ds, 1)").as("doc_id"))
      .join(broadcast(hits.select(col("band"), col("bkey"))),
        Seq("band", "bkey"), "left_anti")
      .join(cc, Seq("doc_id"), "left")
      .select(col("band"), col("bkey"),
        coalesce(col("cluster_id"), col("doc_id")).as("root"))
    val membersNow = resolve(membersOldRaw).alias("m")
      .join(rootMap.alias("m3"), col("m.root") === col("m3.old_root"), "left")
      .select(col("m.doc_id"),
        coalesce(col("m3.new_root"), col("m.root")).as("root"),
        col("m.n_chars"), col("m.ph"))
      .unionByName(newMembers)

    if (live.size + 1 < foldEvery) {
      // batch-sized; the checkpoint's estimate would not broadcast it
      val touchedRoots = broadcast(remapDelta.select(col("new_root").as("root"))
        .unionByName(newMembers.select(col("root")))
        .distinct())
      (Seq("members" -> newMembers, "buckets" -> newBuckets,
        "verdicts" -> xmElect(membersNow.join(touchedRoots, Seq("root"), "semi")),
        "remap" -> remapMoved.unionByName(remapDelta)), false)
    } else {
      // FOLD: the resolved full state lands in THIS bid, superseding
      // every earlier delta; remap resets to empty
      val folded = membersNow.localCheckpoint(false)
      (Seq("members" -> folded,
        "buckets" -> bucketsOld.alias("b")
          .join(rootMap.alias("m4"), col("b.root") === col("m4.old_root"), "left")
          .select(col("b.band"), col("b.bkey"),
            coalesce(col("m4.new_root"), col("b.root")).as("root"))
          .unionByName(newBuckets),
        "verdicts" -> xmElect(folded),
        "remap" -> Seq.empty[(Long, Long)].toDF("old_root", "new_root")), true)
    }
  }

  // ---- persisted ANN store maintenance stream (round 17) -----------------

  /** Streaming maintenance of the persisted ANN band store
    * (ops/Extended.scala): vector lifecycle events — add / delete /
    * re-embed, see [[AnnEv]] — arrive on a stream, and each micro-batch
    * is one [[graft.ops.Extended.annStoreApply]] at its batch id, so the
    * store a search client reads ([[graft.ops.Extended.annStoreView]])
    * is never more than one micro-batch stale. The batch lifecycle
    * queries (ann_state_append / ann_store_gc / ann_store_upsert) commit
    * through the same call; AnnStoreStreamSpec proves net-final rebuild
    * parity, replay idempotence and the delete→re-add resurrection.
    */
  def annStoreMaintainStream(events: DataFrame, stateDir: String,
      ckDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    BidLog.stream(events, ckDir)(
      graft.ops.Extended.annStoreApply(_, stateDir, _))

  /** One ANN-store lifecycle event (see [[annStoreMaintainStream]]):
    * op ∈ add | del | ups; `v` is the (new) vector, `v_old` only rides
    * on ups (the re-embedding's previous vector — what the store
    * indexed; null otherwise).
    */
  final case class AnnEv(op: String, vec_id: Long, v: Seq[Double],
    v_old: Seq[Double])

  // ---- custom state: mapGroupsWithState sessionization -------------------

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class SessState(nEvents: Long, sumValue: Double, lastMs: Long)
  final case class SessOut(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization: one SessState per active user,
    * emitted+cleared when the gap exceeds `gapMs` (event-time driven here
    * for testability; production would use timeouts). Works on streams via
    * `mapGroupsWithState` and is exercised with MemoryStream in tests.
    */
  def sessionize(ds: Dataset[Ev], gapMs: Long): Dataset[SessOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[SessState, SessOut](GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(SessState(0L, 0.0, Long.MinValue))
          sorted.foreach { e =>
            val t = e.ts.getTime
            st =
              if (st.nEvents > 0L && t - st.lastMs > gapMs)
                SessState(1L, e.value, t) // gap: previous session closed
              else SessState(st.nEvents + 1, st.sumValue + e.value, t)
          }
          state.update(st)
          SessOut(user, st.nEvents, st.sumValue)
      }
  }

  final case class ClosedSession(
      user_id: Long, n_events: Long, sum_value: Double,
      start_ms: Long, end_ms: Long)

  /** Open-session state for sessionizeClosed (top-level for its Encoder). */
  final case class St(n: Long, sum: Double, start: Long, last: Long)

  /** flatMapGroupsWithState sessionization emitting only CLOSED sessions
    * (0..n outputs per invocation — the shape mapGroupsWithState can't
    * express). A session closes when a later event arrives past `gapMs`;
    * the open tail stays in state across micro-batches. Event-time driven
    * for deterministic tests; production adds a state timeout to flush
    * idle users.
    */
  def sessionizeClosed(ds: Dataset[Ev], gapMs: Long): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[St]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            val t = e.ts.getTime
            st =
              if (st == null) St(1L, e.value, t, t)
              else if (t - st.last > gapMs) {
                closed += ClosedSession(user, st.n, st.sum, st.start, st.last)
                St(1L, e.value, t, t)
              } else St(st.n + 1, st.sum + e.value, st.start, t)
          }
          if (st != null) state.update(st)
          closed.result().iterator
      }
  }

  final case class RunAgg(user_id: Long, n_events: Long, sum_value: Double)

  /** Spark 4's arbitrary-state API (`transformWithState`): the successor
    * to map/flatMapGroupsWithState with TYPED named state cells
    * (ValueState/ListState/MapState), per-cell TTL, and timers — and the
    * 100 TB state story: it requires the RocksDB state store, whose
    * incremental-snapshot state survives executor loss and spills beyond
    * heap (the HDFS-backed store keeps every key in memory). This
    * processor keeps one ValueState[(n, sum)] per user and emits the
    * running aggregate each time the user appears in a micro-batch —
    * state is O(active users), row traffic is O(batch).
    */
  class RunningAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, RunAgg] {
    import org.apache.spark.sql.streaming.{
      TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var agg: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[RunAgg] = {
      var (n, sum) = if (agg.exists()) agg.get() else (0L, 0.0)
      rows.foreach { e => n += 1; sum += e.value }
      agg.update((n, sum))
      Iterator.single(RunAgg(user, n, sum))
    }
  }

  /** transformWithState wiring (works on streaming Datasets only; the
    * batch-equivalent aggregate is a plain groupBy, which EventStreamSpec
    * uses as the oracle for this).
    */
  def runningAggState(ds: Dataset[Ev]): Dataset[RunAgg] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new RunningAggProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** One shard's current heavy-hitter candidates after a micro-batch. */
  final case class ShardCands(shard: Int, terms: Array[String])

  /** Streaming Misra-Gries: the heavy-hitter sketch (`heavy_hitters`'
    * pass 1) maintained INCREMENTALLY over an unbounded term stream.
    * Terms are sharded by a deterministic hash so state parallelizes;
    * every occurrence of a term lands in the same shard, so a term heavy
    * in the GLOBAL stream (count > N/(k+1) ≥ N_shard/(k+1)) is guaranteed
    * alive in its shard's sketch — the union of shard candidate sets is a
    * superset of the true heavy hitters at every micro-batch boundary,
    * exactly the pass-1 contract the batch query verifies with an exact
    * recount. State per shard is ≤ k (term, weight) pairs — O(k·shards)
    * total regardless of stream length: the bounded-state property that
    * makes the sketch streamable at all. Reuses [[graft.functions
    * .MisraGries]]'s reduce (same algorithm object, no reimplementation).
    */
  class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, String, ShardCands] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[graft.functions.MgBuf] = _
    @transient private lazy val mg = new graft.functions.MisraGries(k)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[graft.functions.MgBuf]("mg",
        org.apache.spark.sql.Encoders.product[graft.functions.MgBuf],
        TTLConfig.NONE)

    override def handleInputRows(
        shard: Int, rows: Iterator[String],
        timers: TimerValues): Iterator[ShardCands] = {
      var buf = if (st.exists()) st.get() else mg.zero
      rows.foreach { t => buf = mg.reduce(buf, t) }
      st.update(buf)
      Iterator.single(ShardCands(shard, buf.terms.sorted))
    }
  }

  final case class HistBuf(counts: Seq[Long], n: Long)
  final case class QSketch(user_id: Long, n: Long, p50: Double, p95: Double)

  /** Streaming quantiles over BOUNDED state — the quantile companion to
    * the Misra-Gries heavy-hitter sketch: one fixed-bin histogram per
    * key over a known value range, so state is O(bins) per key no
    * matter how long the stream runs (an exact quantile would need all
    * values ever seen). Estimates interpolate linearly inside the bin
    * where the cumulative count crosses p·n, so the error is bounded by
    * ONE BIN WIDTH — the contract the spec checks against exact batch
    * quantiles across micro-batches. Out-of-range values clamp into
    * the edge bins (production widens the range or layers a
    * min/max-tracking resize; the fixed range keeps the estimator
    * deterministic and mergeable). The same histogram is what a
    * t-digest/KLL replaces when the range is unknown — the PLUMBING
    * (typed ValueState, per-key isolation, update-mode emission) is
    * identical.
    */
  class HistQuantileProcessor(lo: Double, hi: Double, bins: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, QSketch] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[HistBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HistBuf]("hist",
        org.apache.spark.sql.Encoders.product[HistBuf], TTLConfig.NONE)

    private def estimate(counts: Array[Long], n: Long, p: Double): Double = {
      val w = (hi - lo) / bins
      val target = p * n
      var cum = 0L
      var i = 0
      while (i < bins) {
        if (cum + counts(i) >= target && counts(i) > 0) {
          val frac = (target - cum) / counts(i)
          return lo + w * (i + frac)
        }
        cum += counts(i)
        i += 1
      }
      hi
    }

    override def handleInputRows(
        key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[QSketch] = {
      val buf = if (st.exists()) st.get() else HistBuf(Seq.fill(bins)(0L), 0L)
      val counts = buf.counts.toArray
      var n = buf.n
      rows.foreach { e =>
        val idx = math.min(bins - 1, math.max(0,
          ((e.value - lo) / (hi - lo) * bins).toInt))
        counts(idx) += 1
        n += 1
      }
      st.update(HistBuf(counts.toSeq, n))
      Iterator.single(QSketch(key,
        n, estimate(counts, n, 0.5), estimate(counts, n, 0.95)))
    }
  }

  /** Streaming wiring: one bounded histogram per user_id; each
    * micro-batch emits that key's current p50/p95 estimate.
    */
  def histQuantileState(ds: Dataset[Ev], lo: Double, hi: Double,
      bins: Int): Dataset[QSketch] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new HistQuantileProcessor(lo, hi, bins),
        TimeMode.None(), OutputMode.Update())
  }

  final case class KllQ(user_id: Long, n: Long, p50: Double, p95: Double,
      err: Long, maxw: Long)

  /** Streaming KLL rank sketch — [[HistQuantileProcessor]]'s
    * range-free successor and the streaming twin of the batch
    * `kll_quantiles` query: one [[graft.functions.KllBuf]] per key in
    * typed ValueState, folded with the SAME deterministic compactor the
    * batch Aggregator uses, so state is O(k·log(n/k)) per key with NO
    * known-value-range assumption (the histogram's fixed [lo, hi)
    * clamp), and every emission carries the per-run certified rank
    * bound `err` — the spec checks the estimates against exact batch
    * quantiles under exactly the KllSketch selection contract, not a
    * bin-width heuristic. TimeMode.None: no TTL, so AvailableNow /
    * processAllAvailable terminate normally (the round-11
    * ProcessingTime trap does not apply).
    */
  class KllQuantileProcessor(k: Int, floor: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, KllQ] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import graft.functions.{KllBuf, KllSketch}
    @transient private var st: ValueState[KllBuf] = _
    private val sk = new KllSketch(k, floor)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KllBuf]("kll",
        org.apache.spark.sql.Encoders.product[KllBuf], TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[KllQ] = {
      var buf = if (st.exists()) st.get() else sk.zero
      rows.foreach(e => buf = sk.reduce(buf, e.value))
      st.update(buf)
      val s = sk.finish(buf)
      Iterator.single(KllQ(key, s.n,
        KllSketch.quantile(s, 0.5), KllSketch.quantile(s, 0.95),
        s.err, s.maxw))
    }
  }

  /** Streaming wiring: one KLL buffer per user_id; each micro-batch
    * emits that key's current certified p50/p95 estimate.
    */
  def kllQuantileState(ds: Dataset[Ev], k: Int = 1024,
      floor: Int = 256): Dataset[KllQ] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new KllQuantileProcessor(k, floor),
        TimeMode.None(), OutputMode.Update())
  }

  final case class KmvBuf(hs: Seq[Long], us: Seq[Long])
  final case class KmvEst(event_type: String, m: Long, theta: Long,
      est_distinct: Double)

  /** Streaming KMV distinct-count sketch — the streaming twin of the
    * batch `kmv_distinct_types` query and the set-cardinality companion
    * to [[KllQuantileProcessor]]: one bottom-k set of
    * ([[graft.core.Text.jvmH32]] hash, user) ROWS per event type in
    * typed ValueState, so state is O(k) per key forever while exact
    * distinct would grow with the user universe. The hash is the same
    * md5-prefix the batch query's in-plan [[graft.core.Text.h32]]
    * computes (bit-identical by the jvmH32 contract); keeping (h, user)
    * rows — not distinct hash values — mirrors the batch window's row
    * ranking, so two users colliding on h32 inside the bottom-k region
    * fill two slots in BOTH engines (a value-dedup here would admit an
    * extra larger hash and drift θ off the batch's). Bottom-k union is
    * order-insensitive, so after any micro-batch partition of the same
    * rows the emitted (m, θ, estimate) triple EQUALS the batch twin's —
    * exact stream/batch parity, not approximate agreement; the spec
    * asserts it, including on a planted 32-bit collision pair. The
    * sketch over-counts nothing: colliding users are genuinely distinct
    * members of the sampled universe. Small-universe branch
    * (m < k → exact count) falls out of the same formula.
    * TimeMode.None: no TTL, AvailableNow / processAllAvailable
    * terminate (round-11 ProcessingTime trap n/a).
    */
  class KmvDistinctProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TypedEv, KmvEst] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[KmvBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KmvBuf]("kmv",
        org.apache.spark.sql.Encoders.product[KmvBuf], TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[TypedEv],
        timers: TimerValues): Iterator[KmvEst] = {
      // bottom-k of (h, user) ROWS, not hash values: the batch twin's
      // window ranks rows, so two distinct users sharing an h32 value in
      // the bottom-k region occupy TWO slots there — value-dedup here
      // would admit an extra (larger) hash and drift theta/estimate off
      // the batch triple exactly when a collision lands in the sketch
      val prev = if (st.exists()) {
        val b = st.get(); b.hs.zip(b.us)
      } else Seq.empty[(Long, Long)]
      val incoming = rows.map(e =>
        (graft.core.Text.jvmH32(e.user_id.toString), e.user_id))
      val merged = (prev.iterator ++ incoming).toVector
        .distinct.sorted.take(k)
      st.update(KmvBuf(merged.map(_._1), merged.map(_._2)))
      val m = merged.size.toLong
      val theta = if (merged.isEmpty) 0L else merged.last._1
      val est = if (m < k) m.toDouble
        else (k - 1).toDouble * 4294967296.0 / theta.toDouble
      Iterator.single(KmvEst(key, m, theta, est))
    }
  }

  /** Streaming wiring: one bottom-k KMV sketch per event type; each
    * micro-batch emits that type's current distinct-user estimate.
    */
  def kmvDistinctState(ds: Dataset[TypedEv], k: Int = 512): Dataset[KmvEst] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.event_type)
      .transformWithState(new KmvDistinctProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming wiring: shard terms by hash, keep one MG sketch per shard.
    * The candidate union across shards' LATEST rows is the streaming
    * pass-1 output; a periodic exact recount of those ≤ k·shards terms
    * (foreachBatch or a batch job over the lake) completes the exact
    * 2-pass result just as in the batch `heavy_hitters`.
    */
  def heavyHittersState(ds: Dataset[String], k: Int, shards: Int): Dataset[ShardCands] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(t => math.floorMod(t.hashCode, shards))
      .transformWithState(new MisraGriesProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming ingestion dedup — `incremental_dedup`'s unbounded twin:
    * new documents (doc_id, ts, text) arrive on a stream, the corpus
    * signature store ([[graft.ops.Extended.bucketStoreOf]]: one
    * (band, bkey) → min doc_id row per LSH bucket) is the STATIC side
    * of a stream-static left join. The stream side runs the IDENTICAL
    * MinHash/banding pipeline as batch (same md5 word hashes, same
    * shingle polynomial, same band keys — the event-time column rides
    * through the parameterized helpers), probes the store, and an
    * Update-mode per-(window, doc) min aggregate merges the 4 band
    * verdicts. The 10-minute watermark + 5-minute ingest window bound
    * the aggregate's state: rows evict once the watermark passes their
    * window — state is O(docs per watermark horizon), NOT O(docs ever
    * streamed). Docs under 3 words carry no signature and are emitted
    * kept=true via the stateless union branch — the batch contract.
    * The store is refreshed by re-running the batch builder on the
    * grown corpus, exactly the snapshot cadence a production ingest
    * runs.
    */
  def incrementalDedupStream(
      docs: DataFrame, corpusBuckets: DataFrame): DataFrame = {
    val dw = docs.withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"),
        graft.core.Text.words(col("text")).as("w"))
    val verdicts = graft.ops.Extended.bandsOf(graft.ops.Extended.signaturesOf(
        dw.filter(size(col("w")) >= 3).select(col("doc_id"), col("w"), col("ts"))))
      .join(corpusBuckets, Seq("band", "bkey"), "left")
      .groupBy(window(col("ts"), "5 minutes"), col("doc_id"))
      .agg(min(col("old_min")).as("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
    val shortKept = dw.filter(size(col("w")) < 3)
      .select(col("doc_id"), lit(null).cast("long").as("dup_of"),
        lit(true).as("kept"))
    verdicts.union(shortKept)
  }

  final case class TypedEv(user_id: Long, ts: Timestamp, event_type: String)
  final case class TypeCounts(user_id: Long, n_live_types: Long, n_hits: Long)

  /** MapState + per-entry TTL — the state shape the ValueState processors
    * above can't express: one keyed SUB-map per stream key (user →
    * {event_type → hit count}) whose ENTRIES expire independently. With
    * a plain ValueState[Map[...]] the whole map lives or dies together
    * and a churning key set grows without bound; MapState with TTLConfig
    * gives per-entry expiry in the state store itself (RocksDB filters
    * expired entries on read and reclaims them in compaction) — the
    * rolling-distinct / "active in the last T" aggregations a production
    * pipeline needs as soon as keys churn. Emits, per micro-batch
    * appearance of a user, the LIVE (unexpired) distinct-type count and
    * the live hit total — O(live entries) state per user, O(batch) row
    * traffic.
    *
    * TTL is PROCESSING-time based (the Spark contract; requires
    * TimeMode.ProcessingTime) — so the deterministic batch twin below
    * mirrors it in EVENT time: distinct types within the trailing 1-day
    * horizon of the stream end. EventStreamSpec drives the processor
    * across micro-batches and asserts actual expiry (a type counted in
    * batch 1 is GONE from the live count after the TTL elapses).
    */
  class RollingDistinctProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEv, TypeCounts] {
    import org.apache.spark.sql.streaming.{
      MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var types: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      types = getHandle.getMapState[String, Long]("types",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        new TTLConfig(ttl))

    override def handleInputRows(
        user: Long, rows: Iterator[TypedEv],
        timers: TimerValues): Iterator[TypeCounts] = {
      rows.foreach { e =>
        val c =
          if (types.containsKey(e.event_type)) types.getValue(e.event_type)
          else 0L
        // updateValue refreshes the entry's TTL: a type stays live while
        // it keeps occurring, and expires ttl after its LAST hit
        types.updateValue(e.event_type, c + 1L)
      }
      val live = types.iterator().toSeq // expired entries already filtered
      Iterator.single(TypeCounts(user, live.size.toLong, live.map(_._2).sum))
    }
  }

  /** Streaming wiring for [[RollingDistinctProcessor]] — TTL requires
    * processing-time mode. OPERATIONAL NOTE: in TimeMode.ProcessingTime
    * the operator reports shouldRunAnotherBatch = true unconditionally,
    * so the query triggers continuously (empty batches advance the TTL
    * clock). Production should set an explicit processing-time trigger
    * to pace those batches; tests must poll the sink rather than call
    * processAllAvailable()/Trigger.AvailableNow, which both wait for an
    * idleness that never comes (see EventStreamSpec's TTL test).
    */
  def rollingDistinctState(ds: Dataset[TypedEv],
      ttl: java.time.Duration): Dataset[TypeCounts] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new RollingDistinctProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Batch twin of [[RollingDistinctProcessor]], oracle-checked: the TTL
    * horizon expressed in EVENT time — per user, distinct event types and
    * hit count within the trailing 1 day of the stream end (the state a
    * TTL'd map would hold at the last event, under an event-time clock).
    * The stream-end timestamp is a one-row broadcast (scalar-subquery
    * shape, ScaleSpec `intended`); the horizon is 1 day because the
    * fixtures' 5-type/30-day stream discriminates there at every SF
    * (6h/14d saturate to 1 or 5 types — the round-4 vacuous-gate rule).
    */
  val ttlDistinctTypes: QueryDef = QueryDef(
    "ttl_distinct_types",
    (s, d) => {
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .filter(col("ts") >= col("mx") - expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_live_types"),
          count(lit(1)).as("n_hits"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH mx AS (SELECT max(ts) AS mx FROM events)
      SELECT user_id, count(DISTINCT event_type) AS n_live_types,
             count(*) AS n_hits
      FROM events, mx
      WHERE ts >= mx - INTERVAL 1 DAY
      GROUP BY 1 ORDER BY 1
    """),
    doc = "trailing-1d distinct types per user (event-time twin of the TTL'd MapState)")

  /** [[LastNProcessor]] input: [[Ev]] plus the event_id needed for an
    * equal-ts tie-break identical to the batch twin's (ts, event_id)
    * ordering — without it, equal-ts events straddling the trim boundary
    * could leave the streaming buffer and the twin holding different
    * "newest N" sets (replay-deterministic, but not twin-equivalent).
    */
  final case class EvK(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double)

  final case class LastN(user_id: Long, n_recent: Long, mean2: Double)

  /** ListState as a BOUNDED recent-history buffer — the feature-store
    * primitive ("rolling mean of the user's last N readings"): per key,
    * keep only the newest N values and emit their mean on every batch
    * appearance. ListState (not ValueState[Seq]) because append is an
    * O(1) state-store write — the whole list is NOT rewritten per event;
    * the trim-to-N put() only runs when the buffer exceeds N. State is
    * O(N) per key by construction — the property that lets a last-N
    * feature run on an unbounded stream at all.
    */
  class LastNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvK, LastN] {
    import org.apache.spark.sql.streaming.{
      ListState, TimeMode, TimerValues, TTLConfig}
    @transient private var buf: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Double]("recent",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[EvK],
        timers: TimerValues): Iterator[LastN] = {
      // batch-internal arrival order pinned by (ts, event_id) — the SAME
      // unique tie-break the batch twin last_n_rolling_mean sorts by, so
      // equal-ts events straddling the trim boundary keep the identical
      // "newest N" set in both the stream and the twin (sorting by value
      // was replay-deterministic but diverged from the twin at ts ties)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        .foreach(e => buf.appendValue(e.value))
      val all = buf.get().toArray
      val keep = if (all.length > n) all.takeRight(n) else all
      if (all.length > n) buf.put(keep)
      // fixed left-to-right sum over the buffer order + half-up 2 dp:
      // deterministic across replays (same order, same IEEE chain)
      val mean = math.floor(keep.sum / keep.length * 100.0 + 0.5) / 100.0
      Iterator.single(LastN(user, keep.length.toLong, mean))
    }
  }

  /** Streaming wiring for [[LastNProcessor]]. */
  def lastNState(ds: Dataset[EvK], n: Int): Dataset[LastN] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new LastNProcessor(n),
        TimeMode.None(), OutputMode.Update())
  }

  /** Batch twin of [[LastNProcessor]] at N = 5, oracle-checked: per user,
    * the mean of the 5 newest values by the unique (ts, event_id) order —
    * the state a last-N buffer holds after the stream's final event. The
    * per-user rank window cuts to ≤ 5 rows BEFORE the aggregate (window
    * is partitioned by user, never global), and the mean follows the
    * exact-decimal avg2 discipline.
    */
  val lastNRollingMean: QueryDef = QueryDef(
    "last_n_rolling_mean",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_recent"), Num.avg2(col("value")).as("mean2"))
        .orderBy(col("user_id")),
    Some(s"""
      SELECT user_id, count(*) AS n_recent, ${Num.sqlAvg2("value")} AS mean2
      FROM (SELECT user_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn <= 5
      GROUP BY 1 ORDER BY 1
    """),
    doc = "per-user mean of the 5 newest values (batch twin of the ListState buffer)")

  /** EVENT-TIME TIMERS — the remaining transformWithState leg after
    * typed state (ValueState/ListState/MapState) and TTL: a session
    * closer that emits a user's session WHEN THE WATERMARK proves it
    * over, not when the next event happens to arrive.
    * [[sessionizeClosed]] can only emit a closed session upon a LATER
    * event from the same user — a user who simply stops is never
    * flushed. Here every input re-arms a timer at last-event + gap
    * (delete-then-register keeps exactly one live timer per key), and
    * `handleExpiredTimer` fires once the event-time watermark passes
    * it: the session emits with no further traffic from that user, the
    * state clears, and an idle key costs nothing. This is the idle-user
    * flush every production sessionizer needs; state + one timer per
    * ACTIVE user only.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, ClosedSession] {
    import org.apache.spark.sql.streaming.{
      ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[St] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[St]("sess",
        org.apache.spark.sql.Encoders.product[St], TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
      var cur = if (st.exists()) st.get() else null
      val closed = Seq.newBuilder[ClosedSession]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur =
          if (cur == null) St(1L, e.value, t, t)
          else if (t - cur.last > gapMs) {
            // in-batch gap: close immediately (same as sessionizeClosed)
            closed += ClosedSession(user, cur.n, cur.sum, cur.start, cur.last)
            St(1L, e.value, t, t)
          } else St(cur.n + 1, cur.sum + e.value, cur.start, t)
      }
      st.update(cur)
      // exactly one live timer per key: re-arm at last-event + gap
      getHandle.listTimers().foreach(ts =>
        getHandle.deleteTimer(ts.asInstanceOf[Long]))
      getHandle.registerTimer(cur.last + gapMs)
      closed.result().iterator
    }

    override def handleExpiredTimer(
        user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] =
      if (st.exists()) {
        val s = st.get()
        st.clear()
        Iterator.single(ClosedSession(user, s.n, s.sum, s.start, s.last))
      } else Iterator.empty
  }

  /** Streaming wiring for [[SessionTimerProcessor]] — event-time mode
    * (the input must carry a watermark on `ts`; timers fire when the
    * watermark passes last-event + gap).
    */
  def sessionizeWithTimers(ds: Dataset[Ev], gapMs: Long,
      delay: String = "0 seconds"): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  final case class SessionOut(user_id: Long, n_events: Long, sum_value: Double,
      end_ts: java.sql.Timestamp)

  /** CHAINED stateful operators — the Spark-4 frontier leg: a custom
    * stateful operator whose OUTPUT feeds another event-time stateful
    * operator downstream. Classic streaming (and our other processors)
    * dead-ends after a transformWithState: the watermark column is
    * consumed, so a windowed agg over its output cannot close. The
    * `transformWithState(processor, eventTimeColumnName, ...)` overload
    * re-assigns event time to an output column, and Spark re-derives
    * the downstream watermark from it — enabling sessionize → "sessions
    * per hour", the canonical two-stage production topology.
    *
    * The one sharp edge: a timer-driven flush happens when the
    * watermark has already PASSED the session expiry, and the runtime
    * REJECTS rows whose re-assigned event time is not after the current
    * watermark (EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED — it
    * would be silently late for the downstream operator). So the
    * emitted session timestamp is FLUSH-time semantics:
    * max(session expiry, watermark + 1 ms) — identical to expiry for
    * in-batch closes (expiry is in the watermark's future) and nudged
    * to the earliest legal instant for timer closes. A session can
    * therefore be COUNTED in a later window than its expiry if it
    * flushes very late; that is the price of exactly-once windowed
    * delivery downstream, and the spec pins it.
    */
  class SessionTimerEmitProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessionOut] {
    import org.apache.spark.sql.streaming.{
      ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[St] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[St]("sess",
        org.apache.spark.sql.Encoders.product[St], TTLConfig.NONE)

    private def out(user: Long, s: St, wmMs: Long): SessionOut =
      SessionOut(user, s.n, s.sum,
        new java.sql.Timestamp(math.max(s.last + gapMs, wmMs + 1)))

    override def handleInputRows(
        user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[SessionOut] = {
      val wm = timers.getCurrentWatermarkInMs()
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
      var cur = if (st.exists()) st.get() else null
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur =
          if (cur == null) St(1L, e.value, t, t)
          else if (t - cur.last > gapMs) {
            closed += out(user, cur, wm)
            St(1L, e.value, t, t)
          } else St(cur.n + 1, cur.sum + e.value, cur.start, t)
      }
      st.update(cur)
      getHandle.listTimers().foreach(ts =>
        getHandle.deleteTimer(ts.asInstanceOf[Long]))
      getHandle.registerTimer(cur.last + gapMs)
      closed.result().iterator
    }

    override def handleExpiredTimer(
        user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val s = st.get()
        st.clear()
        Iterator.single(out(user, s, timers.getCurrentWatermarkInMs()))
      } else Iterator.empty
  }

  /** The chained topology: sessionize (timers + state) → tumbling-window
    * session counts, both event-time stateful, in ONE streaming query.
    * Output rows appear when the watermark passes the WINDOW end — i.e.
    * only fully-closed hours of fully-closed sessions.
    */
  def sessionsPerWindow(ds: Dataset[Ev], gapMs: Long,
      win: String): DataFrame = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerEmitProcessor(gapMs),
        "end_ts", OutputMode.Append())
      .groupBy(window(col("end_ts"), win))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .select(col("window.start").as("win_start"), col("n_sessions"),
        col("n_events"))
  }

  /** Batch twin of [[sessionsPerWindow]], oracle-checked: gap-island
    * sessions (30-min gap, the sessionize_batch construction) bucketed
    * into tumbling hours by session EXPIRY (last event + gap — the
    * instant the streaming timer would fire). Batch sees the whole
    * stream at once, so every session lands at its TRUE expiry hour —
    * the zero-clamp ideal the chained streaming topology converges to
    * as traffic densifies (its flush-time clamp is bounded by one
    * watermark step; the spec pins the sparse-traffic divergence).
    * Same scale shape as sessionize_batch plus one bounded-domain
    * hour aggregate.
    */
  val sessionsPerHour: QueryDef = QueryDef(
    "sessions_per_hour",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevTs = lag(col("ts"), 1).over(ord)
      Tables.events(s, d)
        .withColumn("new_sess",
          when(prevTs.isNull ||
            col("ts") >= prevTs + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(max(col("ts")).as("sess_last"), count(lit(1)).as("n_ev"))
        .select(date_trunc("hour",
          col("sess_last") + expr("INTERVAL 30 MINUTES")).as("win_start"),
          col("n_ev"))
        .groupBy(col("win_start"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"))
        .orderBy(col("win_start"))
    },
    Some("""
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL OR
                         ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS sess_id, ts
            FROM g),
      se AS (SELECT user_id, sess_id, max(ts) AS sess_last,
                    count(*) AS n_ev
             FROM s GROUP BY 1, 2)
      SELECT date_trunc('hour', sess_last + INTERVAL 30 MINUTE) AS win_start,
             count(*) AS n_sessions, CAST(sum(n_ev) AS BIGINT) AS n_events
      FROM se GROUP BY 1 ORDER BY 1
    """),
    doc = "sessions bucketed by expiry hour (batch twin of the chained topology)")

  // ---- CDC apply: keyed change stream → current-state snapshot -----------

  final case class Change(k: Long, op: String, value: Double, seq: Long)
  final case class CdcState(present: Boolean, value: Double, seq: Long)
  final case class CdcOut(k: Long, present: Boolean, value: Double, seq: Long)

  /** snapshot_diff's streaming counterpart — APPLY a CDC change stream
    * (upsert/delete, a per-key monotone sequence number) to keyed state
    * via `mapGroupsWithState`. The seq guard makes application
    * idempotent under at-least-once delivery: a replayed or reordered
    * stale change (seq ≤ applied) is a no-op, so the state converges to
    * the max-seq change per key — exactly the batch "last writer wins"
    * window (`pit_join_scd2`'s rank shape), which the spec computes
    * independently and compares. Emits the CURRENT state (tombstones
    * included, present=false) each time a key appears in a batch; the
    * final snapshot is each key's max-seq output row. State is O(live
    * keys); production adds a TTL for tombstone garbage collection.
    */
  def cdcApply(ds: Dataset[Change]): Dataset[CdcOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .mapGroupsWithState[CdcState, CdcOut](GroupStateTimeout.NoTimeout) {
        (k: Long, chs: Iterator[Change], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(false, 0.0, Long.MinValue))
          chs.toSeq.sortBy(_.seq).foreach { c =>
            if (c.seq > st.seq)
              st =
                if (c.op == "delete") CdcState(false, 0.0, c.seq)
                else CdcState(true, c.value, c.seq)
          }
          state.update(st)
          CdcOut(k, st.present, st.value, st.seq)
      }
  }

  /** CEP matcher constants: the pattern view → click → purchase must
    * complete within [[CepWindowUs]] of the opening view (skip-till-
    * next-match: non-matching events are skipped, a completed match
    * resets the machine, an overdue machine resets and may immediately
    * re-open on a view). 24 h was tuned against the match-count
    * histogram at ALL THREE SFs (6/79/744 matched users) — the
    * round-4 de-vacuation rule.
    */
  private[graft] val CepWindowUs = 86400000000L
  private[graft] val CepStages = Seq("view", "click", "purchase")

  /** Per-user CEP fold over a (user_id, tsu, event_id, event_type)
    * frame — the frame-in/frame-out core shared by the oracle-checked
    * batch twin and [[CepFunnelProcessor]]'s spec (the Ppjoin/Simhash
    * split-core discipline). One shuffle to the user key, per-user
    * sort_array on the unique (tsu, event_id) order, then the whole
    * state machine is a single codegen'd `aggregate` lambda — no join,
    * no window, no driver loop. Per-user event lists are
    * activity-bounded (the collect_list contract every sessionize-class
    * query in this file already carries).
    */
  private[graft] def cepFunnelFold(evs: DataFrame,
      windowUs: Long = CepWindowUs): DataFrame =
    evs
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("tsu"), col("event_id"), col("event_type")))).as("evs"))
      .select(col("user_id"), expr(s"""aggregate(evs,
          named_struct('stage', 0, 'start', CAST(0 AS BIGINT),
                       'cnt', 0, 'last_end', CAST(0 AS BIGINT)),
          (acc, e) -> CASE
            WHEN acc.stage > 0 AND e.tsu - acc.start > $windowUs THEN
              CASE WHEN e.event_type = '${CepStages(0)}'
                   THEN named_struct('stage', 1, 'start', e.tsu,
                          'cnt', acc.cnt, 'last_end', acc.last_end)
                   ELSE named_struct('stage', 0, 'start', CAST(0 AS BIGINT),
                          'cnt', acc.cnt, 'last_end', acc.last_end) END
            WHEN acc.stage = 0 AND e.event_type = '${CepStages(0)}'
              THEN named_struct('stage', 1, 'start', e.tsu,
                     'cnt', acc.cnt, 'last_end', acc.last_end)
            WHEN acc.stage = 1 AND e.event_type = '${CepStages(1)}'
              THEN named_struct('stage', 2, 'start', acc.start,
                     'cnt', acc.cnt, 'last_end', acc.last_end)
            WHEN acc.stage = 2 AND e.event_type = '${CepStages(2)}'
              THEN named_struct('stage', 0, 'start', CAST(0 AS BIGINT),
                     'cnt', acc.cnt + 1, 'last_end', e.tsu)
            ELSE acc
          END)""").as("st"))
      .select(col("user_id"), col("st.cnt").as("n_matches"),
        col("st.last_end").as("last_end_us"))
      .filter(col("n_matches") > 0)

  /** Batch twin of [[CepFunnelProcessor]], oracle-checked: per-user
    * count of completed view→click→purchase sequences within 24 h plus
    * the last completion instant. The DuckDB oracle is an INDEPENDENT
    * implementation of the same machine — a `list_reduce` over
    * ':'-delimited state strings (the bpe fold-encoding discipline; the
    * Spark side folds a native struct), so parity checks the state
    * machine, not a mirrored expression tree. Timestamps compare as
    * exact integer microseconds on both engines (unix_micros /
    * epoch_us — the round-9 epoch-rounding class, avoided by
    * construction).
    */
  val cepFunnelMatch: QueryDef = {
    val T = CepWindowUs
    QueryDef(
      "cep_funnel_match",
      (s, d) => cepFunnelFold(
        Tables.events(s, d)
          .filter(col("event_type").isin(CepStages: _*))
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), col("event_type")))
        .orderBy(col("user_id")),
      Some(s"""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
                 FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')),
      l AS (SELECT user_id,
              list(CAST(tsu AS VARCHAR) || ':' || event_type
                   ORDER BY tsu, event_id) AS evs
            FROM e GROUP BY 1),
      f AS (SELECT user_id,
              list_reduce(list_prepend('0:0:0:0', evs), (acc, x) -> CASE
                WHEN CAST(split_part(acc, ':', 1) AS INTEGER) > 0
                     AND CAST(split_part(x, ':', 1) AS BIGINT)
                         - CAST(split_part(acc, ':', 2) AS BIGINT) > $T THEN
                  CASE WHEN split_part(x, ':', 2) = 'view'
                       THEN '1:' || split_part(x, ':', 1) || ':' ||
                            split_part(acc, ':', 3) || ':' ||
                            split_part(acc, ':', 4)
                       ELSE '0:0:' || split_part(acc, ':', 3) || ':' ||
                            split_part(acc, ':', 4) END
                WHEN CAST(split_part(acc, ':', 1) AS INTEGER) = 0
                     AND split_part(x, ':', 2) = 'view'
                  THEN '1:' || split_part(x, ':', 1) || ':' ||
                       split_part(acc, ':', 3) || ':' || split_part(acc, ':', 4)
                WHEN CAST(split_part(acc, ':', 1) AS INTEGER) = 1
                     AND split_part(x, ':', 2) = 'click'
                  THEN '2:' || split_part(acc, ':', 2) || ':' ||
                       split_part(acc, ':', 3) || ':' || split_part(acc, ':', 4)
                WHEN CAST(split_part(acc, ':', 1) AS INTEGER) = 2
                     AND split_part(x, ':', 2) = 'purchase'
                  THEN '0:0:' ||
                       CAST(CAST(split_part(acc, ':', 3) AS INTEGER) + 1
                            AS VARCHAR) || ':' || split_part(x, ':', 1)
                -- NOT a plain ELSE acc: DuckDB 1.0.0 list_reduce leaks the
                -- accumulator ACROSS ROWS when a lambda branch returns its
                -- acc argument unmodified (user B's fold resumes from user
                -- A's final state; reproduced deterministically on a 2-row
                -- input, nondeterministic at 15 rows). Rebuilding the
                -- string from its parts forces a fresh value per step.
                ELSE split_part(acc, ':', 1) || ':' || split_part(acc, ':', 2)
                     || ':' || split_part(acc, ':', 3) || ':' ||
                     split_part(acc, ':', 4)
              END) AS st
            FROM l)
      SELECT user_id,
             CAST(split_part(st, ':', 3) AS INTEGER) AS n_matches,
             CAST(split_part(st, ':', 4) AS BIGINT) AS last_end_us
      FROM f
      WHERE CAST(split_part(st, ':', 3) AS INTEGER) > 0
      ORDER BY user_id
      """),
      doc = "CEP skip-till-next-match funnel (view→click→purchase ≤ 24 h): per-user match counts; independent list_reduce oracle")
  }

  /** [[CepFunnelProcessor]] output: the k-th completed match for a user
    * with its open/close instants (microseconds).
    */
  final case class CepMatch(user_id: Long, match_n: Int,
      start_us: Long, end_us: Long)

  /** Streaming CEP: the same skip-till-next-match machine as
    * [[cepFunnelFold]], run as per-user ValueState — state is ONE
    * (stage, start, cnt) triple per user regardless of stream length,
    * and each completed sequence is emitted AS IT CLOSES (the batch
    * twin only reports the end-of-stream summary). Intra-batch order is
    * pinned by the unique (ts, event_id) sort — the LastNProcessor
    * tie-break discipline — so stream and twin agree whenever each
    * user's events arrive in event-time order across batches (the same
    * ordered-delivery contract every CEP engine states; a late
    * cross-batch event is processed at arrival position, deterministic
    * on replay).
    */
  class CepFunnelProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvT, CepMatch] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[CepSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CepSt]("cep",
        org.apache.spark.sql.Encoders.product[CepSt], TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[EvT],
        timers: TimerValues): Iterator[CepMatch] = {
      var s = if (st.exists()) st.get() else CepSt(0, 0L, 0)
      val out = Seq.newBuilder[CepMatch]
      // Full-microsecond event time (epochSecond*1e6 + nano/1e3), matching
      // the batch twin's unix_micros(ts): getTime*1000 would floor to ms
      // and could land a sub-millisecond event on the opposite side of the
      // strict window-timeout boundary vs cep_funnel_match.
      def usOf(t: java.sql.Timestamp): Long = {
        val i = t.toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).foreach { e =>
        val tsu = usOf(e.ts)
        if (s.stage > 0 && tsu - s.start > windowUs)
          s = CepSt(0, 0L, s.cnt)
        s = (s.stage, e.event_type) match {
          case (0, "view") => CepSt(1, tsu, s.cnt)
          case (1, "click") => CepSt(2, s.start, s.cnt)
          case (2, "purchase") =>
            out += CepMatch(user, s.cnt + 1, s.start, tsu)
            CepSt(0, 0L, s.cnt + 1)
          case _ => s
        }
      }
      st.update(s)
      out.result().iterator
    }
  }

  final case class CepSt(stage: Int, start: Long, cnt: Int)

  /** [[CepFunnelProcessor]] input: a typed event with its kind. */
  final case class EvT(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String)

  /** Streaming wiring for [[CepFunnelProcessor]]. */
  def cepFunnelState(ds: Dataset[EvT],
      windowUs: Long = CepWindowUs): Dataset[CepMatch] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.user_id)
      .transformWithState(new CepFunnelProcessor(windowUs),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[OrderMatchupProcessor]] input: one line of an order — (order,
    * supplier, revenue in exact integer cents, event time).
    */
  final case class LineEv(ok: Long, sk: Long, cents: Long, ts: Timestamp)

  /** One emitted canonical matchup: suppliers i < j competed in order
    * ok; iwin 1 iff i's order revenue ≥ j's (higher revenue wins, i
    * wins rev ties — the exact graft.ops.Learn.matchupPairs rule).
    */
  final case class MatchupPair(ok: Long, i: Long, j: Long, iwin: Int)

  /** GROUP-COMPLETE PAIR EMISSION — the streaming twin of the
    * Bradley-Terry matchup derivation (`Learn.matchupPairs`): the batch
    * side can pair-expand an order only because it sees ALL its lines;
    * a stream cannot know an order is complete until the event-time
    * watermark proves no more lines can arrive. State = one MapState
    * (supplier → revenue cents, exact integer adds in any arrival
    * order) plus one re-armed event-time timer per LIVE order
    * (delete-then-register, the SessionTimerProcessor discipline); when
    * the watermark passes last-line + gap the order's canonical i<j
    * pairs emit once and the state clears — an idle order costs
    * nothing, and the downstream per-(i, j) win aggregation is a plain
    * streaming groupBy. Arena-style preference ingestion has exactly
    * this shape: a comparison batch is scoreable only when closed.
    * Single-supplier orders emit no pairs (no matchup — same as batch).
    * Parity: EventStreamSpec derives expected pairs from the BATCH
    * matchupPairs semantics on the same input (round-13 twin rule) and
    * drives cross-batch accumulation, a revenue tie, and the
    * no-pair order.
    */
  class OrderMatchupProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, LineEv, MatchupPair] {
    import org.apache.spark.sql.streaming.{
      ExpiredTimerInfo, MapState, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var rev: MapState[Long, Long] = _
    @transient private var maxTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rev = getHandle.getMapState[Long, Long]("rev",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      maxTs = getHandle.getValueState[Long]("maxTs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        ok: Long, rows: Iterator[LineEv],
        timers: TimerValues): Iterator[MatchupPair] = {
      // the quiet-period clock is the max event time EVER SEEN for this
      // order (ValueState), not this batch's max: a cross-batch
      // out-of-order line (earlier ts, still above the watermark) must
      // not pull the timer earlier and emit before last-line + gap
      var last = if (maxTs.exists()) maxTs.get() else Long.MinValue
      rows.foreach { e =>
        val c = if (rev.containsKey(e.sk)) rev.getValue(e.sk) else 0L
        rev.updateValue(e.sk, c + e.cents)
        last = math.max(last, e.ts.getTime)
      }
      maxTs.update(last)
      getHandle.listTimers().foreach(ts =>
        getHandle.deleteTimer(ts.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        ok: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[MatchupPair] = {
      val sks = rev.iterator().toSeq.sortBy(_._1)
      rev.clear()
      maxTs.clear()
      (for {
        a <- sks.indices.iterator
        b <- (a + 1 until sks.size).iterator
      } yield MatchupPair(ok, sks(a)._1, sks(b)._1,
        if (sks(a)._2 >= sks(b)._2) 1 else 0))
    }
  }

  /** Streaming wiring for [[OrderMatchupProcessor]] — event-time mode
    * (input must carry a watermark on `ts`; pairs emit when the
    * watermark passes an order's last line + gap).
    */
  def matchupStream(ds: Dataset[LineEv], gapMs: Long,
      delay: String = "0 seconds"): Dataset[MatchupPair] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.withWatermark("ts", delay)
      .groupByKey(_.ok)
      .transformWithState(new OrderMatchupProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  val all: Seq[QueryDef] =
    Seq(tumblingWindow, slidingWindow, sessionWindow, intervalJoinEvents,
      intervalJoinOuterEvents, intervalJoinFullOuterEvents,
      intervalJoinSemiEvents, intervalJoinAntiEvents, ohlcStreamTwin,
      ttlDistinctTypes, lastNRollingMean, sessionsPerHour, cepFunnelMatch)
}
