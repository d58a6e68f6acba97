package graft

import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cross-modal gate's streaming twin (round-15 verdict task 7):
  * per the round-13 twin rule, every expectation here is derived from
  * the BATCH query's row semantics — the final streamed snapshot must
  * equal `cross_modal_check`'s output on the same document set, at all
  * three fixture SFs, across arbitrary micro-batch splits (including
  * splits that force CROSS-BATCH cluster growth and root MERGES, the
  * cases a star-per-batch shortcut would get wrong).
  */
class CrossModalStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def docsOf(dir: String): DataFrame =
    graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))

  private def finalVerdicts(stateDir: String): DataFrame =
    EventStream.crossModalVerdicts(spark, stateDir)

  private def batchWant(dir: String) =
    graft.ops.Multimodal.crossModalCheck.fn(spark, dir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet

  test("streamed verdicts == batch cross_modal_check at three SFs (mod-3 batches)") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val stateDir = tmp(s"graft_xm_state_$sf")
      val docs = docsOf(dir)
      (0L to 2L).foreach { b =>
        EventStream.mergeCrossModalSnapshot(
          docs.filter(col("doc_id") % 3 === b), stateDir, b)
      }
      val got = finalVerdicts(stateDir)
        .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
      val want = batchWant(dir)
      assert(got === want,
        s"$sf: streamed snapshot != batch cross_modal_check " +
          s"(missing=${(want -- got).take(3)} extra=${(got -- want).take(3)})")
      // non-vacuity of the INCREMENTAL path: at least one emitted
      // cluster must span two different arrival batches (doc_id mod 3),
      // i.e. the verdict really crossed micro-batch state
      assert(want.exists { case (d, c, _, _, _) => d % 3 != c % 3 },
        s"$sf: every cluster arrived inside one batch — split is vacuous")
    }
  }

  test("root MERGE across batches: replayed batch rewrites, final state exact") {
    // Adversarial split: reverse arrival order (descending doc_id
    // thirds), so cluster roots FALL over time — early arrivals form
    // components under interim roots that later, smaller-id arrivals
    // must take over (the old-root → new-root remap path), and bridge
    // docs can merge two existing components. Then replay the LAST
    // batch id on top of its own output (the crash-before-commit
    // shape): the `< id` snapshot cut must make the rewrite idempotent.
    val dir = sfDir
    val stateDir = tmp("graft_xm_merge")
    val docs = docsOf(dir)
    val splits = Seq(
      docs.filter(col("doc_id") % 3 === 2),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 0))
    splits.zipWithIndex.foreach { case (b, i) =>
      EventStream.mergeCrossModalSnapshot(b, stateDir, i.toLong)
    }
    // interim roots must actually have fallen at least once: some final
    // cluster_id (global min id) arrived LATER than another member
    val want = batchWant(dir)
    assert(want.exists { case (d, c, _, _, _) => c % 3 == 0L && d % 3 != 0L },
      "adversarial split produced no late-arriving root — merge path unexercised")
    val before = finalVerdicts(stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(before === want, "descending-order stream diverged from batch")
    // replay batch 2
    EventStream.mergeCrossModalSnapshot(splits(2), stateDir, 2L)
    val after = finalVerdicts(stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(after === want, "replayed batch diverged (idempotency broken)")
  }

  test("late-arriving longest member RE-ELECTS the canonical (and its phash)") {
    // Planted adversary: docs A and B (near-identical word sets, so the
    // MinHash bands co-bucket them) arrive first — B is longer, so B is
    // canonical and A's verdict compares against B's phash. Then C
    // arrives: near-dup of both and LONGEST — the batch election rule
    // (n_chars desc, doc_id asc) now makes C canonical, so the snapshot
    // must RE-emit A and B against C's phash and retire the old
    // (A vs B) verdict. A snapshot that only appends verdicts for NEW
    // arrivals would keep the stale row — this pins the re-election.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docA = (1L, s"$base alpha", (base.length + 6).toLong)
    val docB = (2L, s"$base beta gamma", (base.length + 11).toLong)
    val docC = (3L, s"$base beta gamma delta epsilon zeta", // longest
      (base.length + 31).toLong)
    val stateDir = tmp("graft_xm_reelect")
    EventStream.mergeCrossModalSnapshot(
      Seq(docA, docB).toDF("doc_id", "text", "n_chars"), stateDir, 0L)
    val after1 = EventStream.crossModalVerdictsAt(spark, stateDir, 1L)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    // non-vacuity: the planted texts must actually have co-bucketed
    assert(after1.map(v => (v._1, v._3)) === Set((1L, 2L)),
      s"planted near-dups failed to cluster in batch 0: $after1")
    EventStream.mergeCrossModalSnapshot(
      Seq(docC).toDF("doc_id", "text", "n_chars"), stateDir, 1L)
    val after2 = EventStream.crossModalVerdictsAt(spark, stateDir, 2L)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(after2.map(v => (v._1, v._3)) === Set((1L, 3L), (2L, 3L)),
      s"canonical not re-elected to the late-arriving longest doc: $after2")
    // and the whole snapshot equals the batch query's semantics on the
    // union — derived expectation, the round-13 twin rule
    assert(after2.map(_._2) === Set(1L), "cluster root must be the min id")
  }

  test("FOLD: state folds into one bid; replay around the fold + GC keep parity") {
    // r17 layout: the 3rd live delta triggers the fold (foldEvery=3
    // here; BidLog.FoldEvery=64 in production). The folding batch must
    // supersede every earlier delta, a REPLAY of the folding batch must
    // still find its pre-fold read chain (GC keys on the COMMITTED
    // predecessor, never on the replayed batch's own fold), and the
    // next batch's GC must then drop the superseded deltas.
    val dir = sfDir
    val stateDir = tmp("graft_xm_fold")
    val docs = docsOf(dir)
    val splits = (0L to 3L).map(b => docs.filter(col("doc_id") % 4 === b))
    (0 to 2).foreach { i =>
      EventStream.mergeCrossModalSnapshot(splits(i), stateDir, i.toLong,
        foldEvery = 3)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def bids(sub: String): Set[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/$sub")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("bid="))
        .map(_.stripPrefix("bid=").toLong).toSet
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$stateDir/log/bid=2/_folded")), "3rd batch did not fold")
    val got3 = EventStream.crossModalVerdicts(spark, stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    // replay the FOLDING batch: pre-fold deltas (bids 0,1) must still be
    // readable — GC never ran against the fold at an uncommitted bid
    assert(bids("log").contains(0L) && bids("log").contains(1L),
      "fold GC'd its own read chain before committing")
    EventStream.mergeCrossModalSnapshot(splits(2), stateDir, 2L, foldEvery = 3)
    val got3r = EventStream.crossModalVerdicts(spark, stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(got3r === got3, "replaying the folding batch changed the view")
    // batch 3 commits on top: its GC drops the superseded pre-fold deltas
    EventStream.mergeCrossModalSnapshot(splits(3), stateDir, 3L, foldEvery = 3)
    assert(bids("log") === Set(2L, 3L),
      s"superseded deltas not GC'd after the fold committed: ${bids("log")}")
    val gotAll = EventStream.crossModalVerdicts(spark, stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(gotAll === batchWant(dir),
      "post-fold stream diverged from the batch query on the full corpus")
  }

  test("EMPTY micro-batch: merge is a no-op on the view, chain still advances") {
    // Streams fire triggers with zero rows routinely; an empty batch
    // must neither crash the contracted-CC merge (empty edge frame) nor
    // disturb the view, and must still commit the log bid so replay
    // bookkeeping sees it.
    val stateDir = tmp("graft_xm_empty")
    val docs = docsOf(sfDir)
    EventStream.mergeCrossModalSnapshot(docs, stateDir, 0L)
    val before = EventStream.crossModalVerdicts(spark, stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    EventStream.mergeCrossModalSnapshot(docs.filter(col("doc_id") < 0),
      stateDir, 1L)
    val after = EventStream.crossModalVerdicts(spark, stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(after === before, "empty batch changed the verdict view")
    assert(graft.core.BidLog.latest(spark, s"$stateDir/log", 2L)
      === Some(1L), "empty batch did not advance the log")
    assert(before === batchWant(sfDir))
  }

  test("CRASH before the rename: a staged bid is invisible, the replay commits it") {
    // A batch's four parts are staged in its bid's hidden sibling and
    // published with ONE rename, so a crash before the rename leaves the
    // store exactly at the previous batch: no part visible, no bid
    // listed. The replay must then commit what a clean run commits.
    import graft.core.BidLog
    val docs = docsOf(sfDir)
    val splits = (0L to 2L).map(b => docs.filter(col("doc_id") % 3 === b))
    def run(stateDir: String, ids: Seq[Int]): Unit = ids.foreach { i =>
      EventStream.mergeCrossModalSnapshot(splits(i), stateDir, i.toLong)
    }
    def view(stateDir: String) = finalVerdicts(stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    val stateDir = tmp("graft_xm_crash")
    val log = s"$stateDir/log"
    run(stateDir, 0 to 1)
    val after1 = view(stateDir)
    val (parts, fold) = EventStream.crossModalBid(splits(2), log, 2L,
      BidLog.FoldEvery)
    assert(parts.map(_._1) === Seq("members", "buckets", "verdicts", "remap"))
    parts.foreach { case (part, df) => BidLog.stage(df, log, 2L, fold, part) }
    assert(view(stateDir) === after1, "staged, uncommitted parts changed the view")
    assert(BidLog.ids(spark, log) === Seq(0L, 1L), "an uncommitted bid is listed")
    // a part read with the log as basePath keeps the bid column (the
    // leaf `members` holds no `=`, so partition discovery skips it)
    assert(BidLog.read(spark, log, Seq(0L, 1L), "members").get
      .select(col("bid").cast("long")).distinct().as[Long].collect().toSet
      === Set(0L, 1L), "part read lost the bid column")
    run(stateDir, Seq(2))
    val clean = tmp("graft_xm_crash_clean")
    run(clean, 0 to 2)
    val want = view(clean)
    assert(want !== after1, "batch 2 changes nothing: the crash is vacuous")
    assert(view(stateDir) === want, "replay after the crash != a clean run")
    assert(BidLog.ids(spark, log) === Seq(0L, 1L, 2L))
  }

  test("end-to-end stream wiring: file-per-trigger micro-batches") {
    val dir = sfDir
    val stage = tmp("graft_xm_src")
    docsOf(dir).repartition(3).write.mode("overwrite").parquet(stage)
    val stateDir = tmp("graft_xm_e2e_state")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = EventStream.crossModalStream(stream, stateDir, tmp("graft_xm_ck"))
    try q.processAllAvailable() finally q.stop()
    val got = finalVerdicts(stateDir)
      .as[(Long, Long, Long, Option[Int], Boolean)].collect().toSet
    assert(got === batchWant(dir), "end-to-end streamed state != batch")
  }
}
