package graft

import graft.core.BidLog
import graft.streaming.EventStream.AnnEv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-mechanism coverage for the ANN store tombstone/GC life cycle
  * (r16 verdict task 3). The registered `ann_store_gc` query proves the
  * READ VIEW equals a rebuild over survivors at every compaction state —
  * but the view is deliberately blind to WHICH branch the store took
  * (masked tombstones and folded data read identically; that is the
  * point of tombstone masking). These tests pin the physical branches
  * the oracle cannot see — the live `log` rows from the head fold on
  * (the build's bid −1 until a GC folds) — and a
  * PLANTED upsert skew the fixtures never produce (uniform vector
  * deletes tombstone every band equally; only an upsert that moves one
  * band makes per-band and store-wide tombstone fractions differ — the
  * round-9 planted-adversary rule).
  */
class AnnGcSpec extends SparkSpec {

  private def freshStore(tag: String,
      corpus: DataFrame = ops.Extended.vecs(spark, sfDir)): (String, Long, Int) = {
    val dir = new java.io.File(s"target/ann_gc_spec_$tag").getAbsolutePath
    ops.Extended.annBandStoreBuild(corpus,
      ops.Extended.embLayoutCollect(spark, corpus), dir)
    val nbands = spark.read.parquet(s"$dir/layout").collect()(0)
      .getAs[Int]("nbands")
    (dir, corpus.count(), nbands)
  }

  /** One lifecycle batch at the store's next bid. */
  private def apply(events: DataFrame, dir: String): Unit =
    ops.Extended.annStoreApply(events, dir,
      ops.Extended.annStoreNextBid(spark, dir))

  /** Rows of the build's fold bid −1. */
  private def baseRows(dir: String): Long =
    BidLog.at(spark, s"$dir/log", -1L).count()

  /** Live log rows (the bids from the newest fold on) with `dead`. The
    * band-partitioned fold and the flat deltas are read apart: one read
    * of both fails on their different partition columns.
    */
  private def logRows(dir: String, dead: Boolean): DataFrame = {
    val log = s"$dir/log"
    val live = BidLog.live(spark, log, Long.MaxValue)
    Seq(live.take(1), live.tail).flatMap(BidLog.read(spark, log, _))
      .map(_.filter(col("dead") === dead)
        .select(col("vec_id"), col("code"), col("band"), col("dead"), col("bid")))
      .reduce(_ unionByName _)
  }

  private def canonView(dir: String) = ops.Extended.annStoreView(spark, dir)
    .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq

  test("below-trigger delete: tombstones retained, data partitions NOT rewritten") {
    val all = ops.Extended.vecs(spark, sfDir)
    val (dir, n, nbands) = freshStore("below")
    val before = baseRows(dir)
    assert(before === n * nbands)
    apply(ops.Extended.annEvents(all.filter(col("vec_id") % 100 === 7), "del"), dir)
    ops.Extended.annStoreGc(spark, dir)
    // the 1% batch sits under the 1/20 trigger: GC committed no fold,
    // the build's fold is untouched, and the delete bid's dead rows stay live
    val log = s"$dir/log"
    assert(BidLog.ids(spark, log) === Seq(-1L, 0L), "below-trigger GC committed a bid")
    assert(!BidLog.isFold(spark, log, 0L))
    assert(baseRows(dir) === before, "below-trigger GC rewrote data")
    val dead = logRows(dir, dead = true).count()
    assert(dead > 0, "tombstones were dropped without compaction")
    // ...and the view already masks the deleted ids
    val view = ops.Extended.annStoreView(spark, dir)
    assert(view.filter(col("vec_id") % 100 === 7).count() === 0)
    assert(view.count() === before - dead)
  }

  test("over-trigger delete: every band compacts, tombstones drain") {
    val all = ops.Extended.vecs(spark, sfDir)
    val (dir, _, nbands) = freshStore("over")
    apply(ops.Extended.annEvents(all.filter(col("vec_id") % 10 === 3), "del"), dir)
    ops.Extended.annStoreGc(spark, dir)
    val survivors = all.filter(col("vec_id") % 10 =!= 3).count()
    val log = s"$dir/log"
    val fold = BidLog.latest(spark, log, Long.MaxValue)
    assert(fold === Some(1L) && BidLog.isFold(spark, log, 1L),
      s"over-trigger GC committed no fold: ${BidLog.ids(spark, log)}")
    assert(BidLog.at(spark, log, 1L).count() === survivors * nbands,
      "the fold is not exactly the surviving rows")
    assert(logRows(dir, dead = true).count() === 0,
      "compaction left tombstones behind")
    // the live physical rows — the next trigger's denominator — are the
    // fold's alone (it supersedes the build's)
    assert(logRows(dir, dead = false).count() === survivors * nbands)
    // GC reclaims space: the build's fold and the pre-fold delete bid
    // leave the disk
    assert(!BidLog.ids(spark, log).contains(-1L), "the fold left bid -1 on disk")
    assert(BidLog.ids(spark, log) === Seq(1L),
      s"the fold left pre-fold bids on disk: ${BidLog.ids(spark, log)}")
    // ...and stay reclaimed across the next committed bid, whose view
    // reads the fold alone
    apply(ops.Extended.annEvents(all.filter(col("vec_id") % 100 === 7), "del"), dir)
    assert(!BidLog.ids(spark, log).contains(-1L))
    assert(BidLog.ids(spark, log) === Seq(1L, 2L))
    assert(ops.Extended.annStoreView(spark, dir).count() === nbands *
      all.filter(col("vec_id") % 10 =!= 3 && col("vec_id") % 100 =!= 7).count())
  }

  test("deleting every vector folds to an empty store that still reads and takes adds") {
    // A band-partitioned fold of no rows writes no band dir, so its read
    // cannot infer a schema from files; the store must still serve an
    // empty view and take the next batch.
    val all = ops.Extended.vecs(spark, sfDir)
    val (dir, _, nbands) = freshStore("empty")
    apply(ops.Extended.annEvents(all, "del"), dir)
    ops.Extended.annStoreGc(spark, dir)
    assert(BidLog.ids(spark, s"$dir/log") === Seq(1L) &&
      BidLog.isFold(spark, s"$dir/log", 1L), "deleting every vector did not fold")
    assert(ops.Extended.annStoreView(spark, dir).count() === 0)
    val back = all.filter(col("vec_id") % 10 === 3)
    apply(ops.Extended.annEvents(back, "add"), dir)
    assert(ops.Extended.annStoreView(spark, dir).count() === back.count() * nbands)
  }

  test("PLANTED upsert skew: the store-wide fold keeps the view bit-identical") {
    // Deletes tombstone every band equally, so the per-band tombstone
    // fractions can only diverge through an upsert that moves a subset
    // of an id's bands: the coord-49 plant (see the per-band test below)
    // moves band 3 alone. A store-wide fold must resolve that skew
    // exactly: the view before and after the fold are bit-identical.
    import spark.implicits._
    val dim = ops.Extended.vecs(spark, sfDir).select(size(col("v")))
      .head().getInt(0)
    assert(dim >= 64, s"fixture dim $dim < 64: the coord-49 plant needs 4 full bands")
    def vec(c49: Double) = (1 to dim).map(i => if (i == 49) c49 else 1.0)
    val plant = 99999983L
    val all = ops.Extended.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val (dir, _, nbands) = freshStore("skew",
      all.unionByName(Seq((plant, vec(1.0))).toDF("vec_id", "v")))
    apply(Seq(AnnEv("ups", plant, vec(-1.0), vec(1.0))).toDF(), dir)
    val skew = logRows(dir, dead = true).select(col("band")).collect()
      .map(_.getInt(0)).toSeq
    assert(skew === Seq(3), s"the planted upsert did not skew band 3 alone: $skew")
    apply(ops.Extended.annEvents(all.filter(col("vec_id") % 10 === 3), "del"), dir)
    val viewBefore = canonView(dir)
    ops.Extended.annStoreGc(spark, dir)
    assert(BidLog.isFold(spark, s"$dir/log", 2L), "the skewed store did not fold")
    assert(logRows(dir, dead = true).count() === 0)
    assert(canonView(dir) === viewBefore, "the store-wide fold changed the read view")
    val mine = viewBefore.filter(_.getAs[Long]("vec_id") == plant)
    assert(mine.map(_.getAs[Int]("band")).sorted === (0 until nbands),
      s"the plant lost a band slot: $mine")
  }

  test("upsert writes ONLY changed codes; identical re-embeds leave the store untouched") {
    val all = ops.Extended.vecs(spark, sfDir)
    val (dir, _, _) = freshStore("upsert")
    val before = baseRows(dir)
    val newV = when(col("vec_id") % 40 === 5, reverse(col("v"))).otherwise(col("v"))
    apply(ops.Extended.annEvents(all.filter(col("vec_id") % 20 === 5), "ups",
      newV, col("v")), dir)
    val bid = BidLog.at(spark, s"$dir/log", 0L)
    val changed = bid.filter(col("dead")).count()
    assert(changed > 0, "upsert produced no changed codes (vacuous)")
    // minimality: live rows == tombstoned rows == changed codes only
    assert(bid.filter(!col("dead")).count() === changed,
      "upsert appended more than the changed codes")
    // the identical half of the batch (% 40 == 25) wrote NOTHING
    assert(bid.filter(col("vec_id") % 40 === 25).count() === 0,
      "a byte-identical re-embed was written")
    assert(baseRows(dir) === before, "upsert rewrote the build's fold")
    // the read view now equals a re-index over the FINAL vectors
    val layout = spark.read.parquet(s"$dir/layout")
    val expect = ops.Extended.embBandCodesPinned(all.withColumn("v", newV), layout)
      .select(col("band").cast("int").as("band"),
        col("code").cast("long").as("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect()
    assert(canonView(dir) === expect.toSeq, "upserted view != re-index over final vectors")
  }

  test("PLANTED per-band partial change: one band's slot moves, the others' rows are not touched") {
    // fixture upserts flip all-or-none of an id's bands (reverse moves
    // every band's code; identity moves none) — the per-band PARTIAL
    // branch needs a planted vector. Band b's code reads coords
    // 16b+1..16b+16 only (the generated sign/comparison pools), so a
    // synthetic pair differing ONLY at coord 49 moves band 3 alone.
    val dim = ops.Extended.vecs(spark, sfDir).select(size(col("v")))
      .head().getInt(0)
    assert(dim >= 64, s"fixture dim $dim < 64: the coord-49 plant needs 4 full bands")
    import spark.implicits._
    def vec(c49: Double) = (1 to dim).map(i => if (i == 49) c49 else 1.0)
    val corpus = ops.Extended.vecs(spark, sfDir)
      .select(col("vec_id"), col("v"))
      .unionByName(Seq((99999983L, vec(1.0))).toDF("vec_id", "v"))
    val (dir, _, _) = freshStore("plant", corpus)
    apply(Seq(AnnEv("ups", 99999983L, vec(-1.0), vec(1.0))).toDF(), dir)
    // exactly ONE slot moved: band 3's
    val tombs = logRows(dir, dead = true).collect()
    assert(tombs.length === 1, s"expected 1 tombstone, got ${tombs.length}")
    assert(tombs(0).getAs[Int]("band") === 3, "the moved slot was not band 3")
    // ...and the upsert's bid holds ONE live row (the rest are the build's)
    assert(logRows(dir, dead = false).filter(col("bid") === 0).count() === 1)
    // view: the id still lives in all 4 bands, band 3 at the NEW code
    val mine = ops.Extended.annStoreView(spark, dir)
      .filter(col("vec_id") === 99999983L)
      .orderBy(col("band")).collect()
    assert(mine.length === 4, s"id lost a band slot: ${mine.length}")
    val oldB3 = tombs(0).getAs[Long]("code")
    assert(mine(3).getAs[Long]("code") !== oldB3, "band 3 still serves the old code")
  }
}
