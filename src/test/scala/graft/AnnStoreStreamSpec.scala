package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.AnnEv
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The ANN store's streaming maintenance twin
  * (EventStream.annStoreMaintainStream): add / delete / re-embed events
  * folded into bid-stamped delta dirs over a pinned-layout base store.
  * Three things the batch-store oracles cannot cover are proven here:
  *
  *  - exact parity: after two micro-batches of mixed ops, the stream
  *    view equals a FROM-SCRATCH coding of the net final vector set at
  *    the base layout (the independent-oracle discipline, in-spec);
  *  - replay idempotence: re-running a batch at its own bid (the
  *    crash-before-commit state) leaves the view bit-identical —
  *    the reason the layout is overwrite-by-bid deltas, not the batch
  *    path's plain appends;
  *  - PLANTED resurrection adversary: delete an id, then RE-ADD it at
  *    the SAME embedding (same code) in a later batch. The batch
  *    store's code-keyed mask would kill both rows; only the stream
  *    view's TEMPORAL mask (tombstone kills bid ≤ its own) serves it —
  *    fixtures never produce this order, so it is planted (round-9
  *    rule).
  */
class AnnStoreStreamSpec extends SparkSpec {
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  test("stream fold == net-final rebuild; replay idempotent; re-add after delete resurrects") {
    val dir = new java.io.File("target/ann_stream_spec").getAbsolutePath
    val ck = new java.io.File("target/ann_stream_spec_ck").getAbsolutePath
    Seq(dir, ck).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))

    val all = ops.Extended.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val corpus = all.filter(col("vec_id") % 10 < 8)
    ops.Extended.annBandStoreBuild(corpus, ops.Extended.embLayoutOf(corpus),
      s"$dir/base")

    val vmap = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def ev(op: String, id: Long, v: Seq[Double], vOld: Seq[Double] = null) =
      AnnEv(op, id, v, vOld)
    val delIds = vmap.keys.filter(i => i % 100 == 7 && i % 10 < 8).toSeq.sorted
    val upsIds = vmap.keys.filter(_ % 100 == 11).toSeq.sorted
    val add0Ids = vmap.keys.filter(_ % 10 == 8).toSeq.sorted
    val add1Ids = vmap.keys.filter(_ % 10 == 9).toSeq.sorted
    assert(delIds.nonEmpty && upsIds.nonEmpty &&
      add0Ids.nonEmpty && add1Ids.nonEmpty, "fixture op mix is vacuous")
    val resId = delIds.min // deleted in batch 0, re-added VERBATIM in batch 1

    val batch0 = add0Ids.map(i => ev("add", i, vmap(i))) ++
      delIds.map(i => ev("del", i, vmap(i))) ++
      upsIds.map(i => ev("ups", i, vmap(i).reverse, vmap(i)))
    val batch1 = add1Ids.map(i => ev("add", i, vmap(i))) :+
      ev("add", resId, vmap(resId))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AnnEv]
    val q = EventStream.annStoreMaintainStream(mem.toDF(), dir, ck)
    try {
      mem.addData(batch0)
      q.processAllAvailable()
      mem.addData(batch1)
      q.processAllAvailable()
    } finally q.stop()

    // parity: view == from-scratch coding of the net final vector set
    // (corpus minus un-resurrected deletes, upserts applied, adds in)
    val finalVecs = all
      .filter(!(col("vec_id") % 100 === 7 && col("vec_id") % 10 < 8) ||
        col("vec_id") === resId)
      .withColumn("v", when(col("vec_id") % 100 === 11,
        reverse(col("v"))).otherwise(col("v")))
    val layout = spark.read.parquet(s"$dir/base/_layout")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("int").as("band"),
        col("code").cast("long").as("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    val expect = canon(ops.Extended.embBandCodesPinned(finalVecs, layout))
    val got = canon(EventStream.annStoreStreamView(spark, dir))
    assert(got === expect, "stream view != net-final rebuild")

    // the resurrection id is SERVED (same code as its deleted row — the
    // batch store's code-keyed mask would have killed it)
    assert(EventStream.annStoreStreamView(spark, dir)
      .filter(col("vec_id") === resId).count() > 0,
      "re-added id did not resurrect past its tombstone")

    // replay batch 1 at its own bid (crash-before-commit): bit-identical
    EventStream.mergeAnnStoreBatch(batch1.toDF(), dir, 1L)
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === expect,
      "replaying a batch changed the view")
  }

  test("fold at foldEvery=3: deltas collapse, GC after the next batch, replay around the fold") {
    val dir = new java.io.File("target/ann_stream_fold_spec").getAbsolutePath
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    val all = ops.Extended.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val corpus = all.filter(col("vec_id") % 10 < 8)
    ops.Extended.annBandStoreBuild(corpus, ops.Extended.embLayoutOf(corpus),
      s"$dir/base")

    val vmap = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def ev(op: String, id: Long, v: Seq[Double], vOld: Seq[Double] = null) =
      AnnEv(op, id, v, vOld)
    val delIds = vmap.keys.filter(i => i % 100 == 7 && i % 10 < 8).toSeq.sorted
    val upsIds = vmap.keys.filter(_ % 100 == 11).toSeq.sorted
    val resId = delIds.min
    // b0 adds %10==8; b1 dels+ups; b2 adds %10==9 (the 3rd live delta → FOLD);
    // b3 re-adds resId verbatim (resurrection THROUGH the fold)
    val b0 = vmap.keys.filter(_ % 10 == 8).toSeq.sorted
      .map(i => ev("add", i, vmap(i)))
    val b1 = delIds.map(i => ev("del", i, vmap(i))) ++
      upsIds.map(i => ev("ups", i, vmap(i).reverse, vmap(i)))
    val b2 = vmap.keys.filter(_ % 10 == 9).toSeq.sorted
      .map(i => ev("add", i, vmap(i)))
    val b3 = Seq(ev("add", resId, vmap(resId)))

    def fold3(b: Seq[AnnEv], id: Long) =
      EventStream.mergeAnnStoreBatch(b.toDF(), dir, id, foldEvery = 3)
    fold3(b0, 0L); fold3(b1, 1L); fold3(b2, 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/adds/bid=2/_folded")),
      "3rd live delta did not fold")

    val layout = spark.read.parquet(s"$dir/base/_layout")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("int").as("band"),
        col("code").cast("long").as("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    // net set: corpus + b0/b2 adds = ALL fixture ids, minus
    // unresurrected deletes, with the upserts' reversal applied
    def netAt(withRes: Boolean) = canon(ops.Extended.embBandCodesPinned(
      all.filter(!(col("vec_id") % 100 === 7 && col("vec_id") % 10 < 8) ||
          (if (withRes) col("vec_id") === resId else lit(false)))
        .withColumn("v", when(col("vec_id") % 100 === 11,
          reverse(col("v"))).otherwise(col("v"))), layout))
    // parity at the fold (pre-resurrection)
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(false),
      "folded view != net rebuild")
    // replay the FOLD batch itself (crash-before-commit at the fold)
    fold3(b2, 2L)
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(false),
      "replaying the fold changed the view")
    // pre-fold deltas survive until a LATER batch commits (its replay
    // still needs them), then b3's GC drops them
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/adds/bid=0")))
    fold3(b3, 3L)
    Seq("adds", "tombs").foreach { sub =>
      Seq(0, 1).foreach { old =>
        assert(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/$sub/bid=$old")),
          s"$sub/bid=$old not GC'd after the post-fold batch")
      }
    }
    // resurrection THROUGH the fold: the bid-1 tombstone was resolved
    // into the fold, so the verbatim re-add (same code) is served
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(true),
      "post-fold view != net rebuild with resurrection")
    // replay the post-fold batch: GC no-ops, view bit-identical
    fold3(b3, 3L)
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(true),
      "replaying the post-fold batch changed the view")
    // crash mid-commit of the next batch, b4 = delete resId again (the
    // 3rd live delta, so a FOLD): its fold data and marker sit staged but
    // uncommitted — the view must not see them, and the replay commits
    val b4 = Seq(ev("del", resId, vmap(resId)))
    core.BidLog.stage(EventStream.annStoreStreamView(spark, dir)
      .filter(col("vec_id") =!= resId)
      .select(col("vec_id"), col("code"), col("band")),
      s"$dir/adds", 4L, fold = true)
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(true),
      "uncommitted fold data changed the view")
    fold3(b4, 4L)
    assert(core.BidLog.isFold(spark, s"$dir/adds", 4L),
      "replaying the crashed batch did not commit its fold")
    assert(canon(EventStream.annStoreStreamView(spark, dir)) === netAt(false),
      "replaying the crashed batch diverged from the net rebuild")
  }
}
