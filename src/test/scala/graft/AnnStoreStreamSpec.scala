package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.AnnEv
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The ANN store's streaming maintenance
  * (EventStream.annStoreMaintainStream): add / delete / re-embed events
  * committed to the bid log of a pinned-layout store, whose build is the
  * log's fold bid −1. Three things the registered queries' oracles
  * cannot cover are proven here:
  *
  *  - exact parity: after two micro-batches of mixed ops, the stream
  *    view equals a FROM-SCRATCH coding of the net final vector set at
  *    the base layout (the independent-oracle discipline, in-spec);
  *  - replay idempotence: re-running a batch at its own bid (the
  *    crash-before-commit state) leaves the view bit-identical —
  *    the reason the log is overwrite-by-bid, not plain appends;
  *  - PLANTED resurrection adversary: delete an id, then RE-ADD it at
  *    the SAME embedding (same code) in a later batch. A code-keyed
  *    mask would kill both rows; only the view's TEMPORAL mask
  *    (tombstone kills bid ≤ its own) serves it —
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
      dir)

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
    val layout = spark.read.parquet(s"$dir/layout")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("int").as("band"),
        col("code").cast("long").as("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    val expect = canon(ops.Extended.embBandCodesPinned(finalVecs, layout))
    val got = canon(ops.Extended.annStoreView(spark, dir))
    assert(got === expect, "stream view != net-final rebuild")

    // the resurrection id is SERVED (same code as its deleted row — a
    // code-keyed mask would have killed it)
    assert(ops.Extended.annStoreView(spark, dir)
      .filter(col("vec_id") === resId).count() > 0,
      "re-added id did not resurrect past its tombstone")

    // replay batch 1 at its own bid (crash-before-commit): bit-identical
    ops.Extended.annStoreApply(batch1.toDF(), dir, 1L)
    assert(canon(ops.Extended.annStoreView(spark, dir)) === expect,
      "replaying a batch changed the view")
  }

  test("fold at foldEvery=3: deltas collapse, GC after the next batch, replay around the fold") {
    val dir = new java.io.File("target/ann_stream_fold_spec").getAbsolutePath
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    val all = ops.Extended.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val corpus = all.filter(col("vec_id") % 10 < 8)
    ops.Extended.annBandStoreBuild(corpus, ops.Extended.embLayoutOf(corpus),
      dir)

    val vmap = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def ev(op: String, id: Long, v: Seq[Double], vOld: Seq[Double] = null) =
      AnnEv(op, id, v, vOld)
    val delIds = vmap.keys.filter(i => i % 100 == 7 && i % 10 < 8).toSeq.sorted
    val upsIds = vmap.keys.filter(_ % 100 == 11).toSeq.sorted
    val resId = delIds.min
    // the build is live fold bid −1, so the 3rd live bid is bid 1:
    // b0 adds %10==8 and %10==9 (a delta); b1 dels+ups (the 3rd live bid
    // → FOLD); b2 re-adds resId verbatim (resurrection THROUGH the fold)
    val b0 = vmap.keys.filter(_ % 10 >= 8).toSeq.sorted
      .map(i => ev("add", i, vmap(i)))
    val b1 = delIds.map(i => ev("del", i, vmap(i))) ++
      upsIds.map(i => ev("ups", i, vmap(i).reverse, vmap(i)))
    val b2 = Seq(ev("add", resId, vmap(resId)))

    def fold3(b: Seq[AnnEv], id: Long) =
      ops.Extended.annStoreApply(b.toDF(), dir, id, foldEvery = 3)
    fold3(b0, 0L)
    assert(!core.BidLog.isFold(spark, s"$dir/log", 0L), "2nd live bid folded")
    fold3(b1, 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/log/bid=1/_folded")),
      "3rd live bid did not fold")

    val layout = spark.read.parquet(s"$dir/layout")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("int").as("band"),
        col("code").cast("long").as("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    // net set: corpus + b0's adds = ALL fixture ids, minus
    // unresurrected deletes, with the upserts' reversal applied
    def netAt(withRes: Boolean) = canon(ops.Extended.embBandCodesPinned(
      all.filter(!(col("vec_id") % 100 === 7 && col("vec_id") % 10 < 8) ||
          (if (withRes) col("vec_id") === resId else lit(false)))
        .withColumn("v", when(col("vec_id") % 100 === 11,
          reverse(col("v"))).otherwise(col("v"))), layout))
    // parity at the fold (pre-resurrection)
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(false),
      "folded view != net rebuild")
    // replay the FOLD batch itself (crash-before-commit at the fold)
    fold3(b1, 1L)
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(false),
      "replaying the fold changed the view")
    // the pre-fold delta and the build's fold survive until a LATER batch
    // commits (the fold's replay still needs them), then b2's GC drops them
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/log/bid=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/log/bid=-1")))
    fold3(b2, 2L)
    assert(!core.BidLog.isFold(spark, s"$dir/log", 2L), "the post-fold batch folded")
    Seq("log/bid=-1", "log/bid=0").foreach { old =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$old")),
        s"$old not GC'd after the post-fold batch")
    }
    // resurrection THROUGH the fold: the bid-1 tombstone was resolved
    // into the fold, so the verbatim re-add (same code) is served
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(true),
      "post-fold view != net rebuild with resurrection")
    // replay the post-fold batch: GC no-ops, view bit-identical
    fold3(b2, 2L)
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(true),
      "replaying the post-fold batch changed the view")
    // crash mid-commit of the next batch, b3 = delete resId again (the
    // 3rd live bid, so a FOLD): its fold data and marker sit staged but
    // uncommitted — the view must not see them, and the replay commits
    val b3 = Seq(ev("del", resId, vmap(resId)))
    core.BidLog.stage(ops.Extended.annStoreView(spark, dir)
      .filter(col("vec_id") =!= resId)
      .select(col("vec_id"), col("code"), col("band"), lit(false).as("dead")),
      s"$dir/log", 3L, fold = true, partitionBy = Seq("band"))
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(true),
      "uncommitted fold data changed the view")
    fold3(b3, 3L)
    assert(core.BidLog.isFold(spark, s"$dir/log", 3L),
      "replaying the crashed batch did not commit its fold")
    assert(canon(ops.Extended.annStoreView(spark, dir)) === netAt(false),
      "replaying the crashed batch diverged from the net rebuild")
  }

  test("one batch adding and deleting a vector: the fold and non-fold paths agree") {
    // A tombstone kills the rows of its own bid, so a batch that adds
    // and deletes the same vector leaves it dead; the fold path must
    // resolve that batch the same way, or the view would depend on
    // where the batch falls in the fold cadence.
    val all = ops.Extended.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val corpus = all.filter(col("vec_id") % 10 < 8)
    val layout = ops.Extended.embLayoutOf(corpus)
    val v = all.filter(col("vec_id") % 10 === 8).head()
    val batch = Seq(AnnEv("add", v.getLong(0), v.getSeq[Double](1), null),
      AnnEv("del", v.getLong(0), v.getSeq[Double](1), null)).toDF()
    def viewAfter(tag: String, foldEvery: Int) = {
      val dir = new java.io.File(s"target/ann_stream_same_batch_$tag").getAbsolutePath
      ops.Extended.annBandStoreBuild(corpus, layout, dir)
      ops.Extended.annStoreApply(batch, dir, 0L, foldEvery)
      assert(core.BidLog.isFold(spark, s"$dir/log", 0L) === (foldEvery == 1))
      ops.Extended.annStoreView(spark, dir)
        .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    }
    val delta = viewAfter("delta", core.BidLog.FoldEvery)
    assert(!delta.exists(_.getAs[Long]("vec_id") == v.getLong(0)),
      "the batch's tombstone did not kill its own add")
    assert(viewAfter("fold", 1) === delta, "fold and non-fold views differ")
  }

  test("a build that crashed before its commit is refused by every step; a rebuild serves the full view") {
    // The build writes `layout`, then commits the coded corpus as fold
    // bid −1 with one rename. Plant a crash between the staging and the
    // rename: `layout` is there, bid −1 is not. Reading that store would
    // serve an empty index, and committing onto it would bury the
    // missing build under bid 0, so every step must refuse it.
    val dir = new java.io.File("target/ann_stream_crashed_build").getAbsolutePath
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val all = ops.Extended.vecs(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 10 < 8)
    val layout = ops.Extended.embLayoutCollect(spark, corpus)
    def coded = ops.Extended.embBandCodesPinned(corpus, layout)
      .select(col("vec_id"), col("code").cast("long").as("code"), col("band"))
    layout.write.parquet(s"$dir/layout")
    core.BidLog.stage(coded.withColumn("dead", lit(false)), s"$dir/log", -1L,
      fold = true, partitionBy = Seq("band"))

    def refused(step: String)(run: => Any): Unit = {
      val e = intercept[IllegalStateException](run)
      assert(e.getMessage.contains(dir), s"$step: the error does not name the store: $e")
    }
    refused("view")(ops.Extended.annStoreView(spark, dir))
    refused("apply")(ops.Extended.annStoreApply(ops.Extended.annEvents(
      all.filter(col("vec_id") % 10 === 8), "add"), dir, 0L))
    refused("gc")(ops.Extended.annStoreGc(spark, dir))
    refused("search")(ops.Extended.annStoreSearchDir(spark, all, dir))
    assert(core.BidLog.ids(spark, s"$dir/log") === Nil,
      "a step committed a bid onto the crashed build")

    ops.Extended.annBandStoreBuild(corpus, layout, dir)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("int").as("band"), col("code"), col("vec_id"))
      .orderBy(col("band"), col("code"), col("vec_id")).collect().toSeq
    assert(canon(ops.Extended.annStoreView(spark, dir)) === canon(coded),
      "the rebuilt store's view is not the coded corpus")
  }
}
