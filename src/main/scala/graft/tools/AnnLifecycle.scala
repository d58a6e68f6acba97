package graft.tools

import graft.core.BidLog
import graft.ops.Extended
import graft.tools.Run.time
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall times of the persisted ANN stores' lifecycle steps on a fixture
  * dir (GenScale 10×/100× dirs give SCALING.md's decade rows). Stores are
  * written under `target/ann_lifecycle/`.
  *
  *  - `append`: the `ann_state_append` contract — committing an add
  *    batch to the store's log is BATCH-proportional (coding at the
  *    store's pinned layout plus one bid write, no corpus access). It
  *    builds the corpus store, appends 2%, 20% and 80% batches (the 80%
  *    one makes the data term visible over the fixed per-job cost), and
  *    rebuilds corpus + 20% for contrast; the append-time ratios should
  *    track the batch-size ratios, not the store size. Then the
  *    store-backed SEARCH rows: a search must track the fixed ≤201-query
  *    probe batch, not corpus size, and the multi-probe row reports the
  *    recall@5 bought per probe on the same store.
  *  - `gc`: the `ann_store_gc` sequence step by step, twice (read the
  *    second pass; the first carries codegen and JIT): init, a
  *    below-trigger delete whose GC only keeps tombstones, a compacting
  *    delete + GC (the fold), and a 2% upsert (half re-embedded, half
  *    identical). Delete + GC cost must track the deleted fraction.
  *  - `stream`: micro-batches of the stream (`Extended.annStoreApply`):
  *    FIXED 500-event batches (300 adds of new rotated ids, 100 deletes,
  *    100 re-embeds) through 12 merges at foldEvery=8 over a store
  *    built from the dir's embeddings. Run at sf1 vs sf10 (20k vs 200k
  *    vectors; needs ≥ 8 000 ids), the non-fold rows measure per-batch cost across
  *    a 10× state decade at constant batch size, and the fold row
  *    isolates the rewrite amortized to 1/foldEvery of batches.
  *
  * Usage: Run ann-lifecycle <append|gc|stream> <sfDir>
  */
object AnnLifecycle {

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("append", dir) => append(spark, dir)
    case Seq("gc", dir)     => gc(spark, dir)
    case Seq("stream", dir) => stream(spark, dir)
    case _ => sys.error("usage: ann-lifecycle <append|gc|stream> <sfDir>; " +
      s"got ${args.mkString(" ")}")
  }

  private val root = "target/ann_lifecycle"

  private def append(spark: SparkSession, dir: String): Unit = {
    val all = Extended.vecs(spark, dir)
    val corpus = all.filter(col("vec_id") % 10 < 8)
    val large = all.filter(col("vec_id") % 10 >= 8)
    val batches = Seq("2%" -> all.filter(col("vec_id") % 100 >= 98),
      "20%" -> large, "80%" -> corpus)
    val sizes = batches.map(_._2.count().toDouble)
    println(s"[ann-lifecycle] dir=$dir batch rows " +
      s"${sizes.map(_.toLong).mkString("/")} (the 80% batch is the corpus)")
    val store = s"$root/append"
    time("build corpus store") {
      Extended.annBandStoreBuild(corpus,
        Extended.embLayoutCollect(spark, corpus), store)
    }
    val secs = batches.map { case (tag, b) =>
      time(s"append $tag batch") {
        Extended.annStoreApply(Extended.annEvents(b, "add"), store,
          Extended.annStoreNextBid(spark, store))
      }._2
    }
    time("full rebuild corpus+20%") {
      Extended.annBandStoreBuild(corpus.unionByName(large),
        Extended.annStoreLayout(spark, store), s"$root/rebuild")
    }
    secs.zip(sizes).sliding(2).foreach { case Seq((t0, n0), (t1, n1)) =>
      println(f"[ann-lifecycle] append time ratio ${t1 / t0}%.2f " +
        f"(batch-size ratio ${n1 / n0}%.2f)")
    }

    val search = s"$root/search"
    val (_, tBuild) = time("build search store") {
      Extended.annBandStoreBuild(all, Extended.embLayoutCollect(spark, all), search)
    }
    val (_, tSearch) = time("store search (fixed query batch)") {
      Extended.annStoreSearchDir(spark, all, search).count()
    }
    println(f"[ann-lifecycle] search/build ratio ${tSearch / tBuild}%.2f " +
      "(a fresh-recode search pays ~the build row per query batch)")
    val brute = Extended.cosineTopKAt(spark, dir, 5)
      .select(col("q_id"), col("nn_id")).localCheckpoint()
    val nTruth = brute.count().toDouble
    def recallOf(res: DataFrame): Double =
      res.select(col("q_id"), col("nn_id"))
        .join(brute, Seq("q_id", "nn_id"), "semi").count() / nTruth
    def multiProbe = Extended.annStoreSearchDir(spark, all, search,
      flipBits = Extended.EmbBits)
    val (_, tMp) = time("store search, multi-probe (9x list)")(multiProbe.count())
    val rEx = recallOf(Extended.annStoreSearchDir(spark, all, search))
    println(f"[ann-lifecycle] recall@5 exact $rEx%.3f -> multi-probe " +
      f"${recallOf(multiProbe)}%.3f (mp/exact search time ${tMp / tSearch}%.2f)")
  }

  private def gc(spark: SparkSession, dir: String): Unit = {
    val all = Extended.vecs(spark, dir)
    val store = s"$root/gc"
    val small = all.filter(col("vec_id") % 200 === 7)
    val big = all.filter(col("vec_id") % 10 === 3)
    // % 50 == 21 survives both deletes; half re-embed to reverse(v)
    // (codes move), half identically (zero writes), like ann_store_upsert
    val ups = Extended.annEvents(all.filter(col("vec_id") % 50 === 21), "ups",
      when(col("vec_id") % 100 === 21, reverse(col("v"))).otherwise(col("v")),
      col("v"))
    val fraction = big.count().toDouble / small.count()
    def apply(events: DataFrame): Unit = Extended.annStoreApply(events, store,
      Extended.annStoreNextBid(spark, store))
    (1 to 2).foreach { pass =>
      println(s"[ann-lifecycle] gc pass $pass")
      time("init store") {
        Extended.annBandStoreBuild(all, Extended.embLayoutCollect(spark, all), store)
      }
      val (_, d1) = time("delete 0.5%")(apply(Extended.annEvents(small, "del")))
      val (_, g1) = time("gc (tombstones only)")(Extended.annStoreGc(spark, store))
      val (_, d2) = time("delete 10%")(apply(Extended.annEvents(big, "del")))
      val (_, g2) = time("gc (compacting)")(Extended.annStoreGc(spark, store))
      time("upsert 2% (half changed)")(apply(ups))
      time("view count")(Extended.annStoreView(spark, store).count())
      println(f"[ann-lifecycle] compacting/tombstone-only delete+gc ratio " +
        f"${(d2 + g2) / (d1 + g1)}%.2f (deleted-fraction ratio $fraction%.1f)")
    }
  }

  private def stream(spark: SparkSession, dir: String): Unit = {
    val vecs = Extended.vecs(spark, dir).select(col("vec_id"), col("v"))
    val store = s"$root/stream"
    // fixed-ABSOLUTE batch slices (id-count-independent, so the batch
    // stays 500 events while the state grows a decade across dirs)
    val ids = vecs.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    require(ids.length >= 8000, s"corpus too small for the slices: ${ids.length}")
    time("build store") {
      Extended.annBandStoreBuild(vecs, Extended.embLayoutCollect(spark, vecs),
        store)
    }
    println(s"[ann-lifecycle] dir=$dir built=${ids.length} vecs")
    def slice(off: Int, per: Int, k: Int): Seq[Long] =
      ids.slice(off + k * per, off + (k + 1) * per).toSeq
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    val nullV = lit(null).cast("array<double>")
    def batch(k: Int): DataFrame = {
      val adds = vecs.filter(col("vec_id").isin(slice(4000, 300, k): _*))
        .select(lit("add").as("op"),
          (col("vec_id") + lit(10000000L)).as("vec_id"),
          concat(org.apache.spark.sql.functions.slice(col("v"), 2, dim - 1),
            org.apache.spark.sql.functions.slice(col("v"), 1, 1)).as("v"),
          nullV.as("v_old"))
      val dels = vecs.filter(col("vec_id").isin(slice(0, 100, k): _*))
        .select(lit("del").as("op"), col("vec_id"), col("v"), nullV.as("v_old"))
      val ups = vecs.filter(col("vec_id").isin(slice(1500, 100, k): _*))
        .select(lit("ups").as("op"), col("vec_id"),
          reverse(col("v")).as("v"), col("v").as("v_old"))
      adds.unionByName(dels).unionByName(ups)
    }
    val secs = (0 until 12).map { k =>
      time(f"merge batch $k%2d (500 events)") {
        Extended.annStoreApply(batch(k), store, k.toLong, foldEvery = 8)
      }._2
    }
    // the 8th live bid folds at foldEvery=8, and the build's fold bid −1
    // is the first: batch 6 folds
    val foldK = 6
    require(BidLog.isFold(spark, s"$store/log", foldK),
      "expected fold did not happen")
    val nonFold = secs.patch(foldK, Nil, 1).sorted
    println(f"[ann-lifecycle] non-fold batch median ${
      nonFold(nonFold.length / 2)}%.2f s, fold batch ${secs(foldK)}%.2f s")
    time("view count (post-fold, 5 live deltas)") {
      Extended.annStoreView(spark, store).count()
    }
  }
}
