package graft.tools

import graft.core.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Embedding-family scale probe with PLANTED ground truth (SCALING.md):
  * the general sf1/sf10 probe measures RUNTIME growth, but recall needs
  * true near-duplicates, and the fixtures' near-isotropic embeddings
  * contain none at production cosine (max inter-vector cosine ~0.5) —
  * evaluating recall on the fixture's cos ≥ 0.2 pairs would measure the
  * documented wide-code trade-off, not the banded family's fitness for
  * the pairs it exists for (cos ≥ 0.9 duplicates). So:
  *
  *  - `gen <srcDir> <outDir> <factor> <nPlant>`: upsample the fixture
  *    embeddings ×factor through the SAME isometry GenScale uses
  *    (rotation + sign diagonal — [[GenScale.embReplica]]), then plant
  *    nPlant high-cosine partners: partner_i = v_i + 0.42·(|v|/|g|)·g
  *    with deterministic per-i noise g → cos(v, v') = 1/√(1+0.42²) ≈
  *    0.92, the production near-dup operating point. Partner ids sit
  *    past every replica; the (base, partner) truth list is written
  *    beside the corpus.
  *  - `eval <outDir>`: run the registered `embed_near_dup` query
  *    end-to-end on the probe corpus, report wall time, output pairs,
  *    the ladder's (nb, nbands) at this corpus count, and RECALL on the
  *    planted truth. The adaptive ladder claim this instruments:
  *    1−(1−p^nb)^bands stays ≈ 0.7-0.8 at p ≈ 0.87 (cos 0.92) across
  *    the whole ladder, so recall must NOT collapse as the corpus count
  *    pushes nb up — a fixed 4-band layout at nb = 18 would measure
  *    ~0.29 here.
  */
object AnnProbe {

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("gen", src, out, factor, plant) =>
      gen(spark, src, out, factor.toInt, plant.toInt)
    case Seq("eval", out)       => eval(spark, out)
    case Seq("evalstrict", out) => evalStrict(spark, out)
    case Seq("recall", out)     => recall(spark, out)
    case _ => sys.error("usage: ann <gen src out factor nPlant|eval out|" +
      s"evalstrict out|recall out>; got ${args.mkString(" ")}")
  }

  private def gen(spark: SparkSession, src: String, out: String,
      factor: Int, nPlant: Int): Unit = {
    val emb = Tables.embeddings(spark, src)
    val vecBase = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // chunk the replica union: a single factor-wide unionAll (1000
    // subtrees at the 2M probe) pays O(factor) Catalyst analysis per
    // branch — write in slices of 50 instead, appending
    def replicaSlice(lo: Int, hi: Int) = (lo until hi)
      .map(i => GenScale.embReplica(emb, i, vecBase, dim))
      .reduce(_.unionAll(_))
      .select(col("vec_id"), col("embedding"), col("label"))
    // planted partners: deterministic noise at the cos≈0.92 operating
    // point; ids past every replica so d1 < d2 always orients base-first
    val bases = emb.orderBy(col("vec_id")).limit(nPlant)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
    val planted = bases.zipWithIndex.map { case (row, i) =>
      val id = row.getLong(0)
      val v = row.getSeq[Float](1).toArray
      val r = new scala.util.Random(0xc2b2ae35L * (i + 1))
      val g = Array.fill(dim)((r.nextFloat() - 0.5f))
      val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
      val ng = math.sqrt(g.map(x => x.toDouble * x).sum)
      val s = 0.42 * nv / ng
      (factor.toLong * vecBase + id,
        v.indices.map(j => (v(j) + s * g(j)).toFloat).toArray,
        row.getInt(2), id)
    }
    import spark.implicits._
    val plantedDf = spark.createDataset(planted.toSeq)
      .toDF("vec_id", "embedding", "label", "base_id")
    replicaSlice(0, math.min(50, factor))
      .unionAll(plantedDf.select(col("vec_id"), col("embedding"), col("label")))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    (50 until factor by 50).foreach { lo =>
      replicaSlice(lo, math.min(lo + 50, factor)).repartition(16)
        .write.mode("append").parquet(s"$out/embeddings.parquet")
    }
    plantedDf.select(col("base_id").as("d1"), col("vec_id").as("d2"))
      .write.mode("overwrite").parquet(s"$out/planted.parquet")
    println(s"[annprobe] gen done: ${factor}x${vecBase} + $nPlant planted -> $out")
  }

  private def eval(spark: SparkSession, out: String): Unit = {
    val t0 = System.nanoTime()
    val found = graft.ops.Extended.embedNearDup.fn(spark, out)
    val nPairs = found.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val truth = spark.read.parquet(s"$out/planted.parquet")
    val nTruth = truth.count()
    val nHit = truth.join(found, Seq("d1", "d2"), "left_semi").count()
    val nVecs = Tables.embeddings(spark, out).count()
    val ladder = spark.sql(
      s"SELECT ${graft.ops.Extended.nbLadder(nVecs.toString)} AS nb, " +
        s"${graft.ops.Extended.nBandsLadder(nVecs.toString)} AS nbands")
      .head()
    println(s"""{"metric":"ann_probe","n_vecs":$nVecs,"nb":${ladder.getInt(0)},""" +
      s""""nbands":${ladder.getInt(1)},"pairs":$nPairs,"secs":$secs,""" +
      s""""truth":$nTruth,"hit":$nHit,"recall":${nHit.toDouble / nTruth}}""")
  }

  /** PRODUCTION-CUT probe for the near-dup/semantic-dedup family (r16
    * verdict task 5): the registered `embed_near_dup_strict` emits at
    * 0.40 — the tightest cut the ISOTROPIC fixtures keep non-vacuous —
    * and its sf10 output is chance-dominated (P(cos ≥ 0.4) = 4.8e-4 at
    * 64 dims). This mode runs the SAME machinery (embScoredPairs — the
    * banded in-bucket-scoring subplan every strict/semantic consumer
    * shares) at a REAL production cut of 0.90 over a corpus with
    * PLANTED cos ≈ 0.92 truth (`gen`'s partners): chance pairs at 0.9
    * are probabilistically impossible (P ≈ 1e-24), so the output is
    * exactly the surviving planted pairs — recall IS the banding's
    * recall at the production operating point, and output size is
    * linear in the planted count (scaled with the corpus across probe
    * sizes, the replica-linear leg).
    */
  private def evalStrict(spark: SparkSession, out: String): Unit = {
    val t0 = System.nanoTime()
    val found = graft.ops.Extended.embScoredPairs(
        graft.ops.Extended.vecs(spark, out))
      .filter(col("cos6") >= 0.90)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = found.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val truth = spark.read.parquet(s"$out/planted.parquet")
    val nTruth = truth.count()
    val nHit = truth.join(found, Seq("d1", "d2"), "left_semi").count()
    found.unpersist()
    val nVecs = Tables.embeddings(spark, out).count()
    val ladder = spark.sql(
      s"SELECT ${graft.ops.Extended.nbLadder(nVecs.toString)} AS nb, " +
        s"${graft.ops.Extended.nBandsLadder(nVecs.toString)} AS nbands")
      .head()
    println(s"""{"metric":"ann_probe_strict","n_vecs":$nVecs,"nb":${ladder.getInt(0)},""" +
      s""""nbands":${ladder.getInt(1)},"pairs":$nPairs,"secs":$secs,""" +
      s""""truth":$nTruth,"hit":$nHit,"recall":${nHit.toDouble / nTruth},""" +
      s""""chance":${nPairs - nHit}}""")
  }

  /** CANDIDATE-recall probe for corpora where the full in-bucket-scoring
    * run is output/disk-bound (the 10M-vector probe filled 75 GB of
    * shuffle before finishing — 26 bands × 64-float payload per banded
    * row, then a data-quadratic cos ≥ 0.2 output on the isotropic
    * corpus; both are properties of the probe configuration, not the
    * candidate machinery the ladder governs). This mode measures exactly
    * what the band ladder is for — P(planted pair shares ≥ 1 band code
    * in an under-cap bucket) — over the PAYLOAD-FREE code frame
    * ([[graft.ops.Extended.embBandCodes]], 20 B/row: same bit
    * expressions as the registered queries), plus the bucket-occupancy
    * distribution. A planted pair at cos 0.92 that reaches a shared
    * bucket always survives the exact verify at any production cut, so
    * candidate recall IS end-to-end recall for the planted truth.
    */
  private def recall(spark: SparkSession, out: String): Unit = {
    val t0 = System.nanoTime()
    val vecs = Tables.embeddings(spark, out)
      .select(col("vec_id"), col("embedding").as("v"))
    val codes = graft.ops.Extended.embBandCodes(vecs)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val occ = codes.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), avg(col("n")).as("mean"),
        expr("percentile(n, 0.99e0)").as("p99"),
        sum(when(col("n") > 1000, 1).otherwise(0)).as("over_cap"))
      .head()
    val truth = spark.read.parquet(s"$out/planted.parquet")
    val nTruth = truth.count()
    val sizes = codes.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("bn"))
    val t1c = truth.join(codes.withColumnRenamed("vec_id", "d1"), Seq("d1"))
    val t2c = truth.join(codes.withColumnRenamed("vec_id", "d2"), Seq("d2"))
      .select(col("d1"), col("d2"), col("band"), col("code"))
    val nHit = t1c.join(t2c, Seq("d1", "d2", "band", "code"))
      .join(sizes, Seq("band", "code"))
      .filter(col("bn").between(2, 1000))
      .select(col("d1"), col("d2")).distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    val nVecs = vecs.count()
    val ladder = spark.sql(
      s"SELECT ${graft.ops.Extended.nbLadder(nVecs.toString)} AS nb, " +
        s"${graft.ops.Extended.nBandsLadder(nVecs.toString)} AS nbands")
      .head()
    codes.unpersist()
    println(s"""{"metric":"ann_probe_recall","n_vecs":$nVecs,"nb":${ladder.getInt(0)},""" +
      s""""nbands":${ladder.getInt(1)},"secs":$secs,"truth":$nTruth,"hit":$nHit,""" +
      s""""recall":${nHit.toDouble / nTruth},"bucket_max":${occ.getLong(0)},""" +
      s""""bucket_mean":${occ.getDouble(1)},"bucket_p99":${occ.getDouble(2)},""" +
      s""""over_cap":${occ.getLong(3)}}""")
  }
}
