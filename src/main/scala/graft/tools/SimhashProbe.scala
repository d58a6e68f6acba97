package graft.tools

import graft.ops.Extended
import graft.tools.Run.time
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Occupancy / recall probe for the SimHash banding family (round-15
  * verdict task 1: the text SimHash near-dup buckets on a FIXED
  * band-code domain — 256 codes/band at 32 bits, 65 536 at 64 — with a
  * silent 1000-member cap drop; exactly the round-13 fixed-domain
  * class). For a fixture dir this prints, per width:
  *
  *  - the (band, code) bucket occupancy distribution (max / p99 / mean,
  *    buckets over the cap, docs living in over-cap buckets), i.e. how
  *    close the silent drop is to firing;
  *  - the candidate-pair volume the cap admits vs what an UNCAPPED run
  *    admits (only computed when the uncapped expand is feasible), i.e.
  *    the concrete true-pair loss the cap causes at that scale.
  *
  * Usage: Run simhash <sfDir> [uncapped] [uncapped64] [phash] [idf] [bits128]
  * Unrecognized extra args fail loudly (the round-14 subset-harness rule:
  * a silently ignored flag makes the probe's capped-only output look like
  * a completed pair-loss measurement).
  */
object SimhashProbe {

  private def occupancy(sims: DataFrame, bits: Int, cap: Int): Unit = {
    val bands = Extended.SimBands
    val bandBits = bits / bands
    val bandStructs = (0 until bands).map { b =>
      s"struct($b AS band, shiftright(simhash, ${bandBits * b}) & ${(1L << bandBits) - 1} AS code)"
    }.mkString(", ")
    val occ = sims
      .select(explode(expr(s"array($bandStructs)")).as("bs"))
      .groupBy(col("bs.band"), col("bs.code"))
      .agg(count(lit(1)).as("m"))
      .agg(max(col("m")).as("mx"),
        expr("percentile(m, 0.99e0)").as("p99"),
        avg(col("m")).as("mean"),
        count(lit(1)).as("buckets"),
        sum(when(col("m") > cap, 1).otherwise(0)).as("over_cap"),
        sum(when(col("m") > cap, col("m")).otherwise(0L)).as("docs_in_over"))
      .head()
    println(f"[simhash-probe] bits=$bits bandBits=$bandBits cap=$cap " +
      f"max=${occ.getLong(0)} p99=${occ.getDouble(1)}%.1f mean=${occ.getDouble(2)}%.1f" +
      f" buckets=${occ.getLong(3)} overCap=${occ.getLong(4)} docsInOver=${occ.getLong(5)}")
  }

  /** For every over-cap bucket: is it a TRUE clique (one distinct
    * signature — i.e. hamming-0 duplicates no signature width can
    * subdivide, the pair-contract's inherent quadratic wall) or an
    * incidental band-code collision (many distinct signatures — fixable
    * by widening)?
    */
  private def overCapAnatomy(sims: DataFrame, bits: Int, cap: Int): Unit = {
    val bands = Extended.SimBands
    val bandBits = bits / bands
    val bandStructs = (0 until bands).map { b =>
      s"struct($b AS band, shiftright(simhash, ${bandBits * b}) & ${(1L << bandBits) - 1} AS code)"
    }.mkString(", ")
    sims
      .select(explode(expr(s"array($bandStructs)")).as("bs"), col("simhash"))
      .groupBy(col("bs.band"), col("bs.code"))
      .agg(count(lit(1)).as("m"),
        countDistinct(col("simhash")).as("nsig"))
      .filter(col("m") > cap)
      .orderBy(col("m").desc)
      .collect().take(10)
      .foreach(r => println(s"[simhash-probe] overcap bits=$bits band=${r.get(0)} " +
        s"code=${r.get(1)} members=${r.get(2)} distinctSigs=${r.get(3)}"))
  }

  private def pairCount(sims: DataFrame, bits: Int, cap: Int): Long =
    Extended.simhashPairsOf(sims, bits, Extended.SimBands, cap).count()

  /** Occupancy over the 128-bit two-word signature's 32-bit bands
    * (bands 0-1 from simhash, 2-3 from simhash2).
    */
  private def occupancy128(sims: DataFrame, cap: Int): Unit = {
    val bandStructs = (0 until Extended.SimBands).map { b =>
      val off = 32 * b
      val src = if (off < 64) s"shiftright(simhash, $off)"
        else s"shiftright(simhash2, ${off - 64})"
      s"struct($b AS band, $src & 4294967295 AS code)"
    }.mkString(", ")
    val occ = sims
      .select(explode(expr(s"array($bandStructs)")).as("bs"))
      .groupBy(col("bs.band"), col("bs.code"))
      .agg(count(lit(1)).as("m"))
      .agg(max(col("m")).as("mx"),
        expr("percentile(m, 0.99e0)").as("p99"),
        avg(col("m")).as("mean"),
        count(lit(1)).as("buckets"),
        sum(when(col("m") > cap, 1).otherwise(0)).as("over_cap"))
      .head()
    println(f"[simhash-probe] bits=128 bandBits=32 cap=$cap " +
      f"max=${occ.getLong(0)} p99=${occ.getDouble(1)}%.1f mean=${occ.getDouble(2)}%.1f" +
      f" buckets=${occ.getLong(3)} overCap=${occ.getLong(4)}")
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.head
    val known = Set("uncapped", "uncapped64", "phash", "idf", "bits128")
    val unknown = args.drop(1).filterNot(known)
    require(unknown.isEmpty,
      s"unknown SimhashProbe flags: ${unknown.mkString(", ")} (known: ${known.mkString(", ")})")
    val uncapped = args.contains("uncapped")

    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val phashMode = args.contains("phash")
    // `idf` runs the registered queries' weighted-vote path (count-gated:
    // weights activate above the ladder floor, which every probe dir is)
    val idf = args.contains("idf")
    // phash pixels carry no per-word votes, so idf is inapplicable there —
    // fail loudly instead of printing idf=true and silently ignoring it
    // (the round-14 silent-flag class)
    require(!(phashMode && idf),
      "idf is inapplicable in phash mode (pixel sums have no word votes)")
    println(s"[simhash-probe] dir=$sfDir docs=$nDocs " +
      s"mode=${if (phashMode) "phash" else "simhash"} idf=$idf")
    val ndF = graft.core.Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("nd"))
    val sims64raw =
      if (phashMode)
        graft.ops.Multimodal.phashOf(
          graft.ops.Multimodal.media(spark, sfDir)
            .select(col("doc_id"), col("payload")))
          .select(col("doc_id"), col("ph64").as("simhash"))
      else Extended.simhashSigs(spark, sfDir, 64,
        if (idf) Some(ndF) else None, idf = idf)
    val sims64 = sims64raw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage attribution: first action materializes the signature/pixel
    // compute into the cache; the later pairCount on the persisted frame
    // times banding + pair-expand + verify alone
    val (nSig, _) = time("stage sig-compute")(sims64.count())
    println(s"[simhash-probe] signatures=$nSig")
    val sims32 = sims64.select(col("doc_id"),
      expr("simhash & 4294967295").as("simhash"))
    occupancy(sims32, 32, 1000)
    occupancy(sims64, 64, 1000)
    overCapAnatomy(sims64, 64, 1000)
    val capped32 = pairCount(sims32, 32, 1000)
    println(s"[simhash-probe] pairs32 capped=$capped32")
    if (uncapped) {
      val un32 = pairCount(sims32, 32, Int.MaxValue)
      println(s"[simhash-probe] pairs32 UNCAPPED=$un32 lost=${un32 - capped32}")
    }
    val (capped64, _) = time("stage band+pairs64")(pairCount(sims64, 64, 1000))
    println(s"[simhash-probe] pairs64 capped=$capped64")
    if (args.contains("uncapped64")) {
      val un64 = pairCount(sims64, 64, Int.MaxValue)
      println(s"[simhash-probe] pairs64 UNCAPPED=$un64 lost=${un64 - capped64}")
    }
    if (args.contains("bits128")) {
      // FORCED third rung: the hash-material gate runs at a synthetic
      // count just past the family's rung threshold so the wide words
      // materialize at probe scale — band-code occupancy at 32-bit
      // bands is what this row measures. In phash mode (r16 task 4)
      // the second word is the gated plane-2 aHash|dHash from
      // Multimodal.phashOf and the gate is the phash-specific
      // Phash128N; in text mode it is the salted-md5 pair behind
      // Sim128N (add `idf` there to reproduce the rejected weighted
      // run).
      val sims128 = (if (phashMode) {
        val forced = spark.range(1)
          .select(lit(graft.ops.Multimodal.Phash128N + 1).as("nd"))
        graft.ops.Multimodal.phashOf(
            graft.ops.Multimodal.media(spark, sfDir)
              .select(col("doc_id"), col("payload")),
            Some(forced))
          .select(col("doc_id"), col("ph64").as("simhash"),
            col("ph64b").as("simhash2"))
      } else {
        val forced = spark.range(1)
          .select(lit(Extended.Sim128N + 1).as("nd"))
        Extended.simhashSigs(spark, sfDir, 128, Some(forced), idf = idf)
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      occupancy128(sims128, 1000)
      val capped128 = pairCount(sims128, 128, 1000)
      val un128 = pairCount(sims128, 128, Int.MaxValue)
      println(s"[simhash-probe] pairs128 capped=$capped128 UNCAPPED=$un128 lost=${un128 - capped128}")
      sims128.unpersist()
    }
    sims64.unpersist()
  }
}
