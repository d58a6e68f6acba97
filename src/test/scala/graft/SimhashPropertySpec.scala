package graft

import graft.ops.Extended

/** Property check for the SimHash banding join: on random signatures
  * with ADVERSARIALLY planted mutations, the banded candidate +
  * row-local Hamming verify must return EXACTLY the brute-force
  * all-pairs Hamming ≤ (bands−1) result — at BOTH registered widths
  * (32-bit/8-bit bands and the production 64-bit/16-bit bands). The
  * pigeonhole theorem (≤ bands−1 flips can't touch all bands) is
  * trivially true — what this spec actually guards is the
  * IMPLEMENTATION: band extraction (shift/mask arithmetic — at 64 bits
  * the top band sits under the sign bit, so an unmasked arithmetic
  * shiftright would smear sign bits into the code), the pair-expand,
  * the ride-along signature, and the verify-before-distinct, on shapes
  * the fixtures don't produce (band-boundary-straddling flips,
  * all-flips-in-one-band, exact hamming-(bands) negatives planted one
  * flip per band).
  */
class SimhashPropertySpec extends SparkSpec {
  import spark.implicits._

  private def brute(sigs: Map[Long, Long],
      bands: Int): Set[(Long, Long, Int)] = {
    val ids = sigs.keys.toSeq.sorted
    (for {
      i <- ids; j <- ids if i < j
      h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      if h <= bands - 1
    } yield (i, j, h)).toSet
  }

  private def check(bits: Int, bands: Int): Unit = {
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandBits = bits / bands
    val rnd = new scala.util.Random(11)
    def randSig(): Long = rnd.nextLong() & mask
    val base = (1L to 60L).map(i => i -> randSig()).toMap
    def flip(sig: Long, fbits: Seq[Int]): Long =
      fbits.foldLeft(sig)((s, b) => s ^ (1L << b)) & mask
    var next = 100L
    def derive(from: Long, fbits: Seq[Int]): (Long, Long) = {
      next += 1; next -> flip(base(from), fbits)
    }
    val top = bits - 1
    val planted = Map(
      derive(1L, Nil), // exact duplicate
      derive(2L, Seq(5)), // 1 flip inside band 0
      // 2 flips straddling the band-0/1 boundary
      derive(3L, Seq(bandBits - 1, bandBits)),
      derive(4L, Seq(0, 1, 2)), // 3 flips all inside one band
      // 3 flips in 3 different bands
      derive(5L, Seq(bandBits - 1, 2 * bandBits - 1, 3 * bandBits - 1)),
      // hamming 4, one per band: MUST be absent
      derive(6L, Seq(3, bandBits + 3, 2 * bandBits + 3, 3 * bandBits + 3)),
      derive(7L, Seq(top)), // top-bit flip (sign/mask edge)
      derive(8L, Seq(top, top - 1, top - 2)) // 3 flips in the top band
    )
    val sigs = base ++ planted
    val got = Extended.simhashPairsOf(
        sigs.toSeq.toDF("doc_id", "simhash"), bits, bands)
      .as[(Long, Long, Int)].collect().toSet
    val want = brute(sigs, bands)
    assert(got === want,
      s"$bits-bit: missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // non-vacuity: all 7 planted positives must actually appear, and the
    // planted hamming-4 pair (6, 106) must NOT
    assert(want.size >= 7, s"$bits-bit vacuous: only ${want.size} true pairs")
    assert(!got.exists(p => p._1 == 6L && p._2 == 106L),
      s"$bits-bit: hamming-${bands} negative leaked through the verify filter")
  }

  test("banded pairs == brute force on adversarial 32-bit signatures") {
    check(Extended.SimBits, Extended.SimBands)
  }

  test("banded pairs == brute force on adversarial 64-bit signatures") {
    check(Extended.SimWideBits, Extended.SimBands)
  }

  /** The 128-bit two-word rung (r16): same adversary construction over
    * (simhash, simhash2) with the flips that only exist at this width —
    * the 64/65 WORD-SEAM straddle (one flip in each word, adjacent bit
    * positions, different bands), the lo-word band-0/1 straddle, the
    * hi-word top band under the second word's sign bit, and the
    * hamming-4 one-per-band negative.
    */
  test("banded pairs == brute force on adversarial 128-bit two-word signatures") {
    val bands = Extended.SimBands
    val bandBits = 128 / bands // 32
    val rnd = new scala.util.Random(31)
    val base = (1L to 60L).map(i => i -> (rnd.nextLong(), rnd.nextLong())).toMap
    def flip(sig: (Long, Long), fbits: Seq[Int]): (Long, Long) =
      fbits.foldLeft(sig) { case ((lo, hi), b) =>
        if (b < 64) (lo ^ (1L << b), hi) else (lo, hi ^ (1L << (b - 64)))
      }
    var next = 100L
    def derive(from: Long, fbits: Seq[Int]): (Long, (Long, Long)) = {
      next += 1; next -> flip(base(from), fbits)
    }
    val planted = Map(
      derive(1L, Nil), // exact duplicate
      derive(2L, Seq(5)), // 1 flip inside band 0
      derive(3L, Seq(bandBits - 1, bandBits)), // band-0/1 straddle (lo word)
      derive(4L, Seq(63, 64)), // WORD-SEAM straddle: bands 1 and 2, two words
      derive(5L, Seq(31, 63, 95)), // 3 flips in 3 different bands/words
      // hamming 4, one per band: MUST be absent
      derive(6L, Seq(3, 35, 67, 99)),
      derive(7L, Seq(127)), // top bit of the SECOND word (sign/mask edge)
      derive(8L, Seq(127, 126, 125)) // 3 flips in the top band
    )
    val sigs = base ++ planted
    val brute = (for {
      i <- sigs.keys.toSeq.sorted; j <- sigs.keys.toSeq.sorted if i < j
      h = java.lang.Long.bitCount(sigs(i)._1 ^ sigs(j)._1) +
        java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= bands - 1
    } yield (i, j, h)).toSet
    val df = sigs.toSeq.map { case (id, (lo, hi)) => (id, lo, hi) }
      .toDF("doc_id", "simhash", "simhash2")
    val got = Extended.simhashPairsOf(df, 128, bands)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute,
      s"128-bit: missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.size >= 7, s"128-bit vacuous: only ${brute.size} true pairs")
    assert(!got.exists(p => p._1 == 6L && p._2 == 106L),
      "128-bit: hamming-4 negative leaked through the verify filter")
  }

  /** Three-rung adaptive equivalence (r16): on a two-word signature
    * frame the adaptive path must reproduce the fixed-width path at
    * EVERY rung — 32 below the floor, 64 between the floor and Sim128N
    * (simhash2 zeroed), 128 above Sim128N.
    */
  test("adaptive path == fixed-width path at all three rungs") {
    val rnd = new scala.util.Random(47)
    val sims = (1L to 300L).map(i => (i, rnd.nextLong(), rnd.nextLong()))
    val df128 = sims.toDF("doc_id", "simhash", "simhash2")
    val df64 = sims.map { case (i, lo, _) => (i, lo) }.toDF("doc_id", "simhash")
    val df32 = sims.map { case (i, lo, _) => (i, lo & 0xFFFFFFFFL) }
      .toDF("doc_id", "simhash")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    assert(run(Extended.simhashPairsAdaptiveFrom(df128, Seq(100L).toDF("nd")))
      === run(Extended.simhashPairsOf(df32, 32, 4)))
    assert(run(Extended.simhashPairsAdaptiveFrom(df128,
        Seq(Extended.SimWidthLadderN + 1).toDF("nd")))
      === run(Extended.simhashPairsOf(df64, 64, 4)))
    assert(run(Extended.simhashPairsAdaptiveFrom(df128,
        Seq(Extended.Sim128N + 1).toDF("nd")))
      === run(Extended.simhashPairsOf(df128, 128, 4)))
  }

  /** The round-15 verdict adversary: an over-cap band bucket DROPS the
    * one true pair whose ONLY shared band is the flooded one — the cap
    * is a silent recall hole at fixed width (measured live: 6.9% of
    * true pairs at sf0.1, 28.6% at the 10× probe) — and the
    * count-adaptive width ladder recovers the pair by dispersing the
    * flood across the 65 536-code 16-bit bands. Construction: A and B
    * at Hamming 3 with one flip in each of bands 1..3 (so band 0 is
    * their only agreement), plus 999 fillers sharing A's band-0 code
    * but pairwise ≥ 4 flips apart (greedy-filtered), flooding the
    * bucket to 1001 > 1000.
    */
  test("over-cap bucket drops the only-shared-band pair; width ladder recovers it") {
    val code0 = 0x5AL
    val uA = 0xABCDEF
    val uB = uA ^ 0x020202 // pattern bits 1, 9, 17 → sig bits 9, 17, 25
    val rnd = new scala.util.Random(7)
    val kept = scala.collection.mutable.ArrayBuffer[Int]()
    while (kept.size < 999) {
      val c = rnd.nextInt() & 0xFFFFFF
      if (Integer.bitCount(uA ^ c) >= 4 && Integer.bitCount(uB ^ c) >= 4 &&
          kept.forall(k => Integer.bitCount(k ^ c) >= 4))
        kept += c
    }
    def sig32(u: Int): Long = code0 | (u.toLong << 8)
    val sigs32 = Seq(1L -> sig32(uA), 2L -> sig32(uB)) ++
      kept.zipWithIndex.map { case (u, i) => (100L + i) -> sig32(u) }
    assert(java.lang.Long.bitCount(sig32(uA) ^ sig32(uB)) === 3)
    val df32 = sigs32.toDF("doc_id", "simhash")

    val uncapped = Extended.simhashPairsOf(df32, 32, 4, Int.MaxValue)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped === Set((1L, 2L, 3)),
      s"uncapped truth should be exactly the planted pair: $uncapped")
    val capped = Extended.simhashPairsOf(df32, 32, 4, 1000)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped === Set.empty,
      s"the flooded band-0 bucket must (loudly, per this spec) drop the " +
        s"planted pair at fixed 32-bit width: $capped")

    // 64-bit extension: A and B share the salted upper word (their
    // Hamming stays 3); fillers get random upper words, so the ladder's
    // 16-bit bands disperse the flood and bands 2..3 recover the pair.
    val hiAB = 0x13572468L
    val sims64 = sigs32.map { case (id, lo) =>
      val hi = if (id <= 2L) hiAB else rnd.nextInt().toLong & 0xFFFFFFFFL
      (id, (hi << 32) | lo)
    }.toDF("doc_id", "simhash")
    val aboveFloor = Extended.simhashPairsAdaptiveFrom(
        sims64, Seq(Extended.SimWidthLadderN + 1).toDF("nd"))
      .as[(Long, Long, Int)].collect().toSet
    assert(aboveFloor === Set((1L, 2L, 3)),
      s"the 64-bit rung must recover the planted pair: $aboveFloor")
    val belowFloor = Extended.simhashPairsAdaptiveFrom(
        sims64, Seq(100L).toDF("nd"))
      .as[(Long, Long, Int)].collect().toSet
    assert(belowFloor === Set.empty,
      "below the floor the adaptive path must reproduce the historical " +
        "capped 32-bit behavior bit-for-bit (including this documented drop)")
  }

  /** Implementation equivalence of the adaptive path against the
    * property-tested fixed-width path on BOTH sides of the floor, on
    * random signatures (no planted structure): masking + band-width
    * arithmetic must be the only difference.
    */
  test("adaptive path == fixed-width path on either side of the floor") {
    val rnd = new scala.util.Random(23)
    val sims64 = (1L to 300L).map(i => (i, rnd.nextLong()))
    val df64 = sims64.toDF("doc_id", "simhash")
    val df32 = sims64.map { case (i, s) => (i, s & 0xFFFFFFFFL) }
      .toDF("doc_id", "simhash")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    assert(run(Extended.simhashPairsAdaptiveFrom(df64, Seq(100L).toDF("nd")))
      === run(Extended.simhashPairsOf(df32, 32, 4)))
    assert(run(Extended.simhashPairsAdaptiveFrom(df64,
        Seq(Extended.SimWidthLadderN + 1).toDF("nd")))
      === run(Extended.simhashPairsOf(df64, 64, 4)))
  }
}
