package graft

import graft.ops.Extended

/** Property check for the multi-round greedy BPE core: on planted and
  * random corpora, the round-unrolled Spark plan must match an in-JVM
  * reference that does the canonical explicit leftmost scan (index
  * walk, i += 2 on match — deliberately NOT the engine's fold
  * formulation). The fixtures' top-5 merges are all char-char, so only
  * this spec exercises the two shapes that make multi-round BPE subtle:
  * a MERGED symbol winning a later round, and the a == b
  * leftmost-non-overlapping scan ("aaaa" → ["aa","aa"], never
  * ["aa","a","a"] or a re-scan of the fresh merge).
  */
class BpePropertySpec extends SparkSpec {
  import spark.implicits._

  private def mergeSeq(s: Vector[String], a: String,
      b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Reference greedy BPE over (syms, freq) rows; tie-break mirrors the
    * engine: count desc, then the space-joined pair string asc.
    */
  private def refBpe(rows0: Seq[(Vector[String], Long)],
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var rows = rows0
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- rows; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val ((a, b), c) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, s"$a $b") }
      rows = rows.map { case (syms, f) => (mergeSeq(syms, a, b), f) }
      (r, a, b, a + b, c)
    }
  }

  private def run(rows: Seq[(Vector[String], Long)], rounds: Int) = {
    val df = rows.map { case (s, f) => (s.toSeq, f) }.toDF("syms", "freq")
    Extended.bpeMergeRoundsOf(df, rounds)
      .as[(Int, String, String, String, Long)].collect().toSeq
  }

  test("merged symbol wins a later round (abab → ab ab → abab)") {
    val corpus = Seq(
      (Vector("a", "b", "a", "b"), 10L),   // r1: (a,b); r2: (ab,ab)
      (Vector("c", "d"), 3L))
    val got = run(corpus, 3)
    assert(got === refBpe(corpus, 3))
    assert(got(1) === ((2, "ab", "ab", "abab", 10L)),
      s"round 2 should merge the round-1 symbol with itself: $got")
  }

  test("a == b run is merged leftmost non-overlapping (aaaa → aa aa)") {
    val corpus = Seq((Vector("a", "a", "a", "a"), 5L),
      (Vector("b", "c"), 1L))
    val got = run(corpus, 2)
    assert(got === refBpe(corpus, 2))
    // after r1 the word is ["aa","aa"]: r2's winner must be (aa,aa)
    // with count 5 — ["aa","a","a"] would instead leave (aa,a)/(a,a)
    assert(got(1) === ((2, "aa", "aa", "aaaa", 5L)), s"got $got")
  }

  test("bpe rounds == reference scan on random small-alphabet corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val corpus = (1 to 25).map { _ =>
        val n = 6 + rnd.nextInt(7)
        (Vector.fill(n)(("a".charAt(0) + rnd.nextInt(3)).toChar.toString),
          1L + rnd.nextInt(5))
      }
      val got = run(corpus, 6)
      val want = refBpe(corpus, 6)
      assert(got === want, s"trial $trial: $got vs $want")
      assert(want.forall(_._5 > 0), s"trial $trial: vacuous round")
    }
  }
}
