package graft

import graft.ops.Extended

/** Property check for the maximal-span merge: on planted hit-position
  * shapes and random hit sets, [[Extended.maxSpansOf]]'s lag-based
  * island merge must equal a brute force that materializes each hit's
  * covered word interval [i, i+k-1], unions them, and reads islands off
  * the covered SET — the same independent formulation the DuckDB oracle
  * uses, here exercised on overlap geometries the fixtures never plant:
  * spans touching at exactly gap k (must fuse), gap k+1 (must split),
  * staircase chains, fully nested re-hits, and singletons.
  */
class SpanMergePropertySpec extends SparkSpec {
  import spark.implicits._

  /** (doc_id -> (n_spans, max_span_words, dup_words)) via covered set. */
  private def brute(hits: Seq[(Long, Int)],
      k: Int): Map[Long, (Long, Long, Long)] =
    hits.groupBy(_._1).map { case (doc, hs) =>
      val covered = hs.flatMap { case (_, i) => i until (i + k) }.toSet
      val runs = covered.toSeq.sorted
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, w) if w == e + 1 => (s, w) :: rest
          case (acc, w) => (w, w) :: acc
        }
        .map { case (s, e) => (e - s + 1).toLong }
      doc -> ((runs.size.toLong, runs.max, runs.sum))
    }

  private def run(hits: Seq[(Long, Int)],
      k: Int): Map[Long, (Long, Long, Long)] =
    Extended.maxSpansOf(hits.toDF("doc_id", "i"), k)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, n, mx, tot) => d -> ((n, mx, tot)) }.toMap

  test("planted overlap geometries: touch-at-k fuses, gap k+1 splits") {
    val k = 8
    val hits = Seq(
      1L -> 10, 1L -> 18,          // gap exactly k: [10,17]+[18,25] fuse
      2L -> 10, 2L -> 19,          // gap k+1: two separate spans
      3L -> 10, 3L -> 12, 3L -> 14, // staircase chain: one span [10,21]
      4L -> 10, 4L -> 10,          // duplicate hit row: still one span
      5L -> 7)                     // singleton: one span of k words
    val got = run(hits.distinct, k)
    assert(got === brute(hits, k))
    assert(got(1L) === ((1L, 16L, 16L)), s"touch-at-k must fuse: $got")
    assert(got(2L) === ((2L, 8L, 16L)), s"gap k+1 must split: $got")
    assert(got(3L) === ((1L, 12L, 12L)), s"staircase must chain: $got")
    assert(got(5L) === ((1L, 8L, 8L)), s"singleton span is k wide: $got")
  }

  test("span merge == covered-set brute force on random hit sets") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val k = Seq(3, 8, 5)(trial - 1)
      val hits = (1L to 20L).flatMap { doc =>
        val n = 1 + rnd.nextInt(15)
        Seq.fill(n)(doc -> (1 + rnd.nextInt(60)))
      }.distinct
      val got = run(hits, k)
      val want = brute(hits, k)
      assert(got === want, s"trial $trial (k=$k)")
      assert(want.values.exists(_._1 > 1),
        s"trial $trial: vacuous — no doc with a split span")
    }
  }
}
