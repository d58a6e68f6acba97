package graft

import graft.core.Text
import graft.ops.Extended

/** Property check for content-defined chunking: the in-plan fold must
  * match a JVM reference chunker (Text.jvmH32 is bit-identical to the
  * Column h32) on random word sequences, and the paradigm's selling
  * point — SHIFT-INVARIANT resynchronization — must actually hold: a
  * junk prefix inserted before a document changes only the chunks up
  * to the document's first boundary word; every later chunk keeps its
  * identity. Fixed-offset shingles can't do this, and no fixture
  * exercises it (the corpus has no prefix-mutated near-dup pairs).
  */
class CdcPropertySpec extends SparkSpec {
  import spark.implicits._

  private def isBoundary(w: String): Boolean = Text.jvmH32(w) % 8 == 0

  /** Reference chunker: split AFTER each boundary word. */
  private def refChunks(ws: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cur = List.empty[String]
    ws.foreach { w =>
      cur ::= w
      if (isBoundary(w)) { out += cur.reverse.mkString(" "); cur = Nil }
    }
    if (cur.nonEmpty) out += cur.reverse.mkString(" ")
    out.result()
  }

  private def run(docs: Map[Long, Seq[String]]): Map[Long, Set[Long]] =
    Extended.cdcChunkHashes(docs.toSeq.map { case (id, ws) => (id, ws) }
        .toDF("doc_id", "w"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }

  test("chunk fold == JVM reference chunker on random word sequences") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu", "xi", "pi", "rho")
    val docs = (1L to 30L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
    }.toMap
    val got = run(docs)
    docs.foreach { case (id, ws) =>
      val want = refChunks(ws).map(Text.jvmH32).toSet
      assert(got(id) === want, s"doc $id: ${got(id)} vs $want")
    }
    // non-vacuity: the vocab must actually contain boundary words, and
    // some doc must have > 1 chunk
    assert(vocab.exists(isBoundary), "vocab has no boundary word")
    assert(docs.keys.exists(id => got(id).size > 1), "all docs one-chunk")
  }

  test("junk prefix resynchronizes at the first boundary word") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val boundary = vocab.find(isBoundary)
      .orElse(Vector("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8",
        "w9", "w10", "w11", "w12").find(isBoundary))
    assert(boundary.isDefined, "no boundary word found in test vocab")
    val rnd = new scala.util.Random(5)
    def nonB() = {
      var w = vocab(rnd.nextInt(vocab.size))
      while (isBoundary(w)) w = vocab(rnd.nextInt(vocab.size))
      w
    }
    // base doc: some words, a boundary word, then a long tail with
    // another boundary inside (so the tail itself has >= 2 chunks)
    val base = Seq(nonB(), nonB(), boundary.get) ++
      Seq.fill(6)(nonB()) ++ Seq(boundary.get) ++ Seq.fill(5)(nonB())
    val mutated = Seq(nonB(), nonB(), nonB(), nonB()) ++ base // junk prefix
    val got = run(Map(1L -> base, 2L -> mutated))
    val baseChunks = refChunks(base).map(Text.jvmH32)
    // chunks strictly after base's FIRST boundary are position-stable:
    // the prefix only rewrites chunk 1, the rest must be shared
    val stable = baseChunks.drop(1).toSet
    assert(stable.nonEmpty && stable.subsetOf(got(2L)),
      s"resync failed: stable=$stable mutated=${got(2L)}")
    // and the pre-resync chunk must differ (the junk prefix is inside it)
    assert(!got(2L).contains(baseChunks.head),
      "first chunk unchanged despite the junk prefix")
  }
}
