package graft.tools

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture upsampler for the sf1 scale probe (SCALING.md): replicate the
  * fact tables `factor`× with shifted key spaces so the measured scaling
  * exponent reflects PLAN growth, not data-shape artifacts:
  *
  *  - documents: replica texts go through a per-replica VOCABULARY
  *    ISOMORPHISM — a length-preserving, lexicon-preserving letter
  *    cipher (an injective per-type rename). Each replica i ≥ 1 gets a
  *    deterministic random permutation of a–z; every word outside the
  *    quality/lang lexicons (the stopword and language marker lists the
  *    curation operators match literally) is `translate`d through it,
  *    lexicon words pass unchanged, and the rare cipher image that
  *    lands ON a lexicon word gets its first letter doubled (keeps the
  *    map injective). Word order, token counts, word LENGTHS, digit
  *    ratios, stopword hits, and Zipf shape are all untouched — so
  *    lexicon-driven gates (gopher_rules' stop_ok, lang_id, the
  *    quality composite) see replicas exactly as they see the base
  *    corpus — and every within-replica shingle set maps bijectively,
  *    so each replica reproduces the base corpus's exact-dup AND
  *    near-dup pair structure bit-for-bit (pairs grow exactly ×factor)
  *    while cross-replica overlap is limited to lexicon-only shingles
  *    (far below any near-dup threshold) — naive cloning would put
  *    every doc in a `factor`-clone near-dup clique and grow pair
  *    counts quadratically in `factor` purely from data shape.
  *    Crucially (vs the earlier word-shuffle design, which kept ONE
  *    shared vocabulary), the vocabulary grows ×factor with the
  *    corpus, the way real corpora grow (Heaps' law): the shingle
  *    document-frequency tail keeps its base-corpus shape, so
  *    df-driven machinery — PPJoin's rare-token prefix filter, tfidf —
  *    retains its discrimination. Under the shuffle design "rare"
  *    tokens stopped being rare at factor 100 and the exact
  *    prefix-filter join went quadratic on data shape alone
  *    (SCALING.md), a generator artifact, not a plan property. (An
  *    earlier suffix design `w → w_3` grew vocabulary too but zeroed
  *    every lexicon hit and injected digits, shifting the quality-gate
  *    mix on all replicas — the cipher fixes exactly that.)
  *  - embeddings: replica vectors are dimension-ROTATED by the replica
  *    index and SIGN-FLIPPED by a per-replica ±1 diagonal — both
  *    isometries, so each replica reproduces the original's
  *    pairwise-cosine structure exactly (neighbor counts scale linearly)
  *    while cross-replica dots are scrambled. The sign diagonal is what
  *    keeps replicas distinct past factor = dim, where the rotation
  *    index i % dim wraps (replica 64 would otherwise duplicate
  *    replica 0 verbatim and inflate near-dup counts super-linearly).
  *  - lineitem/orders: order keys shift by replica·(max+1); part/supplier/
  *    customer keys stay (dims fixed — the fact-side 10× is what the
  *    probe measures; growing dims too would change broadcast viability,
  *    a different experiment).
  *  - events: event_id AND user_id shift — 10× users with the same
  *    per-user history length, so window state per key is constant and
  *    the probe measures key-count scaling (the dimension that grows at
  *    100 TB).
  *  - dims (region/nation/customer/supplier/part): copied as-is.
  *
  * Usage: Run genscale <srcDir> <outDir> <factor> [tables]
  */
object GenScale {

  /** Lexicon preserved verbatim by the document isomorphism = the
    * literal word lists the curation operators match (gopher stops +
    * EnStop/EsStop/ZhStop in ops/Extended.scala), so quality/lang gates
    * see replicas exactly as they see the base corpus.
    */
  private[graft] val Lex = Seq("the", "a", "and", "to", "of", "in", "is",
    "be", "el", "la", "de", "y", "en", "de5", "shi4", "zai4")

  private[graft] val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic per-replica permutation of a–z (replica i's cipher
    * alphabet); distinct replicas get distinct permutations with
    * overwhelming probability, so cross-replica vocabularies are
    * disjoint outside the lexicon.
    */
  private[graft] def perm(i: Int): String = {
    val r = new scala.util.Random(0x9e3779b1L * i)
    r.shuffle(Alpha.toList).mkString
  }

  /** Replica-i word map (the vocabulary isomorphism): lexicon words
    * pass unchanged; other words go through the letter cipher; a cipher
    * image that lands on a lexicon CHAIN gets one more first-letter
    * appended. The chain of lexicon word l (first letter f) is
    * {l, l·f, l·f·f, …} — guarding the whole chain (not just t ∈ Lex)
    * closes the second-order collision: a word whose cipher image
    * equals l·f ("thet") would otherwise collide with the guarded image
    * of the preimage of l. With the chain rule the map is injective for
    * ANY vocabulary: lexicon inputs occupy chain position 0, a cipher
    * image at chain position k moves to position k+1 (cipher injective
    * ⇒ unique preimage per position), off-chain images pass through,
    * and no Lex word lies on another Lex word's chain (asserted in
    * GenScaleCipherSpec, which also checks injectivity, lexicon
    * preservation, length/digit preservation, and determinism on the
    * real fixture vocabulary plus adversarial chain preimages).
    */
  private[graft] def mapWord(w: Column, i: Int): Column = {
    val t = translate(w, Alpha, perm(i))
    val onChain = Lex.map(l => t.rlike(s"^$l${l.head}*$$")).reduce(_ || _)
    val guarded =
      when(onChain, concat(t, substring(t, 1, 1))).otherwise(t)
    when(w.isin(Lex: _*), w).otherwise(guarded)
  }

  /** Per-replica deterministic ±1 sign pattern — a diagonal isometry
    * composed with the dimension rotation so replicas beyond `dim`
    * (rotation index reuse at factor > 64: i % dim collides for
    * i and i+dim, and replica 64 would duplicate replica 0 VERBATIM)
    * stay pairwise distinct: same-rotation replicas never share a sign
    * pattern, so cross-replica dots stay scrambled, while the
    * within-replica cosine structure is exactly preserved (both vectors
    * of a pair see the same diagonal, and multiplying by ±1.0f is
    * exact in IEEE float).
    */
  private[graft] def signs(i: Int, dim: Int): Seq[Float] = {
    val r = new scala.util.Random(0x85ebca6bL * i + 17)
    Seq.fill(dim)(if (r.nextBoolean()) 1.0f else -1.0f)
  }

  /** Replica-i embedding isometry (dimension rotation + per-replica sign
    * diagonal — see the object scaladoc); i = 0 is the identity. Shared
    * with [[AnnProbe]] so the ANN scale probe upsamples by the exact
    * same transform the general probe uses.
    */
  private[graft] def embReplica(d: DataFrame, i: Int, vecBase: Long,
      dim: Int): DataFrame =
    if (i == 0) d
    else {
      val r = i % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      val flip = array(signs(i, dim).map(lit): _*)
      d.withColumn("vec_id", col("vec_id") + lit(i * vecBase))
        .withColumn("embedding",
          zip_with(rotated, flip, (x, sg) => x * sg))
    }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1)
    // optional 4th arg: comma-separated table subset (fail loudly on
    // unknown names — the round-14 harness rule). Lets a single-family
    // probe (e.g. the 5M-doc phash occupancy run) upsample only the
    // table it reads instead of a full 15 GB fixture set.
    val knownTables =
      Set("dims", "orders", "lineitem", "events", "documents", "embeddings")
    val sel: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else knownTables
    val unknownT = sel -- knownTables
    require(unknownT.isEmpty,
      s"unknown GenScale tables: ${unknownT.mkString(", ")} " +
        s"(known: ${knownTables.mkString(", ")})")
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name written")
    }

    // dims: straight copies
    if (sel("dims"))
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        write(Tables.table(spark, src, t), t, 1)
      }

    def replicate(df: DataFrame, build: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => build(df, i)).reduce(_.unionAll(_))

    // orders/lineitem: shift the order-key space per replica
    if (sel("orders") || sel("lineitem")) {
      val orders = Tables.orders(spark, src)
      val keyBase = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      if (sel("orders"))
        write(replicate(orders, (d, i) =>
          d.withColumn("o_orderkey", col("o_orderkey") + lit(i * keyBase))),
          "orders", 8)
      if (sel("lineitem"))
        write(replicate(Tables.lineitem(spark, src), (d, i) =>
          d.withColumn("l_orderkey", col("l_orderkey") + lit(i * keyBase))),
          "lineitem", 16)
    }

    // events: new users per replica, same per-user history shape
    if (sel("events")) {
    val events = Tables.events(spark, src)
    val evBase = events.agg(max(col("event_id"))).head().getLong(0) + 1
    val userBase = events.agg(max(col("user_id"))).head().getLong(0) + 1
    write(replicate(events, (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * evBase))
        .withColumn("user_id", col("user_id") + lit(i * userBase))),
      "events", 8)
    }

    // documents: per-replica vocabulary isomorphism (replica 0 verbatim)
    if (sel("documents")) {
    val docs = Tables.documents(spark, src)
    val docBase = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    write(replicate(docs, (d, i) =>
      if (i == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(i * docBase))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => mapWord(w, i))))
        .withColumn("n_chars", length(col("text")))),
      "documents", 8)
    }

    // embeddings: rotate dimensions by the replica index (isometry)
    if (sel("embeddings")) {
    val emb = Tables.embeddings(spark, src)
    val vecBase = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(replicate(emb, (d, i) => embReplica(d, i, vecBase, dim)),
      "embeddings", 8)
    }

    println(s"[genscale] done: $out (factor $factor)")
  }
}
