package graft.ops

import graft.core.{Pin, QueryDef, Tables, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned quality/filter models trained IN-PLAN — the CCNet/fastText
  * slot of a real curation stack: the rule-based scorers (gopher_rules,
  * quality_score) catch boilerplate, a LEARNED classifier catches
  * distributional junk. Here: a hashed-bag-of-words logistic scorer
  * (hash words into a fixed bucket vector, train a weight per bucket by
  * full-batch gradient descent for a fixed round count, score every
  * document) — the feature hashing + linear-model recipe fastText-style
  * filters use, expressed as one lazy Catalyst plan.
  *
  * Scale shape (the kmeans/kcenter unrolled-loop discipline): the
  * per-document feature vector is built ONCE (row-local transform over
  * the word array; the frame is Pin.tagged-pinned, so the K training
  * rounds + final scoring pass cost K+1 corpus passes, not (K+1)²/2).
  * Each GD round is: one-row weight frame broadcast into a row-local
  * dot product (no join, no corpus shuffle), then a posexplode +
  * groupBy(bucket) gradient aggregate whose shuffle domain is the
  * FIXED bucket count (D+1 = 17 keys — map-side combine collapses every
  * partition to the domain first, the bpe_pair_merges shape), collapsed
  * back to the next one-row weight frame. Weight frames are Pin.pin'd
  * one-row scalar-subquery broadcasts (ScaleSpec `intended`).
  *
  * Cross-engine float discipline (the zipf_fit/curation_pipeline
  * integer-requantization rule — every quantity that crosses an
  * addition-order boundary is fixed-point):
  *  - weights live in 1e-6 integer units (BIGINT), features are raw
  *    token counts (BIGINT) → the logit dot product is EXACT integer
  *    arithmetic, order-independent;
  *  - the sigmoid is the RATIONAL squash 0.5 + z/(2(1+|z|)) — only
  *    +,-,*,/,abs on identical operands, bit-identical IEEE on both
  *    engines (exp-based logistic differs in the last ulp between libm
  *    implementations, which the round-10 sf0.001 sweep showed can flip
  *    a rounded digit at an exact boundary);
  *  - per-document gradient residuals are quantized to 1e-6 BIGINT
  *    units BEFORE the bucket sum, so the gradient aggregate is exact
  *    integer addition in any order; the learning-rate update
  *    floor(g/(50·n) + 0.5) divides identical operands.
  *
  * Label = (count of the token 'spark' ≥ 2) — a WEAK-SUPERVISION target
  * of the fastText-filter kind (keyword-derived, like CCNet's
  * URL-derived labels), chosen because it is genuinely LEARNABLE from
  * the hashed features yet not a function of them: the 16-bucket
  * projection collapses 'spark' with its hash colliders ('stream',
  * 'order', 'key' share bucket 10), so collider-heavy negatives are
  * irreducible hard cases and the model must trade them off. The first
  * candidate label (lang = 'en') was MEASURED unlearnable and dropped:
  * the fixtures draw every language's text from one shared vocabulary
  * (per-language bucket profiles identical to 3 decimals), so any model
  * sits at AUC ≈ 0.5 — a well-trained scorer on it is indistinguishable
  * from a diverged one, the vacuous-gate rule applied to ML. On the
  * keyword label the trained model reaches AUC 0.83/0.85/0.85 at
  * sf0.001/0.01/0.1 with mean p ≈ 0.71 (pos) vs 0.63 (neg) — modest
  * separation is the honest ceiling under hash collisions.
  *
  * LR/rounds (5 rounds, g/(50n)) were tuned in an offline fixed-point
  * simulation replaying the EXACT integer algorithm at all three SFs
  * (the round-8 numpy-first rule): g/(20n) oscillates into collapse
  * (AUC 0.47 at sf0.1 by round 5), g/(2n) — the original setting —
  * diverges to z ≈ −30 where the rational squash saturates at 0.016
  * for EVERY document. Full-batch GD on count features has no
  * per-dataset-size invariance; re-tune LR at a new corpus scale.
  *
  * Output: per (y, source) document count, predicted-positive count at
  * the p ≥ 0.65 cut (tuned to split the learned score range 0.45-0.75
  * at every SF; the conventional 0.5 cut captures every document here),
  * and the 4-dp mean score (integer-exact sum of 1e-6 fixed-point
  * scores, one final division).
  */
object Learn {

  /** Hashed feature buckets; slot D is the bias (constant 1 feature). */
  private val D = 16

  /** Fixed full-batch GD rounds (unrolled in-plan, kcenter discipline). */
  private val Rounds = 5

  /** Spark-side SQL for Text.h32 (md5-prefix 32-bit hash, BIGINT). */
  private def sparkH32(x: String): String =
    s"CAST(conv(substr(md5($x), 1, 8), 16, 10) AS BIGINT)"

  /** Rational sigmoid on a 1e-6 fixed-point logit `zu` — identical IEEE
    * op chain in both engines (see object scaladoc).
    */
  private def pExpr(zu: String): String =
    s"(0.5e0 + ((($zu)) / 1000000e0) / (2e0 * (1e0 + abs((($zu)) / 1000000e0))))"

  /** Row-local exact-integer dot product of the feature vector `x` with
    * the broadcast weight vector `wu` (both BIGINT arrays of length D+1).
    */
  private val dotExpr =
    s"aggregate(sequence(0, $D), CAST(0 AS BIGINT), " +
      "(acc, i) -> acc + element_at(x, i + 1) * element_at(wu, i + 1))"

  /** Shared core: train the scorer (`Rounds` unrolled GD rounds, see object
    * scaladoc) and return every document scored by the FINAL weights —
    * (doc_id, lang, source, y, pq) with pq the 1e-6 fixed-point
    * predicted probability. Used by [[qualityLogit]] (per-group means)
    * and [[scoreCalibration]] (reliability bins); the Pin'd frames are
    * the same data + shape in both, the sanctioned sharing class.
    */
  private[graft] def scoredDocs(s: SparkSession, d: String): DataFrame = {
    // per-doc dense feature vector: bucket b = count of words with
    // h32(word) % D == b; slot D = bias 1. Built once, tagged-pinned.
    val xdocs = Pin.tagged(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          Text.words(col("text")).as("w"))
        .select(col("doc_id"), col("lang"), col("source"), col("w"),
          when(expr("size(filter(w, t -> t = 'spark'))") >= 2, 1)
            .otherwise(0).as("y"))
        .select(col("doc_id"), col("lang"), col("source"), col("y"),
          expr(s"transform(w, t -> ${sparkH32("t")} % $D)").as("hb"))
        .select(col("doc_id"), col("lang"), col("source"), col("y"),
          expr(s"""transform(sequence(0, $D),
              b -> CASE WHEN b = $D THEN CAST(1 AS BIGINT)
                   ELSE CAST(size(filter(hb, h -> h = b)) AS BIGINT)
                   END)""").as("x")))
      // ... and the ROUNDS see it as a plan LEAF (lazy localCheckpoint
      // OVER the pin, round 18): each round's checkpoint planning
      // re-ran Catalyst over the word-split/md5/transform subtree
      // (~0.24 s of driver gaps per round, JobProfile); the leaf view
      // materializes once per call from the pinned cache and the
      // per-round plans are then bounded (O(round ops), not O(corpus
      // feature subtree)).
      .localCheckpoint(false)
    val nn = Pin.pin(xdocs.agg(count(lit(1)).as("n")))
    // n rides along IN the weight frame (the round-9 carry-bounds-in-
    // the-recursion-state discipline): the old per-round
    // crossJoin(broadcast(nn)) was one more broadcast build per round
    var w: DataFrame = nn.select(
      expr(s"transform(sequence(0, $D), b -> CAST(0 AS BIGINT))").as("wu"),
      col("n"))
      .localCheckpoint(false)
    for (_ <- 1 to Rounds) {
      // residuals quantized to 1e-6 BIGINT before the bucket sum
      val scored = xdocs.crossJoin(broadcast(w))
        .select(col("x"), expr(
          s"""CAST(floor((y - ${pExpr(dotExpr)}) * 1000000e0 + 0.5e0)
              AS BIGINT)""").as("eq"))
      // gradient: domain-bounded shuffle (D+1 keys, map-side combined)
      val g = scored
        .select(posexplode(expr("transform(x, c -> eq * c)"))
          .as(Seq("i", "gi")))
        .groupBy(col("i")).agg(sum(col("gi")).as("g"))
      // each one-row weight frame ends in a LAZY localCheckpoint (the
      // kcenter/bpeLoop lineage-truncation discipline, round 18):
      // round k's plan referenced w_{k-1} TWICE (the residual crossJoin
      // and the update crossJoin), so the Pin.pin'd logical tree grew
      // ~2^Rounds nodes and JobProfile measured the quality family as
      // pure driver analysis (construct + pre-job gaps ~1.9 s; every
      // execution job ≤ 0.03 s). The checkpoint keeps the one-row
      // crossJoin(broadcast) shape and the K-pass execution at O(K)
      // analysis; construction now runs the round jobs (ScaleSpec
      // `eager`, like bpe_encode — Bench times fn()+count together).
      w = g.agg(expr(
            "transform(array_sort(collect_list(struct(i, g))), s -> s.g)")
            .as("garr"))
          .crossJoin(broadcast(w))
          .select(expr(
            """zip_with(wu, garr, (wv, gv) ->
               wv + CAST(floor(gv / (50e0 * n) + 0.5e0) AS BIGINT))""")
            .as("wu"), col("n"))
          .localCheckpoint(false)
    }
    xdocs.crossJoin(broadcast(w))
      .select(col("doc_id"), col("lang"), col("source"), col("y"), expr(
        s"""CAST(floor(${pExpr(dotExpr)} * 1000000e0 + 0.5e0)
            AS BIGINT)""").as("pq"))
  }

  /** DuckDB CTE chain replaying the identical training fixed point,
    * ending in `sc(doc_id, pq)`; both oracles append their own final
    * SELECT (join documents back for lang/source/y).
    */
  private def oracleScoredCtes: String = {
    def sqlP(zu: String) =
      s"(0.5e0 + ((($zu)) / 1000000e0) / (2e0 * (1e0 + abs((($zu)) / 1000000e0))))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""ws AS (SELECT doc_id, lang, source,
            CASE WHEN len(list_filter(w, t -> t = 'spark')) >= 2
                 THEN 1 ELSE 0 END AS y, w
            FROM (SELECT doc_id, lang, source,
                    ${Text.sqlWords("text")} AS w FROM documents))""",
      s"""tok AS (SELECT doc_id, y, CAST(${Text.sqlH32("t")} % $D AS INT) AS b
            FROM (SELECT doc_id, y, unnest(w) AS t FROM ws))""",
      s"""xb AS (SELECT doc_id, y, b, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2, 3
            UNION ALL
            SELECT doc_id, y, $D AS b, CAST(1 AS BIGINT) AS c FROM ws)""",
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ws)",
      s"w0 AS (SELECT CAST(b AS INT) AS b, CAST(0 AS BIGINT) AS wu FROM range(${D + 1}) t(b))")
    for (r <- 1 to Rounds) ctes ++= Seq(
      s"""z$r AS (SELECT x.doc_id, x.y, CAST(sum(x.c * w.wu) AS BIGINT) AS zu
            FROM xb x JOIN w${r - 1} w USING (b) GROUP BY 1, 2)""",
      s"""e$r AS (SELECT doc_id,
            CAST(floor((y - ${sqlP("zu")}) * 1000000e0 + 0.5e0) AS BIGINT) AS eq
            FROM z$r)""",
      s"""g$r AS (SELECT x.b, CAST(sum(e.eq * x.c) AS BIGINT) AS g
            FROM xb x JOIN e$r e USING (doc_id) GROUP BY 1)""",
      s"""w$r AS (SELECT w.b,
            w.wu + CAST(floor(coalesce(g.g, 0) / (50e0 * nn.n) + 0.5e0) AS BIGINT) AS wu
            FROM w${r - 1} w LEFT JOIN g$r g USING (b), nn)""")
    s"""${ctes.mkString(",\n")},
      zf AS (SELECT x.doc_id, CAST(sum(x.c * w.wu) AS BIGINT) AS zu
             FROM xb x JOIN w$Rounds w USING (b) GROUP BY 1),
      sc AS (SELECT z.doc_id,
               CAST(floor(${sqlP("zu")} * 1000000e0 + 0.5e0) AS BIGINT) AS pq
             FROM zf z)"""
  }

  val qualityLogit: QueryDef = QueryDef(
    "quality_logit",
    (s, d) =>
      scoredDocs(s, d)
        .groupBy(col("y"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pq") >= 650000, 1).otherwise(0)).as("n_pred_pos"),
          (floor(sum(col("pq")) / count(lit(1)) / lit(1000000e0)
            * lit(10000e0) + lit(0.5)) / lit(10000e0)).as("mean_p4"))
        .orderBy(col("y"), col("source")),
    Some(s"""
      WITH $oracleScoredCtes
      SELECT ws.y, ws.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN sc.pq >= 650000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
             floor((CAST(sum(sc.pq) AS BIGINT) / count(*) / 1000000e0)
               * 10000e0 + 0.5e0) / 10000e0 AS mean_p4
      FROM sc JOIN ws USING (doc_id)
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = "hashed-bag-of-words logistic scorer trained in-plan (5 GD rounds, fixed-point)")

  /** Reliability diagram + Expected Calibration Error for the learned
    * scorer — the ml-eval step that decides whether [[qualityLogit]]'s
    * p ≥ 0.5 cut can be trusted as a probability (a well-separated
    * classifier can still be badly calibrated; a filtering pipeline
    * that KEEPS top-p% by score needs calibration, not just ranking).
    * Predicted probabilities land in 10 fixed [0.1) bins (integer
    * division of the 1e-6 fixed-point score — no float binning); each
    * bin reports its size, mean predicted probability (confidence) and
    * empirical positive rate (accuracy), and every row carries the
    * global ECE = Σ_b (n_b/N)·|acc_b − conf_b|.
    *
    * Parity: conf/acc are single divisions of exact BIGINT sums
    * (identical operands → identical IEEE doubles); the ECE sum crosses
    * an addition-order boundary, so each bin's term is floor-quantized
    * to a 1e-6-unit BIGINT FIRST (the zipf_fit/curation_pipeline
    * discipline) and only the exact integer sum is divided at the end.
    * Plan: the shared scored frame → one groupBy on the FIXED 10-bin
    * domain (map-side combine) → ECE via an unpartitioned window over
    * the ≤ 10-row bin frame. The window (not an agg + one-row
    * crossJoin) is deliberate: the frame would otherwise be referenced
    * TWICE, and each reference embeds the whole unrolled 5-round
    * training subtree — Catalyst re-analyzes the duplicated tree and
    * the query planned at 4.6 s steady-state vs quality_logit's 1.8
    * (measured, BenchOne sf0.1); single-reference + window is ~2×
    * cheaper with an identical result. An unpartitioned window is
    * normally the 100 TB anti-pattern, but here its input is the
    * fixed 10-bin domain, same class as heavy_hitters' candidate list.
    */
  val scoreCalibration: QueryDef = QueryDef(
    "score_calibration",
    (s, d) => {
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      scoredDocs(s, d)
        .select(col("y"), col("pq"), least(lit(9),
          expr("pq div 100000")).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pq")).as("spq"),
          sum(col("y")).as("sy"))
        .select(col("bin"), col("n_docs"),
          (floor(col("spq").cast("double") * lit(10000e0) / col("n_docs")
            / lit(1000000e0) + lit(0.5e0)) / lit(10000e0)).as("conf4"),
          (floor(col("sy").cast("double") * lit(10000e0) / col("n_docs")
            + lit(0.5e0)) / lit(10000e0)).as("acc4"),
          expr("""CAST(floor(n_docs * abs(CAST(sy AS DOUBLE) / n_docs
                  - CAST(spq AS DOUBLE) / n_docs / 1000000e0) * 1000000e0
                  + 0.5e0) AS BIGINT)""").as("tq"))
        .select(col("bin"), col("n_docs"), col("conf4"), col("acc4"),
          (floor(sum(col("tq")).over(wAll).cast("double")
            / sum(col("n_docs")).over(wAll)
            + lit(0.5e0)) / lit(1000000e0)).as("ece6"))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH $oracleScoredCtes,
      db AS (SELECT ws.doc_id, ws.y, sc.pq,
                    CAST(least(9, sc.pq // 100000) AS INTEGER) AS bin
             FROM sc JOIN ws USING (doc_id)),
      bins AS (
        SELECT bin, count(*) AS n_docs,
               CAST(sum(pq) AS BIGINT) AS spq, CAST(sum(y) AS BIGINT) AS sy
        FROM db GROUP BY 1),
      pres AS (
        SELECT bin, n_docs,
               floor(CAST(spq AS DOUBLE) * 10000e0 / n_docs / 1000000e0
                     + 0.5e0) / 10000e0 AS conf4,
               floor(CAST(sy AS DOUBLE) * 10000e0 / n_docs + 0.5e0)
                 / 10000e0 AS acc4,
               CAST(floor(n_docs * abs(CAST(sy AS DOUBLE) / n_docs
                    - CAST(spq AS DOUBLE) / n_docs / 1000000e0) * 1000000e0
                    + 0.5e0) AS BIGINT) AS tq
        FROM bins)
      SELECT bin, n_docs, conf4, acc4,
             floor(CAST(sum(tq) OVER () AS DOUBLE)
                   / CAST(sum(n_docs) OVER () AS BIGINT) + 0.5e0)
               / 1000000e0 AS ece6
      FROM pres ORDER BY bin
    """),
    doc = "reliability bins + ECE for the learned scorer (fixed-point parity)")

  /** In-plan DISCRIMINATION evaluation for the learned scorer — the AUC
    * companion to [[scoreCalibration]]'s calibration axis (the round-11
    * lesson: oracle parity replays broken training identically in both
    * engines, so each failure axis of an in-plan learner needs its own
    * registered evaluation; calibration caught the diverged model,
    * but a model can be calibrated-on-average yet rank no better than
    * chance). AUC is computed as the tie-aware Mann-Whitney rank-sum
    * statistic (the `mann_whitney_u` machinery): aggregate the scored
    * docs to the DISTINCT-SCORE frame first, midranks from a cumulative
    * count over it (2·midrank = 2·cum_less + t + 1 — exact integers),
    * then AUC = U⁺/(n₊·n₋) with U⁺ from the positive-class rank sum.
    * Everything up to the single final division is exact 64-bit integer
    * arithmetic — no addition-order hazard, hround(·,4) on identical
    * operands in both engines. The cumulative count is an unpartitioned
    * window, safe BECAUSE its input is the distinct-score aggregate:
    * scores are 1e-6 fixed-point probabilities, so the domain is
    * bounded by 10⁶+1 keys at ANY corpus size (same class as
    * score_calibration's 10-bin frame, vs mann_whitney_u's
    * value-cardinality caveat).
    *
    * A dead model (all scores collapsed to one value, the round-11
    * failure) yields a single all-ties bucket → U⁺ = n₊·n₋/2 → AUC
    * exactly 0.5000 — the signature this query exists to expose. The
    * trained scorer sits at 0.83-0.85 across SFs (object scaladoc).
    */
  val qualityAuc: QueryDef = QueryDef(
    "quality_auc",
    (s, d) => {
      val byScore = scoredDocs(s, d)
        .groupBy(col("pq"))
        .agg(count(lit(1)).as("t"), sum(col("y")).cast("long").as("tp"))
      val wLess = org.apache.spark.sql.expressions.Window
        .orderBy(col("pq"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val m = byScore
        .withColumn("mr2",
          lit(2L) * coalesce(sum(col("t")).over(wLess), lit(0L)) +
            col("t") + lit(1L))
        .agg(sum(col("tp")).as("n_pos"),
          sum(col("t") - col("tp")).as("n_neg"),
          sum(col("tp") * col("mr2")).as("r2p"))
      // 2·R⁺ = Σ tp·mr2; U⁺ = R⁺ − n₊(n₊+1)/2; AUC = U⁺/(n₊·n₋)
      //      = (Σ tp·mr2 − n₊(n₊+1)) / (2·n₊·n₋) — one exact division.
      m.select(col("n_pos"), col("n_neg"),
        Text.hround(
          (col("r2p") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
            (lit(2e0) * (col("n_pos") * col("n_neg")).cast("double")), 4)
          .as("auc4"))
    },
    Some(s"""
      WITH $oracleScoredCtes,
      sy AS (SELECT sc.pq, ws.y FROM sc JOIN ws USING (doc_id)),
      bv AS (SELECT pq, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(y) AS BIGINT) AS tp
             FROM sy GROUP BY 1),
      mr AS (SELECT t, tp,
               2 * coalesce(CAST(sum(t) OVER (ORDER BY pq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) + t + 1 AS mr2
             FROM bv),
      m AS (SELECT CAST(sum(tp) AS BIGINT) AS n_pos,
                   CAST(sum(t - tp) AS BIGINT) AS n_neg,
                   CAST(sum(tp * mr2) AS BIGINT) AS r2p FROM mr)
      SELECT n_pos, n_neg,
             ${Text.sqlHround(
        "CAST(r2p - n_pos * (n_pos + 1) AS DOUBLE) / " +
          "(2e0 * CAST(n_pos * n_neg AS DOUBLE))", 4)} AS auc4
      FROM m
    """),
    doc = "tie-aware rank-sum AUC of the learned scorer (discrimination eval; 0.5 = dead model)")

  // ---- agreement / preference family ------------------------------------

  /** Cohen's kappa between the composite-quality gate (rater A) and the
    * Gopher rule battery (rater B), per source — the inter-annotator
    * agreement statistic a curation stack reports when two independent
    * keep/drop filters disagree (chance-corrected: po alone overstates
    * agreement when both raters keep ~half the corpus). Raters come from
    * [[graft.ops.Extended.raterFrame]] (scaladoc there has the
    * non-degeneracy simulation). All counts are exact BIGINTs; po, pe and
    * kappa are single divisions of identical integer operands on both
    * engines (the pe marginal products a1·b1 + a0·b0 stay ≤ n², i.e.
    * inside BIGINT up to n ≈ 3·10⁹ docs per source), then hround(4).
    */
  val cohenKappa: QueryDef = QueryDef(
    "cohen_kappa",
    (s, d) =>
      graft.ops.Extended.raterFrame(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra"), 1L).otherwise(0L)).as("a1"),
          sum(when(col("rb"), 1L).otherwise(0L)).as("b1"),
          sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("n_agree"))
        .select(col("source"), col("n"), col("a1"), col("b1"), col("n_agree"),
          Text.hround(col("n_agree").cast("double") / col("n"), 4).as("po4"),
          Text.hround(
            (col("a1") * col("b1") +
              (col("n") - col("a1")) * (col("n") - col("b1"))).cast("double") /
              (col("n") * col("n")), 4).as("pe4"),
          Text.hround(
            (col("n_agree").cast("double") / col("n") -
              (col("a1") * col("b1") +
                (col("n") - col("a1")) * (col("n") - col("b1"))).cast("double") /
                (col("n") * col("n"))) /
              (lit(1.0) -
                (col("a1") * col("b1") +
                  (col("n") - col("a1")) * (col("n") - col("b1"))).cast("double") /
                  (col("n") * col("n"))), 4).as("kappa4"))
        .orderBy(col("source")),
    Some(s"""
      WITH ${graft.ops.Extended.sqlRaterCte},
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(sum(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b1,
               CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
             FROM rf GROUP BY 1)
      SELECT source, n, a1, b1, n_agree,
             ${Text.sqlHround("CAST(n_agree AS DOUBLE) / n", 4)} AS po4,
             ${Text.sqlHround(
               "CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) / (n * n)", 4)} AS pe4,
             ${Text.sqlHround(
               """(CAST(n_agree AS DOUBLE) / n
                   - CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) / (n * n))
                  / (1e0 - CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) / (n * n))""",
               4)} AS kappa4
      FROM ag ORDER BY source
    """),
    doc = "Cohen's kappa per source: chance-corrected agreement of two curation gates")

  /** Fleiss' kappa for the THREE raters (quality gate, Gopher battery,
    * format gate) per source — the m-rater generalization of
    * [[cohenKappa]] (m = 3, two categories). Per document the keep-count
    * k ∈ {0..3}; S = Σᵢ (kᵢ² + (3−kᵢ)²) is an exact integer, so
    * P̄ = (S − 3n)/(6n) and Pe = (K² + (3n−K)²)/(9n²) divide identical
    * integer operands on both engines (products ≤ 9n², inside BIGINT to
    * n ≈ 10⁹ docs per source), then one identical (P̄−Pe)/(1−Pe) double
    * chain, hround(4).
    */
  val fleissKappa: QueryDef = QueryDef(
    "fleiss_kappa",
    (s, d) =>
      graft.ops.Extended.raterFrame(s, d)
        .select(col("source"),
          (when(col("ra"), 1).otherwise(0) + when(col("rb"), 1).otherwise(0) +
            when(col("rc"), 1).otherwise(0)).cast("long").as("k"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          sum(col("k") * col("k") + (lit(3L) - col("k")) * (lit(3L) - col("k")))
            .as("s2"))
        .select(col("source"), col("n"), col("k_sum"),
          Text.hround((col("s2") - lit(3L) * col("n")).cast("double") /
            (lit(6L) * col("n")), 4).as("pbar4"),
          Text.hround(
            (col("k_sum") * col("k_sum") +
              (lit(3L) * col("n") - col("k_sum")) *
                (lit(3L) * col("n") - col("k_sum"))).cast("double") /
              (lit(9L) * col("n") * col("n")), 4).as("pe4"),
          Text.hround(
            ((col("s2") - lit(3L) * col("n")).cast("double") /
              (lit(6L) * col("n")) -
              (col("k_sum") * col("k_sum") +
                (lit(3L) * col("n") - col("k_sum")) *
                  (lit(3L) * col("n") - col("k_sum"))).cast("double") /
                (lit(9L) * col("n") * col("n"))) /
              (lit(1.0) -
                (col("k_sum") * col("k_sum") +
                  (lit(3L) * col("n") - col("k_sum")) *
                    (lit(3L) * col("n") - col("k_sum"))).cast("double") /
                  (lit(9L) * col("n") * col("n"))), 4).as("kappa4"))
        .orderBy(col("source")),
    Some(s"""
      WITH ${graft.ops.Extended.sqlRaterCte},
      kk AS (SELECT source,
               CAST(CASE WHEN ra THEN 1 ELSE 0 END
                    + CASE WHEN rb THEN 1 ELSE 0 END
                    + CASE WHEN rc THEN 1 ELSE 0 END AS BIGINT) AS k
             FROM rf),
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS k_sum,
               CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS s2
             FROM kk GROUP BY 1)
      SELECT source, n, k_sum,
             ${Text.sqlHround("CAST(s2 - 3 * n AS DOUBLE) / (6 * n)", 4)} AS pbar4,
             ${Text.sqlHround(
               """CAST(k_sum * k_sum + (3 * n - k_sum) * (3 * n - k_sum) AS DOUBLE)
                  / (9 * n * n)""", 4)} AS pe4,
             ${Text.sqlHround(
               """(CAST(s2 - 3 * n AS DOUBLE) / (6 * n)
                   - CAST(k_sum * k_sum + (3 * n - k_sum) * (3 * n - k_sum) AS DOUBLE)
                     / (9 * n * n))
                  / (1e0 - CAST(k_sum * k_sum + (3 * n - k_sum) * (3 * n - k_sum) AS DOUBLE)
                     / (9 * n * n))""", 4)} AS kappa4
      FROM ag ORDER BY source
    """),
    doc = "Fleiss' kappa per source: 3-rater chance-corrected agreement")

  /** Token-budget epoch planning — the data-budget computation a
    * data-constrained training run does before sampling (the
    * repeat-vs-mix question of Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models", public): given per-source token
    * totals, a TOTAL training budget, and per-source repetition caps,
    * allocate tokens per source. Here: budget = 2.5 epochs of the
    * corpus (5·T in half-token units — exact integers), caps = 4
    * epochs for the higher-quality half of sources and 2 for the rest
    * (quality proxy: mean tokens/doc, ranked with a deterministic
    * source tie-break — an exact integer rank, no cross-engine float
    * risk), and the allocation is the exact TWO-TIER WATER-FILL: the
    * low tier always caps (2 < 2.5 ≤ λ), the high tier gets the water
    * level λ = (5T − 4L)/(2H) unless λ would exceed its own cap (then
    * everything caps and the plan reports the shortfall via epochs).
    * All arithmetic is BIGINT (per-source allocation =
    * (5T−4L)·t DIV (2H); overflow bound: needs Σtokens·max-source
    * tokens < 2^63/5 ≈ 1.8e18 — move to DECIMAL(38) past ~1e9-token
    * sources). The group domain is the bounded source dim (~100), so
    * the totals ride unpartitioned windows (the round-11 rule).
    * Non-vacuity (the round-4 gate rule): low tier pinned at epochs4 =
    * 2.0, high tier strictly between 2.5 and 4 at every fixture SF —
    * both caps and the water level are all VISIBLE in the output.
    */
  val tokenBudgetPlan: QueryDef = QueryDef(
    "token_budget_plan",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(expr("(t * 1000000) DIV docs").desc, col("source"))
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("source"),
          size(Text.words(col("text"))).cast("long").as("nt"))
        .groupBy(col("source"))
        .agg(sum(col("nt")).as("t"), count(lit(1)).as("docs"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("ns", count(lit(1)).over(wAll))
        .withColumn("cap",
          when(col("rnk") * 2 <= col("ns"), lit(4L)).otherwise(lit(2L)))
        .withColumn("tt", sum(col("t")).over(wAll))
        .withColumn("lo",
          sum(when(col("cap") === 2, col("t")).otherwise(0L)).over(wAll))
        .withColumn("hi",
          sum(when(col("cap") === 4, col("t")).otherwise(0L)).over(wAll))
        .withColumn("a_tokens", expr(
          """CASE WHEN 5 * tt - 4 * lo <= 8 * hi THEN
               CASE WHEN cap = 2 THEN 2 * t
                    ELSE ((5 * tt - 4 * lo) * t) DIV (2 * hi) END
             ELSE cap * t END"""))
        .select(col("source"), col("t").as("t_tokens"), col("docs"),
          col("cap").as("cap_epochs"), col("a_tokens"),
          Text.hround(col("a_tokens").cast("double") / col("t"), 4)
            .as("epochs4"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH per AS (
        SELECT source,
               CAST(sum(len(${Text.sqlWords("text")})) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS docs
        FROM documents GROUP BY 1),
      rk AS (
        SELECT *,
          CAST(row_number() OVER (ORDER BY (t * 1000000) // docs DESC, source)
            AS BIGINT) AS rnk,
          CAST(count(*) OVER () AS BIGINT) AS ns,
          CAST(sum(t) OVER () AS BIGINT) AS tt
        FROM per),
      tiers AS (
        SELECT *, CASE WHEN rnk * 2 <= ns THEN 4 ELSE 2 END AS cap FROM rk),
      tot AS (
        SELECT *,
          CAST(sum(CASE WHEN cap = 2 THEN t ELSE 0 END) OVER () AS BIGINT) AS lo,
          CAST(sum(CASE WHEN cap = 4 THEN t ELSE 0 END) OVER () AS BIGINT) AS hi
        FROM tiers)
      SELECT source, t AS t_tokens, docs, CAST(cap AS BIGINT) AS cap_epochs,
             CAST(CASE WHEN 5 * tt - 4 * lo <= 8 * hi THEN
                    CASE WHEN cap = 2 THEN 2 * t
                         ELSE ((5 * tt - 4 * lo) * t) // (2 * hi) END
                  ELSE cap * t END AS BIGINT) AS a_tokens,
             ${Text.sqlHround(
      """CAST(CASE WHEN 5 * tt - 4 * lo <= 8 * hi THEN
               CASE WHEN cap = 2 THEN 2 * t
                    ELSE ((5 * tt - 4 * lo) * t) // (2 * hi) END
             ELSE cap * t END AS DOUBLE) / t""", 4)} AS epochs4
      FROM tot ORDER BY source
    """),
    doc = "token-budget epoch plan: exact two-tier water-fill under per-source repetition caps")

  val all: Seq[QueryDef] = Seq(qualityLogit, scoreCalibration, qualityAuc,
    cohenKappa, fleissKappa, preferencePairs, bradleyTerry, winRateMatrix,
    tokenBudgetPlan)

  /** Wilson-interval win-rate leaderboard over the heaviest matchups —
    * the per-pair view [[bradleyTerry]] aggregates away (a leaderboard
    * report shows the matrix cells WITH their uncertainty, because a
    * 3-0 record and a 300-150 record have the same point estimate
    * ordering problem the lower bound fixes). Top-100 pairs by game
    * count, rank-selected via orderBy+limit (TakeOrderedAndProject —
    * never a global sort at scale; ties broken (i, j)). n ≥ 20 was
    * simulated and REJECTED as the gate (0 pairs at sf0.1 where games
    * spread thin — the round-4 vacuous-threshold rule; top-k by count
    * is non-vacuous at every SF by construction: 45/100/100 rows).
    * phat and the z = 1.96 Wilson lower bound are identical double
    * chains from exact BIGINT (n, wi) with the z² constants as shared
    * LITERALS (1.9208, 0.9604, 3.8416) interpolated into both engines;
    * sqrt is correctly-rounded IEEE on both.
    */
  lazy val winRateMatrix: QueryDef = {
    // Wilson lower bound with p̂ = wc/nc inlined; one shared text so both
    // engines run the identical IEEE op chain
    def wilson(nc: String, wc: String): String = {
      val p = s"(($wc) / ($nc))"
      s"(($p + 1.9208e0 / ($nc) - 1.96e0 * sqrt($p * (1e0 - $p) / ($nc) " +
        s"+ 0.9604e0 / (($nc) * ($nc)))) / (1e0 + 3.8416e0 / ($nc)))"
    }
    QueryDef(
      "win_rate_matrix",
      (s, d) => {
        matchupDir(s, d)
          .filter(col("p") < col("o"))
          .select(col("p").as("i"), col("o").as("j"), col("n"),
            col("w").as("wi"))
          .orderBy(col("n").desc, col("i"), col("j"))
          .limit(100)
          .select(col("i"), col("j"), col("n"), col("wi"),
            Text.hround(col("wi").cast("double") / col("n"), 4).as("phat4"),
            Text.hround(expr(wilson("n", "wi")), 4).as("wilson_lo4"))
          .orderBy(col("n").desc, col("i"), col("j"))
      },
      Some(s"""
        WITH osr AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
                       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5e0) AS BIGINT)) AS BIGINT) AS rev
                     FROM lineitem GROUP BY 1, 2),
        mp AS (SELECT a.sk AS i, b.sk AS j, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a.rev >= b.rev THEN 1 ELSE 0 END)
                   AS BIGINT) AS wi
               FROM osr a JOIN osr b ON a.ok = b.ok AND a.sk < b.sk
               GROUP BY 1, 2),
        top AS (SELECT * FROM mp ORDER BY n DESC, i, j LIMIT 100)
        SELECT i, j, n, wi,
               ${Text.sqlHround("CAST(wi AS DOUBLE) / n", 4)} AS phat4,
               ${Text.sqlHround(wilson("n", "wi"), 4)} AS wilson_lo4
        FROM top ORDER BY n DESC, i, j
      """),
      doc = "Wilson-interval win-rate matrix: top-100 matchups by games, z=1.96 lower bound")
  }

  /** DPO-style preference-pair construction: each text near-dup cluster
    * (the dup_clusters CC assignment) becomes one (chosen, rejected)
    * candidate pair — chosen = highest composite quality (ties → lowest
    * doc_id), rejected = lowest (ties → highest doc_id) — with the
    * quality margin quantized to exact 1e-4 BIGINT units and a `usable`
    * verdict at margin ≥ 0.05. Near-duplicate sets are the natural
    * "same prompt, different response" group a curation pipeline mines
    * for preference data; emitting EVERY ≥2-member cluster with its
    * margin (rather than filtering) keeps the output non-vacuous at all
    * SFs while the margin cut stays visible in the usable mix (the
    * round-4 rule; sf0.001 measures 7 usable of 27). Members outside the
    * quality domain (< 3 words) are excluded by the inner join; a
    * cluster needs ≥ 2 scored members to pair. Scale shape: the CC
    * assignment is the shared driver-coordinated fixpoint (ScaleSpec
    * `eager`), everything after is one |clusters|-domain aggregate via
    * max_by/min_by over unique (quality, doc_id) keys — no window over
    * the corpus, no self-join.
    */
  lazy val preferencePairs: QueryDef = QueryDef(
    "preference_pairs",
    (s, d) => {
      val ca = graft.ops.Extended.clusterAssignments(s, d)
      val q = graft.ops.Extended.raterFrame(s, d)
        .select(col("doc_id"), col("quality"))
      ca.join(q, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("nid"))).as("chosen_id"),
          min_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("nid"))).as("rejected_id"),
          max(col("quality")).as("q_chosen"),
          min(col("quality")).as("q_rejected"))
        .filter(col("n_members") >= 2)
        .withColumn("margin_u4",
          floor((col("q_chosen") - col("q_rejected")) * lit(1e4) + lit(0.5))
            .cast("long"))
        .select(col("cluster_id"), col("n_members"), col("chosen_id"),
          col("rejected_id"), col("q_chosen"), col("q_rejected"),
          col("margin_u4"), (col("margin_u4") >= 500).as("usable"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      WITH RECURSIVE ${graft.ops.Extended.sqlClusterCc},
      ${graft.ops.Extended.sqlRaterBody},
      j AS (SELECT cc.cluster_id, cc.doc_id, rf.quality
            FROM cc JOIN rf USING (doc_id)),
      r1 AS (SELECT *,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY quality DESC, doc_id ASC) AS rch,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY quality ASC, doc_id DESC) AS rrj
             FROM j),
      ag AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               max(CASE WHEN rch = 1 THEN doc_id END) AS chosen_id,
               max(CASE WHEN rrj = 1 THEN doc_id END) AS rejected_id,
               max(quality) AS q_chosen, min(quality) AS q_rejected
             FROM r1 GROUP BY 1 HAVING count(*) >= 2)
      SELECT cluster_id, n_members, chosen_id, rejected_id,
             q_chosen, q_rejected,
             CAST(floor((q_chosen - q_rejected) * 1e4 + 0.5e0) AS BIGINT)
               AS margin_u4,
             CAST(floor((q_chosen - q_rejected) * 1e4 + 0.5e0) AS BIGINT) >= 500
               AS usable
      FROM ag ORDER BY cluster_id
    """),
    doc = "DPO-style (chosen, rejected) pairs from near-dup clusters by quality margin")

  /** (ok, sk, rev) → aggregated canonical matchups (i < j, games n, i's
    * wins wi): per-order pair expand via array_sort(collect_list) —
    * bounded by the per-order supplier count, never a self-join (the
    * round-2 rule). Higher rev wins; i wins on a rev tie since i < j
    * (array_sort on struct(sk, _) orders by suppkey). Shared by
    * [[bradleyTerry]] and the streaming twin's parity spec
    * (EventStreamSpec derives the expected pairs from THIS batch
    * semantics, per the round-13 twin-row-semantics rule).
    */
  private[graft] def matchupPairs(osr: DataFrame): DataFrame =
    osr.groupBy(col("ok"))
      .agg(expr("array_sort(collect_list(struct(sk, rev)))").as("ps"))
      .filter(size(col("ps")) >= 2)
      // two codegen'd Generates, not the interpreted flatten(transform(
      // slice(...))) lambda (round 18, the bandedHammingVerify rewrite —
      // this expand is 45M pairs at the sf10 probe); same (i < j) pairs
      .select(posexplode(col("ps")).as(Seq("i", "x")), col("ps"))
      .select(col("x"), explode(expr("slice(ps, i + 2, size(ps))")).as("y"))
      .groupBy(col("x.sk").as("i"), col("y.sk").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x.rev >= y.rev AS INT)").cast("long")).as("wi"))

  /** The fact-sized cost of the matchup family, built ONCE and
    * Pin.tagged: the CANONICAL (i < j) matchup aggregate of
    * [[matchupPairs]] over per-(order, supplier) revenue — half the
    * rows of the directed view it replaced in r17 (454k vs 907k at
    * sf0.1) for the same information; [[matchupDir]] derives the
    * directed view row-locally from the cache. Shared by
    * [[bradleyTerry]] (all 12 rounds read it; the MM term
    * (n·T) DIV (wuᵢ+wuⱼ) is symmetric, one integer division per pair)
    * and [[winRateMatrix]] (consumes it directly) — the sanctioned
    * deliberate-sharing class (same data, same shape; the recall-trio
    * truth-frame pattern): when both queries run in one session the
    * 45M-pair expand at the sf10 probe runs once, and the cache_tag
    * keeps the plan from leaking into unrelated queries.
    */
  private def matchupCanon(s: SparkSession, d: String): DataFrame = {
    val osr = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      // exact integer cents per line (floor(x*100+0.5), the repo's
      // half-up convention) summed as BIGINT: a raw DOUBLE sum is
      // partial-agg-order dependent (±1 ulp on multi-line groups) and
      // could flip `rev_i >= rev_j` cross-engine on an exact revenue
      // tie; this also aligns the batch rev domain with the streaming
      // twin's LineEv.cents field (r14 ADVICE).
      .agg(sum(floor(col("l_extendedprice") * lit(100) + lit(0.5)))
        .as("rev"))
    Pin.tagged(matchupPairs(osr))
  }

  private def matchupDir(s: SparkSession, d: String): DataFrame = {
    val mp = matchupCanon(s, d)
    mp.select(col("i").as("p"), col("j").as("o"), col("n"),
        col("wi").as("w"))
      .unionByName(mp.select(col("j").as("p"), col("i").as("o"),
        col("n"), (col("n") - col("wi")).as("w")))
  }

  /** Bradley-Terry strength estimation by the MM fixed point (Hunter
    * 2004, the algorithm behind chatbot-arena-style leaderboards and
    * reward-model preference aggregation): wᵢ ← Wᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ),
    * sum-normalized each round. Matchups are derived deterministically
    * from the trade fixtures — two suppliers sharing an order compete,
    * the higher per-order revenue wins (exact integer-cents comparison
    * — per-line floor(x·100+0.5) summed as BIGINT, matching the
    * streaming twin's LineEv.cents; ties →
    * lower suppkey) — so both engines replay an identical tournament.
    *
    * Numeric discipline (the pagerank/quality_logit rules): strengths
    * are 1e-6-unit BIGINTs, every per-opponent term is one integer
    * division (nᵢⱼ·10¹² DIV (wuᵢ+wuⱼ) — Spark DIV and DuckDB // both
    * floor on non-negative operands), per-player sums are exact integer
    * additions in any order, and the normalization is integer
    * multiply-then-DIV against the exact Σraw. Zero floats anywhere, so
    * the emitted strength6 is bit-identical by construction. Headroom:
    * Wᵢ·10¹² needs Wᵢ ≤ 9·10⁶ wins/player; past that drop the term scale
    * a decade (the Spearman-denominator honesty note).
    *
    * Regularization: one virtual win AND one virtual loss per player
    * against a ghost of fixed strength 1.0 (the +1 smoothing that makes
    * the MLE exist for perfect winners/losers; MAP with a weak uniform
    * prior). 12 rounds: the offline fixed-point simulation (round-8
    * numpy-first rule) measured max |Δwu| ≤ 1.5e-4 by round 12 at all
    * three SFs with strengths spread 0.81-1.23 — converged and
    * non-degenerate. Scale shape: matchup aggregation is ONE bounded
    * pair-expand per order (≤ C(7,2) pairs — groupBy+expand, the round-2
    * no-self-join rule), the per-round message passing is
    * matchup-list-sized equi-joins against the |players| strength frame
    * (the pagerank shape), and each round is localCheckpoint'd lazily
    * (the bpe/ccOverEdges lineage discipline — without it round k
    * re-analyzes rounds 1..k−1, and the strength frame is referenced
    * twice per round, which would compound 2^K). Construction therefore
    * runs checkpoint jobs (ScaleSpec `eager`, the bpe class).
    */
  lazy val bradleyTerry: QueryDef = {
    val Iters = 12
    val Term = "1000000000000" // 1e12 integer-division scale
    val One = "1000000"        // strength 1.0 in 1e-6 units
    QueryDef(
      "bradley_terry_strength",
      (s, d) => {
        val mp = matchupCanon(s, d)
        val dir = matchupDir(s, d)
        val pl = dir.groupBy(col("p"))
          .agg(sum(col("n")).as("games"), sum(col("w")).as("wins"))
          .transform(Pin.pin)
        var w: DataFrame = pl
          .select(col("p"), expr(s"CAST($One AS BIGINT)").as("wu"))
          .localCheckpoint(false)
        // Round shape (this optimization round, guide §2.3/§3.1): the
        // message pass reads the CANONICAL pair frame — the MM term
        // (n·T) DIV (wuᵢ+wuⱼ) is symmetric in (i, j), so one division
        // per pair exploded to both endpoints replaces the old directed
        // frame's one per directed edge (half the scanned rows, half
        // the 64-bit divisions: the 0.35 s/round e-scan job measured as
        // the round's dominant cost). prev is a lazily-checkpointed
        // LogicalRDD with UNKNOWN size stats (defaultSizeInBytes), so
        // the |players|-side joins carry explicit broadcast hints —
        // without them both joins plan as shuffle joins and the pair
        // frame is exchanged twice per round (24 shuffles total). The
        // strength frame is |players| rows (16 B/row) — broadcastable
        // to ~100M players; past that flip the hints to shuffle_hash.
        // The ghost term ((2·T) DIV (wu+1e6), o = −1 at fixed strength
        // 1.0) is row-local on prev itself — it never needed the join.
        def round(prev: DataFrame): DataFrame = {
          val pairTq = mp
            .join(broadcast(prev.select(col("p").as("i"), col("wu").as("wui"))),
              Seq("i"))
            .join(broadcast(prev.select(col("p").as("j"), col("wu").as("wuj"))),
              Seq("j"))
            .select(explode(array(col("i"), col("j"))).as("p"),
              expr(s"(n * $Term) DIV (wui + wuj)").as("tq"))
          val ghostTq = prev.select(col("p"),
            expr(s"(2 * $Term) DIV (wu + CAST($One AS BIGINT))").as("tq"))
          val ssum = pairTq.unionByName(ghostTq)
            .groupBy(col("p")).agg(sum(col("tq")).as("sq"))
          val raw = pl.join(broadcast(ssum), Seq("p"))
            .select(col("p"), expr(s"((wins + 1) * $Term) DIV sq").as("rawu"))
          // normalization as an UNPARTITIONED window over the |players|
          // frame (bounded domain — the round-11 score_calibration
          // rule), not agg + crossJoin(broadcast): the broadcast form
          // double-executes raw (once in the broadcast build, once in
          // the consumer) and pays a blocking broadcast-build job per
          // round; the window keeps the whole round in one job. Same
          // integer ops (sum/count over all rows), bit-identical wu.
          // FLIP POINT (r17 verdict item): an unpartitioned window is a
          // SINGLE-PARTITION serial pass — fine while |players| is
          // dim-sized, but players here = suppliers, which grows with
          // the data. Past ~100M players (the same threshold where the
          // broadcast hints below flip to shuffle_hash) switch this to
          // a two-level tree: partial sum/count per partition, one-row
          // agg of the ≤ #partitions partials, broadcast back — O(n/p)
          // per task instead of O(n) on one core, identical integer
          // totals in any order.
          val all = org.apache.spark.sql.expressions.Window.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
          raw.select(col("p"), col("rawu"),
              sum(col("rawu")).over(all).as("t"),
              count(lit(1)).over(all).as("np"))
            .select(col("p"), expr(s"(rawu * np * $One) DIV t").as("wu"))
        }
        // ONE round per checkpoint. The ccOverEdges double-step was
        // A/B-measured here and LOST BADLY (BenchOne RUN2 33.4 s vs
        // ~6 s): a round references its input strength frame TWICE and
        // its own raw frame feeds BOTH the one-row normalization
        // broadcast AND the next round's joins, so an uncheckpointed
        // inner round re-executes under stacked broadcast builds (the
        // round-2 hazard) instead of being exchange-reused. Don't retry.
        for (_ <- 1 to Iters)
          w = round(w).localCheckpoint(false)
        w.join(pl, Seq("p"))
          .select(col("p").as("s_suppkey"), col("games"), col("wins"),
            col("wu").as("strength6"))
          .orderBy(col("strength6").desc, col("s_suppkey"))
      },
      Some {
        // every per-round CTE is AS MATERIALIZED: w[r] is referenced
        // 2-3 times downstream and DuckDB otherwise INLINES the whole
        // prefix chain per reference — 3^12 re-executions (the
        // sql_recursive_spine / graph_eccentricity re-plan class;
        // measured as a 14-minute oracle hang at sf0.01 before the fix)
        val iterCtes = (1 to Iters).map { r =>
          s"""t$r AS MATERIALIZED (SELECT e.p,
                 CAST(sum((e.n * $Term) // (w.wu + coalesce(ow.wu, $One)))
                   AS BIGINT) AS sq
               FROM e JOIN w${r - 1} w USING (p)
               LEFT JOIN w${r - 1} ow ON ow.p = e.o GROUP BY 1),
           rw$r AS MATERIALIZED (SELECT pl.p,
                 CAST(((pl.wins + 1) * $Term) // t.sq AS BIGINT) AS rawu
               FROM pl JOIN t$r t USING (p)),
           tt$r AS MATERIALIZED (SELECT CAST(sum(rawu) AS BIGINT) AS t
               FROM rw$r),
           w$r AS MATERIALIZED (SELECT r.p,
                 CAST((r.rawu * np.np * $One) // tt.t AS BIGINT) AS wu
               FROM rw$r r, tt$r tt, np)"""
        }.mkString(",\n      ")
        s"""
        WITH osr AS MATERIALIZED (
          SELECT l_orderkey AS ok, l_suppkey AS sk,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5e0) AS BIGINT)) AS BIGINT) AS rev
          FROM lineitem GROUP BY 1, 2),
        mp AS MATERIALIZED (
          SELECT a.sk AS i, b.sk AS j, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a.rev >= b.rev THEN 1 ELSE 0 END)
                   AS BIGINT) AS wi
          FROM osr a JOIN osr b ON a.ok = b.ok AND a.sk < b.sk
          GROUP BY 1, 2),
        dir AS MATERIALIZED (
          SELECT i AS p, j AS o, n, wi AS w FROM mp
          UNION ALL SELECT j, i, n, n - wi FROM mp),
        pl AS MATERIALIZED (
          SELECT p, CAST(sum(n) AS BIGINT) AS games,
                 CAST(sum(w) AS BIGINT) AS wins
          FROM dir GROUP BY 1),
        e AS MATERIALIZED (
          SELECT p, o, n FROM dir
          UNION ALL SELECT p, -1, 2 FROM pl),
        np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pl),
        w0 AS (SELECT p, CAST($One AS BIGINT) AS wu FROM pl),
        $iterCtes
        SELECT w.p AS s_suppkey, pl.games, pl.wins, w.wu AS strength6
        FROM w$Iters w JOIN pl USING (p)
        ORDER BY strength6 DESC, s_suppkey
        """
      },
      doc = s"Bradley-Terry MM strengths ($Iters integer-exact rounds) over order-sharing supplier matchups")
  }
}
