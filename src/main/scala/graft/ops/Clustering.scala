package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Pin, QueryDef, Tables, Text}

/** Embedding-space clustering and classification for corpus curation:
  * distributed k-means (diversity bucketing / semantic sharding), global
  * centroid-distance outlier filtering (drop broken or off-distribution
  * embeddings before training), and kNN label propagation (extend sparse
  * labels to the whole corpus).
  *
  * Cross-engine determinism discipline (see graft.core.Num): every
  * aggregate whose float summation order varies across partitions is
  * quantized to integer MICRO-UNITS first — `floor(x·1e6 + 0.5)` as
  * BIGINT — so the sum is exact long arithmetic (order-free, identical
  * in DuckDB), and the only float ops are single IEEE
  * divisions/multiplications of identical operands on both engines.
  * Dot products use the codegen'd graft_dot expression, whose
  * left-to-right summation matches DuckDB's list_dot_product
  * term-for-term (functions/DotProduct.scala).
  */
object Clustering {

  /** embeddings → (vec_id, label, v: array<double>, nrm). Double-cast
    * BEFORE any arithmetic so both engines operate on identical values.
    */
  private def base(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  private val sqlBase =
    "SELECT vec_id, label, embedding::DOUBLE[] AS v, " +
      "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm " +
      "FROM embeddings"

  // ---- k-means ----------------------------------------------------------

  /** Cluster count. Seeds are the k lowest vec_ids — deterministic and
    * present at every SF (fixtures are 500-2000 vectors; production
    * would seed by k-means|| but any deterministic seed keeps the
    * oracle exact).
    */
  private val K = 8

  /** Lloyd iterations: 2 centroid updates + a final assignment. Fixed
    * (not convergence-tested) so the oracle unrolls to the same depth.
    */
  private val Iters = 2

  /** One assignment pass: nearest centroid by squared L2 distance,
    * rounded to 6 dp (hround) so ties break identically cross-engine,
    * then by cid. dist² = v·v − 2·v·c + c·c — three deterministic dots.
    * The argmin is `min(struct(d6, cid, …))` — ONE shuffle by vec_id
    * with partial aggregation, no window. Centroids ride as an explicit
    * broadcast (K rows): the BNLJ expansion is K-bounded by construction
    * (ScaleSpec intends it), the distributed-k-means shape at any scale.
    */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("d6", Text.hround(
        expr("graft_dot(v, v) - 2 * graft_dot(v, c) + graft_dot(c, c)"), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d6"), col("cid"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.d6").as("d6"), col("m.cid").as("cid"),
        col("m.v").as("v"))

  /** One update pass: per-dimension mean of the member vectors, computed
    * on micro-quantized components (exact long sums — order-free), then
    * one division per dimension. Rebuilt into an array ordered by
    * dimension index. Shuffle keys are (cid, pos) then cid — N·D rows,
    * map-side combined; never wider than the corpus itself.
    */
  private def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("q", expr("CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT)"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("cid"), col("pos"),
        (col("sq").cast("double") / col("n").cast("double") / lit(1e6)).as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("c"))

  /** DuckDB mirror of one assign+update round; `prev` names the centroid
    * CTE feeding the round. generate_series is 1-based where Spark's
    * posexplode is 0-based — irrelevant, pos only orders the rebuild.
    */
  private def sqlRound(i: Int, prev: String): String = s"""
      d$i AS (SELECT n.vec_id, n.v, c.cid,
               ${Text.sqlHround(
      "list_dot_product(n.v, n.v) - 2 * list_dot_product(n.v, c.c)" +
        " + list_dot_product(c.c, c.c)", 6)} AS d6
             FROM n, $prev c),
      a$i AS (SELECT vec_id, v, cid, d6 FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY d6, cid) AS rn FROM d$i) WHERE rn = 1),
      u$i AS (SELECT cid, unnest(generate_series(1, len(v))) AS pos,
               unnest([CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT) FOR x IN v]) AS q
             FROM a$i),
      m$i AS (SELECT cid, pos,
               CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000e0 AS m
             FROM u$i GROUP BY 1, 2),
      c$i AS (SELECT cid, list(m ORDER BY pos) AS c FROM m$i GROUP BY 1)"""

  /** Distributed k-means over the embedding corpus — the curation
    * primitive behind semantic sharding, diversity-balanced sampling,
    * and cluster-then-filter quality passes. K seed centroids, `Iters`
    * Lloyd rounds, final assignment; emits per-cluster size, mean
    * (rounded) squared distance, and centroid norm. Every round is one
    * broadcast of K centroid rows + two corpus-sized shuffles
    * (vec_id argmin; (cid,pos) means) — the canonical distributed
    * k-means; no collect, the whole loop is one lazy plan.
    */
  val kmeansEmbed: QueryDef = QueryDef(
    "kmeans_embed",
    (s, d) => {
      val vecs = base(s, d).select(col("vec_id"), col("v"))
      val c0 = vecs.filter(col("vec_id") < K)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
      val cN = (1 to Iters).foldLeft(c0)((c, _) => update(assign(vecs, c)))
      val aF = assign(vecs, cN)
      val agg = aF.groupBy(col("cid")).agg(
        count(lit(1)).as("n_vecs"),
        expr("sum(CAST(floor(d6 * 1000000e0 + 0.5e0) AS BIGINT))").as("sq"))
        .select(col("cid"), col("n_vecs"), Text.hround(
          col("sq").cast("double") / col("n_vecs").cast("double") / lit(1e6), 6)
          .as("mean_d6"))
      agg.join(cN.select(col("cid"),
          Text.hround(sqrt(expr("graft_dot(c, c)")), 6).as("cnorm6")),
        Seq("cid"))
        .orderBy(col("cid"))
    },
    Some {
      val rounds = (1 to Iters).map(i =>
        sqlRound(i, if (i == 1) "c0" else s"c${i - 1}")).mkString(",")
      val f = Iters + 1
      s"""
      WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM n WHERE vec_id < $K),
      $rounds,
      d$f AS (SELECT n.vec_id, c.cid,
               ${Text.sqlHround(
        "list_dot_product(n.v, n.v) - 2 * list_dot_product(n.v, c.c)" +
          " + list_dot_product(c.c, c.c)", 6)} AS d6
             FROM n, c$Iters c),
      a$f AS (SELECT vec_id, cid, d6 FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY d6, cid) AS rn FROM d$f) WHERE rn = 1),
      ag AS (SELECT cid, count(*) AS n_vecs,
               ${Text.sqlHround(
        "CAST(sum(CAST(floor(d6 * 1000000e0 + 0.5e0) AS BIGINT)) AS DOUBLE)" +
          " / CAST(count(*) AS DOUBLE) / 1000000e0", 6)} AS mean_d6
             FROM a$f GROUP BY 1),
      cn AS (SELECT cid, ${Text.sqlHround("sqrt(list_dot_product(c, c))", 6)}
               AS cnorm6 FROM c$Iters)
      SELECT cid, n_vecs, mean_d6, cnorm6 FROM ag JOIN cn USING (cid)
      ORDER BY cid
    """
    },
    doc = s"distributed k-means (K=$K, $Iters Lloyd rounds) over embeddings")

  // ---- centroid-distance outlier filter ---------------------------------

  /** Flag the ~5% of embeddings least aligned with the corpus centroid —
    * the cheap first-pass filter for corrupt or off-distribution vectors
    * before they poison training. Global mean vector via micro-quantized
    * per-dimension means (one (pos)-keyed shuffle, exact long sums), then
    * cosine-to-centroid per vector and an exact interpolated 5th
    * percentile as the cut. Threshold parity: the percentile interpolates
    * between two adjacent sorted INTEGER micro-cosines with fractional
    * weight 0.95 at every fixture SF (N=500/500/2000 → (N−1)·0.05 ends
    * in .95), so a last-ulp formula difference between engines sits
    * ≥0.05·gap from either neighbor and can never move a row across the
    * cut. Scale shape: two one-row broadcast scalars (mean vector,
    * threshold — ScaleSpec-intended BNLJs), no global sort anywhere; the
    * scored subtree is referenced twice (threshold + filter) but column
    * pruning reduces the threshold branch to the micro-cosine alone.
    */
  val embedOutliers: QueryDef = QueryDef(
    "embed_outliers",
    (s, d) => {
      val vecs = base(s, d).select(col("vec_id"), col("v"), col("nrm"))
      val g = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("q", expr("CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT)"))
        .groupBy(col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("pos"),
          (col("sq").cast("double") / col("n").cast("double") / lit(1e6)).as("m"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("g"))
        .withColumn("gn", sqrt(expr("graft_dot(g, g)")))
      val scored = vecs.crossJoin(broadcast(g))
        .withColumn("cos6",
          Text.hround(expr("graft_dot(v, g)") / (col("nrm") * col("gn")), 6))
        .withColumn("qc", expr("CAST(floor(cos6 * 1000000e0 + 0.5e0) AS BIGINT)"))
      val thr = scored.agg(expr("percentile(qc, 0.05e0)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("qc") <= col("thr"))
        .select(col("vec_id"), col("cos6"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
      u AS (SELECT unnest(generate_series(1, len(v))) AS pos,
              unnest([CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT) FOR x IN v]) AS q
            FROM n),
      m AS (SELECT pos, CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000e0 AS m
            FROM u GROUP BY 1),
      g AS (SELECT list(m ORDER BY pos) AS g FROM m),
      gg AS (SELECT g, sqrt(list_dot_product(g, g)) AS gn FROM g),
      sc AS (SELECT vec_id,
               ${Text.sqlHround("list_dot_product(n.v, gg.g) / (n.nrm * gg.gn)", 6)} AS cos6
             FROM n, gg),
      sq AS (SELECT vec_id, cos6,
               CAST(floor(cos6 * 1000000e0 + 0.5e0) AS BIGINT) AS qc FROM sc),
      t AS (SELECT quantile_cont(qc, 0.05e0) AS thr FROM sq)
      SELECT vec_id, cos6 FROM sq, t WHERE qc <= thr ORDER BY vec_id
    """),
    doc = "bottom-5% cosine-to-corpus-centroid embedding outliers")

  // ---- kNN label propagation --------------------------------------------

  /** kNN classification of the held-out query set (vec_id % 100 == 0)
    * from the labeled rest of the corpus: 10 nearest neighbors by
    * cosine, majority label (ties → smaller label). The per-query
    * accuracy bit is the curation metric (label-propagation fidelity).
    * Query side is tiny and broadcast (the embed_cosine_topk shape,
    * ScaleSpec-intended BNLJ); at production fan-out the brute-force
    * scoring swaps for the embed_ann_lsh candidate join — same
    * vote/rank tail.
    */
  val knnClassify: QueryDef = QueryDef(
    "knn_classify",
    (s, d) => {
      val all = base(s, d)
      val q = all.filter(col("vec_id") % 100 === 0 && col("vec_id") <= 20000)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val train = all.filter(col("vec_id") % 100 =!= 0)
      val cand = train.crossJoin(broadcast(q))
        .withColumn("cos6",
          Text.hround(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("cos6").desc, col("vec_id").asc)
      val nn = cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      val votes = nn.groupBy(col("q_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("label").asc)
      votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"),
          col("label").as("pred_label"),
          (col("label") === col("true_label")).as("correct"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH n AS ($sqlBase),
      q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv, nrm AS qn
            FROM n WHERE vec_id % 100 = 0 AND vec_id <= 20000),
      tr AS (SELECT * FROM n WHERE vec_id % 100 <> 0),
      cand AS (SELECT q.q_id, q.true_label, tr.vec_id, tr.label,
                 ${Text.sqlHround("list_dot_product(q.qv, tr.v) / (q.qn * tr.nrm)", 6)} AS cos6
               FROM q, tr),
      nn AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos6 DESC, vec_id) AS rn FROM cand) WHERE rn <= 10),
      votes AS (SELECT q_id, true_label, label, count(*) AS n_votes
                FROM nn GROUP BY 1, 2, 3)
      SELECT q_id, true_label, label AS pred_label,
             label = true_label AS correct
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY n_votes DESC, label) AS vr FROM votes)
      WHERE vr = 1 ORDER BY q_id
    """),
    doc = "10-NN majority-vote label propagation for the held-out query set")

  /** kNN label propagation at production fan-out — the swap the
    * knn_classify scaladoc promises: candidate generation is the
    * embed_ann_lsh band machinery (Extended.annBands — AnnBands
    * sign-LSH tables, query buckets broadcast, candidates from a BAND
    * EQUI-JOIN on (band, code)), then the exact cosine ranking and
    * majority-vote tail are identical to the brute-force twin. At 100 TB
    * the brute-force NLJ scores Q·N pairs; this scores
    * Q·bands·N/2^AnnBits — the constant that makes label propagation
    * affordable at corpus scale, with ann_recall quantifying the recall
    * cost on the same data. Neighbors the LSH tables miss can shrink a
    * query's vote pool below 10 (or to zero — such queries are not
    * emitted, like near-dup singletons); the oracle mirrors the candidate
    * generation exactly, so the vote is hash-checked cross-engine.
    */
  val knnClassifyAnn: QueryDef = QueryDef(
    "knn_classify_ann",
    (s, d) => {
      val all = base(s, d)
      val bands = Extended.annBands(all.select(col("vec_id"), col("v")))
      val qb = bands.filter(col("vec_id") % 100 === 0 && col("vec_id") <= 20000)
        .select(col("vec_id").as("q_id"), col("band"), col("code"))
      val cand = bands.filter(col("vec_id") % 100 =!= 0)
        .join(broadcast(qb), Seq("band", "code"))
        .select(col("q_id"), col("vec_id")).distinct()
      val scored = cand
        .join(all.select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("v").as("qv"), col("nrm").as("qn")).hint("shuffle_hash"), Seq("q_id"))
        .join(all.hint("shuffle_hash"), Seq("vec_id"))
        .withColumn("cos6",
          Text.hround(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("cos6").desc, col("vec_id").asc)
      val nn = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      val votes = nn.groupBy(col("q_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("label").asc)
      votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"),
          col("label").as("pred_label"),
          (col("label") === col("true_label")).as("correct"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH vsrc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ebands AS (${Extended.sqlAnnBands}),
      n AS ($sqlBase),
      qb AS (SELECT vec_id AS q_id, band, code FROM ebands WHERE vec_id % 100 = 0 AND vec_id <= 20000),
      cand AS (
        SELECT DISTINCT q.q_id, e.vec_id
        FROM qb q JOIN ebands e
          ON e.band = q.band AND e.code = q.code AND e.vec_id % 100 <> 0),
      sc AS (
        SELECT c.q_id, a.label AS true_label, c.vec_id, b.label,
               ${Text.sqlHround("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} AS cos6
        FROM cand c
        JOIN n a ON a.vec_id = c.q_id
        JOIN n b ON b.vec_id = c.vec_id),
      nn AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos6 DESC, vec_id) AS rn FROM sc) WHERE rn <= 10),
      votes AS (SELECT q_id, true_label, label, count(*) AS n_votes
                FROM nn GROUP BY 1, 2, 3)
      SELECT q_id, true_label, label AS pred_label,
             label = true_label AS correct
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY n_votes DESC, label) AS vr FROM votes)
      WHERE vr = 1 ORDER BY q_id
    """),
    doc = "kNN label propagation over sign-LSH band candidates (the scale path)")

  /** Greedy k-center coreset — farthest-point diversity sampling, the
    * standard coreset/seed-selection primitive for training-data pruning
    * (pick the K most mutually-distant embeddings; 2-approximation of the
    * k-center objective, Gonzalez 1985). Seed = min vec_id (the
    * conventional arbitrary-start), then 7 unrolled greedy steps in ONE
    * lazy plan: step k broadcasts the (k−1)-row selected set AS ONE ARRAY
    * (KB-scale — a one-row crossJoin, the tfidf scalar-subquery shape,
    * ScaleSpec `intended`), computes each vector's min squared distance
    * ROW-LOCALLY (array_min over a transform — no k-fold row expansion,
    * no groupBy), and takes the argmax with a single max_by aggregate
    * (partial+final — never a corpus-wide window). K passes over the
    * corpus is the honest cost of exact greedy k-center at any scale.
    * Parity: squared distances expand to three graft_dot /
    * list_dot_product calls (identical left-to-right float chains) and
    * are hround(6)-quantized BEFORE min/argmax, so both engines compare
    * identical doubles; all ties break on vec_id. The reported d6 is the
    * k-center coverage radius at each step — monotone non-increasing by
    * the greedy invariant (OperatorSpec asserts it).
    */
  val kcenterCoreset: QueryDef = {
    val K = 8
    val distSql = "floor((graft_dot(v, v) - 2 * graft_dot(v, c) " +
      "+ graft_dot(c, c)) * 1000000e0 + 0.5e0) / 1000000e0"
    QueryDef(
      "kcenter_coreset",
      (s, d) => {
        val vecs = base(s, d).select(col("vec_id"), col("v"))
        val sel1 = vecs
          .agg(min_by(struct(col("vec_id").as("cid"), col("v").as("cv")),
            col("vec_id")).as("m"))
          .select(lit(1).as("sel_order"), col("m.cid").as("cid"),
            col("m.cv").as("cv"), lit(null).cast("double").as("d6"))
          // each one-row selection is a subtree of EVERY later step's
          // plan (step k embeds steps 1..k−1): a LAZY localCheckpoint
          // truncates the LOGICAL tree too (the bpeLoop discipline) —
          // the old Pin.pin kept execution at K corpus passes but the
          // nested logical plan still grew ~2^K Catalyst nodes, and
          // JobProfile measured 2.4 s of PURE DRIVER ANALYSIS per warm
          // run (execution jobs: two × ≤40 ms). Checkpointed steps keep
          // the one-row crossJoin(broadcast) shape (ScaleSpec
          // `intended`) and the K-pass execution, at O(K) analysis;
          // construction now runs the step jobs (ScaleSpec `eager`,
          // exactly like bpe_encode — Bench times fn()+count together).
          .localCheckpoint(false)
        val sels = (2 to K).foldLeft(Vector(sel1)) { (acc, k) =>
          val centers = acc.zipWithIndex
            .map { case (f, i) => f.select(col("cv").as(s"cv$i")) }
            .reduce((a, b) => a.crossJoin(broadcast(b)))
            .select(array((0 until acc.size).map(i => col(s"cv$i")): _*)
              .as("cs"))
          val sk = vecs.crossJoin(broadcast(centers))
            .select(col("vec_id"), col("v"),
              expr(s"array_min(transform(cs, c -> $distSql))").as("dmin"))
            .agg(
              max_by(struct(col("vec_id").as("cid"), col("v").as("cv")),
                struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"),
              max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("mo"))
            .select(lit(k).as("sel_order"), col("m.cid").as("cid"),
              col("m.cv").as("cv"), col("mo.dmin").as("d6"))
            .localCheckpoint(false)
          acc :+ sk
        }
        sels.map(_.select(col("sel_order"), col("cid"), col("d6")))
          .reduce(_ unionAll _)
          .orderBy(col("sel_order"))
      },
      Some {
        def hr(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
        val dist = hr("list_dot_product(s.v, s.v) " +
          "- 2 * list_dot_product(s.v, c) + list_dot_product(c, c)")
        val ctes = scala.collection.mutable.ArrayBuffer(
          "vs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
          "c1 AS (SELECT vec_id AS cid, v AS cv FROM vs ORDER BY vec_id LIMIT 1)")
        val sel = scala.collection.mutable.ArrayBuffer(
          "SELECT 1 AS sel_order, cid, CAST(NULL AS DOUBLE) AS d6 FROM c1")
        for (k <- 2 to K) {
          val prev = (1 until k).map(i => s"c$i").mkString(", ")
          val arr = "[" + (1 until k).map(i => s"c$i.cv").mkString(", ") + "]"
          ctes += s"l$k AS (SELECT $arr AS cs FROM $prev)"
          ctes += (s"s$k AS (SELECT s.vec_id, s.v, list_min(list_transform(" +
            s"(SELECT cs FROM l$k), c -> $dist)) AS dmin FROM vs s)")
          ctes += (s"c$k AS (SELECT vec_id AS cid, v AS cv, dmin FROM s$k " +
            "ORDER BY dmin DESC, vec_id ASC LIMIT 1)")
          sel += s"SELECT $k AS sel_order, cid, dmin AS d6 FROM c$k"
        }
        "WITH " + ctes.mkString(",\n") +
          "\nSELECT * FROM (" + sel.mkString(" UNION ALL ") +
          ") ORDER BY sel_order"
      },
      doc = "greedy k-center coreset (farthest-point diversity sampling, 8 picks)")
  }

  // ---- product quantization ---------------------------------------------

  /** PQ geometry: M subspaces of Dim/M dims, K centroids per subspace,
    * fixed Lloyd rounds (the kmeans_embed discipline — fixed depth so
    * the oracle unrolls identically).
    */
  private val PqM     = 8
  private val PqSub   = 8  // dims per subspace (64 / PqM)
  private val PqK     = 16
  private val PqIters = 2

  /** (vec_id, m, sv): every vector split into its M subvectors — the
    * PQ-defining move expressed as DATA, not as M unrolled plans: the
    * subspace index is a key column, so ONE assign/update dataflow
    * trains all M codebooks simultaneously (each shuffle keys on
    * (m, cid[, pos]) — M× the kmeans key domain, same passes).
    */
  private def subvecs(s: SparkSession, d: String): DataFrame =
    base(s, d).select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), mm -> slice(v, mm * $PqSub + 1, $PqSub))"))
        .as(Seq("m", "sv")))

  /** One PQ assignment pass: nearest codeword per (vector, subspace).
    * Codebooks are M·K = 128 rows — broadcast; argmin via min(struct)
    * on the 6-dp-rounded distance (ties → cid), one (vec_id, m)-keyed
    * aggregate.
    */
  private def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.join(broadcast(cents), Seq("m"))
      .withColumn("d6", Text.hround(
        expr("graft_dot(sv, sv) - 2 * graft_dot(sv, c) + graft_dot(c, c)"), 6))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d6"), col("cid"), col("sv"))).as("x"))
      .select(col("vec_id"), col("m"), col("x.d6").as("d6"),
        col("x.cid").as("cid"), col("x.sv").as("sv"))

  /** One PQ update pass: per-(subspace, codeword, dimension) mean over
    * micro-quantized components (exact long sums), rebuilt into arrays.
    */
  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
      .withColumn("q", expr("CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT)"))
      .groupBy(col("m"), col("cid"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("m"), col("cid"), col("pos"),
        (col("sq").cast("double") / col("n").cast("double") / lit(1e6)).as("mv"))
      .groupBy(col("m"), col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)")
        .as("c"))

  /** Trained PQ state: (subvector frame, final codebooks, final codes).
    * sv is Pin.tagged — the training rounds, the final assignment, and
    * pq_recall's query-side distance table all reference it.
    */
  private def pqTrained(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sv = Pin.tagged(subvecs(s, d))
    val c0 = sv.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sv").as("c"))
    val cN = (1 to PqIters).foldLeft(c0)((c, _) => pqUpdate(pqAssign(sv, c)))
    (sv, cN, pqAssign(sv, cN))
  }

  /** Final (vec_id, m, cid, d6) code frame after training. */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    pqTrained(s, d)._3

  /** DuckDB mirror: sv → c0 → PqIters assign/update rounds → final codes
    * CTE `af(vec_id, m, cid, d6)`. Shared by both PQ oracles.
    */
  private def sqlPqCodesCtes: String = {
    def round(i: Int, prev: String) = s"""
      d$i AS (SELECT s.vec_id, s.m, s.sv, c.cid,
               ${Text.sqlHround(
        "list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.c)" +
          " + list_dot_product(c.c, c.c)", 6)} AS d6
             FROM sv s JOIN $prev c ON c.m = s.m),
      a$i AS (SELECT vec_id, m, sv, cid FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY d6, cid) AS rn FROM d$i) WHERE rn = 1),
      u$i AS (SELECT m, cid, unnest(generate_series(1, len(sv))) AS pos,
               unnest([CAST(floor(x * 1000000e0 + 0.5e0) AS BIGINT) FOR x IN sv]) AS q
             FROM a$i),
      mm$i AS (SELECT m, cid, pos,
               CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000e0 AS mv
             FROM u$i GROUP BY 1, 2, 3),
      c$i AS (SELECT m, cid, list(mv ORDER BY pos) AS c FROM mm$i GROUP BY 1, 2)"""
    val rounds = (1 to PqIters).map(i =>
      round(i, if (i == 1) "c0" else s"c${i - 1}")).mkString(",")
    val f = PqIters
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sv AS (SELECT vec_id, m, list_slice(v, m * $PqSub + 1, m * $PqSub + $PqSub) AS sv
             FROM n, UNNEST(generate_series(0, ${PqM - 1})) AS t(m)),
      c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS c FROM sv
             WHERE vec_id < $PqK),
      $rounds,
      df AS (SELECT s.vec_id, s.m, c.cid,
               ${Text.sqlHround(
        "list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.c)" +
          " + list_dot_product(c.c, c.c)", 6)} AS d6
             FROM sv s JOIN c$f c ON c.m = s.m),
      af AS (SELECT vec_id, m, cid, d6 FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY d6, cid) AS rn FROM df) WHERE rn = 1)"""
  }

  /** Product-quantization codebook training + corpus encoding — the
    * compression leg of a billion-scale ANN stack (IVF-PQ): 64-d floats
    * → M=$PqM codes of log2($PqK) bits (64× compression), trained
    * IN-PLAN by Lloyd rounds where the subspace index is a key column
    * (see [[subvecs]] — no per-subspace plan unrolling; shuffles key on
    * (m, cid, pos), map-side combined; codebooks are 128-row
    * broadcasts). Output: per-(subspace, codeword) occupancy and mean
    * quantization error — the codebook-health report (a dead codeword
    * shows n_vecs = 0 by absence; a collapsed subspace shows one fat
    * codeword).
    */
  val pqTrainEncode: QueryDef = QueryDef(
    "pq_train_encode",
    (s, d) => pqCodes(s, d)
      .groupBy(col("m"), col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(CAST(floor(d6 * 1000000e0 + 0.5e0) AS BIGINT))").as("sq"))
      .select(col("m"), col("cid"), col("n_vecs"), Text.hround(
        col("sq").cast("double") / col("n_vecs").cast("double") / lit(1e6), 6)
        .as("mean_d6"))
      .orderBy(col("m"), col("cid")),
    Some(s"""
      WITH $sqlPqCodesCtes
      SELECT CAST(m AS INTEGER) AS m, cid, count(*) AS n_vecs,
             ${Text.sqlHround(
      "CAST(sum(CAST(floor(d6 * 1000000e0 + 0.5e0) AS BIGINT)) AS DOUBLE)" +
        " / CAST(count(*) AS DOUBLE) / 1000000e0", 6)} AS mean_d6
      FROM af GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = s"PQ codebook training ($PqM×$PqK, $PqIters Lloyd rounds, subspace-as-key) + encode audit")

  /** ADC recall@5 — the evaluation that decides whether the PQ
    * compression is usable for retrieval: queries (vec_id % 100 == 0)
    * rank the corpus by ASYMMETRIC distance (query subvector → codeword
    * lookup table, the classic ADC of Jégou et al. 2011) and the top-5
    * is compared against the exact float L2 top-5. The distance table
    * is (n_q · M · K) rows — KB-scale, broadcast; per-entry distances
    * are micro-quantized to BIGINT BEFORE the Σ over subspaces, so the
    * ADC score is an exact integer sum in any order and the top-5
    * cut-off ties break identically cross-engine on (score, vec_id).
    * The corpus-side cost is one equi-join of the code frame against
    * the broadcast table + one (q, vec) aggregate — at production scale
    * this sits behind an IVF prune (embed_ann_ivf), which is exactly
    * how IVF-PQ composes. Truth is the brute-force L2 top-5
    * (embed_cosine_topk's broadcast shape, ScaleSpec-intended).
    */
  val pqRecall: QueryDef = QueryDef(
    "pq_recall",
    (s, d) => {
      val (sv, cN, codes) = pqTrained(s, d)
      val qs = base(s, d).filter(col("vec_id") % 100 === 0 && col("vec_id") <= 20000)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val truth = base(s, d).select(col("vec_id").as("x"), col("v"))
        .crossJoin(broadcast(qs))
        .filter(col("x") =!= col("qid"))
        .withColumn("d6", Text.hround(
          expr("graft_dot(v, v) - 2 * graft_dot(v, qv) + graft_dot(qv, qv)"), 6))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("d6"), col("x"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("x"))
      val dt = sv.filter(col("vec_id") % 100 === 0 && col("vec_id") <= 20000)
        .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
        .join(broadcast(cN), Seq("m"))
        .select(col("qid"), col("m"), col("cid"), expr(
          """CAST(floor((graft_dot(qsv, qsv) - 2 * graft_dot(qsv, c)
              + graft_dot(c, c)) * 1000000e0 + 0.5e0) AS BIGINT)""").as("dtq"))
      val adc = codes.select(col("vec_id"), col("m"), col("cid"))
        .join(broadcast(dt), Seq("m", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("dtq")).as("adcq"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("adcq"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id").as("x"), lit(1).as("hit"))
      truth.join(adc, Seq("qid", "x"), "left")
        .agg(countDistinct(col("qid")).as("n_q"),
          count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
        .select(col("n_q"), col("n_truth"), col("n_hit"),
          Text.hround(col("n_hit").cast("double") / col("n_truth"), 4)
            .as("recall5"))
    },
    Some(s"""
      WITH $sqlPqCodesCtes,
      q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id % 100 = 0 AND vec_id <= 20000),
      tr AS (SELECT qid, x FROM (
        SELECT q.qid, x.vec_id AS x,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 ${Text.sqlHround(
      "list_dot_product(x.v, x.v) - 2 * list_dot_product(x.v, q.qv)" +
        " + list_dot_product(q.qv, q.qv)", 6)}, x.vec_id) AS rn
        FROM n x, q WHERE x.vec_id <> q.qid) WHERE rn <= 5),
      dt AS (SELECT s.vec_id AS qid, s.m, c.cid,
               CAST(floor((list_dot_product(s.sv, s.sv)
                 - 2 * list_dot_product(s.sv, c.c)
                 + list_dot_product(c.c, c.c)) * 1000000e0 + 0.5e0)
                 AS BIGINT) AS dtq
             FROM sv s JOIN c$PqIters c ON c.m = s.m
             WHERE s.vec_id % 100 = 0 AND vec_id <= 20000),
      adc AS (SELECT qid, vec_id AS x FROM (
        SELECT dt.qid, af.vec_id,
               row_number() OVER (PARTITION BY dt.qid
                 ORDER BY sum(dt.dtq), af.vec_id) AS rn
        FROM af JOIN dt ON af.m = dt.m AND af.cid = dt.cid
        WHERE af.vec_id <> dt.qid
        GROUP BY dt.qid, af.vec_id) WHERE rn <= 5)
      SELECT CAST(count(DISTINCT tr.qid) AS BIGINT) AS n_q,
             count(*) AS n_truth,
             CAST(count(adc.x) AS BIGINT) AS n_hit,
             ${Text.sqlHround(
      "CAST(count(adc.x) AS DOUBLE) / count(*)", 4)} AS recall5
      FROM tr LEFT JOIN adc ON adc.qid = tr.qid AND adc.x = tr.x
    """),
    doc = "PQ asymmetric-distance recall@5 vs exact L2 truth (integer-exact ADC sums)")

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) —
    * the diversity-aware top-k a retrieval/curation stack runs AFTER
    * similarity search: from each query's top-20 cosine candidates
    * (the embed_cosine_topk brute-force truth, broadcast query side —
    * ScaleSpec `intended`), greedily pick K = 5 maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) with λ = 0.7.
    *
    * Scale shape: the candidate pool per query is FIXED (20), so after
    * the one collect_list shuffle the ENTIRE greedy selection runs as a
    * single row-local aggregate() fold — zero per-step shuffles, zero
    * unrolled plan depth, no growing lineage (contrast kcenter_coreset,
    * whose selection set must come from the whole corpus and therefore
    * pays K passes; MMR's pool-bounded variant is the production shape
    * for per-query re-ranking). Parity: rel is the already-6-dp cos6,
    * pairwise sims and the marginal score are hround(6)-quantized before
    * every comparison (identical graft_dot / list_dot_product chains),
    * ties break on vec_id, and step 1's score is literally
    * 0.7·cos6 − 0.3·0 in both engines. The oracle replays the greedy
    * as 5 unrolled window-argmax CTE steps — an independent formulation
    * of the same fixed point (the ppjoin independent-oracle style).
    */
  val mmrDiverseTopk: QueryDef = {
    val hr6 = "floor((%s) * 1000000e0 + 0.5e0) / 1000000e0"
    val foldExpr = s"""
      aggregate(
        sequence(1, 5),
        CAST(array() AS ARRAY<STRUCT<ord: INT, id: BIGINT, score6: DOUBLE,
          v: ARRAY<DOUBLE>, nrm: DOUBLE>>),
        (sel, stepi) -> array_append(sel,
          element_at(
            array_sort(
              transform(
                filter(cs, c -> NOT exists(sel, s -> s.id = c.nn_id)),
                c -> struct(
                  stepi AS ord,
                  c.nn_id AS id,
                  ${hr6.format(
                    "0.7e0 * c.cos6 - 0.3e0 * coalesce(array_max(" +
                      "transform(sel, s -> " +
                      hr6.format("graft_dot(c.v, s.v) / (c.nrm * s.nrm)") +
                      ")), 0e0)")} AS score6,
                  c.v AS v,
                  c.nrm AS nrm)),
              (l, r) -> CASE WHEN l.score6 > r.score6 THEN -1
                             WHEN l.score6 < r.score6 THEN 1
                             WHEN l.id < r.id THEN -1
                             WHEN l.id > r.id THEN 1 ELSE 0 END),
            1)))"""
    QueryDef(
      "mmr_diverse_topk",
      (s, d) => {
        val cand = Extended.cosineTopKAt(s, d, 20)
        val vv = Extended.vecs(s, d)
          .select(col("vec_id"), col("v"), col("nrm"))
        val pools = cand
          .join(vv.hint("shuffle_hash"), col("nn_id") === col("vec_id"))
          .groupBy(col("q_id"))
          .agg(expr("array_sort(collect_list(struct(rn, nn_id, cos6, v, nrm)))")
            .as("cs"))
        pools
          .select(col("q_id"), explode(expr(foldExpr)).as("m"))
          .select(col("q_id"), col("m.ord").as("sel_order"),
            col("m.id").as("nn_id"), col("m.score6").as("score6"))
          .orderBy(col("q_id"), col("sel_order"))
      },
      Some {
        def hr(x: String) = s"floor(($x) * 1000000e0 + 0.5e0) / 1000000e0"
        val steps = (2 to 5).map { k =>
          s"""ms$k AS MATERIALIZED (SELECT p.q_id, p.x AS nn_id, max(p.sim6) AS m
                 FROM ps p JOIN sel${k - 1} s
                   ON s.q_id = p.q_id AND s.nn_id = p.y
                 GROUP BY 1, 2),
             pick$k AS MATERIALIZED (SELECT q_id, nn_id, $k AS sel_order, score6 FROM (
                 SELECT c.q_id, c.nn_id,
                        ${hr("0.7e0 * c.cos6 - 0.3e0 * ms.m")} AS score6,
                        row_number() OVER (PARTITION BY c.q_id ORDER BY
                          ${hr("0.7e0 * c.cos6 - 0.3e0 * ms.m")} DESC,
                          c.nn_id) AS r
                 FROM cand c JOIN ms$k ms
                   ON ms.q_id = c.q_id AND ms.nn_id = c.nn_id
                 WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s
                   WHERE s.q_id = c.q_id AND s.nn_id = c.nn_id))
               WHERE r = 1),
             sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1}
               UNION ALL SELECT q_id, nn_id, sel_order, score6 FROM pick$k)"""
        }.mkString(",\n        ")
        s"""
        WITH n AS (${Extended.sqlVecs}),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
              WHERE vec_id % 100 = 0 AND vec_id <= 20000),
        cd0 AS (SELECT q.q_id, n.vec_id AS nn_id,
                  ${Text.sqlHround(
                    "list_dot_product(q.qv, n.v) / (q.qn * n.nrm)", 6)} AS cos6,
                  n.v, n.nrm
                FROM q, n WHERE n.vec_id <> q.q_id),
        cand AS MATERIALIZED (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY cos6 DESC, nn_id) AS rn FROM cd0)
                WHERE rn <= 20),
        ps AS MATERIALIZED (
          SELECT a.q_id, a.nn_id AS x, b.nn_id AS y,
                 ${Text.sqlHround(
                   "list_dot_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} AS sim6
          FROM cand a JOIN cand b
            ON a.q_id = b.q_id AND a.nn_id <> b.nn_id),
        sel1 AS MATERIALIZED (SELECT q_id, nn_id, 1 AS sel_order, score6 FROM (
            SELECT q_id, nn_id,
                   ${hr("0.7e0 * cos6 - 0.3e0 * 0e0")} AS score6,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                     ${hr("0.7e0 * cos6 - 0.3e0 * 0e0")} DESC, nn_id) AS r
            FROM cand) WHERE r = 1),
        $steps
        SELECT q_id, CAST(sel_order AS INTEGER) AS sel_order, nn_id, score6
        FROM sel5 ORDER BY q_id, sel_order
        """
      },
      doc = "MMR diversity re-rank: top-20 cosine pool, 5 greedy picks as one row-local fold")
  }

  val all: Seq[QueryDef] =
    Seq(kmeansEmbed, embedOutliers, knnClassify, knnClassifyAnn,
      kcenterCoreset, pqTrainEncode, pqRecall, mmrDiverseTopk)
}
