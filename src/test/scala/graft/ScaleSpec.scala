package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Regression guards for the plan properties the engine's 100 TB posture
  * depends on: filter pushdown, column pruning, partition pruning, and
  * the flagship's single-shuffle shape.
  */
class ScaleSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE
    // AQE's toString prints "== Final Plan ==" followed by the initial
    // plan; keep only the final section so node counts aren't doubled
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("flagship: filters pushed to scan, columns pruned, one data shuffle") {
    val df = pipeline.Climate.monthly.fn(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate"), s"no pushed filters:\n$plan")
    // pruned lineitem read: 5 of 11 columns
    val read = plan.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("l_suppkey"))
    assert(read.isDefined && !read.get.contains("l_comment") &&
      !read.get.contains("l_returnflag"), s"scan not pruned: $read")
    // exactly one hash-partitioned exchange for the agg (plus the sort's
    // range exchange); dim join must be broadcast
    val hashEx = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "dim join not broadcast")
  }

  test("no shuffle in the dedup/signature family carries document bodies") {
    // The round-4 helper parameterization lets carry columns ride the
    // MinHash pipeline (streaming needs its event-time column); batch
    // callers must keep passing only (doc_id, w) so the signature
    // exchange shuffles hashes, never text. This locks that invariant
    // mechanically for every registered consumer of the pipeline.
    val family = Seq("exact_dedup", "minhash_lsh_pairs", "dup_clusters",
      "cluster_canonical", "incremental_dedup", "minhash_calibration",
      "ngram_jaccard_pairs", "decontaminate", "boilerplate_frac",
      "corpus_overlap", "semantic_dedup", "paraphrase_pairs",
      "ppjoin_jaccard", "dup_span_runs")
    family.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      shuffles.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"$name shuffles the document body: ${e.output.map(_.name)}")
      }
    }
  }

  test("no unintended nested-loop or cartesian join in ANY query plan") {
    // These queries broadcast a deliberately tiny side against every row:
    // the brute-force top-k baseline (whole point: score all pairs), IVF
    // centroid assignment (every vector scores all ~10 centroids), tfidf's
    // ONE-ROW corpus-count cross join (the scalar-subquery shape), and
    // ann_recall, which embeds the first two as verified subplans. All are
    // broadcast-NLJ over KB-scale builds — fine at any scale.
    // domain_mix_sample, funnel_conversion, and bm25_topk share tfidf's
    // one-row scalar-subquery broadcast cross join. month_spine_fill
    // crosses a GENERATED month spine (~100 rows, no scan) with the tiny
    // distinct-priority dim — both sides constant-size by construction.
    // nearest_knn_irregular broadcasts its ONE-ROW in-plan cell-pitch
    // aggregate (G = sqrt(area*K/N)) into both join sides — same shape.
    // importance_weights crosses the ONE-ROW model-totals frame (Nc, Nt,
    // V) with the token stream — perplexity_unigram's exact shape.
    // heavy_hitters broadcasts its ONE-ROW total-count frame and the
    // ≤ k-row Misra-Gries candidate list — both KB-scale by construction.
    // kmeans_embed/embed_outliers/knn_classify broadcast K-row centroid
    // frames, one-row mean/threshold scalars, or the tiny query set —
    // all KB-scale builds (ops/Clustering.scala scaladocs); and
    // perplexity_bigram rides its ONE-ROW vocabulary-size frame exactly
    // like perplexity_unigram.
    // market_basket_lift crosses its ONE-ROW basket-total frame with the
    // bounded brand-pair aggregate — the same scalar-subquery shape.
    val intended = Set("embed_cosine_topk", "embed_ann_ivf", "tfidf",
      // temporal_label_split broadcast-crosses the one-row stream-max
      // frame that anchors the feature/label cut instant
      "temporal_label_split",
      "ann_recall", "ann_ndcg", "ann_recall20", "domain_mix_sample",
      "funnel_conversion", "bm25_topk",
      "month_spine_fill", "perplexity_unigram", "hll_partition_union",
      // hll_intersection crosses four one-row frames (two sketches,
      // exact intersection/union counts) — all KB-scale builds.
      "hll_intersection",
      "nearest_knn_irregular", "importance_weights", "heavy_hitters",
      "kmeans_embed", "embed_outliers", "knn_classify", "perplexity_bigram",
      "market_basket_lift", "cms_freq_bound", "collocation_pmi",
      "autocorr_daily", "theil_sen_slope", "source_drift_js",
      "quantized_recall", "cuped_adjusted_ab", "kaplan_meier",
      "llr_collocations", "contrastive_pairs", "trending_terms",
      "leakage_safe_split",
      // kcore_peel broadcast-crosses its ONE-ROW (p, q) threshold frame
      // into every peel round — the same scalar-subquery shape; and
      // kcenter_coreset broadcasts its one-row selected-centers ARRAY
      // into each of the 7 unrolled greedy steps (KB-scale builds).
      // bpe_merge_rounds broadcasts each round's one-row winning pair
      // into the next round's merge fold — the same unrolled shape.
      "kcore_peel", "kcenter_coreset", "bpe_merge_rounds", "bpe_encode",
      // cms_join_size broadcast-crosses two one-row frames (the sketch
      // cells and the exact self-join count) — KB-scale builds; and
      // kmv_set_ops crosses its one-row bottom-k sketch aggregate with
      // the one-row exact-counts frame (same scalar-subquery shape).
      "cms_join_size", "kmv_set_ops",
      // kmv_partition_union crosses three one-row frames (merged
      // sketch, direct sketch, exact count) — KB-scale builds; and
      // ks_sketch_drift crosses its one-row exact-D, sketch-D, and
      // eps frames (same scalar-subquery shape).
      "kmv_partition_union", "ks_sketch_drift",
      // the embCandidates adaptive-bit-width fix (round 13) broadcast-
      // crosses a one-row corpus-count frame into every consumer of the
      // embedding near-dup banding — the scalar-subquery shape.
      "embed_near_dup", "embed_near_dup_strict", "ann_state_append",
      "ann_store_search", "ann_store_gc", "ann_store_search_live",
      "ann_store_upsert", "ann_store_search_mp", "ann_stream_search",
      "paraphrase_pairs",
      "semantic_dedup", "curation_pipeline", "curation_funnel",
      // perplexity_interp/kneser_ney ride their one-row bigram-total /
      // bigram-type frames exactly like perplexity_unigram/bigram.
      "perplexity_interp", "perplexity_kneser_ney",
      // psi_value_drift broadcasts its one-row time-midpoint frame;
      // lsh_recall_eval and er_recall_eval broadcast their one-row
      // candidate-count frames.
      "psi_value_drift", "lsh_recall_eval", "er_recall_eval",
      // sql_important_parts broadcasts its one-row (total, n-parts)
      // frame into the per-part cut — the tfidf scalar-subquery shape.
      // pq_recall broadcasts the tiny query set into the brute-force
      // L2 truth leg (the embed_cosine_topk shape).
      "sql_important_parts", "pq_recall",
      // quality_logit broadcasts its one-row weight-vector frame into
      // each GD round and the one-row doc-count frame (both KB-scale);
      // score_calibration and quality_auc share those (same scoredDocs
      // training subtree); ttl_distinct_types broadcasts its one-row
      // stream-end timestamp.
      "quality_logit", "score_calibration", "quality_auc",
      "ttl_distinct_types",
      // rrf_fusion crosses bm25's one-row corpus-stats frame and the
      // one-row doc-0 query vector — both scalar-subquery broadcasts.
      "rrf_fusion",
      // mmr_diverse_topk embeds cosineTopKAt's broadcast query set (the
      // embed_cosine_topk shape); bradley_terry_strength broadcasts each
      // round's one-row normalization total (the scalar-subquery shape).
      "mmr_diverse_topk", "bradley_terry_strength",
      // simhash_near_dup and image_phash_near_dup broadcast-cross their
      // ONE-ROW document-count frame into the width ladder (round-15;
      // the embCandidates shape).
      "simhash_near_dup", "image_phash_near_dup")
    SparkEntry.defs.foreach { q =>
      val df = q.fn(spark, sfDir)
      val phys = df.queryExecution.sparkPlan.toString
      assert(!phys.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n$phys")
      if (!intended(q.name))
        assert(!phys.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans a nested-loop join:\n$phys")
    }
  }

  test("dedup pipeline hashes shingles ONCE: ReusedExchange in the plan") {
    // The repartition(doc_id) in Extended.shingleHashes is a deliberate
    // materialization boundary: without it, ProjectCollapse inlines the
    // md5 chain into every consumer (12 minhash mins, both join sides,
    // the Jaccard sets) — measured 10-50 s vs ~2 s at sf0.1 in round 2.
    // Guard the hash-once property: the exchange must be REUSED, not
    // re-executed, everywhere the signature/shingle subtree is consumed.
    // Since round 17 the shingle-hash frame is Pin.tagged in the shared
    // helper, so consumers may read it as an InMemoryTableScan (one
    // cache fill per session — hash-once holds even more strongly);
    // without the cache entry the repartition exchange must be reused.
    Seq(ops.Extended.minhashLsh, ops.Extended.ngramJaccard,
      ops.Extended.editDistancePairs, ops.Extended.containmentPairs)
      .foreach { q =>
      val plan = planOf(q.fn(spark, sfDir))
      assert(plan.contains("ReusedExchange") ||
        plan.contains("InMemoryTableScan"),
        s"${q.name}: shingle-hash frame neither cache-read nor " +
          s"exchange-reused — the md5 chain is recomputed per consumer:\n$plan")
      // (r17-ADVICE suggested additionally bounding md5 occurrences in
      // the plan string; measured infeasible — InMemoryRelation nodes
      // PRINT their cached child plan, so every cache read of the
      // shingle frame legitimately surfaces the md5 chain text once
      // per relation and the count cannot separate recompute from
      // cache description.)
    }
    // simhash_near_dup needs no ReusedExchange since round 3: the full
    // signature rides along in the bucket collect_list struct, so the
    // signature subtree has exactly ONE consumer (no join-back). Guard
    // the stronger property instead: the ONLY join in the plan is the
    // round-15 width ladder's one-row document-count broadcast cross
    // join — any equi-join would be a re-grown signature join-back.
    val simPlan = planOf(ops.Extended.simhashNearDup.fn(spark, sfDir))
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").foreach { j =>
      assert(!simPlan.contains(j),
        s"simhash_near_dup re-grew a signature join-back ($j) — the " +
          s"banded collect_list should carry the simhash itself:\n$simPlan")
    }
    // TWO one-row count broadcast crosses since round 16: the width
    // ladder's (banding side) plus the 128-rung hash-material gate
    // inside simhashSigs (the top two salted md5s sit behind an
    // IF(nd > Sim128N, ...) evaluated per word row).
    assert("BroadcastNestedLoopJoin".r.findAllIn(simPlan).size === 2,
      s"simhash_near_dup should have exactly the two one-row count " +
        s"broadcast cross joins (ladder + 128-rung hash gate):\n$simPlan")
  }

  test("rrf_fusion: both legs depth-cut by TakeOrdered before any global window") {
    // The scale property that makes the single-partition row_number
    // windows safe: each retrieval leg must be cut to its 100-row depth
    // by TakeOrderedAndProject (per-partition heaps) BEFORE the global
    // window ranks it — a plan where the window sees the corpus would
    // funnel every scored row through one partition at 100 TB. Three
    // TakeOrdered nodes: lex leg, dense leg, final top-20.
    val plan = planOf(ops.Extended.rrfFusion.fn(spark, sfDir))
    val cuts = "TakeOrderedAndProject".r.findAllIn(plan).size
    assert(cuts >= 3, s"rrf_fusion: expected 3 TakeOrdered depth cuts, found $cuts:\n$plan")
  }

  test("knn_classify_ann candidates come from a band equi-join, not the NLJ") {
    // The production swap knn_classify's scaladoc promises: candidate
    // generation must be an equi-join on the (band, code) LSH keys —
    // never the brute-force Q×N nested loop the correctness twin runs.
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = ops.Clustering.knnClassifyAnn.fn(spark, sfDir)
      .queryExecution.sparkPlan
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"),
      s"knn_classify_ann fell back to a nested-loop join:\n$plan")
    // Assert the join KEYS, not plan-string proximity: some hash/merge
    // join must key on both `band` and `code`.
    val joinKeys = plan.collect {
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec  => j.leftKeys ++ j.rightKeys
      case j: SortMergeJoinExec     => j.leftKeys ++ j.rightKeys
    }
    assert(joinKeys.exists { ks =>
      val names = ks.flatMap(_.references.toSeq).map(_.name).toSet
      names.contains("band") && names.contains("code")
    }, s"knn_classify_ann has no (band, code) equi-join:\n$plan")
  }

  test("corpus-sized ANN query set runs the shuffle path, not a broadcast") {
    // The broadcast-cutover contract from annLsh's scaladoc, executable:
    // when Q ≈ N (all-kNN), the (band, code) candidate join must
    // shuffle-hash with both sides partitioned by the band key — never
    // broadcast a corpus-sized side, never fall back to a nested loop.
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec}
    val plan = ops.Extended.annCandidatesShuffle(spark, sfDir)
      .queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"all-kNN candidates degenerated to a nested loop:\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"all-kNN candidate join broadcasts a corpus-sized side:\n$plan")
    val shuffled = plan.collect { case j: ShuffledHashJoinExec =>
      (j.leftKeys ++ j.rightKeys).flatMap(_.references.toSeq).map(_.name).toSet
    }
    assert(shuffled.exists(ks => ks.contains("band") && ks.contains("code")),
      s"all-kNN candidates lack a shuffle-hash (band, code) equi-join:\n$plan")
  }

  test("no pair-enumerating join on a fixed-domain bucket key") {
    // Round-2 pathology guard: embed_near_dup/curation_pipeline used to
    // SELF-JOIN on a fixed 16-value sign-LSH code (`bkt`) — O(N²/16)
    // candidate pairs at scale. The whole embedding-LSH family now runs on
    // the parameterized banded machinery (Extended.embBands/embCandidates:
    // capped groupBy + pair-expand, or query-side-broadcast band joins),
    // so NO query may join on a `bkt` bucket column.
    SparkEntry.defs.foreach { q =>
      val joins = q.fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      joins.foreach { j =>
        val refs = j.condition.toSeq.flatMap(_.references.toSeq).map(_.name)
        assert(!refs.contains("bkt"),
          s"${q.name} joins on a fixed-domain bucket key: $refs")
      }
    }
  }

  test("adaptive bit/band ladders: fixture floor, monotone growth, distinct hyperplanes") {
    // The round-13/14 fixed-domain-bucket-key fix, pinned: the in-plan
    // bit ladder must floor at 8 bits / 4 bands for every fixture SF
    // (zero oracle churn) and widen BOTH knobs monotonically with the
    // corpus count — bits bound bucket population, bands restore the
    // recall the wider codes give up.
    def eval(ladder: String, n: Long): Int =
      spark.sql(s"SELECT ${ladder.replace("count(*)", n.toString)
        .replace("nv", n.toString)} AS x").head().getInt(0)
    val counts = Seq(20L, 200L, 2000L, 2048L, 2049L, 20000L, 200000L,
      262144L, 262145L, 2000000L, 10000000L,
      // round-15 rungs: the projection-bit decades (8·2^21..8·2^24)
      20000000L, 60000000L, 200000000L)
    val nbs = counts.map(n => eval(ops.Extended.nbLadder("nv"), n))
    val bands = counts.map(n => eval(ops.Extended.nBandsLadder("nv"), n))
    assert(nbs.take(4) === Seq(8, 8, 8, 8), s"fixture SFs must floor at 8 bits: $nbs")
    assert(bands.take(4) === Seq(4, 4, 4, 4), s"fixture SFs must floor at 4 bands: $bands")
    assert(nbs === nbs.sorted && bands === bands.sorted,
      s"ladders must be monotone: $nbs / $bands")
    assert(nbs.last === ops.Extended.EmbMaxBits &&
      bands.last === ops.Extended.EmbMaxBands)
    assert(nbs.zip(bands).toMap === nbs.map(b => b -> ops.Extended.EmbBandsFor(b)).toMap,
      "band ladder out of sync with EmbBandsFor")
    // comparison-pool hyperplanes: every slot any band/bit can draw —
    // base bands' bits 16.., extension bands' full codes — must be a
    // valid, DISTINCT unordered coordinate pair; a repeat would
    // duplicate a band's information and silently cut effective recall
    val slots = (for {
      b <- 0 until ops.Extended.EmbBands
      j <- 16 until ops.Extended.EmbCmpBits
    } yield ops.Extended.embXSlot(b, j)) ++ (for {
      b <- ops.Extended.EmbBands until ops.Extended.EmbMaxBands
      j <- 0 until ops.Extended.EmbCmpBits
    } yield ops.Extended.embXSlot(b, j))
    assert(slots.distinct.size === slots.size, "band/bit slot allocation overlaps")
    val pairs = slots.map(ops.Extended.embXPair)
    pairs.foreach { case (i1, i2) =>
      assert(i1 != i2 && i1 >= 1 && i1 <= 64 && i2 >= 1 && i2 <= 64) }
    val unordered = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(unordered.distinct.size === pairs.size,
      "comparison pool repeats a coordinate-pair hyperplane")
    // projection pool (round 15, bits 20..23): every used slot must be
    // four DISTINCT coordinates, and no two slots the same signed
    // coordinate set — a repeat would duplicate a band's information
    val pslots = (for {
      b <- 0 until ops.Extended.EmbMaxBands
      j <- ops.Extended.EmbCmpBits until ops.Extended.EmbMaxBits
    } yield ops.Extended.embPSlot(b, j))
    assert(pslots.distinct.size === pslots.size, "projection slot allocation overlaps")
    val psigs = pslots.map { p =>
      val c = ops.Extended.embPCoords(p)
      assert(c.distinct.size === 4 && c.forall(i => i >= 1 && i <= 64),
        s"projection slot $p has degenerate coordinates $c")
      (c(0).min(c(1)), c(0).max(c(1)), c(2).min(c(3)), c(2).max(c(3)))
    }
    assert(psigs.distinct.size === psigs.size,
      "projection pool repeats a signed coordinate-set hyperplane")
    // SimHash width ladder (round 15): floor 32 bits at every fixture
    // SF (bit-identical history, zero oracle churn), monotone to the
    // 64-bit production width past the floor
    val sw = counts.map(n => eval(ops.Extended.simWidthLadder("nv"), n))
    assert(sw.take(4) === Seq(32, 32, 32, 32),
      s"fixture SFs must floor at 32-bit SimHash: $sw")
    assert(sw === sw.sorted && sw.last === ops.Extended.SimWideBits,
      s"SimHash width ladder must rise monotonically to 64: $sw")
    assert(ops.Extended.SimWidthLadderN >= 5000L,
      "the ladder floor must cover the largest fixture SF (5000 docs)")
  }

  test("band/code-keyed bucket plans are audited for domain growth") {
    // Round-15 generalization of the `bkt` ban (the round-13/14
    // fixed-domain-bucket-key class): ANY aggregate or join keyed on a
    // band/code-style bucket column must be explicitly audited here
    // with the reason its key domain keeps bucket occupancy bounded as
    // the corpus grows — hash-valued keys (domain grows with data),
    // count-adaptive ladders, or a measured probe. A new query that
    // buckets on a fixed-width code without an entry fails loudly at
    // registration instead of shipping a silent 100×-scale recall hole
    // (the simhash lesson, VERDICT r14 #1).
    val bucketNames = Set("code", "band", "bkt")
    val audited: Map[String, String] = Map(
      // -- count-adaptive ladders (in-plan one-row count frame) --
      "simhash_near_dup" -> "simWidthLadder 32→64-bit signature; floor ≤ 8192 docs",
      "image_phash_near_dup" -> ("simWidthLadder 32-bit aHash → 64-bit aHash|dHash; " +
        "content-defined bigram pixels (r16): probe 500k docs zero over-cap, zero pair loss"),
      "embed_near_dup" -> "nbLadder/nBandsLadder 8→20 bits (round 13/14)",
      "embed_near_dup_strict" -> "nbLadder (embCandidates consumer; strict 0.40 emit cut)",
      "ann_state_append" -> "nbLadder pinned at the store's build-time corpus count (layout version)",
      "ann_store_search" -> ("nbLadder pinned at the store's layout version; probe side is the " +
        "fixed query batch (codes ship as scan literals, partition-pruned)"),
      "ann_store_gc" -> ("nbLadder pinned at the store's layout version; temporal tombstone " +
        "mask keyed on (band, vec_id, code); GC folds the view at the store-wide trigger"),
      "ann_store_search_live" -> ("nbLadder pinned at the store's layout version; probe-side " +
        "literals prune the scan; temporal tombstone mask joins only the probed rows"),
      "ann_store_upsert" -> ("nbLadder pinned at the store's layout version; only CHANGED " +
        "(band, id) codes are written (tombstone old + append new); mask key carries code"),
      "ann_store_search_mp" -> ("nbLadder pinned at the store's layout version; probe list " +
        "grows (1+EmbBits)x per query, still query-batch-bounded scan literals"),
      "ann_stream_search" -> ("nbLadder pinned at the store's layout version; maintenance " +
        "batches code only their events; view mask ships keys; probe literals prune the base"),
      "paraphrase_pairs" -> "nbLadder (embCandidates consumer)",
      "semantic_dedup" -> "nbLadder (embCandidates consumer)",
      "semantic_decontaminate" -> "nbLadder (embCandidates consumer)",
      "curation_pipeline" -> "nbLadder (embCandidates consumer)",
      "curation_funnel" -> "nbLadder (embCandidates consumer)",
      "cross_modal_check" -> "nbLadder (embCandidates consumer)",
      "contrastive_pairs" -> "nbLadder (embCandidates consumer)",
      "hard_negative_mine" -> "nbLadder (embCandidates consumer)",
      // -- measured-probe coverage (SCALING.md round 15) --
      "simhash_wide_near_dup" ->
        "64-bit/16-bit bands; sf10 probe: occupancy mean 9.1, one bucket >cap (0.36% pair loss)",
      // -- hash-valued band keys: the code domain grows with the corpus --
      "minhash_lsh_pairs" -> "MinHash band signature is hash-valued",
      "dup_clusters" -> "MinHash band signature is hash-valued",
      "cluster_canonical" -> "MinHash band signature is hash-valued",
      "lsh_recall_eval" -> "MinHash band signature is hash-valued",
      "minhash_calibration" -> "MinHash band signature is hash-valued",
      "ngram_jaccard_pairs" -> "candidates from hash-valued MinHash bands",
      "containment_pairs" -> "candidates from hash-valued MinHash bands",
      "edit_distance_pairs" -> "candidates from hash-valued MinHash bands",
      "decontaminate" -> "shingle-hash keys (hash-valued)",
      "incremental_dedup" -> "MinHash band signature is hash-valued",
      "dedup_state_roundtrip" -> "MinHash band signature is hash-valued",
      "dedup_state_compact" -> "MinHash band signature is hash-valued",
      // -- ANN query-side banding: Q bounded by the fixed query batch --
      "embed_ann_lsh" -> "query-side band join; query set fixed (vec_id cap)",
      "embed_ann_multiprobe" -> "query-side band join; query set fixed",
      "knn_classify_ann" -> "query-side band join; query set fixed",
      "ann_recall" -> "recall eval over fixed query batch",
      "ann_recall20" -> "recall eval over fixed query batch",
      "ann_ndcg" -> "NDCG eval over fixed query batch")
    val unaudited = SparkEntry.defs.flatMap { q =>
      val plan = q.fn(spark, sfDir).queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
      val hits = plan.collect {
        case a: Aggregate if a.groupingExpressions
          .flatMap(_.references.toSeq).exists(r => bucketNames(r.name)) => "agg"
        case j: Join if j.condition.toSeq
          .flatMap(_.references.toSeq).exists(r => bucketNames(r.name)) => "join"
      }
      if (hits.nonEmpty && !audited.contains(q.name))
        Some(s"${q.name} (${hits.mkString(",")})")
      else None
    }
    assert(unaudited.isEmpty,
      s"queries bucket on a band/code key without a domain-growth audit " +
        s"entry — add one with the reason the bucket key's domain scales " +
        s"(hash-valued, laddered, or probed): ${unaudited.mkString("; ")}")
  }

  test("plan construction is lazy: no data jobs before any action") {
    // Deliberately eager at construction: the X1 driver bounds round-trip,
    // the two sink round-trips (they write files, then read them back),
    // and dup_clusters (iterate-to-convergence is driver-coordinated).
    val eager = Set("box_range_filter", "split_partitioned_write",
      "csv_corrupt_quarantine",
      "json_sink_roundtrip", "orc_sink_roundtrip", "dup_clusters",
      // the partitioned parquet sink round-trip writes at construction
      // too; its write job used to pass as a "parquet at" footer read
      "parquet_partitioned_roundtrip",
      // cross_modal_check embeds the same driver-coordinated CC fixpoint
      "cross_modal_check",
      "cluster_canonical", "semantic_dedup", "compact_small_files",
      "schema_evolution_read", "schema_sniff_read", "xml_sink_roundtrip",
      "bucketed_join", "leakage_safe_split", "dedup_state_roundtrip",
      "dedup_state_compact", "ann_state_append", "ann_store_search",
      "ann_store_gc", "ann_store_search_live", "ann_store_upsert",
      "ann_store_search_mp", "ann_stream_search",
      "incremental_agg_maintain",
      "grid_source_roundtrip",
      // bpeLoop truncates each round's lineage with a LAZY
      // localCheckpoint (the ccOverEdges discipline — without it
      // Catalyst re-analyzes the whole growing round chain per action,
      // 2.4 s of warm driver time on bpe_encode); toRdd during
      // checkpoint planning runs shuffle-stage jobs at construction,
      // exactly like dup_clusters above. Bench times fn()+count()
      // together, so the eager work stays measured.
      "bpe_merge_rounds", "bpe_encode",
      // kcenter_coreset's unrolled greedy steps moved from Pin.pin to
      // the same lazy-localCheckpoint lineage truncation in round 17
      // (the logical tree grew ~2^K nodes; 2.4 s of warm analysis per
      // run) — construction now runs the step jobs like bpe above.
      "kcenter_coreset",
      // preference_pairs embeds the same driver-coordinated CC fixpoint
      // as dup_clusters; bradley_terry_strength lazily localCheckpoints
      // each MM round (the bpe lineage discipline — checkpoint planning
      // runs shuffle-stage jobs at construction).
      "preference_pairs", "bradley_terry_strength",
      // the quality family's GD weight rounds moved from Pin.pin to the
      // same lazy-localCheckpoint truncation in round 18 (round k
      // referenced w_{k-1} twice → ~2^K logical nodes, ~1.9 s of warm
      // analysis per query) — construction runs the round jobs now.
      "quality_logit", "score_calibration", "quality_auc",
      // hits_scores' |V|-row half-rounds likewise (round 18): the final
      // plan embedded every previous half-round and the last authority
      // frame twice.
      "hits_scores")
    val lazyDefs = SparkEntry.defs.filterNot(q => eager(q.name))
    val built = jobsDuring(lazyDefs.foreach(q => q.fn(spark, sfDir)))
    // Parquet footer/schema reads at construction are Spark's standard
    // metadata path (spark.read.parquet without explicit schema) — tiny
    // and bounded, and since graft.core.Tables infers every fixture
    // schema, they run there and nowhere else. Anything else
    // (count/collect/write/...) is an eager action.
    val dataJobs = built.filterNot(_.startsWith("parquet at Tables.scala:"))
    assert(dataJobs.isEmpty,
      s"data jobs ran during DataFrame construction: $dataJobs")
    // ... and even those run once per table: graft.core.Tables caches the
    // inferred schema, so a second construction pass launches no job at
    // all, footer jobs included.
    val rebuilt = jobsDuring(lazyDefs.foreach(q => q.fn(spark, sfDir)))
    assert(rebuilt.isEmpty,
      s"jobs ran during a second construction pass: $rebuilt")
  }

  test("climate aggregates sum cents in longs: no decimal buffer wider than 18 digits") {
    // graft.core.Num's exact sums run on a long cents buffer; the
    // decimal form they replace kept a DECIMAL(28,2) BigDecimal buffer
    // per sum. Walks the executed (AQE final) plan of both ETL outputs.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.DecimalType
    object walk extends AdaptiveSparkPlanHelper
    for (q <- Seq(pipeline.Climate.monthly, pipeline.Climate.annual)) {
      val df = q.fn(spark, sfDir)
      df.collect()
      val buffers = walk.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes)
      }.flatten
      assert(buffers.nonEmpty, s"${q.name}: no aggregate found")
      val wide = buffers.filter(_.dataType match {
        case d: DecimalType => d.precision > 18
        case _ => false
      })
      assert(wide.isEmpty, s"${q.name}: wide decimal aggregate buffers $wide")
    }
  }

  test("NOT IN plans the null-aware broadcast anti join, never the NLJ fallback") {
    // sql_parts_clean_suppliers exists to exercise Spark's NAAJ fast
    // path: NOT IN is three-valued, the general implementation is a
    // BroadcastNestedLoopJoin over the whole probe side, and the
    // single-column broadcast special case is what makes the shape
    // viable at scale. Assert the fast path actually planned — a config
    // or shape change that silently demotes it to the NLJ is the
    // 100 TB regression this guard catches.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = ops.Relational.sqlNonBlacklistedParts.fn(spark, sfDir)
      .queryExecution.sparkPlan
    val naaj = plan.collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty,
      s"NOT IN did not plan the null-aware broadcast anti join:\n$plan")
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"),
      s"NOT IN fell back to the nested-loop variant:\n$plan")
  }

  test("persist discipline: every pin in src/main goes through Pin") {
    // The round-10/11 cache-hygiene rule, enforced at the SOURCE level:
    // a bare .persist() inside a QueryDef registers its plan with the
    // session-wide CacheManager with no release path and no cache_tag
    // isolation (see graft.core.Pin's scaladoc for both failure modes).
    // Allow-listed: Pin itself (the sanctioned call sites) and
    // (ccOverEdges' adjacency — the old self-released exemption — goes
    // through Pin.tagged since round 17.)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.contains("/tools/"))
      .flatMap { p =>
        val name = p.getFileName.toString
        Files.readString(p).linesIterator.zipWithIndex.collect {
          case (l, i) if l.contains(".persist(") && name != "Pin.scala" &&
            !l.contains("pin-exempt") => s"$name:${i + 1}: ${l.trim}"
        }
      }
      .toSeq
    assert(offenders.isEmpty,
      s"bare persist() outside graft.core.Pin:\n${offenders.mkString("\n")}")
  }

  test("one session builder: SparkSession.builder only in graft.core.Session") {
    // Every engine session comes from core.Session.local, so Bench,
    // Verify, the tools and the tests plan under the same confs and the
    // same installed extensions; a second builder is where they drift.
    val factory = java.nio.file.Paths.get("src/main/scala/graft/core/Session.scala")
    val offenders = Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .flatMap { p =>
        Files.readString(p).linesIterator.zipWithIndex.collect {
          case (l, i) if l.contains("SparkSession.builder") => s"$p:${i + 1}: ${l.trim}"
        }
      }
      .toSeq
    assert(Files.readString(factory).contains("SparkSession.builder"))
    assert(offenders.isEmpty,
      s"SparkSession.builder outside graft.core.Session:\n${offenders.mkString("\n")}")
  }

  test("one bid log: bid dirs and fold markers named only in graft.core.BidLog") {
    // Every state store reads, folds, commits and GCs through
    // core.BidLog; a store that spells a bid path or a fold marker
    // itself has its own copy of the protocol, outside its one commit.
    // The ANN store's retired sidecar paths (a tombstone file, per-band
    // stats, a compaction staging dir, an underscore layout, the pre-log
    // build `base`, now the log's fold bid −1) and the cross-modal
    // store's four subdirs (now parts of one log bid) were such copies
    // and must not come back.
    val names = Seq("bid=", "_folded",
      "/_tombstones", "/_stats", "/_staging", "/_layout", "/base\"",
      "/members\"", "/buckets\"", "/verdicts\"", "/remap\"")
    val log = java.nio.file.Paths.get("src/main/scala/graft/core/BidLog.scala")
    val offenders = Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != log)
      .flatMap { p =>
        Files.readString(p).linesIterator.zipWithIndex.collect {
          case (l, i) if names.exists(l.contains) =>
            s"$p:${i + 1}: ${l.trim}"
        }
      }
      .toSeq
    assert(Files.readString(log).contains("bid="))
    assert(offenders.isEmpty,
      s"bid-log names outside graft.core.BidLog:\n${offenders.mkString("\n")}")
  }

  test("pinning queries leave no cache entries after Pin.releaseAll") {
    // Functional half of the discipline: run the heaviest pinning
    // queries end-to-end, then release — the session CacheManager must
    // be EMPTY (any survivor is a pin that skipped the registry, i.e. a
    // cross-query substitution + storage-leak surface for the next 250
    // queries of a Verify session). cacheManager is private[sql]; Scala
    // package-private compiles to public bytecode, so reflection reads
    // it without setAccessible.
    def cacheEmpty: Boolean = {
      val ss = spark.getClass.getMethod("sharedState").invoke(spark)
      val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
      cm.getClass.getMethod("isEmpty").invoke(cm).asInstanceOf[Boolean]
    }
    spark.catalog.clearCache()
    core.Pin.releaseAll()
    assert(cacheEmpty, "cache not empty after clearCache")
    val pinning = Seq("bpe_merge_rounds", "bpe_encode",
      "pagerank_trade", "kcore_peel", "dup_span_runs", "ppjoin_jaccard",
      "lsh_recall_eval", "quality_logit", "score_calibration",
      "random_walk_pairs")
    pinning.foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    assert(core.Pin.liveCount > 0, "pinning queries registered no pins")
    core.Pin.releaseAll()
    assert(cacheEmpty,
      "cache entries survived Pin.releaseAll — an unregistered persist()")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // The 100 TB selective-join path: a filtered dim joined to a big fact
    // should inject a bloom filter on the fact scan (row groups whose
    // keys can't match are skipped before the shuffle). Thresholds are
    // tuned down so the mechanism triggers at fixture scale; broadcast is
    // disabled because broadcast joins don't need (or get) the filter.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n${plan.take(4000)}")
      assert(joined.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val out = Files.createTempDirectory("graft_pp").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val one = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val plan = planOf(one)
    // (no isnotnull in the filter list: constraint propagation is off
    // engine-wide — see core/Tables.scala — so only the literal predicate
    // shows; pruning itself is unaffected)
    assert("""PartitionFilters: \[[^\]]*o_orderstatus[^\]]* = F""".r
      .findFirstIn(plan).isDefined, s"no partition filter:\n$plan")
    val statuses = spark.read.parquet(out)
      .select("o_orderstatus").distinct().count()
    assert(statuses >= 2) // pruning is meaningful
  }

  test("ann_store_search scans ONLY probed band partitions + pushes the code probe list") {
    // The store-backed search contract (r16 verdict task 1): the scan of
    // the persisted index must carry (a) the probed-tables predicate as a
    // PARTITION filter — only band directories the search probes are
    // read — and (b) the query batch's code list as a PUSHED parquet
    // filter, so code-sorted row groups outside the probe list are
    // skipped. Together these are what make search cost track probe
    // size, not corpus size (AnnStateProbe measures it).
    val plan = planOf(ops.Extended.annStoreSearch.fn(spark, sfDir))
    val scan = plan.linesIterator.find(l =>
      l.contains("ann_search_store") && l.contains("PartitionFilters"))
    assert(scan.isDefined, s"no partitioned scan of the search store:\n$plan")
    assert("""PartitionFilters: \[[^\]]*band[^\]]* IN""".r
      .findFirstIn(scan.get).isDefined,
      s"band probe set is not a partition filter: ${scan.get}")
    assert(scan.get.contains("In(code"),
      s"code probe list not pushed to the parquet scan: ${scan.get}")
  }

  test("a search over a GC-folded ANN store pushes the probe list onto its code-sorted fold") {
    // After a GC fold the store's rows live in one bid-log fold, laid
    // out like the build's: band-partitioned dirs, each file in a band
    // dir sorted by code, the files of a dir holding disjoint code
    // ranges. The probe's band list prunes to its band dirs and its code
    // list reaches the scan as a pushed filter, so a probe of a folded
    // store still skips the dirs and row groups outside it. The store
    // takes an add bid and a delete bid before the fold, so the view the
    // fold resolves is in no (band, code) order of its own.
    val all = ops.Extended.vecs(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 10 < 8)
    val dir = new java.io.File("target/scale_spec_ann_fold").getAbsolutePath
    ops.Extended.annBandStoreBuild(corpus,
      ops.Extended.embLayoutCollect(spark, corpus), dir)
    ops.Extended.annStoreApply(ops.Extended.annEvents(
      all.filter(col("vec_id") % 10 >= 8), "add"), dir, 0L)
    ops.Extended.annStoreApply(ops.Extended.annEvents(
      all.filter(col("vec_id") % 10 === 3), "del"), dir, 1L)
    ops.Extended.annStoreGc(spark, dir)
    val log = s"$dir/log"
    assert(core.BidLog.isFold(spark, log, 2L), "the 10% delete did not fold")
    // a small file is one read split, so its rows come back in file order
    val byBand = core.BidLog.at(spark, log, 2L).inputFiles.toSeq.groupBy { f =>
      val band = """/band=(\d+)/""".r.findFirstMatchIn(f)
      assert(band.isDefined, s"fold file outside a band dir: $f")
      band.get.group(1).toInt
    }
    assert(byBand.size > 1, s"the fold holds fewer than two bands: ${byBand.keys}")
    byBand.foreach { case (band, files) =>
      val ranges = files.flatMap { f =>
        val codes = spark.read.parquet(f).select(col("code"))
          .collect().map(_.getLong(0)).toSeq
        assert(codes == codes.sorted, s"fold file not sorted by code: $f")
        codes.headOption.map(_ -> codes.last)
      }.sorted
      assert(ranges.nonEmpty, s"band $band of the fold holds no rows")
      ranges.sliding(2).filter(_.size == 2).foreach { case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"band $band's fold files overlap: $ranges")
      }
    }
    val plan = planOf(ops.Extended.annStoreSearchDir(spark, all, dir))
    val scan = plan.linesIterator.find(l => l.contains("bid=2") && l.contains("PartitionFilters"))
    assert(scan.isDefined, s"no partitioned scan of the fold:\n$plan")
    assert("""PartitionFilters: \[[^\]]*band[^\]]* IN""".r
      .findFirstIn(scan.get).isDefined,
      s"band probe set is not a partition filter on the fold: ${scan.get}")
    assert(scan.get.contains("In(code"),
      s"code probe list not pushed to the fold's scan: ${scan.get}")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The salting in salted_skew_join is the PLANNED answer to skew; this
    // proves the RUNTIME answer also fires: AQE detects the oversized
    // post-shuffle partition and splits it into parallel sub-partitions
    // (skew=true on the join node) with thresholds scaled to test data.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // 90% of left rows share key 0 — one hot post-shuffle partition
      val left = spark.range(0, 300000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v")
      val right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS w")
      val j = left.join(right, "k")
      // execute THIS DataFrame (count() would be a separate execution and
      // the plan under inspection would never finalize under AQE)
      assert(j.toLocalIterator().asScala.length === 270000 + 100)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
