package graft

import graft.ops.Learn

/** Property checks for the round-14 preference/evaluation family — the
  * exact candidate machinery rule (round 9): matchup canonicalization
  * gets PLANTED adversarial inputs (ties, transitive triples,
  * cross-order aggregation) that the fixtures don't guarantee, and the
  * fixture-driven queries get invariant sweeps at sf0.001.
  */
class PreferencePropertySpec extends SparkSpec {
  import spark.implicits._

  test("matchupPairs: tie goes to the lower suppkey, pairs are canonical i<j") {
    // order 1: exact tie (5 vs 9) → i=5 wins; order 2: reversed arrival
    // order must not matter (aggregation is over (ok, sk) totals)
    val osr = Seq((1L, 9L, 400L), (1L, 5L, 400L), (2L, 9L, 700L),
      (2L, 5L, 100L)).toDF("ok", "sk", "rev")
    val got = Learn.matchupPairs(osr)
      .as[(Long, Long, Long, Long)].collect().toSet
    // pair (5, 9): 2 games; order 1 tie → 5 wins; order 2 → 9 wins
    assert(got === Set((5L, 9L, 2L, 1L)), s"got $got")
  }

  test("matchupPairs: 3-supplier order expands to exactly its 3 canonical pairs") {
    val osr = Seq((1L, 3L, 300L), (1L, 1L, 100L), (1L, 2L, 200L))
      .toDF("ok", "sk", "rev")
    val got = Learn.matchupPairs(osr)
      .as[(Long, Long, Long, Long)].collect().toSet
    // rev 3 > 2 > 1: i wins iff rev_i >= rev_j under i<j
    assert(got === Set((1L, 2L, 1L, 0L), (1L, 3L, 1L, 0L), (2L, 3L, 1L, 0L)),
      s"got $got")
  }

  test("matchupPairs: single-supplier orders contribute no pairs") {
    val osr = Seq((1L, 7L, 100L), (2L, 7L, 200L)).toDF("ok", "sk", "rev")
    assert(Learn.matchupPairs(osr).count() === 0L)
  }

  test("bradley_terry invariants at sf0.001: normalization, win conservation, spread") {
    val rows = Learn.bradleyTerry.fn(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every game is counted once per side and has exactly one winner
    assert(rows.map(_._3).sum === rows.map(_._2).sum / 2,
      "sum(wins) != sum(games)/2")
    // strengths positive and sum-normalized to |S| * 1e6 (integer floor
    // drops at most 1 unit per player)
    val tot = rows.map(_._4).sum
    assert(rows.forall(_._4 > 0L))
    assert(math.abs(tot - rows.length * 1000000L) <= rows.length,
      s"normalization drifted: $tot vs ${rows.length * 1000000L}")
    // the MM produced real discrimination, not a fixed point at uniform
    assert(rows.map(_._4).max > rows.map(_._4).min,
      "degenerate uniform strengths")
  }

  test("win_rate_matrix invariants at sf0.001: Wilson bound below the estimate") {
    val rows = Learn.winRateMatrix.fn(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (i, j, n, wi, phat, lo) =>
      assert(i < j, s"non-canonical pair ($i, $j)")
      assert(wi >= 0L && wi <= n)
      assert(lo <= phat + 1e-9, s"Wilson lower bound $lo above phat $phat")
      assert(lo >= -1e-9 && lo <= 1.0 + 1e-9, s"bound $lo outside [0, 1]")
    }
    // ordered by games desc (ties by (i, j)): the top-k rank selection rule
    val ns = rows.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not n-desc")
  }

  test("preference_pairs invariants at sf0.001: margins, verdicts, tie discipline") {
    val rows = Learn.preferencePairs.fn(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Double, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach {
      case (cid, nm, chosen, rejected, qc, qr, mu, usable) =>
        assert(nm >= 2L, s"cluster $cid paired with < 2 scored members")
        assert(chosen != rejected, s"cluster $cid chose itself")
        assert(qc >= qr, s"cluster $cid: q_chosen $qc < q_rejected $qr")
        assert(mu === math.floor((qc - qr) * 1e4 + 0.5).toLong,
          s"cluster $cid margin quantization drifted")
        assert(usable === (mu >= 500L), s"cluster $cid usable verdict wrong")
        // equal-quality cluster: tie rule gives chosen the LOWER doc_id
        if (mu == 0L)
          assert(chosen < rejected,
            s"cluster $cid tie-break violated: chosen $chosen rejected $rejected")
    }
    assert(rows.exists(_._8), "no usable pair at sf0.001 — vacuous margin cut")
    assert(rows.exists(!_._8), "every pair usable — cut not discriminating")
  }

  test("token_budget_plan: INFEASIBLE branch — budget above all caps, plan saturates") {
    // The fixtures always land in the feasible two-tier water-fill
    // (low tier > 3× high tier in tokens never happens there), so the
    // infeasible branch (5T − 4L > 8H ⇔ L > 3H: even capping the high
    // tier at 4 epochs can't spend a 2.5-epoch budget) is planted:
    // source "many" holds 70 short docs (mean 10 tokens/doc → cap 2)
    // with 75%+ of all tokens; source "rare" holds 2 long docs
    // (cap 4). The plan must saturate EVERY source at exactly its cap
    // and the visible shortfall is budget − allocation.
    val dir = java.nio.file.Files.createTempDirectory("graft_tbp").toString
    val docs =
      (1L to 70L).map(i => (i, (1 to 10).map(j => s"m${i}x$j").mkString(" "),
        "xx", "many", 60L)) ++
      (101L to 102L).map(i => (i, (1 to 100).map(j => s"r${i}x$j").mkString(" "),
        "xx", "rare", 600L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Learn.tokenBudgetPlan.fn(spark, dir)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (tMany, tRare) = (700L, 200L)
    assert(got("many")._2 === tMany && got("rare")._2 === tRare)
    // tier check: "rare" has the higher mean tokens/doc → cap 4
    assert(got("rare")._4 === 4L && got("many")._4 === 2L)
    // infeasibility: L = 700 > 3·200 = 3H → both saturate at cap
    assert(got("many")._5 === 2 * tMany && got("rare")._5 === 4 * tRare,
      s"infeasible plan must saturate every cap: $got")
    assert(got("many")._6 === 2.0 && got("rare")._6 === 4.0)
    val shortfall = 5 * (tMany + tRare) - 2 * (2 * tMany + 4 * tRare)
    assert(shortfall > 0, "planted skew failed to make the budget infeasible")
  }
}
