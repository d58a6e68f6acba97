package graft.tools

import graft.tools.Run.time
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage attribution for the ER family's decade growth (r16 verdict
  * task 6: `er_recall_eval` 4.1× and `fellegi_sunter_er` 2.7× per 10×
  * at the sf1 step were the steepest non-ANN rows left in SCALING.md).
  * The SimhashProbe persisted-signature pattern: materialize the shared
  * SNM candidate frame (Extended.snmCandidateFrame — the normalize +
  * per-block sort + window + lead-unfold stage every ER query runs),
  * then time the Levenshtein verify over the PERSISTED frame alone, so
  * each stage's per-row cost is measured without the other's.
  *
  * er_recall_eval's third leg — the exact PPJoin TRUTH build it joins
  * against — is attributed separately in SCALING.md's PPJoin section
  * (linear in candidates; ~104 s standalone at sf10) and is the
  * audit's dominant term by design, not an SNM property.
  *
  * Usage: Run er <sfDir>
  * Unrecognized extra args fail loudly (round-14 harness rule).
  */
object ErProbe {

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 1,
      s"usage: er <sfDir>; got ${args.mkString(" ")}")
    val dir = args(0)
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    println(s"[er-probe] dir=$dir docs=$nDocs")
    val cand = graft.ops.Extended.snmCandidateFrame(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage 1: the blocking — normalize, per-block sort, window leads,
    // row-local unfold (the count materializes the persisted frame)
    val (nCand, tB) = time("stage blocking (sort+window+unfold)") {
      cand.count()
    }
    // stage 2: the banded-Levenshtein verify over the persisted
    // candidates (sorted_neighborhood_er's verify; fellegi's dominant
    // comparator) — row-local, no shuffle
    val (nVer, tV) = time("stage lev verify (banded <=40)") {
      cand.select(levenshtein(col("t120"), col("nb.bt"), 40).as("lev"))
        .filter(col("lev").between(0, 40)).count()
    }
    // stage 3: the cross-band pair distinct the emit pays (keyed shuffle
    // over the surviving pairs only)
    val (nPairs, _) = time("stage pair distinct") {
      cand.select(least(col("a"), col("nb.bid")).as("d1"),
          greatest(col("a"), col("nb.bid")).as("d2"),
          levenshtein(col("t120"), col("nb.bt"), 40).as("lev"))
        .filter(col("lev").between(0, 40))
        .distinct().count()
    }
    println(f"[er-probe] per-candidate blocking ${tB * 1e9 / nCand}%.0f ns, " +
      f"verify ${tV * 1e9 / nCand}%.0f ns (candidates=$nCand, survivors=$nVer, pairs=$nPairs)")
    cand.unpersist()
  }
}
