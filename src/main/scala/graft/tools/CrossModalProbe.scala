package graft.tools

import graft.tools.Run.time
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** State-growth probe for the crossModalStream union-find snapshot store
  * (r15 verdict task 5, SCALING.md round 16): preload the state at a
  * given member count (one giant batch 0), then time FIXED-SIZE
  * micro-batches (5 000 docs, then 500 docs) against it. Ran at both the
  * 10× (50k) and 100× (500k) fixtures, the comparison separates the
  * batch-proportional work (banding + CC over the contracted edge space)
  * from the state-proportional work. Since r17 the state layout is
  * append-only deltas + a compact remap table (the full members/buckets/
  * verdicts OVERWRITE this probe measured at ~2.3 s/decade in r16 is
  * gone — amortized into the 1/BidLog.FoldEvery fold); the remaining
  * state-sided terms are the columnar member/bucket view SCANS. Each
  * batch's time is followed by the state dir's bytes on disk.
  *
  * Usage: Run crossmodal <sfDir>
  * Unrecognized extra args fail loudly (round-14 harness rule).
  */
object CrossModalProbe {

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 1,
      s"usage: crossmodal <sfDir>; got ${args.mkString(" ")}")
    val dir = args(0)

    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = maxId - 5500 // batch 0: everything below (the preload)
    val cut2 = maxId - 500  // batch 1: 5 000 docs; batch 2: the last 500
    val state = "target/crossmodal_probe_state"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)

    println(s"[crossmodal-probe] dir=$dir docs=${docs.count()} preload=${
      docs.filter(col("doc_id") <= cut1).count()}")
    val batches = Seq(
      "batch 0: preload state" -> docs.filter(col("doc_id") <= cut1),
      "batch 1: 5000 docs" -> docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
      "batch 2: 500 docs" -> docs.filter(col("doc_id") > cut2))
    batches.zipWithIndex.foreach { case ((label, b), i) =>
      time(label)(graft.streaming.EventStream.mergeCrossModalSnapshot(b, state, i.toLong))
      val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(state)).getLength
      println(f"[crossmodal-probe] $label: state $bytes%d bytes on disk")
    }
  }
}
