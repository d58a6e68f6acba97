package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The bid log: the one exactly-once protocol under the state stores
  * (EventStream's incremental aggregate and cross-modal union-find, and
  * the ANN band store every ANN lifecycle step commits to) and
  * EventStream's idempotent parquet sink. A store subdir
  * holds one `bid=<id>` dir per micro-batch id; the stores keep their
  * own data semantics and call this module for everything else:
  *
  *  - READ: batch `id` reads only bids strictly below its own, so a
  *    replay after a crash-before-commit (offset log written, commit log
  *    not) re-reads the same chain and ignores its own earlier attempt.
  *    Batch ids are stable across restarts of one checkpoint.
  *  - FOLD: a bid written with `fold = true` carries a `_folded` marker
  *    and holds the store's whole resolved state, so it supersedes every
  *    earlier bid; a read's live range runs from the newest fold below
  *    its bound. A store whose every bid is a full snapshot (the
  *    aggregate, the cross-modal remap) writes every bid as a fold, and
  *    the same rules give "read the predecessor, keep two snapshots".
  *  - COMMIT: a bid is written into a hidden sibling (`.pending-<id>`;
  *    the fold marker goes inside), a replay's old `bid=<id>` is deleted,
  *    and the sibling is renamed into place. A crash mid-write leaves
  *    only the hidden dir, which no listing or read sees, so a reader
  *    never meets a bid without its part files or a fold without its
  *    marker. Two Hadoop/Spark rules fix the shape: `rename` into an
  *    EXISTING dir moves the source inside it (hence the delete), and
  *    Spark's file listing reads a name like `_x=…` as a partition
  *    (hidden names start with `.`, or with `_` and hold no `=`).
  *  - GC: after batch `id` commits its own bids, everything below the
  *    newest fold at or below the committed predecessor is dropped — a
  *    replay of `id` reads from that fold on, and earlier batches are
  *    committed. Steady-state fan-in is bounded by the fold cadence.
  *
  * One bid is one rename. Every store but one writes a single subdir
  * per batch, so a batch is one commit; the cross-modal store writes
  * four (`members`/`buckets`/`verdicts`/`remap`) and commits them one
  * rename at a time.
  */
object BidLog {

  /** Live-delta budget: a batch that would be the FoldEvery-th live
    * delta of a store folds the resolved state into its own bid instead,
    * so the read fan-in stays bounded and the state-sized rewrite
    * amortizes to 1/FoldEvery of batches.
    */
  val FoldEvery = 64

  private val Prefix = "bid="
  private val FoldMarker = "_folded"

  /** The one `foreachBatch` driver of the bid-log stores: append mode,
    * checkpointed, `batch(rows, id)` per micro-batch.
    */
  def stream(df: DataFrame, ckDir: String)(
      batch: (Dataset[Row], Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append())
      .foreachBatch(batch)
      .start()

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def dirOf(sub: String, id: Long): Path = new Path(s"$sub/$Prefix$id")

  /** Committed bids of `sub`, ascending. */
  def ids(s: SparkSession, sub: String): Seq[Long] = {
    val p = new Path(sub)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(Prefix))
      .flatMap(_.stripPrefix(Prefix).toLongOption).sorted
  }

  /** Newest committed bid strictly below `bound`. */
  def latest(s: SparkSession, sub: String, bound: Long): Option[Long] =
    ids(s, sub).filter(_ < bound).lastOption

  /** Whether committed bid `id` of `sub` is a fold. */
  def isFold(s: SparkSession, sub: String, id: Long): Boolean = {
    val p = new Path(dirOf(sub, id), FoldMarker)
    fsOf(s, p).exists(p)
  }

  /** Newest fold of `sub` strictly below `bound`. */
  def newestFold(s: SparkSession, sub: String, bound: Long): Option[Long] =
    ids(s, sub).filter(_ < bound).reverseIterator.find(isFold(s, sub, _))

  /** The live range of `sub` below `bound`: its bids from its newest
    * fold (inclusive) on.
    */
  def live(s: SparkSession, sub: String, bound: Long): Seq[Long] = {
    val from = newestFold(s, sub, bound)
    ids(s, sub).filter(i => i < bound && from.forall(i >= _))
  }

  /** Union of bids `ids` of `sub` with the `bid` column kept (basePath
    * read); None when `ids` is empty.
    */
  def read(s: SparkSession, sub: String, ids: Seq[Long]): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some(s.read.option("basePath", sub)
      .parquet(ids.map(dirOf(sub, _).toString): _*))

  /** The live range of `sub` below `bound`, read with its `bid` column. */
  def readLive(s: SparkSession, sub: String, bound: Long): Option[DataFrame] =
    read(s, sub, live(s, sub, bound))

  /** One committed bid, without the `bid` column. */
  def at(s: SparkSession, sub: String, id: Long): DataFrame =
    s.read.parquet(dirOf(sub, id).toString)

  /** Write `df` (plus the fold marker) into bid `id`'s hidden sibling,
    * uncommitted; returns the sibling. [[commit]] publishes it.
    */
  private[graft] def stage(df: DataFrame, sub: String, id: Long,
      fold: Boolean): Path = {
    val p = new Path(sub, s".pending-$id")
    df.write.mode("overwrite").parquet(p.toString)
    if (fold) fsOf(df.sparkSession, p).create(new Path(p, FoldMarker), true).close()
    p
  }

  /** Write `df` as bid `id` of `sub` with one rename (see the COMMIT
    * rule above); `fold` marks it as superseding every earlier bid.
    */
  def commit(df: DataFrame, sub: String, id: Long, fold: Boolean = false): Unit = {
    val staged = stage(df, sub, id, fold)
    val dst = dirOf(sub, id)
    val fs = fsOf(df.sparkSession, dst)
    fs.delete(dst, true)
    if (!fs.rename(staged, dst))
      throw new java.io.IOException(s"bid commit failed: $staged -> $dst")
  }

  /** GC after batch `id` committed: drop every bid of `sub` below its
    * newest fold at or below the committed predecessor. Returns that
    * fold: no replay reads below it, so a store may drop its own
    * pre-log state (the ANN store's `base`) too.
    */
  def gc(s: SparkSession, sub: String, id: Long): Option[Long] = {
    val fold = latest(s, sub, id).flatMap(p => newestFold(s, sub, p + 1))
    fold.foreach { f =>
      ids(s, sub).filter(_ < f).foreach { old =>
        val p = dirOf(sub, old)
        fsOf(s, p).delete(p, true)
      }
    }
    fold
  }
}
