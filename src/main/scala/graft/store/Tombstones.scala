package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.operators.Scratch.Ops

/** The generation-scoped tombstone idiom shared by the twin index
  * deletion tiers ([[graft.operators.Dedup.deleteFromMinhashIndex]],
  * [[graft.operators.Ann.deleteFromIvf]]) — one place, like
  * [[graft.operators.TombstoneHeal]], so the takedown contract cannot
  * silently diverge between the index families. The contract (documented
  * at the twins): tombstones live INSIDE the committed generation, every
  * reader anti-joins them out immediately at O(tombstones) per probe, the
  * next reader-atomic compaction drops the rows physically and retires
  * the relation with its generation. */
private[graft] object Tombstones {

  /** File-count bound on a generation's tombstone relation: each delete
    * call appends one file, and every reader broadcast-scans the whole
    * relation per probe. When a call pushes the count to this bound, the
    * FORCED physical compaction that live tombstones had already
    * scheduled runs immediately — a reader-atomic generation swap that
    * purges the tombstoned rows and retires the relation with its
    * generation. NO in-place rewrite of the relation is ever attempted:
    * an overwrite opens a crash window that silently undoes prior
    * takedowns, and deleting data files inside the LIVE generation (even
    * after appending a merged file) breaks any concurrent or held reader
    * whose plan captured the old file listing — physical removal rides
    * the generation swap HERE TOO, same as everywhere else in this store.
    * Cost: a pathological one-id-per-call takedown loop pays the
    * (already-owed) O(corpus) rewrite every [[CompactFiles]] calls; real
    * takedown batches are chunky and never hit it. */
  val CompactFiles = 8

  /** The generation's live tombstone relation, if any deletions are
    * pending compaction. */
  def of(spark: SparkSession, gen: String): Option[DataFrame] = {
    val p = new Path(s"$gen/tombstones")
    if (Partitions.fs(spark, p).exists(p))
      Some(Partitions.read(spark, p.toString))
    else None
  }

  /** Broadcast anti-join the pending tombstones out of an index relation
    * (no-op — the identical frame, unchanged plan — when none pend).
    * `idCol` names the relation's document-id column. */
  def minus(df: DataFrame, ts: Option[DataFrame], idCol: String): DataFrame =
    ts match {
      case None => df
      case Some(t) => df.join(broadcast(t), df(idCol) === t("id"), "left_anti")
    }

  /** Takedown: append the batch's DISTINCT ids to the generation's
    * tombstone relation (one tiny single-writer parquet append), then run
    * the caller's reader-atomic `forceCompact` if the relation's file
    * count reached [[CompactFiles]]. Returns the distinct-id count. */
  def delete(spark: SparkSession, gen: String, ids: DataFrame)
      (forceCompact: () => Unit): Long = {
    val ts = ids.toDF("id").distinct().scratchCheckpoint()
    ts.coalesce(1).write.mode("append").parquet(s"$gen/tombstones")
    val n = ts.count()
    if (Compact.dataFileCount(spark, s"$gen/tombstones") >= CompactFiles)
      forceCompact()
    n
  }
}
