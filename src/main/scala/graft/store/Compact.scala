package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Maintenance compaction for the engine's append-only parquet trees.
  *
  * Every incremental append (`Store.appendHistory`, `Dedup.appendToMinhashIndex`,
  * `Ann.appendToIvf`) adds one part-file set per batch — correct, but under
  * sustained ingest (thousands of batches) a linear index scan degrades into
  * millions of tiny file opens: the classic small-files failure. The
  * reference never faces it because Postgres heap storage compacts appends
  * in place (init-crawl-db.sh:107-135 tables absorb INSERTs;
  * postgres_storage.py:1440-1469). This is the parquet equivalent: rewrite a
  * leaf directory's many small files into few large ones, preserving rows
  * exactly (result-identity is oracle-gated by q73 and asserted by
  * CompactSpec).
  *
  * Swap discipline (every FileSystem boolean through [[Partitions.checked]]):
  * the rewrite lands in a hidden sibling (`.compact_tmp_<name>` — dot-prefix
  * dirs are invisible to Spark/Hadoop input listing, so a concurrent reader
  * of the parent never sees it), then dir → `.compact_old_<name>`,
  * tmp → dir, delete old. Each FileSystem boolean is checked and fails
  * loudly. Every compaction of a dir first settles what an interrupted
  * one left ([[recover]]): an `old` beside a `tmp` means the swap stopped
  * between its renames, so `old` holds the dir's only copy and goes back
  * (merged into the dir if appends recreated it); a lone `tmp` or a lone
  * `old` is a redundant copy and is deleted. [[partitionedDir]] also
  * finds a partition whose only copy sits in its `old` sibling.
  *
  * Concurrency contract: directory renames can't be paired atomically, so
  * a reader that LISTS during the instant between the two renames can see
  * the leaf missing, and one that listed before the swap can hit deleted
  * files — the same exposure the [[Partitions]] moves of
  * `Store.archiveHistory` and `vacuum`'s deletes already have. In-place
  * compaction is therefore a MAINTENANCE operation under the store's
  * single-writer discipline (run it from the ingest owner between
  * batches, like a Postgres VACUUM), not a concurrent-with-probes
  * background job. The generation-backed index
  * layouts have READER-ATOMIC alternatives that sidestep this entirely —
  * `Dedup.compactMinhashIndex` and `Ann.compactIvfOnline` write the
  * compacted data as a new committed generation (`Generations`), so
  * concurrent probes never see a mid-rewrite state.
  *
  * Cost: one read + one write of the compacted directory's data — run it
  * when `dataFileCount` exceeds a threshold (the ingest ledger surfaces the
  * trigger signal), not per batch. The rewrite is `coalesce`, not
  * `repartition`: no shuffle, just fewer output files.
  *
  * File-count sizing, the one rule every compaction uses
  * ([[resolveTarget]]): `ceil(dirBytes / maxFileBytes)` files, and a dir
  * already at or under that count is skipped. Compacted files come out
  * ≈ 128 MB and the rewrite keeps one task per output file, so its
  * parallelism grows with the data. A FIXED small target (the tempting
  * `1`) would funnel an arbitrarily large directory through that many
  * tasks, because `coalesce(n)` caps the whole stage — scan included — at
  * n tasks. At test scale the target resolves to 1.
  */
object Compact {

  import Partitions.checked

  /** Visible data files directly under `dir` (hidden `_`/`.` entries —
    * `_SUCCESS`, checksums, in-flight compaction siblings — excluded). */
  def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val f = Partitions.fs(spark, p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath)
  }

  /** Number of visible data files directly under `dir` — the compaction
    * trigger signal (see the ingest ledger). */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).size

  /** Total bytes of visible data files directly under `dir` — what the
    * auto-sized target file count derives from. Metadata only. */
  def dataSizeBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val f = Partitions.fs(spark, p)
    dataFiles(spark, dir).map(f.getFileStatus(_).getLen).sum
  }

  /** Compacted files aim at ~128 MB — the conventional parquet sweet spot
    * (big enough to amortize footer/open cost, small enough to split). */
  val DefaultMaxFileBytes: Long = 128L << 20

  /** Per-file footer row-count memo, keyed by (path, length, mtime): a
    * parquet part file is immutable once visible (appends create NEW
    * task-UUID files, compactions swap whole directories), so the key
    * identifies the bytes and a hit spares the footer open. The directory
    * LISTING stays fresh on every call — only already-seen files skip
    * their open, so an appended or swapped file is always re-read. Bounded
    * LRU so a long-lived session's archival sweeps cannot grow it without
    * limit; entries are ~100 B, so the cap is a few hundred KB. */
  private val footerRowsMemo = Generations.boundedLru[(String, Long, Long), java.lang.Long](4096)

  /** Total row count of the visible data files under each of `dirs`, read
    * from parquet FOOTERS only: one driver-side footer open per file
    * (memoized per immutable file — see [[footerRowsMemo]]), no Spark job,
    * no data pages touched. This is how the archival sweeps report how
    * many rows they moved without re-scanning data they are about to
    * rename away, and how the MinHash probe guard derives its row bound
    * per ingest batch — O(file count) metadata, not O(bytes). */
  def footerRowCount(spark: SparkSession, dirs: Seq[Path]): Long =
    dirs.iterator.flatMap { d =>
      val fs = Partitions.fs(spark, d)
      dataFiles(spark, d.toString).iterator.map { f =>
        val st = fs.getFileStatus(f)
        val key = (f.toString, st.getLen, st.getModificationTime)
        val hit = footerRowsMemo.get(key)
        if (hit != null) hit.longValue()
        else {
          val n = Partitions.footer(spark, f)(_.getRecordCount)
          footerRowsMemo.put(key, n)
          n
        }
      }
    }.sum

  /** How many files `bytes` of data compact into: `ceil(bytes /
    * maxFileBytes)`, at least 1. */
  def resolveTarget(bytes: Long, maxFileBytes: Long): Int = {
    require(maxFileBytes > 0, "maxFileBytes must be > 0")
    math.max(1L, math.min(Int.MaxValue, (bytes + maxFileBytes - 1) / maxFileBytes)).toInt
  }

  private val TmpPrefix = ".compact_tmp_"
  private val OldPrefix = ".compact_old_"

  /** Settle what an interrupted swap of `p` left behind (see the object
    * doc). `tmp` is renamed onto `p` only after `p` moved to `old`, so an
    * `old` beside a `tmp` is the only copy of `p`'s rows: it goes back —
    * renamed onto a missing `p`, else merged into the `p` that appends
    * recreated — before `tmp` is dropped. Without a `tmp`, `old` is the
    * pre-swap copy of a completed rewrite; without an `old`, `tmp` is an
    * unfinished rewrite. Either is deleted. */
  private def recover(f: FileSystem, p: Path, tmp: Path, old: Path): Unit =
    if (f.exists(old) && f.exists(tmp)) {
      if (!f.exists(p)) checked(f.rename(old, p), s"compact: rename($old -> $p)")
      else Partitions.mergeInto(f, old, p, "compact")
      checked(f.delete(tmp, true), s"compact: delete($tmp)")
    } else Seq(tmp, old).filter(f.exists).foreach { stale =>
      checked(f.delete(stale, true), s"compact: delete($stale)")
    }

  /** Compact one parquet LEAF directory (a flat dir of part files — an
    * unpartitioned relation, or one `key=value` partition dir read without
    * its parent) down to [[resolveTarget]] files for its byte size, after
    * settling an interrupted earlier compaction of it. No-op unless the
    * dir holds more data files than that target. Returns true iff a
    * rewrite happened.
    *
    * Reading the leaf directly keeps a partition dir's file schema intact
    * (the partition column lives in the dir name, not the files), so the
    * swapped-in rewrite is byte-compatible with what partition discovery
    * expects. */
  def leafDir(spark: SparkSession, dir: String,
      maxFileBytes: Long = DefaultMaxFileBytes): Boolean = {
    val p = new Path(dir)
    val f = Partitions.fs(spark, p)
    val tmp = new Path(p.getParent, TmpPrefix + p.getName)
    val old = new Path(p.getParent, OldPrefix + p.getName)
    recover(f, p, tmp, old)
    val target = resolveTarget(dataSizeBytes(spark, dir), maxFileBytes)
    if (dataFileCount(spark, dir) <= target) return false
    spark.read.parquet(dir).coalesce(target)
      .write.mode("overwrite").parquet(tmp.toString)
    checked(f.rename(p, old), s"compact: rename($p -> $old)")
    checked(f.rename(tmp, p), s"compact: rename($tmp -> $p)")
    checked(f.delete(old, true), s"compact: delete($old)")
    true
  }

  /** Compact every `prefix=`-named partition child of `dir` (e.g. every
    * `__date=` partition of a history table, every `list=` dir of an IVF
    * layout). Partition-local: each child is rewritten independently, so
    * cost ∝ the data in partitions that actually accumulated files, and
    * the target resolves per child from that child's bytes. The same
    * listing finds a partition that is missing while its
    * `.compact_old_` sibling holds its rows (a swap interrupted between
    * its renames); [[leafDir]] puts it back. Returns the number of
    * partitions rewritten. */
  def partitionedDir(spark: SparkSession, dir: String, prefix: String,
      maxFileBytes: Long = DefaultMaxFileBytes): Int = {
    val d = new Path(dir)
    val f = Partitions.fs(spark, d)
    val listed = if (!f.exists(d)) Nil else f.listStatus(d).toSeq
    val live = Partitions.named(listed, prefix)
    val stranded = Partitions.named(listed, OldPrefix + prefix).map(_._1)
      .filterNot(live.map(_._1).toSet)
    val children = live.map(_._2) ++ stranded.map(v => new Path(d, s"$prefix=$v"))
    // children are disjoint leaf dirs rewritten independently — run a few
    // rewrites concurrently (guide §2.6) so one child's coalesce tail does
    // not leave the cluster idle while the next child waits; the swap
    // discipline is per-child and unaffected by ordering
    val rewritten = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.Par.runBounded(children, maxConcurrent = 4) { child =>
      if (leafDir(spark, child.toString, maxFileBytes))
        rewritten.incrementAndGet()
    }
    rewritten.get()
  }
}
