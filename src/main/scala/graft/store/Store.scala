package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Merge

/** Parquet-backed keyed tables with upsert-merge semantics — the engine's
  * storage layer replacing the reference's Postgres ON CONFLICT writes
  * (SURVEY.md §2.1 S6–S9, §3.3).
  *
  * Layout: each table is a directory of parquet "generations". A write
  * produces a new generation = merge(current snapshot, batch) so reads are
  * always one parquet read of the latest generation (no log replay,
  * no small-file accumulation).
  *
  * Scale: the merge is a single key-partitioned shuffle of snapshot ∪ batch.
  * With `buckets > 0` each generation is written `bucketBy(keys)` +
  * `sortBy(keys)` through the session catalog, so the NEXT upsert's merge
  * join reads the snapshot bucket-aligned and shuffles ONLY the batch side
  * — at 100 TB that is the difference between re-shuffling the whole
  * catalog per run and shuffling the day's delta. (Bucket metadata lives in
  * the catalog; a fresh session without the metastore falls back to a plain
  * parquet read of the same files — correct, just unbucketed.) History
  * appends are date-partitioned and read through `history(table, since)`
  * so derivations prune to recent partitions, and `upsertLatest` maintains
  * a current-snapshot companion so CDC never replays the log at all. All
  * directory listing goes through the Hadoop FileSystem API — `root` may be
  * any Hadoop-supported URI (file:, hdfs:, s3a:, ...), never `java.io.File`.
  */
class Store(spark: SparkSession, root: String, buckets: Int = 0) {

  /** RAW generation listing — includes a crashed writer's partial
    * directory. Generation NUMBERING must see those (re-issuing a partial
    * generation's number would collide with its never-deleted claim
    * tombstone and wedge the table); READERS must not — they go through
    * [[committedGens]]. */
  private def gens(table: String): Seq[String] =
    Generations.genDirs(spark, s"$root/$table").map(_.getName)

  /** A generation is COMMITTED iff the write that produced it ran to
    * completion — witnessed by the committer's own `_SUCCESS` marker (the
    * default FileOutputCommitter writes it last; deployments that disable
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` lose this store's
    * crash-visibility guarantee). Without the gate, an upsert crashing
    * mid-write leaves a partial directory that sorts LAST — and every
    * reader would silently serve the truncated snapshot as current. One
    * existence RPC per check. */
  private def isCommitted(table: String, gen: String): Boolean = {
    val marker = new Path(s"$root/$table/$gen/_SUCCESS")
    Partitions.fs(spark, marker).exists(marker)
  }

  private def committedGens(table: String): Seq[String] =
    gens(table).filter(isCommitted(table, _))

  /** Newest-first: one existence RPC when the newest generation is
    * committed, however many generations are retained. */
  private def latestGen(table: String): Option[String] =
    gens(table).reverseIterator.find(isCommitted(table, _))

  /** Catalog names are scoped by a digest of `root`: two stores with
    * different roots but the same table name and bucket count would
    * otherwise share entries — one store's upsert re-pointing the other
    * store's `spark.table` reads at its own files, silently. */
  private val rootTag = java.security.MessageDigest.getInstance("MD5")
    .digest(root.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private def catalogName(table: String, gen: String): String =
    s"graft_${table}_${gen}_$rootTag".replaceAll("[^a-zA-Z0-9_]", "_")

  /** Drop a superseded generation's catalog entries. The current
    * (root-tagged) name always; additionally the PRE-rootTag legacy name
    * (`graft_<table>_<gen>`) — without this, entries registered before the
    * tag was introduced are never matched by either writeGen's
    * superseded-entry drop or vacuum's DROP TABLE and leak in the
    * metastore forever. The legacy namespace is shared across roots (the
    * very collision rootTag fixed), so the legacy entry is dropped ONLY
    * when its recorded location resolves under THIS store's generation
    * directory — another store's same-named entry must survive. The
    * location probe (one DESCRIBE) runs only when a legacy entry exists,
    * i.e. never again once the one-time migration has swept it. */
  private def dropCatalogEntries(table: String, gen: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${catalogName(table, gen)}")
    val legacy = s"graft_${table}_$gen".replaceAll("[^a-zA-Z0-9_]", "_")
    if (spark.catalog.tableExists(legacy)) {
      val mine = { val p = new Path(s"$root/$table/$gen"); Partitions.fs(spark, p).makeQualified(p) }
      val loc = spark.sql(s"DESCRIBE FORMATTED $legacy").collect()
        .find(_.getString(0).trim == "Location").map(_.getString(1).trim)
      val owned = loc.exists { l =>
        val p = new Path(l)
        Partitions.fs(spark, p).makeQualified(p) == mine
      }
      if (owned) spark.sql(s"DROP TABLE IF EXISTS $legacy")
    }
  }

  /** One generation's frame: the catalog entry when it exists (carries
    * bucket metadata -> bucket-aligned joins), else a parquet read of the
    * same files through [[Partitions.read]] (no schema-inference job) —
    * the single read expression every snapshot API uses. */
  private def readGen(table: String, g: String): DataFrame =
    if (buckets > 0 && spark.catalog.tableExists(catalogName(table, g)))
      spark.table(catalogName(table, g))
    else Partitions.read(spark, s"$root/$table/$g")

  /** Claim the next generation number with an atomic exclusive create of a
    * `.claim_gen_N` marker. Generation numbering is otherwise
    * read-increment-write: two concurrent upserts that both listed the same
    * latest generation would race to the same `gen_N` and silently clobber
    * each other. The marker create (`FileSystem.create` with
    * overwrite=false) is atomic on the FileSystem API, so the second writer
    * fails loudly here instead. Claims are tombstones — never deleted on
    * success, so a raced number is never reused; [[vacuum]] removes the
    * ones belonging to dropped generations. The store remains a
    * SINGLE-WRITER-per-table design (the reference's Postgres serializes
    * writers for free); this guard turns a violation into an error, not
    * into support for concurrent writers. */
  private def claimGen(table: String, gen: String): Unit = {
    val dir = new Path(s"$root/$table")
    val f = Partitions.fs(spark, dir)
    f.mkdirs(dir)
    val marker = new Path(dir, s".claim_$gen")
    try f.create(marker, false).close()
    catch { case e: java.io.IOException =>
      throw new java.io.IOException(
        s"claimGen: $table/$gen already claimed — a concurrent writer is " +
          "upserting this table (the store is single-writer per table)", e)
    }
  }

  private def writeGen(table: String, df: DataFrame, keys: Seq[String] = Nil): Unit = {
    // numbering over the RAW listing: a crashed writer's partial directory
    // must not have its number re-issued (its claim tombstone lives on)
    val next = f"gen_${gens(table).lastOption.map(_.drop(4).toInt + 1).getOrElse(0)}%06d"
    // captured BEFORE the write: computed after, latestGen would already BE
    // `next` and the superseded-entry drop below would never fire — the
    // metastore then leaks one entry per upsert between vacuums
    val prev = latestGen(table)
    claimGen(table, next)
    if (buckets > 0 && keys.nonEmpty) {
      df.write.mode("overwrite")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .option("path", s"$root/$table/$next")
        .saveAsTable(catalogName(table, next))
      // the previous generation's catalog entry is now dead weight — drop
      // the metadata only (files stay: snapshot() can still path-read them)
      prev.foreach(dropCatalogEntries(table, _))
    } else df.write.mode("overwrite").parquet(s"$root/$table/$next")
  }

  /** Latest snapshot of a keyed table (empty option when never written).
    * Prefers the catalog entry (carries bucket metadata → bucket-aligned
    * joins); falls back to a plain parquet read of the generation path. */
  def snapshot(table: String): Option[DataFrame] =
    latestGen(table).map(readGen(table, _))

  /** Retained generation ids of a keyed table, ascending — what
    * [[snapshotAt]] accepts. Depth is bounded by [[vacuum]]'s keep
    * window. */
  def generations(table: String): Seq[Int] =
    committedGens(table).map(_.drop(4).toInt)

  /** TIME TRAVEL: the table's snapshot AS OF a retained generation.
    * Every upsert writes a complete immutable generation, so pinning a
    * generation id pins the exact rows — the reproducibility primitive a
    * training pipeline uses to re-read the corpus a run trained on
    * regardless of later upserts, and the debugging primitive for "what
    * did the catalog look like before run N". Only as deep as
    * [[vacuum]]'s keep window: a caller with a long-horizon pin vacuums
    * with a bigger keep (the pin is then a retention decision, priced in
    * retained generations). None for a dropped or never-written
    * generation. Catalog bucket metadata only exists for the latest
    * generation (writes drop superseded entries), so older snapshots
    * path-read the same files unbucketed — correct, just not
    * bucket-aligned. */
  def snapshotAt(table: String, generation: Int): Option[DataFrame] = {
    val g = f"gen_$generation%06d"
    // one existence RPC, not a listing of the whole table dir — and the
    // COMMITTED gate: a crashed writer's partial generation must never be
    // served as a "complete immutable" snapshot
    if (generation < 0 || !isCommitted(table, g)) None
    else Some(readGen(table, g))
  }

  /** S6/S7/J6 — upsert a batch into a keyed table with the reference's
    * COALESCE(NULLIF(new,''), old) column semantics. */
  def upsert(table: String, batch: DataFrame, keys: Seq[String]): Unit = {
    val merged = snapshot(table) match {
      case Some(old) => Merge.upsertMerge(old, batch, keys)
      case None      => batch
    }
    writeGen(table, merged, keys)
  }

  /** S8 — append-only history, date-partitioned for pruning at scale. */
  def appendHistory(table: String, events: DataFrame, tsCol: String = "crawled_at"): Unit =
    events
      .withColumn("__date", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("__date").parquet(s"$root/$table/append")

  /** Read the append-only history table. `since` (yyyy-MM-dd, inclusive)
    * prunes the scan to recent date partitions — the filter lands on the
    * `__date` PARTITION column, so old partitions are never opened
    * (`PartitionFilters` in the scan, not a post-read filter). Omitting it
    * scans the full log; derivations that only need the latest state per
    * key should use the `latest` companion instead. */
  def history(table: String, since: Option[String] = None): Option[DataFrame] = {
    val dir = new Path(s"$root/$table/append")
    // a fully-archived table leaves the append dir with no partition dirs —
    // schema inference over it would fail, so treat it as never-written
    if (Partitions.list(spark, dir, "__date").isEmpty) None
    else {
      val df = Partitions.read(spark, dir.toString)
      Some(since.fold(df)(d => df.filter(col("__date") >= d)).drop("__date"))
    }
  }

  /** Maintain the current-snapshot companion of an append-only history:
    * latest event per key, merged incrementally (max-by (ts, tieBreakers)
    * is associative, so batch-at-a-time upkeep equals a global
    * latest-per-key over the whole log). CDC derivations read THIS —
    * one small keyed table — instead of replaying the ever-growing log. */
  def upsertLatest(table: String, events: DataFrame, keys: Seq[String],
      tsCol: String = "crawled_at", tieBreakers: Seq[Column] = Nil): Unit = {
    val newLatest = Merge.latestPerKey(events, keys, tsCol, tieBreakers)
    val merged = snapshot(s"${table}_latest") match {
      case Some(old) => Merge.latestPerKey(old.unionByName(newLatest), keys, tsCol, tieBreakers)
      case None      => newLatest
    }
    writeGen(s"${table}_latest", merged, keys)
  }

  /** The current-snapshot companion maintained by [[upsertLatest]]. */
  def latest(table: String): Option[DataFrame] = snapshot(s"${table}_latest")

  /** Drop all but the newest `keep` generations of a keyed table. The
    * generation design trades write simplicity for one obsolete snapshot
    * dir per upsert — without GC that is unbounded storage growth (at
    * 100 TB, a full dead copy per run). Deleting is a directory remove per
    * dropped generation via the FileSystem API (no data read), plus the
    * catalog entry if one is still registered. The newest `keep`
    * generations are never touched, so concurrent readers of the current
    * snapshot are safe; `keep ≥ 2` also protects a reader that resolved
    * the previous generation just before an in-flight upsert committed.
    *
    * PINNED-SNAPSHOT RETENTION CONTRACT (the [[snapshotAt]] side of the
    * index tree's `keep = 2` discipline, stated here because vacuum is
    * what prices it): a [[snapshotAt]] pin is valid exactly as long as its
    * generation stays inside the keep window — the pin is a RETENTION
    * DECISION, priced in retained generations, and the holder of a
    * long-horizon pin must vacuum with a keep that covers it
    * (keep ≥ generations-behind-head + 1). Outside the window the failure
    * is LOUD on both paths, never a silently wrong corpus: a NEW
    * `snapshotAt(g)` of a dropped generation returns None (the directory
    * and its commit marker are gone), and a DataFrame HANDLE pinned before
    * the vacuum fails its next action with the underlying
    * FileNotFoundException — its plan captured the dropped generation's
    * file listing, and no surviving generation shares those files
    * (PipelineSpec pins both behaviors). */
  def vacuum(table: String, keep: Int = 2): Int = {
    require(keep >= 1, "keep must be >= 1")
    // the keep window counts COMMITTED generations (a reader can only hold
    // those); an uncommitted partial is garbage and drops with everything
    // below the window — EXCEPT the raw-newest, which may be an in-flight
    // writer's directory (crashed partials stop being raw-newest at the
    // next upsert and are reclaimed then)
    val all = gens(table)
    val keepSet = committedGens(table).takeRight(keep).toSet
    val dropGens = all.filterNot(keepSet.contains).filterNot(all.lastOption.contains)
    dropGens.foreach { g =>
      dropCatalogEntries(table, g)
      val p = new Path(s"$root/$table/$g")
      // an unchecked false would return a dropped-count that includes a
      // generation still on disk
      Partitions.checked(Partitions.fs(spark, p).delete(p, true), s"vacuum: delete($p)")
      // the generation's claim tombstone (see claimGen) goes with it; its
      // number can never be re-issued (numbering only moves forward)
      Partitions.fs(spark, p).delete(new Path(s"$root/$table/.claim_$g"), false)
    }
    dropGens.size
  }

  /** Compact the history table's `__date=` partitions: every
    * [[appendHistory]] call adds one part-file set to its date partition
    * forever — under sustained ingest that is the small-files failure the
    * reference's Postgres heap never exposes (INSERTs compact in place,
    * postgres_storage.py:1440-1469). Partition-local rewrite (only
    * partitions whose data-file count exceeds `minFiles` are touched, each
    * independently), result-identical (CompactSpec asserts digest equality
    * and the file-count drop). The per-partition swap follows [[Compact]]'s
    * contract: the rewrite is invisible until the swap (hidden dot-prefix
    * sibling, checked renames), but the two renames are not atomic as a
    * pair, so run it from the ingest owner between batches — a MAINTENANCE
    * pass under the store's single-writer discipline, not a
    * concurrent-with-readers background job. Returns the number of
    * partitions rewritten. Run it on the recent-partition window after
    * ingest bursts — old partitions stop accumulating once appends move
    * past their date. */
  def compactHistory(table: String, targetFiles: Int = 0, minFiles: Int = 1): Int =
    Compact.partitionedDir(spark, s"$root/$table/append", "__date", targetFiles, minFiles)

  /** Compact the ARCHIVE tree's `__date=` partitions — the retention tier
    * [[archiveHistory]] moves expired partitions into. Archival is a pure
    * rename, so the archive inherits every small file the live tree ever
    * accumulated and then grows forever; without an occasional compaction
    * pass a year of archived history is millions of tiny files even though
    * nobody ever rewrote a byte. Same partition-local [[Compact]] rewrite
    * as [[compactHistory]], same single-writer discipline (run it from
    * whoever owns the archival cycle — the archive has no readers in the
    * hot path, so scheduling is easy). Returns partitions rewritten. */
  def compactArchive(table: String, targetFiles: Int = 0, minFiles: Int = 1): Int =
    Compact.partitionedDir(spark, s"$root/${table}_archive/append", "__date",
      targetFiles, minFiles)

  /** S9 — archive history partitions older than `cutoff` (yyyy-MM-dd): MOVE
    * the expired `__date=` partition directories under
    * `<table>_archive/append` with FileSystem renames. The table is
    * partitioned by `__date` and the archive predicate is a pure partition
    * predicate, so live partitions are never read, rewritten, or touched —
    * at 100 TB of history an archive run costs one directory listing, one
    * rename per expired partition, and — for the return value — one
    * parquet footer read per expired file (driver-side metadata, no Spark
    * job, no data pages). Ref: postgres_storage.py:1825-1848.
    */
  def archiveHistory(table: String, cutoff: String, tsCol: String = "crawled_at"): Long = {
    val expired = Partitions.list(spark, new Path(s"$root/$table/append"), "__date")
      .collect { case (date, p) if date < cutoff => p } // yyyy-MM-dd sorts lexicographically
    if (expired.isEmpty) return 0L
    val n = Compact.footerRowCount(spark, expired)
    val destRoot = new Path(s"$root/${table}_archive/append")
    val f = Partitions.fs(spark, destRoot)
    // a failed move leaves the partition live while the returned count
    // already includes it, so every boolean is checked. The caller can
    // re-run: an already-archived date (a later cutoff after late-arriving
    // appends) merges into its archived copy.
    Partitions.checked(f.mkdirs(destRoot), s"archiveHistory: mkdirs($destRoot)")
    expired.foreach { src =>
      val dest = new Path(destRoot, src.getName)
      if (!f.exists(dest))
        Partitions.checked(f.rename(src, dest), s"archiveHistory: rename($src -> $dest)")
      else Partitions.mergeInto(f, src, dest, "archiveHistory")
    }
    n
  }
}
