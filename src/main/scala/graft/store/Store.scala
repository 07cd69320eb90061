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
  *
  * Generations follow the one [[Generations]] protocol: each upsert claims
  * `gen_N/_CLAIM`, writes its data at the generation root, and commits with
  * `_COMMITTED`; readers see committed generations only, so a crashed
  * upsert is invisible and numbered past. The store is SINGLE-WRITER per
  * table (the reference's Postgres serializes writers for free): an upsert
  * claims exactly the number after the last one it listed, and a taken
  * claim fails it with an IOException instead of moving on — it merged the
  * snapshot it listed, so a later number would drop the other writer's
  * rows. Generations written before this protocol (a root `_SUCCESS`, no
  * `_CLAIM`) still read as committed; their sibling `.claim_gen_N` files
  * are ignored and never created again.
  */
class Store(spark: SparkSession, root: String, buckets: Int = 0) {

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
  private def readGen(table: String, gen: Path): DataFrame =
    if (buckets > 0 && spark.catalog.tableExists(catalogName(table, gen.getName)))
      spark.table(catalogName(table, gen.getName))
    else Partitions.read(spark, gen.toString)

  /** Write the table's next generation, `merge` of its latest snapshot (None
    * when never written). The claim is the one number after the newest
    * listed dir, committed or not, so a crashed writer's stray is numbered
    * past; a taken claim fails the upsert (see the class doc). The data
    * lands at the generation root in append mode, which keeps `_CLAIM`: an
    * overwrite deletes it, and so does `saveAsTable` on a new table (a CTAS
    * that overwrites). A bucketed generation first registers its catalog
    * table at the claimed dir, then appends into it. */
  private def writeGen(table: String, keys: Seq[String])(
      merge: Option[DataFrame] => DataFrame): Unit = {
    val dir = s"$root/$table"
    val listed = Generations.genDirs(spark, dir)
    // resolved BEFORE the write: after it, the newest committed generation
    // would already BE the new one and the superseded-entry drop below
    // would never fire — the metastore then leaks one entry per upsert
    val prev = listed.reverseIterator.find(Generations.isCommitted(spark, _))
    val df = merge(prev.map(readGen(table, _)))
    val gen = Generations.genPath(dir, Generations.nextNumber(listed))
    if (!Generations.tryClaim(spark, gen)) throw new java.io.IOException(
      s"upsert: $table/${gen.getName} already claimed — a concurrent writer is " +
        "upserting this table (the store is single-writer per table)")
    if (buckets > 0 && keys.nonEmpty) {
      val name = catalogName(table, gen.getName)
      val cols = keys.map(k => s"`${k.replace("`", "``")}`").mkString(", ")
      spark.sql(s"CREATE TABLE $name (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS " +
        s"LOCATION '${gen.toString.replace("'", "\\'")}'")
      df.write.mode("append").insertInto(name)
    } else df.write.mode("append").parquet(gen.toString)
    Generations.commit(spark, gen)
    // the previous generation's catalog entry is now dead weight — drop
    // the metadata only (files stay: snapshotAt can still path-read them)
    if (buckets > 0 && keys.nonEmpty) prev.foreach(p => dropCatalogEntries(table, p.getName))
  }

  /** Latest snapshot of a keyed table (empty option when never written).
    * Prefers the catalog entry (carries bucket metadata → bucket-aligned
    * joins); falls back to a plain parquet read of the generation path. */
  def snapshot(table: String): Option[DataFrame] =
    Generations.latestCommitted(spark, s"$root/$table").map(readGen(table, _))

  /** Retained generation ids of a keyed table, ascending — what
    * [[snapshotAt]] accepts. Depth is bounded by [[vacuum]]'s keep
    * window. */
  def generations(table: String): Seq[Int] =
    Generations.genDirs(spark, s"$root/$table")
      .filter(Generations.isCommitted(spark, _)).map(_.getName.drop(4).toInt)

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
    val g = Generations.genPath(s"$root/$table", generation)
    // existence RPCs, not a listing of the whole table dir — and the
    // COMMITTED gate: a crashed writer's partial generation must never be
    // served as a "complete immutable" snapshot
    if (generation < 0 || !Generations.isCommitted(spark, g)) None
    else Some(readGen(table, g))
  }

  /** S6/S7/J6 — upsert a batch into a keyed table with the reference's
    * COALESCE(NULLIF(new,''), old) column semantics. */
  def upsert(table: String, batch: DataFrame, keys: Seq[String]): Unit =
    writeGen(table, keys) {
      case Some(old) => Merge.upsertMerge(old, batch, keys)
      case None      => batch
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
    writeGen(s"${table}_latest", keys) {
      case Some(old) => Merge.latestPerKey(old.unionByName(newLatest), keys, tsCol, tieBreakers)
      case None      => newLatest
    }
  }

  /** The current-snapshot companion maintained by [[upsertLatest]]. */
  def latest(table: String): Option[DataFrame] = snapshot(s"${table}_latest")

  /** Drop the table's superseded generations by [[Generations]]' rule:
    * all but the newest `keep` committed generations, plus uncommitted
    * strays below the newest committed one; a dir above it may be an
    * in-flight upsert's and is never touched. The generation design trades
    * write simplicity for one obsolete snapshot dir per upsert — without
    * GC that is unbounded storage growth (at 100 TB, a full dead copy per
    * run). Each dropped generation costs its catalog entries, if still
    * registered, and one checked directory delete (no data read). The
    * newest `keep` committed generations are never touched, so concurrent
    * readers of the current snapshot are safe; `keep ≥ 2` also protects a
    * reader that resolved the previous generation just before an
    * in-flight upsert committed.
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
    val drop = Generations.superseded(spark, s"$root/$table", keep)
    drop.foreach(g => dropCatalogEntries(table, g.getName))
    Generations.delete(spark, drop, "vacuum")
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
