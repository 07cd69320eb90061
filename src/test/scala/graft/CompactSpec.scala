package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}
import graft.store.{Compact, Store}

/** Local filesystem on which another writer has already claimed
  * `gen_000002` of every tree: the exclusive create of its `_CLAIM` throws
  * FileAlreadyExistsException, as the loser of a claim race sees it. */
class ClaimRaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "claimrace"
  override def getUri: java.net.URI = java.net.URI.create("claimrace:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite && f.getName == "_CLAIM" && f.getParent.getName == "gen_000002")
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$f already exists")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

/** Local filesystem whose NEXT rename of a `.compact_tmp_` dir onto its
  * live name returns `false` once [[FailSwapOnceFs.armed]] is set — a
  * compaction interrupted between its two swap renames, with the live
  * dir already moved to `.compact_old_`. */
class FailSwapOnceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failswap"
  override def getUri: java.net.URI = java.net.URI.create("failswap:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.startsWith(".compact_tmp_") && FailSwapOnceFs.armed.getAndSet(false)) false
    else super.rename(src, dst)
}
object FailSwapOnceFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Compaction of the append-only trees (history, MinHash index, IVF lists):
  * file counts must DROP and results must be IDENTICAL — the relational
  * identity is additionally oracle-gated by q73 (MinHash) and q74 (IVF);
  * these specs pin the file-level contract the oracle can't see. Also
  * covers the Store single-writer claim guard, IVF generation commit
  * semantics, the appendToIvf schema validation, and the ingest ledger. */
class CompactSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("compactHistory: per-date file counts drop, digest identical") {
    val root = tmp("graft_compact_hist")
    val store = new Store(spark, root)
    for (b <- 1 to 3) {
      val events = Seq(
        (s"p$b", b * 10.0, "2024-01-01 10:00:00"),
        (s"q$b", b * 20.0, "2024-01-02 10:00:00"))
        .toDF("product_id", "price", "ts")
        .select(col("product_id"), col("price"), col("ts").cast("timestamp").as("crawled_at"))
      store.appendHistory("hist", events)
    }
    def digest() = store.history("hist").get
      .collect().map(_.toString).sorted.toSeq
    def files(date: String) =
      Compact.dataFileCount(spark, s"$root/hist/append/__date=$date")
    val before = digest()
    assert(files("2024-01-01") >= 3, "appends must accumulate part files")
    val n = store.compactHistory("hist")
    assert(n === 2, "both date partitions exceed one file and get rewritten")
    assert(files("2024-01-01") === 1)
    assert(files("2024-01-02") === 1)
    assert(digest() === before)
    // idempotent: nothing left above the threshold
    assert(store.compactHistory("hist") === 0)
  }

  test("a compaction interrupted between its swap renames loses no rows on retry") {
    spark.sparkContext.hadoopConfiguration.set("fs.failswap.impl",
      classOf[FailSwapOnceFs].getName)
    val dir = tmp("graft_compact_swap")
    val store = new Store(spark, "failswap://" + dir)
    def append(table: String, id: String): Unit = store.appendHistory(table,
      Seq((id, 1.0, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
        .toDF("product_id", "price", "crawled_at"))
    def ids(table: String) = store.history(table).map(
      _.select("product_id").as[String].collect().sorted.toSeq).getOrElse(Nil)
    def interrupt(table: String): Unit = {
      append(table, "p1"); append(table, "p2")
      FailSwapOnceFs.armed.set(true)
      val e = intercept[java.io.IOException](store.compactHistory(table))
      assert(e.getMessage.contains("compact: rename"), e.getMessage)
      // the partition's only copy now sits in the hidden .compact_old_ dir
      assert(ids(table) === Nil)
    }
    // retry alone: the stray's partition is missing, and the retry puts it
    // back before compacting it
    interrupt("retry")
    assert(store.compactHistory("retry") === 1)
    assert(ids("retry") === Seq("p1", "p2"))
    // appends recreate the partition first: the retry merges the stray
    // into it instead of deleting it as a stale leftover
    interrupt("appended")
    append("appended", "p3"); append("appended", "p4")
    assert(store.compactHistory("appended") === 1)
    assert(ids("appended") === Seq("p1", "p2", "p3", "p4"))
    // and nothing of either swap is left behind
    for (table <- Seq("retry", "appended"))
      assert(!new java.io.File(s"$dir/$table/append").list().exists(_.startsWith(".compact_")))
  }

  test("compactArchive (history): archived date partitions compact, rows conserved") {
    val root = tmp("graft_compact_arch")
    val store = new Store(spark, root)
    // several append bursts build multi-file date partitions, then the
    // whole window expires into the archive by pure renames — the archive
    // inherits every small file
    for (b <- 1 to 3) {
      val events = Seq(
        (s"p$b", b * 10.0, "2024-01-01 10:00:00"),
        (s"q$b", b * 20.0, "2024-01-02 10:00:00"))
        .toDF("product_id", "price", "ts")
        .select(col("product_id"), col("price"), col("ts").cast("timestamp").as("crawled_at"))
      store.appendHistory("hist", events)
    }
    val moved = store.archiveHistory("hist", "2024-03-01")
    assert(moved === 6L)
    def files(date: String) =
      Compact.dataFileCount(spark, s"$root/hist_archive/append/__date=$date")
    def digest() = spark.read.option("basePath", s"$root/hist_archive/append")
      .parquet(s"$root/hist_archive/append")
      .collect().map(_.toString).sorted.toSeq
    assert(files("2024-01-01") >= 3, "the archive inherits the appends' small files")
    val before = digest()
    val n = store.compactArchive("hist")
    assert(n === 2, "both archived date partitions get rewritten")
    assert(files("2024-01-01") === 1 && files("2024-01-02") === 1)
    assert(digest() === before, "compaction must conserve archived rows exactly")
    // idempotent: nothing left above the threshold
    assert(store.compactArchive("hist") === 0)
  }

  test("compactArchive (streaming): archived batch partitions compact, rows conserved") {
    import graft.streaming.Streams
    val dir = tmp("graft_compact_sarch")
    val histPath = s"$dir/history"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // three multi-row batches; the event writes fan out over write tasks,
    // so each batch_id= partition holds several part files
    for (b <- 0 to 2) {
      val rows = (0 until 64).map { i =>
        (s"p$i", 100.0 + b, 120.0, Option.empty[Double], 5L,
          ts(f"2024-01-${b + 1}%02d 00:00:00"))
      }.toDF("product_id", "price", "original_price", "discount_percent",
        "sales_count", "crawled_at")
      Streams.cdcProcessBatch(rows, histPath, b.toLong)
    }
    val archived = Streams.archiveEventLog(spark, histPath, "2024-01-03 00:00:00")
    assert(archived === 128L, "batches 0 and 1 (64 price-change events each) expire")
    val archRoot = s"$histPath/_archive"
    def files(b: Int) = Compact.dataFileCount(spark, s"$archRoot/batch_id=$b")
    def digest() = spark.read.option("basePath", archRoot).parquet(archRoot)
      .collect().map(_.toString).sorted.toSeq
    assert((0 to 1).map(files).sum > 2, "archived batch partitions carry multiple part files")
    val before = digest()
    val n = Streams.compactArchive(spark, histPath)
    assert(n >= 1, "oversized archived batch partitions must be rewritten")
    assert((0 to 1).forall(files(_) === 1))
    assert(digest() === before, "compaction must conserve archived rows exactly")
    assert(Streams.compactArchive(spark, histPath) === 0)
  }

  test("appendToMinhashIndex writes a flat delta tier; probes read base ∪ delta; compaction folds it") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    val path = tmp("graft_mh_delta")
    val gen = Dedup.writeMinhashIndex(
      Dedup.buildMinhashIndex(corpus, "doc_id", "text"), path)
    val bandsDir = new org.apache.hadoop.fs.Path(s"$gen/bands")
    val fs = bandsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def baseFiles() = fs.listStatus(bandsDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bkt="))
      .map(st => Compact.dataFileCount(spark, st.getPath.toString)).toSeq
    val baseBefore = baseFiles()
    Dedup.appendToMinhashIndex(b1, path, "doc_id", "text")
    // the append landed as a FLAT delta: the bucketed base is untouched
    // (no near-empty file scattered into each __bkt= dir) and the delta
    // dir exists with the batch's banding rows, __bkt as a data column
    assert(baseFiles() === baseBefore, "append must not touch the bucketed base")
    val deltaDir = s"$gen/bands_delta"
    assert(Compact.dataFileCount(spark, deltaDir) >= 1, "append must write the delta tier")
    val deltaRows = spark.read.parquet(deltaDir)
    assert(deltaRows.columns.toSet === Set("id", "bandkey", "__bkt"))
    assert(deltaRows.filter(col("__bkt").isNull).count() === 0)
    // a probe against base ∪ delta equals the probe after compaction folds
    // the delta into the next generation's base
    def verdicts() = Dedup.dedupAgainstIndex(probeBatch,
      Dedup.readMinhashIndex(spark, path), "doc_id", "text", threshold = 0.3)
      .collect().map(_.toString).sorted.toSeq
    val before = verdicts()
    // appended ids are visible through the manifest AND the delta read
    val idsWithDelta = Dedup.minhashIndexIds(spark, path)
      .collect().map(_.getLong(0)).toSet
    assert(Dedup.compactMinhashIndex(spark, path) === 1)
    val genAfter = graft.store.Generations.requireCommitted(spark, path).toString
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$genAfter/bands_delta")),
      "compaction must fold the delta into the new base")
    assert(verdicts() === before, "delta-tier probe must equal the folded layout's")
    assert(Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
      === idsWithDelta)
  }

  test("compactMinhashIndex: reader-atomic generation swap, counts drop, relations identical") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val path = tmp("graft_compact_mh")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), path)
    for (b <- 1 to 2)
      Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 3 === b),
        path, "doc_id", "text")
    def rows() = {
      val idx = Dedup.readMinhashIndex(spark, path)
      // compare index CONTENT (id, bandkey): __bkt is layout metadata —
      // compaction may legitimately re-bucket (scale-adaptive shrink, or
      // an explicit targetBuckets migration), and q83's oracle proves
      // bucket migrations are result-invisible
      (idx.bands.drop("__bkt").collect().map(_.toString).sorted.toSeq,
        idx.shingles.collect().map(_.toString).sorted.toSeq)
    }
    val (bandsBefore, shinglesBefore) = rows()
    val (b0, _) = Dedup.minhashFileCounts(spark, path)
    assert(b0 >= 3, "appends must accumulate part files")
    assert(Dedup.compactMinhashIndex(spark, path) === 1)
    assert(Dedup.minhashFileCounts(spark, path) === ((1, 1)))
    val (bandsAfter, shinglesAfter) = rows()
    assert(bandsAfter === bandsBefore)
    assert(shinglesAfter === shinglesBefore)
    // below the threshold -> no-op, no new generation
    assert(Dedup.compactMinhashIndex(spark, path) === 0)
    // the superseded generation is retained for in-flight readers (keep=2)
    assert(graft.store.Generations.genDirs(spark, path).size === 2)
  }

  test("deleteFromMinhashIndex: immediate filtering, physical removal at compaction") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val path = tmp("graft_mh_del")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), path)
    val all = Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
    val deleted = all.toSeq.sorted.take(5)
    assert(Dedup.deleteFromMinhashIndex(spark, path, deleted.toDF("id")) === 5L)
    // IMMEDIATE: every reader excludes the ids, no rewrite has happened
    val idx = Dedup.readMinhashIndex(spark, path)
    assert(idx.bands.filter(col("id").isin(deleted: _*)).count() === 0)
    assert(idx.shingles.filter(col("id").isin(deleted: _*)).count() === 0)
    assert(Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
      === all -- deleted)
    // ...while the raw generation still carries the rows (deferred removal)
    val gen0 = graft.store.Generations.requireCommitted(spark, path).toString
    assert(spark.read.parquet(s"$gen0/bands")
      .filter(col("id").isin(deleted: _*)).count() > 0)
    // re-deleting is idempotent (duplicate tombstone rows change nothing)
    assert(Dedup.deleteFromMinhashIndex(spark, path, deleted.take(2).toDF("id")) === 2L)
    // live tombstones force the compaction even below file thresholds
    assert(Dedup.compactMinhashIndex(spark, path) === 1)
    val gen1 = graft.store.Generations.requireCommitted(spark, path).toString
    assert(gen1 !== gen0)
    // PHYSICAL: gone from every raw relation, tombstones cleared with them
    for (rel <- Seq("bands", "shingles", "ids"))
      assert(spark.read.parquet(s"$gen1/$rel")
        .filter(col("id").isin(deleted: _*)).count() === 0, s"$rel still carries deleted ids")
    val fs = new org.apache.hadoop.fs.Path(gen1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    // survivors conserved exactly
    assert(spark.read.parquet(s"$gen1/ids").count() === (all.size - 5).toLong)
    // thresholds rule again once no tombstones are pending
    assert(Dedup.compactMinhashIndex(spark, path) === 0)
  }

  test("deleteFromIvf: probes exclude immediately (still pruned), compaction removes physically") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = tmp("graft_ivf_del")
    Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 4), path)
    def probe() = Ann.ivfTopK(emb.filter(col("vec_id") < 3), Ann.readIvf(spark, path),
      "vec_id", "embedding", k = 50, nprobe = 2)
    val deleted = probe().select("neighbor_id").limit(4)
      .collect().map(_.getLong(0)).toSeq
    assert(deleted.nonEmpty, "control failed: no neighbors to delete")
    assert(Ann.deleteFromIvf(spark, path, deleted.toDF("id")) === deleted.size.toLong)
    // IMMEDIATE: the corpus side and the manifest exclude the ids...
    val idx = Ann.readIvf(spark, path)
    assert(idx.assigned.filter(col("vec_id").isin(deleted: _*)).count() === 0)
    assert(Ann.ivfIds(spark, path).filter(col("id").isin(deleted: _*)).count() === 0)
    // ...former neighbors never surface again, and the probe scan keeps
    // its list directory-pruning THROUGH the anti-join
    val p1 = probe()
    assert(p1.filter(col("neighbor_id").isin(deleted: _*)).count() === 0)
    val plan = p1.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
      s"tombstone anti-join broke partition pruning:\n${plan.take(4000)}")
    val before = p1.collect().map(_.toString).sorted.toSeq
    // PHYSICAL: the online compaction rewrites without the tombstoned rows
    val gen0 = graft.store.Generations.requireCommitted(spark, path).toString
    Ann.compactIvfOnline(spark, path)
    val gen1 = graft.store.Generations.requireCommitted(spark, path).toString
    assert(gen1 !== gen0)
    val rawAssigned = spark.read.parquet(s"$gen1/assigned")
    assert(rawAssigned.filter(col("vec_id").isin(deleted: _*)).count() === 0)
    assert(spark.read.parquet(s"$gen1/ids")
      .filter(col("id").isin(deleted: _*)).count() === 0)
    val fs = new org.apache.hadoop.fs.Path(gen1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    assert(probe().collect().map(_.toString).sorted.toSeq === before,
      "probe results must be identical across the physical removal")
  }

  test("appendToMinhashIndex: re-ingesting a tombstoned id purges old rows, clears the tombstone, re-adds") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val path = tmp("graft_mh_reingest")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), path)
    val all = Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
    val deleted = all.toSeq.sorted.take(5)
    Dedup.deleteFromMinhashIndex(spark, path, deleted.toDF("id"))
    val gen0 = graft.store.Generations.requireCommitted(spark, path).toString
    // a DISJOINT append under live tombstones must NOT trigger the purge
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 3 === 1),
      path, "doc_id", "text")
    assert(graft.store.Generations.requireCommitted(spark, path).toString === gen0,
      "tombstone-disjoint append must not rewrite the generation")
    val fs = new org.apache.hadoop.fs.Path(gen0)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$gen0/tombstones")))
    // re-crawl of ONE deleted id: the append detects the tombstone hit,
    // compacts inline (purging ALL tombstoned rows), clears, then appends
    val back = deleted.head
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") === back),
      path, "doc_id", "text")
    val gen1 = graft.store.Generations.requireCommitted(spark, path).toString
    assert(gen1 !== gen0, "re-ingest under a live tombstone must compact first")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    // the re-added id is live again with NO stale duplicates (duplicate
    // shingle rows would corrupt every Jaccard the id participates in)
    val rawSh = spark.read.parquet(s"$gen1/shingles").filter(col("id") === back)
      .select(col("s")).as[Seq[Long]].collect()
    assert(rawSh.length === 1, "stale shingle rows survived the re-ingest purge")
    assert(rawSh.head.nonEmpty && rawSh.head.distinct.size === rawSh.head.size,
      "the re-added shingle set must be non-empty and distinct")
    val rawBands = spark.read.parquet(s"$gen1/bands").filter(col("id") === back)
    assert(rawBands.count() === rawBands.select("bandkey").distinct().count())
    assert(spark.read.parquet(s"$gen1/ids").filter(col("id") === back).count() === 1)
    // the other deleted ids stayed dead — physically
    val stillDead = deleted.tail
    for (rel <- Seq("bands", "shingles", "ids"))
      assert(spark.read.parquet(s"$gen1/$rel")
        .filter(col("id").isin(stillDead: _*)).count() === 0,
        s"$rel resurrected ids that were not re-ingested")
    assert(Dedup.minhashIndexIds(spark, path).filter(col("id") === back).count() === 1)
  }

  test("appendToIvf: re-ingesting a tombstoned id purges old rows, clears the tombstone, re-adds") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = tmp("graft_ivf_reingest")
    Ann.writeIvf(Ann.buildIvf(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 4), path)
    val all = Ann.ivfIds(spark, path).collect().map(_.getLong(0)).toSet
    val deleted = all.toSeq.sorted.take(4)
    Ann.deleteFromIvf(spark, path, deleted.toDF("id"))
    val gen0 = graft.store.Generations.requireCommitted(spark, path).toString
    // disjoint append: tombstones stay live, generation unchanged
    Ann.appendToIvf(emb.filter(col("vec_id") % 2 === 1).limit(50),
      path, "vec_id", "embedding")
    assert(graft.store.Generations.requireCommitted(spark, path).toString === gen0)
    // re-crawl of one deleted vector triggers the inline purge
    val back = deleted.head
    Ann.appendToIvf(emb.filter(col("vec_id") === back), path, "vec_id", "embedding")
    val gen1 = graft.store.Generations.requireCommitted(spark, path).toString
    assert(gen1 !== gen0, "re-ingest under a live tombstone must compact first")
    val fs = new org.apache.hadoop.fs.Path(gen1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    // live again, exactly once — a stale surviving row would pair the
    // vector with itself as a duplicate neighbor
    assert(spark.read.parquet(s"$gen1/assigned")
      .filter(col("vec_id") === back).count() === 1)
    assert(spark.read.parquet(s"$gen1/ids").filter(col("id") === back).count() === 1)
    val stillDead = deleted.tail
    assert(spark.read.parquet(s"$gen1/assigned")
      .filter(col("vec_id").isin(stillDead: _*)).count() === 0)
    assert(Ann.ivfIds(spark, path).filter(col("id").isin(stillDead: _*)).count() === 0)
  }

  test("tombstone relation stays file-bounded under sustained takedowns") {
    val docs = Tables.load(spark, sfDir, "documents")
    val path = tmp("graft_mh_ts_bound")
    Dedup.writeMinhashIndex(
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"), path)
    val all = Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
    val victims = all.toSeq.sorted.take(Dedup.TombstoneCompactFiles + 4)
    val gen0 = graft.store.Generations.requireCommitted(spark, path).toString
    // one delete call per id — the pathological worst case for file
    // accumulation: the call that reaches the bound runs the forced
    // reader-atomic compaction (generation swap — never an in-place
    // rewrite), which purges the accumulated tombstones entirely
    for (id <- victims) {
      Dedup.deleteFromMinhashIndex(spark, path, Seq(id).toDF("id"))
      val gen = graft.store.Generations.requireCommitted(spark, path).toString
      val p = new org.apache.hadoop.fs.Path(s"$gen/tombstones")
      val files =
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          Compact.dataFileCount(spark, s"$gen/tombstones")
        else 0
      assert(files < Dedup.TombstoneCompactFiles,
        s"tombstone relation exceeded the file bound at id $id ($files files)")
    }
    // the bound actually tripped: at least one generation swap happened
    assert(graft.store.Generations.requireCommitted(spark, path).toString !== gen0,
      "the forced compaction at the file bound never fired")
    // every takedown still excluded — the first slice physically purged by
    // the forced compaction, the tail tombstoned in the new generation
    assert(Dedup.minhashIndexIds(spark, path).collect().map(_.getLong(0)).toSet
      === all -- victims)
  }

  test("compactIvfOnline: new committed generation, one file per list, probe identical") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = tmp("graft_compact_ivf_online")
    Ann.writeIvf(Ann.buildIvf(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", nlist = 4), path)
    for (b <- 1 to 2)
      Ann.appendToIvf(emb.filter(col("vec_id") % 3 === b), path, "vec_id", "embedding")
    def probe() = Ann.ivfTopK(emb.filter(col("vec_id") < 5), Ann.readIvf(spark, path),
      "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    assert(Ann.ivfFileCounts(spark, path).values.exists(_ > 1))
    val gen = Ann.compactIvfOnline(spark, path)
    assert(gen.endsWith("gen_000001"))
    assert(Ann.latestIvfGen(spark, path).get.toString.endsWith("gen_000001"))
    assert(Ann.ivfFileCounts(spark, path).values.forall(_ === 1))
    // keep=2: the generation an in-flight probe may hold is still on disk
    assert(graft.store.Generations.genDirs(spark, path).size === 2)
    assert(probe() === before)
  }

  test("compactIvfOnline salting: over-budget lists split across files, probe identical") {
    // with a shrunken maxFileBytes every list exceeds the per-file budget,
    // so the shuffle key gains the per-row salt and each list's write is
    // spread across multiple tasks/files — the scale path for a hot list
    // that would otherwise become one multi-GB single-task file
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = tmp("graft_compact_ivf_salt")
    Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 4), path)
    def probe() = Ann.ivfTopK(emb.filter(col("vec_id") < 5), Ann.readIvf(spark, path),
      "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    // AQE's partition coalescing re-merges the KB-sized test shuffle into
    // one partition (at real scale the ≈maxFileBytes partitions sit above
    // the 64 MB advisory size and stay split); disable it to observe the
    // salt's file-splitting mechanism at test scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try Ann.compactIvfOnline(spark, path, maxFileBytes = 1L)
    finally prev.fold(spark.conf.unset(coalesceKey))(spark.conf.set(coalesceKey, _))
    assert(Ann.ivfFileCounts(spark, path).values.exists(_ > 1),
      "salting must split an over-budget list across files")
    assert(probe() === before)
  }

  test("compactIvf: per-list file counts drop, probe results identical") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = tmp("graft_compact_ivf")
    Ann.writeIvf(Ann.buildIvf(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", nlist = 4), path)
    for (b <- 1 to 2)
      Ann.appendToIvf(emb.filter(col("vec_id") % 3 === b), path, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    def probe() = Ann.ivfTopK(queries, Ann.readIvf(spark, path),
      "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    val gen = Ann.latestIvfGen(spark, path).get.toUri.getPath
    val lists = new java.io.File(s"$gen/assigned").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list=")).map(_.toString)
    assert(lists.exists(Compact.dataFileCount(spark, _) > 1),
      "appends must accumulate files in at least one list dir")
    val counts = Ann.ivfFileCounts(spark, path)
    assert(counts.nonEmpty && counts.values.exists(_ > 1),
      "ivfFileCounts must surface the accumulation that triggers compaction")
    assert(Ann.compactIvf(spark, path) > 0)
    assert(lists.forall(Compact.dataFileCount(spark, _) === 1))
    assert(Ann.ivfFileCounts(spark, path).values.forall(_ === 1))
    assert(probe() === before)
  }

  test("writeIvf commits generations; readers never see an uncommitted rebuild") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 60)
    val path = tmp("graft_ivf_gen")
    val g0 = Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 2), path)
    assert(g0.endsWith("gen_000000"))
    // a rebuild IN FLIGHT: an uncommitted gen dir must stay invisible
    val inflight = new java.io.File(s"$path/gen_000001")
    assert(inflight.mkdirs())
    assert(Ann.latestIvfGen(spark, path).get.toString.endsWith("gen_000000"))
    assert(Ann.readIvf(spark, path).centroids.length === 2)
    // the committed rebuild takes over (numbering skips the stray dir)
    val g2 = Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 4), path)
    assert(g2.endsWith("gen_000002"))
    assert(Ann.readIvf(spark, path).centroids.length === 4)
    // vacuum drops the superseded gen and the stray, keeps the newest
    assert(Ann.vacuumIvf(spark, path, keep = 1) === 2)
    assert(Ann.readIvf(spark, path).centroids.length === 4)
    assert(!new java.io.File(s"$path/gen_000000").exists())
    assert(!inflight.exists())
  }

  test("claimNextGen: a concurrent writer's claim diverts a rebuild to the next number") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 60)
    val path = tmp("graft_gen_claim")
    Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 2), path)
    // a racing rebuild has claimed gen_000001 but written nothing yet —
    // without the claim, our write would land in the same dir and its
    // mode(overwrite) could clobber the racer's files before either commits
    val racer = new java.io.File(s"$path/gen_000001")
    assert(racer.mkdirs() && new java.io.File(racer, "_CLAIM").createNewFile())
    val g = Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 4), path)
    assert(g.endsWith("gen_000002"), s"writer must skip the claimed number, got $g")
    assert(Ann.readIvf(spark, path).centroids.length === 4)
    // the racer's claimed-but-uncommitted dir stays invisible to readers
    assert(Ann.latestIvfGen(spark, path).get.toString.endsWith("gen_000002"))
  }

  test("auto-sized target: output file count tracks bytes/maxFileBytes, not a fixed 1") {
    // at 100 TB a fixed target would funnel the rewrite through that many
    // tasks (coalesce caps the stage); resolveTarget sizes the output to
    // ≈ maxFileBytes per file. Shrink maxFileBytes to a third of the dir so
    // the auto target resolves to 3 at test scale.
    val dir = tmp("graft_autosize") + "/leaf"
    Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      .repartition(6).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(Compact.dataFileCount(spark, dir) === 6)
    val bytes = Compact.dataSizeBytes(spark, dir)
    val maxFB = (bytes + 2) / 3
    assert(Compact.resolveTarget(bytes, maxFB) === 3)
    assert(Compact.leafDir(spark, dir, maxFileBytes = maxFB))
    assert(Compact.dataFileCount(spark, dir) === 3)
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq === before)
    // already at the auto target -> no-op
    assert(!Compact.leafDir(spark, dir, maxFileBytes = maxFB))
  }

  test("appendToIvf validates batch schema against the persisted layout") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 60)
    val path = tmp("graft_ivf_schema")
    Ann.writeIvf(Ann.buildIvf(emb, "vec_id", "embedding", nlist = 2), path)
    val wrongName = emb.withColumnRenamed("embedding", "vec")
    val e1 = intercept[IllegalArgumentException] {
      Ann.appendToIvf(wrongName, path, "vec_id", "vec")
    }
    assert(e1.getMessage.contains("no 'vec'"))
    val wrongType = emb.withColumn("embedding",
      transform(col("embedding"), _.cast("double")))
    val e2 = intercept[IllegalArgumentException] {
      Ann.appendToIvf(wrongType, path, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("element types must match"))
  }

  test("Store claim guard: a concurrent writer's claim fails the upsert loudly") {
    spark.sparkContext.hadoopConfiguration.set("fs.claimrace.impl",
      classOf[ClaimRaceFs].getName)
    val dir = tmp("graft_claim")
    val store = new Store(spark, "claimrace://" + dir)
    val batch = Seq(("p1", 1.0)).toDF("product_id", "price")
    store.upsert("products", batch, Seq("product_id"))       // gen_000000
    store.upsert("products", batch, Seq("product_id"))       // gen_000001
    assert(store.snapshot("products").get.count() === 1)
    // a racing writer wins the create of gen_000002/_CLAIM after this
    // upsert listed the table: the upsert must fail, not move on to
    // gen_000003 with a merge of the snapshot it listed
    val e = intercept[java.io.IOException] {
      store.upsert("products", batch, Seq("product_id"))
    }
    assert(e.getMessage.contains("single-writer"))
    assert(store.generations("products") === Seq(0, 1))
    assert(store.snapshot("products").get.count() === 1)
    // vacuum drops superseded generations together with their claims
    assert(store.vacuum("products", keep = 1) === 1)
    assert(!new java.io.File(s"$dir/products/gen_000000").exists())
    assert(new java.io.File(s"$dir/products/gen_000001/_CLAIM").exists())
  }

  test("ingestCycle ledger: batch rows, candidates, dups, appended, file counts") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 >= 2)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp("graft_ledger")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), path)
    val (verdicts, stats) = Dedup.ingestCycle(b1, path, "doc_id", "text", threshold = 0.3)
    assert(stats.batchRows === b1.count())
    assert(stats.dups === verdicts.filter(col("is_dup")).count())
    assert(stats.appendedRows === stats.batchRows - stats.dups)
    assert(stats.dups > 0, "fixture corpus is near-dup-saturated; expected dups")
    assert(stats.candidatePairs >= stats.dups)
    assert(stats.bandsFiles > 1 && stats.shinglesFiles > 1,
      "post-append file counts are the compaction trigger signal")
    // the appended index serves the next batch: survivors are now targets
    val b2 = docs.filter(col("doc_id") % 5 === 1)
    val r2 = Dedup.dedupAgainstIndex(b2, Dedup.readMinhashIndex(spark, path),
      "doc_id", "text", threshold = 0.3)
    assert(r2.filter(col("is_dup") && col("dup_of") % 5 === 0).count() > 0,
      "no batch-2 dup ever resolved against an appended batch-1 survivor")
  }
}
