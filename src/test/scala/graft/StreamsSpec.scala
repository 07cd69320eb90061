package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

case class Ev(event_id: Long, user_id: String, event_type: String, value: Double, ts: Timestamp)
case class Crawl(product_id: String, price: Double, original_price: Double,
    discount_percent: java.lang.Double, sales_count: Long, crawled_at: Timestamp)
case class DocRow(doc_id: Long, text: String)
case class VecRow(vec_id: Long, embedding: Seq[Float])

/** Local filesystem that refuses, by returning `false`, to delete an
  * existing `_latest` companion tree. Asserts that `cdcRebuildCompanion`
  * checks that delete: on the local filesystem the rename that follows
  * would copy the rebuilt tree INTO the surviving one and report success. */
class FailDeleteLatestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faildeletelatest"
  override def getUri: java.net.URI = java.net.URI.create("faildeletelatest:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (p.getName == "_latest" && exists(p)) false else super.delete(p, recursive)
}

/** Streaming specs: MemoryStream-driven micro-batches, results compared to
  * the batch twins of the same transforms. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1, "u1", "click", 1.0, ts("2024-01-01 10:00:00")),
    Ev(2, "u1", "click", 2.0, ts("2024-01-01 10:10:00")),
    Ev(3, "u1", "purchase", 3.0, ts("2024-01-01 12:00:00")),
    Ev(4, "u2", "click", 4.0, ts("2024-01-01 10:05:00")))

  test("windowedAgg on a stream equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.windowedAgg(mem.toDF, "ts", "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    val got = spark.table("win_agg")
      .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("start"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    q.stop()
    val want = events.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .orderBy(col("start"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
  }

  test("sessionAgg groups by 30-minute inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionAgg(mem.toDF, "ts", "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sess_agg").outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    val got = spark.table("sess_agg")
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    // u1: events 1+2 within 30min (one session, sum 3.0), event 3 later (own session); u2: one
    assert(got == Seq(("u1", 1L, 3.0), ("u1", 2L, 3.0), ("u2", 1L, 4.0)))
  }

  test("cdcSink derives against the latest-per-key companion, not the event log") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cdc").toString
    val histPath = s"$dir/history"
    val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[Crawl]
    val q = Streams.cdcSink(mem.toDF, histPath, ckpt)
    mem.addData(Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    mem.addData(Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    mem.addData(
      Crawl("p1", 110.0, 120.0, null, 9L, ts("2024-01-03 00:00:00")), // sales change only
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-03 00:00:00"))) // new key
    q.processAllAvailable()
    q.stop()
    val hist = spark.read.parquet(histPath)
      .select("product_id", "price", "crawl_type", "price_change")
      .orderBy("crawled_at", "product_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(hist == Seq(
      ("p1", 100.0, "price_change", null), ("p1", 110.0, "price_change", 10.0),
      ("p1", 110.0, "sales_change", null), ("p2", 50.0, "price_change", null)))
    // events land under per-batch partitions — the layout that lets a
    // replayed batch overwrite its own output instead of double-appending
    assert(spark.read.parquet(histPath).select("batch_id").distinct()
      .as[Long].collect().toSet == Set(0L, 1L, 2L))
    // THE SCALE CONTRACT: the next batch's derive input is the companion —
    // every backing file lives under committed `_latest` generation dirs
    // (the newest full collapse + its trailing deltas), never the
    // accumulated batch_id= event partitions
    val st = Streams.cdcState(spark, histPath, batchId = 3L).get
    assert(st.inputFiles.nonEmpty &&
      st.inputFiles.forall(f => f.contains("/_latest/gen_") && !f.contains("batch_id=")),
      s"derive input should be companion generations, got ${st.inputFiles.toSeq}")
    // ... and it is O(keys): one row per product after four events across
    // three batches — flat in stream length
    assert(st.count() === 2)
    assert(st.orderBy("product_id")
      .select("product_id", "price", "sales_count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ===
      Seq(("p1", 110.0, 9L), ("p2", 50.0, 1L)))
    // replay converges: only the CURRENT batch can ever replay (the
    // checkpoint commits batch N before batch N+1 starts, and keep=2
    // preserves exactly the gen_{N-1} it needs) — re-running batch 2 sees
    // only strictly-earlier state (gen_1) and rewrites its event partition
    // and companion byte-identically
    val eventsBefore = spark.read.parquet(histPath)
      .collect().map(_.toString).sorted.toSeq
    val stateBefore = st.collect().map(_.toString).sorted.toSeq
    Streams.cdcProcessBatch(
      Seq(Crawl("p1", 110.0, 120.0, null, 9L, ts("2024-01-03 00:00:00")),
        Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-03 00:00:00"))).toDF,
      histPath, batchId = 2L)
    assert(spark.read.parquet(histPath)
      .collect().map(_.toString).sorted.toSeq === eventsBefore)
    assert(Streams.cdcState(spark, histPath, batchId = 3L).get
      .collect().map(_.toString).sorted.toSeq === stateBefore)
  }

  test("cdc companion: deltas are O(batch), collapses periodic, replays of both converge") {
    val dir = Files.createTempDirectory("graft_cdc_delta").toString
    val histPath = s"$dir/history"
    val latestRoot = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = latestRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def day(d: Int) = ts(f"2024-01-$d%02d 00:00:00")
    // batch 0 seeds a 50-key catalog; each later batch touches 3 keys
    val seed = (0 until 50).map(i => Crawl(s"p$i", 100.0 + i, 200.0, null, 1L, day(1)))
    def touch(k: Int) = (0 until 3).map { j =>
      val i = 3 * (k - 1) + j
      Crawl(s"p$i", 100.0 + i + k, 200.0, null, 1L, day(k + 1))
    }
    def genDir(id: Long) = new org.apache.hadoop.fs.Path(latestRoot, f"gen_$id%012d")
    def isFull(id: Long) = fs.exists(new org.apache.hadoop.fs.Path(genDir(id), "_FULL"))
    def stateRows(id: Long) =
      spark.read.parquet(new org.apache.hadoop.fs.Path(genDir(id), "state").toString).count()
    Streams.cdcProcessBatch(seed.toDF, histPath, 0L, collapseEvery = 3)
    Streams.cdcProcessBatch(touch(1).toDF, histPath, 1L, collapseEvery = 3)
    Streams.cdcProcessBatch(touch(2).toDF, histPath, 2L, collapseEvery = 3)
    // batch 0 seeds a full base; batches 1-2 write O(batch) deltas — 3 rows
    // each against a 50-key catalog, NOT a full rewrite
    assert(isFull(0) && stateRows(0) === 50)
    assert(!isFull(1) && stateRows(1) === 3)
    assert(!isFull(2) && stateRows(2) === 3)
    // THE READ-SIDE SCALE CONTRACT: the derive prunes the companion read
    // to the batch's key buckets — a 3-key probe opens only those keys'
    // __kbkt= partition dirs, not the 50-key catalog's
    val b1Buckets = touch(1).toDF
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("product_id")),
        org.apache.spark.sql.functions.lit(Streams.CdcKeyBuckets)).as("b"))
      .distinct().as[Int].collect().toSet
    val prunedSt = Streams.cdcStateForKeys(spark, histPath, 3L, touch(1).toDF).get
    // the bucket filter must land as a PARTITION filter on the companion
    // scans (partitions never opened), not a post-read filter; inputFiles
    // can't show this — it lists the relation pre-pruning
    val prunedPlan = prunedSt.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("__kbkt"),
      prunedPlan.take(1500))
    // semantic pruning effect: the pruned state holds exactly the catalog
    // keys hashing into the batch's buckets — a strict subset of the
    // 50-key catalog — and nothing else
    val fullSt0 = Streams.cdcState(spark, histPath, 3L).get
    val expectRows = fullSt0.filter(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("product_id")),
        org.apache.spark.sql.functions.lit(Streams.CdcKeyBuckets)).isin(b1Buckets.toSeq: _*))
      .count()
    assert(prunedSt.count() === expectRows && expectRows < fullSt0.count(),
      s"pruned rows ${prunedSt.count()} vs expected $expectRows of ${fullSt0.count()}")
    // and the pruned state agrees with the full state on those keys
    val fullSt = Streams.cdcState(spark, histPath, 3L).get
    assert(prunedSt.filter(col("product_id").isin("p0", "p1", "p2"))
      .collect().map(_.toString).sorted.toSeq ===
      fullSt.filter(col("product_id").isin("p0", "p1", "p2"))
        .collect().map(_.toString).sorted.toSeq)
    // replay of a DELTA batch converges: byte-identical events + state
    val ev2 = spark.read.parquet(s"$histPath/batch_id=2").collect().map(_.toString).sorted.toSeq
    val st3 = Streams.cdcState(spark, histPath, 3L).get.collect().map(_.toString).sorted.toSeq
    Streams.cdcProcessBatch(touch(2).toDF, histPath, 2L, collapseEvery = 3)
    assert(spark.read.parquet(s"$histPath/batch_id=2")
      .collect().map(_.toString).sorted.toSeq === ev2)
    assert(Streams.cdcState(spark, histPath, 3L).get
      .collect().map(_.toString).sorted.toSeq === st3)
    assert(!isFull(2), "a replayed delta batch must re-decide delta")
    // the third delta-candidate collapses: full state, one row per key
    Streams.cdcProcessBatch(touch(3).toDF, histPath, 3L, collapseEvery = 3)
    assert(isFull(3) && stateRows(3) === 50)
    // replay of a COLLAPSE batch converges too (decision and bytes)
    val st4 = Streams.cdcState(spark, histPath, 4L).get.collect().map(_.toString).sorted.toSeq
    Streams.cdcProcessBatch(touch(3).toDF, histPath, 3L, collapseEvery = 3)
    assert(isFull(3) && stateRows(3) === 50)
    assert(Streams.cdcState(spark, histPath, 4L).get
      .collect().map(_.toString).sorted.toSeq === st4)
    // two more deltas, then the second collapse at batch 6 — vacuum drops
    // everything strictly older than the SECOND-newest full (gen_3): the
    // retained window still reconstructs any state a replay can ask for
    Streams.cdcProcessBatch(touch(4).toDF, histPath, 4L, collapseEvery = 3)
    Streams.cdcProcessBatch(touch(5).toDF, histPath, 5L, collapseEvery = 3)
    Streams.cdcProcessBatch(touch(6).toDF, histPath, 6L, collapseEvery = 3)
    assert(isFull(6))
    val remaining = graft.store.Generations.genDirs(spark, latestRoot.toString)
      .map(_.getName.drop(4).toLong).toSet
    assert(remaining === Set(3L, 4L, 5L, 6L),
      s"vacuum should keep gen_3 (second-newest full) and newer, got $remaining")
    // the collapsed state equals the ground truth: every touch applied over
    // the seed — the delta/collapse machinery lost nothing
    val want = (0 until 50).map { i =>
      val k = i / 3 + 1 // batch that touched p_i (touch(k) covers 3(k-1)..3(k-1)+2)
      if (k <= 6) (s"p$i", 100.0 + i + k) else (s"p$i", 100.0 + i)
    }.toMap
    val got = Streams.cdcState(spark, histPath, 7L).get
      .select("product_id", "price")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  test("progress ledger: one queryable row per micro-batch, for any streaming query") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_progress").toString
    val listener = Streams.attachProgressLedger(spark, dir)
    try {
      val mem = MemoryStream[Ev]
      val q = Streams.windowedAgg(mem.toDF, "ts", "1 hour", "0 seconds")
        .writeStream.format("memory").queryName("prog_agg").outputMode("complete").start()
      mem.addData(events: _*); q.processAllAvailable()
      mem.addData(Ev(9, "u3", "click", 5.0, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      // the listener bus delivers asynchronously — poll for both files
      val runDir = new org.apache.hadoop.fs.Path(dir, q.runId.toString)
      val fs = runDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        (!fs.exists(runDir) || fs.listStatus(runDir).length < 2)) Thread.sleep(100)
      q.stop()
      val led = Streams.readProgressLedger(spark, dir)
        .filter(col("runId") === q.runId.toString)
      // data batches 0 and 1, with the full input-row accounting (no-data
      // watermark-advance batches may follow; they carry zero rows)
      val rows = led.filter(col("numInputRows") > 0)
        .select("batchId", "numInputRows").orderBy("batchId")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.map(_._1) === Seq(0L, 1L))
      assert(rows.map(_._2).sum === 5L)
      // the stateful-operator signal a deployment watches (state rows) is in
      assert(led.selectExpr("stateOperators[0].numRowsTotal").na.drop().count() >= 1)
    } finally Streams.detachProgressLedger(spark, listener)
  }

  test("cdc companion: keyBuckets is per-generation — a live re-bucketing migration stays correct and pruned") {
    val dir = Files.createTempDirectory("graft_cdc_rebkt").toString
    val histPath = s"$dir/history"
    def day(d: Int) = ts(f"2024-03-$d%02d 00:00:00")
    val seed = (0 until 40).map(i => Crawl(s"p$i", 100.0 + i, 200.0, null, 1L, day(1)))
    def touch(k: Int) = (0 until 4).map { j =>
      val i = 4 * (k - 1) + j
      Crawl(s"p$i", 100.0 + i + k, 200.0, null, 1L, day(k + 1))
    }
    // batches 0-1 run at 4 key buckets; the operator is then reconfigured
    // to 8 (the catalog "outgrew" the old count): batch 2's delta must
    // derive against the 4-bucket full, batch 3 collapses at 8
    Streams.cdcProcessBatch(seed.toDF, histPath, 0L, collapseEvery = 3, keyBuckets = 4)
    Streams.cdcProcessBatch(touch(1).toDF, histPath, 1L, collapseEvery = 3, keyBuckets = 4)
    Streams.cdcProcessBatch(touch(2).toDF, histPath, 2L, collapseEvery = 3, keyBuckets = 8)
    Streams.cdcProcessBatch(touch(3).toDF, histPath, 3L, collapseEvery = 3, keyBuckets = 8)
    val latestRoot = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = latestRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def genDir(id: Long) = new org.apache.hadoop.fs.Path(latestRoot, f"gen_$id%012d")
    def kbkts(id: Long) = fs.listStatus(new org.apache.hadoop.fs.Path(genDir(id), "state"))
      .map(_.getPath.getName).filter(_.startsWith("__kbkt="))
      .map(_.drop("__kbkt=".length).toInt).toSet
    // each full records ITS OWN count and its layout lies under it
    assert(fs.exists(new org.apache.hadoop.fs.Path(genDir(0), "_NBKT_4")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(genDir(3), "_NBKT_8")))
    assert(kbkts(0).nonEmpty && kbkts(0).forall(b => b >= 0 && b < 4))
    assert(kbkts(3).forall(b => b >= 0 && b < 8) && kbkts(3).exists(_ >= 4),
      s"the migrated collapse should use the 8-way modulus, got ${kbkts(3)}")
    // the migrated stream equals a fixed-count run of the same batches —
    // the companion machinery lost nothing across the count change
    val refPath = s"$dir/ref"
    Streams.cdcProcessBatch(seed.toDF, refPath, 0L, collapseEvery = 3)
    (1 to 3).foreach(k =>
      Streams.cdcProcessBatch(touch(k).toDF, refPath, k.toLong, collapseEvery = 3))
    assert(spark.read.parquet(histPath).collect().map(_.toString).sorted.toSeq
      === spark.read.parquet(refPath).collect().map(_.toString).sorted.toSeq)
    // the MID-MIGRATION derive read (batch 2's view: a 4-bucket full + flat
    // deltas) still partition-prunes, under the OLD full's recorded count,
    // and agrees with the unpruned state on the batch's keys
    val b2keys = touch(2).toDF.select("product_id")
    val pruned = Streams.cdcStateForKeys(spark, histPath, 3L, b2keys, flatModulus = 8).get
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("__kbkt"),
      prunedPlan.take(1500))
    val full = Streams.cdcState(spark, histPath, 3L).get
    val keyList = touch(2).map(_.product_id)
    assert(pruned.filter(col("product_id").isin(keyList: _*))
      .collect().map(_.toString).sorted.toSeq ===
      full.filter(col("product_id").isin(keyList: _*))
        .collect().map(_.toString).sorted.toSeq)
    assert(pruned.count() < full.count(),
      "the pruned read must be a strict subset of the catalog")
    // replay across the migration boundary converges: re-running batch 2
    // (now under the NEW count) rewrites the same rows — the delta-vs-full
    // decision and the derive depend only on strictly-earlier generations
    val ev2 = spark.read.parquet(s"$histPath/batch_id=2").collect().map(_.toString).sorted.toSeq
    Streams.cdcProcessBatch(touch(2).toDF, histPath, 2L, collapseEvery = 3, keyBuckets = 8)
    assert(spark.read.parquet(s"$histPath/batch_id=2")
      .collect().map(_.toString).sorted.toSeq === ev2)
  }

  test("prune invariant: random key sets and bucket counts — pruned companion read equals unpruned state on those keys") {
    // the correctness-critical property behind the per-generation prune:
    // for ANY probe key set, ANY (possibly mid-migration mixed) bucket
    // counts, the pruned read agrees with the unpruned state on those
    // keys. Seeded-random trials rather than ScalaCheck: each sample
    // costs Spark jobs, so breadth comes from randomized shapes at a
    // fixed budget, reproducible by seed.
    val rnd = new scala.util.Random(20260814L)
    val dir = Files.createTempDirectory("graft_cdc_prop").toString
    def day(d: Int) = ts(f"2024-05-$d%02d 00:00:00")
    (0 until 4).foreach { trial =>
      val histPath = s"$dir/t$trial/history"
      val kbs = Seq(1, 2, 3, 5, 8, 64)
      val kb0 = kbs(rnd.nextInt(kbs.size)); val kb1 = kbs(rnd.nextInt(kbs.size))
      val nKeys = 10 + rnd.nextInt(40)
      val seed = (0 until nKeys).map(i => Crawl(s"k$i", 10.0 + i, 50.0, null, 1L, day(1)))
      def randBatch(k: Int) = (0 until nKeys)
        .filter(_ => rnd.nextBoolean()).take(1 + rnd.nextInt(10))
        .map(i => Crawl(s"k$i", 10.0 + i + k * 0.5, 50.0, null, 1L, day(k + 1)))
      // collapseEvery=2 → batch 2 collapses at kb1: every trial exercises a
      // migration window (kb0 full + flat delta + kb1 full in the gen set)
      Streams.cdcProcessBatch(seed.toDF, histPath, 0L, collapseEvery = 2, keyBuckets = kb0)
      val b1 = randBatch(1); val b2 = randBatch(2)
      if (b1.nonEmpty) Streams.cdcProcessBatch(b1.toDF, histPath, 1L,
        collapseEvery = 2, keyBuckets = kb0)
      if (b2.nonEmpty) Streams.cdcProcessBatch(b2.toDF, histPath, 2L,
        collapseEvery = 2, keyBuckets = kb1)
      // probe keys include UNKNOWN keys (no state) on purpose
      val probeKeys = (0 until nKeys + 5).filter(_ => rnd.nextBoolean()).map(i => s"k$i")
      if (probeKeys.nonEmpty) {
        val keysDf = probeKeys.toDF("product_id")
        val pruned = Streams.cdcStateForKeys(spark, histPath, 3L, keysDf, flatModulus = kb1).get
        val full = Streams.cdcState(spark, histPath, 3L).get
        assert(
          pruned.filter(col("product_id").isin(probeKeys: _*))
            .collect().map(_.toString).sorted.toSeq ===
          full.filter(col("product_id").isin(probeKeys: _*))
            .collect().map(_.toString).sorted.toSeq,
          s"trial $trial kb0=$kb0 kb1=$kb1 nKeys=$nKeys probe=${probeKeys.take(8)}")
      }
    }
  }

  test("cdcRebuildCompanion: a lost _latest tree is reconstructed exactly from the event log") {
    val dir = Files.createTempDirectory("graft_cdc_rebuild").toString
    val histPath = s"$dir/history"
    val refPath = s"$dir/ref"
    def day(d: Int) = ts(f"2024-04-$d%02d 00:00:00")
    val seed = (0 until 30).map(i => Crawl(s"p$i", 100.0 + i, 200.0, null, 1L, day(1)))
    def touch(k: Int) = (0 until 3).map { j =>
      val i = 3 * (k - 1) + j
      Crawl(s"p$i", 100.0 + i + k, 200.0, null, 1L, day(k + 1))
    }
    // batch 2 also carries a NO_CHANGE row for p0 (values identical to its
    // batch-1 state, newer ts): it is never logged, so companion state must
    // keep p0's batch-1 crawled_at — on the normal path AND after a rebuild
    // (the log-derived state has exactly the same last-logged timestamps)
    val b2 = touch(2) :+ Crawl("p0", 101.0, 200.0, null, 1L, day(3))
    Seq(histPath, refPath).foreach { p =>
      Streams.cdcProcessBatch(seed.toDF, p, 0L, collapseEvery = 3)
      Streams.cdcProcessBatch(touch(1).toDF, p, 1L, collapseEvery = 3)
      Streams.cdcProcessBatch(b2.toDF, p, 2L, collapseEvery = 3)
    }
    val wantState = Streams.cdcState(spark, refPath, 3L).get
      .collect().map(_.toString).sorted.toSeq
    // catastrophe: the whole companion tree is gone
    val latestRoot = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = latestRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(latestRoot, true))
    // a lost tree is NOT a silent empty read (that shape re-seeds the whole
    // catalog as first sightings) — it fails toward recovery
    val boom = intercept[IllegalStateException](Streams.cdcState(spark, histPath, 3L))
    assert(boom.getMessage.contains("cdcRebuildCompanion"))
    Streams.cdcRebuildCompanion(spark, histPath, 3L)
    // byte-equal state, including p0's last-LOGGED timestamp (day 2, not 3)
    val got = Streams.cdcState(spark, histPath, 3L).get
    assert(got.collect().map(_.toString).sorted.toSeq === wantState)
    assert(got.filter(col("product_id") === "p0").select("crawled_at")
      .head().getTimestamp(0) === day(2))
    // the rebuilt generation is a committed, bucketed, marked full
    val gen2 = new org.apache.hadoop.fs.Path(latestRoot, f"gen_${2L}%012d")
    assert(fs.exists(new org.apache.hadoop.fs.Path(gen2, "_FULL")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(gen2,
      s"_NBKT_${Streams.CdcKeyBuckets}")))
    // the stream resumes: batch 3 derives identical events to the
    // undisturbed twin
    Streams.cdcProcessBatch(touch(3).toDF, histPath, 3L, collapseEvery = 3)
    Streams.cdcProcessBatch(touch(3).toDF, refPath, 3L, collapseEvery = 3)
    assert(spark.read.parquet(s"$histPath/batch_id=3")
      .collect().map(_.toString).sorted.toSeq ===
      spark.read.parquet(s"$refPath/batch_id=3")
        .collect().map(_.toString).sorted.toSeq)
  }

  test("cdcRebuildCompanion: an interrupted recovery fails reads loudly, completes on re-run") {
    // the crash window: the marker is planted, the old tree may already be
    // gone, and the swap never finished. A resumed sink must NOT silently
    // reclassify the catalog as first sightings against an empty _latest —
    // every companion read throws until recovery is re-run to completion.
    val dir = Files.createTempDirectory("graft_cdc_rebuild_crash").toString
    val histPath = s"$dir/history"
    def day(d: Int) = ts(f"2024-05-$d%02d 00:00:00")
    val seed = (0 until 10).map(i => Crawl(s"p$i", 100.0 + i, 200.0, null, 1L, day(1)))
    Streams.cdcProcessBatch(seed.toDF, histPath, 0L, collapseEvery = 3)
    Streams.cdcProcessBatch(Seq(Crawl("p0", 111.0, 200.0, null, 1L, day(2))).toDF,
      histPath, 1L, collapseEvery = 3)
    val want = Streams.cdcState(spark, histPath, 2L).get
      .collect().map(_.toString).sorted.toSeq
    // simulate the worst crash point: old tree deleted, marker still there
    val fs = new org.apache.hadoop.fs.Path(histPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$histPath/_latest"), true))
    fs.create(new org.apache.hadoop.fs.Path(s"$histPath/_latest_REBUILDING"), true).close()
    // reads and batch processing fail loudly — never an empty-state anchor
    intercept[IllegalStateException](Streams.cdcState(spark, histPath, 2L))
    intercept[IllegalStateException](Streams.cdcProcessBatch(
      Seq(Crawl("p1", 222.0, 200.0, null, 1L, day(3))).toDF, histPath, 2L))
    // re-running recovery completes: marker cleared, state byte-identical
    Streams.cdcRebuildCompanion(spark, histPath, 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$histPath/_latest_REBUILDING")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$histPath/_latest_rebuild")))
    assert(Streams.cdcState(spark, histPath, 2L).get
      .collect().map(_.toString).sorted.toSeq === want)
  }

  test("cdc companion: bytes trigger collapses early under skewed batches, replay-deterministic") {
    // the count trigger alone is blind to skew: a catalog-sized delta
    // early in the window would sit as an overlay on every derive until
    // the collapseEvery-th batch. The bytes trigger collapses the moment
    // accumulated delta bytes outgrow half the last full — decided from
    // committed strictly-earlier generations only, so replays agree.
    def ts2(d: Int) = ts(f"2024-02-$d%02d 00:00:00")
    def crawl(i: Int, d: Int) = Crawl(s"p$i", 10.0 + i + d, 20.0, null, 1L, ts2(d))
    def run(dir: String, frac: Double): (Long => Boolean, Long => Long) = {
      val histPath = s"$dir/history"
      val latestRoot = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
      val fs = latestRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def genDir(id: Long) = new org.apache.hadoop.fs.Path(latestRoot, f"gen_$id%012d")
      def isFull(id: Long) = fs.exists(new org.apache.hadoop.fs.Path(genDir(id), "_FULL"))
      def stateRows(id: Long) = spark.read
        .parquet(new org.apache.hadoop.fs.Path(genDir(id), "state").toString).count()
      // batch 0: tiny 4-key seed -> full base; batch 1: a 500-key delta
      // (no prior deltas when it decides, so it stays a delta); batch 2:
      // 3 keys — the PRIOR delta's bytes dwarf the 4-key full
      Streams.cdcProcessBatch((0 until 4).map(crawl(_, 1)).toDF, s"$dir/history", 0L,
        collapseEvery = 8, collapseBytesFrac = frac)
      Streams.cdcProcessBatch((4 until 504).map(crawl(_, 2)).toDF, s"$dir/history", 1L,
        collapseEvery = 8, collapseBytesFrac = frac)
      Streams.cdcProcessBatch((4 until 7).map(crawl(_, 3)).toDF, s"$dir/history", 2L,
        collapseEvery = 8, collapseBytesFrac = frac)
      (isFull, stateRows)
    }
    val (isFull, stateRows) = run(
      Files.createTempDirectory("graft_cdc_bytes").toString, frac = 0.5)
    assert(isFull(0) && !isFull(1), "large batch 1 must still be a delta (no prior deltas)")
    assert(isFull(2) && stateRows(2) === 504,
      "batch 2 must collapse EARLY: accumulated delta bytes >> 0.5 x full")
    // replay of the early collapse decides identically and converges
    val dir2 = s"${Files.createTempDirectory("graft_cdc_bytes2")}"
    val histPath2 = s"$dir2/history"
    Streams.cdcProcessBatch((0 until 4).map(crawl(_, 1)).toDF, histPath2, 0L,
      collapseEvery = 8)
    Streams.cdcProcessBatch((4 until 504).map(crawl(_, 2)).toDF, histPath2, 1L,
      collapseEvery = 8)
    Streams.cdcProcessBatch((4 until 7).map(crawl(_, 3)).toDF, histPath2, 2L,
      collapseEvery = 8)
    val st = Streams.cdcState(spark, histPath2, 3L).get
      .collect().map(_.toString).sorted.toSeq
    Streams.cdcProcessBatch((4 until 7).map(crawl(_, 3)).toDF, histPath2, 2L,
      collapseEvery = 8)
    val fs2 = new org.apache.hadoop.fs.Path(histPath2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs2.exists(new org.apache.hadoop.fs.Path(
      s"$histPath2/_latest/gen_${"%012d".format(2)}/_FULL")),
      "a replayed bytes-triggered collapse must re-decide full")
    assert(Streams.cdcState(spark, histPath2, 3L).get
      .collect().map(_.toString).sorted.toSeq === st)
    // control: with the trigger disabled the same shape stays a delta —
    // what the pure count trigger would have done
    val (isFullOff, _) = run(
      Files.createTempDirectory("graft_cdc_bytes_off").toString, frac = Double.MaxValue)
    assert(!isFullOff(2), "frac=MaxValue must disable the bytes trigger")
  }

  test("archiveEventLog moves fully-expired batch partitions, conserving rows") {
    val dir = Files.createTempDirectory("graft_cdc_archive").toString
    val histPath = s"$dir/history"
    // three batches on distinct days; every row of batches 0-1 predates the
    // cutoff, batch 2 straddles nothing (all newer)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00")),
      Crawl("p2", 55.0, 60.0, null, 1L, ts("2024-01-03 06:00:00"))).toDF, histPath, 2L)
    val totalBefore = spark.read.parquet(histPath).count()
    val liveBefore = spark.read.parquet(histPath)
      .groupBy("batch_id").count().collect()
      .map(r => r.getAs[Number]("batch_id").longValue() -> r.getLong(1)).toMap
    val archived = Streams.archiveEventLog(spark, histPath, "2024-01-02 12:00:00")
    assert(archived === liveBefore(0L) + liveBefore(1L))
    // the live tree now holds only batch 2; the archive holds 0 and 1; no
    // row was lost or copied
    val live = spark.read.parquet(histPath)
    assert(live.select("batch_id").distinct().as[Long].collect().toSet === Set(2L))
    val arch = spark.read.option("basePath", s"$histPath/_archive")
      .parquet(s"$histPath/_archive")
    assert(arch.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L))
    assert(live.count() + arch.count() === totalBefore)
    // the companion under _latest is untouched — the next batch still
    // derives against full state (p1's previous price survives archival)
    val st = Streams.cdcState(spark, histPath, 3L).get
    assert(st.filter(col("product_id") === "p1").select("price")
      .as[Double].head() === 115.0)
    // idempotent: nothing left to archive at the same cutoff
    assert(Streams.archiveEventLog(spark, histPath, "2024-01-02 12:00:00") === 0L)
  }

  test("archiveEventLog's return count is footer metadata, not a scan of expired partitions") {
    val dir = Files.createTempDirectory("graft_cdc_archive_meta").toString
    val histPath = s"$dir/history"
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00"))).toDF, histPath, 2L)
    // capture every executed plan during the sweep: the ONLY Spark job
    // allowed is the per-partition max(ts) expiry scan — the return value
    // must come from parquet footers (driver-side metadata), never a
    // count() job re-reading the data it is about to rename away
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val archived =
      try {
        val n = Streams.archiveEventLog(spark, histPath, "2024-01-02 12:00:00")
        org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark)
        n
      } finally spark.listenerManager.unregister(listener)
    assert(archived === 3L) // batches 0 (2 rows) + 1 (1 row), same values as before
    val captured = plans.synchronized { plans.toVector }
    assert(captured.size === 1,
      s"exactly one job (the max-ts expiry scan) may run, got ${captured.size}")
    // ... and that scan is column-pruned to the timestamp — no full-row read
    assert(captured.head.contains("crawled_at") && !captured.head.contains("original_price"),
      captured.head.take(2000))
  }

  test("archiveEventLog between a LIVE cdcSink's triggers: derives stay correct") {
    // the single-writer discipline the scaladoc prescribes, exercised with
    // a RUNNING query: archival runs between triggers, the companion under
    // _latest is untouched, and the next micro-batch still classifies
    // against pre-archival state
    val dir = Files.createTempDirectory("graft_cdc_live_archive").toString
    val srcDir = s"$dir/src"; val histPath = s"$dir/history"; val ckpt = s"$dir/ckpt"
    Seq(Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
        Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00")))
      .toDF.write.mode("append").parquet(srcDir)
    val q = Streams.cdcSink(
      spark.readStream.schema(
        "product_id STRING, price DOUBLE, original_price DOUBLE, " +
        "discount_percent DOUBLE, sales_count BIGINT, crawled_at TIMESTAMP")
        .parquet(srcDir),
      histPath, ckpt)
    try {
      q.processAllAvailable() // batch 0: both first sightings
      // BETWEEN triggers (query live but idle): expire batch 0 wholesale
      val archived = Streams.archiveEventLog(spark, histPath, "2024-01-02 00:00:00")
      assert(archived === 2L)
      // next trigger: p1's new price must classify against the COMPANION
      // state (previous 100.0), proving archival touched only the event
      // tree, never the _latest generations the derive reads
      Seq(Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00")))
        .toDF.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.read.parquet(histPath)
    assert(live.select("batch_id").distinct().as[Long].collect().toSet === Set(1L),
      "archived batch 0 must be invisible to live readers")
    val b1 = live.select("product_id", "crawl_type", "price", "previous_price", "price_change")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(b1 === Seq(("p1", "price_change", 115.0, 100.0, 15.0)))
    // the archive holds exactly batch 0's two events
    val arch = spark.read.option("basePath", s"$histPath/_archive")
      .parquet(s"$histPath/_archive")
    assert(arch.count() === 2L &&
      arch.select("batch_id").distinct().as[Long].collect().toSet === Set(0L))
  }

  test("archiveBatchOutputs keeps the newest batches hot, moves the rest whole") {
    val dir = Files.createTempDirectory("graft_batch_archive").toString
    val vPath = s"$dir/verdicts"
    (0L to 4L).foreach { bid =>
      Seq((bid * 10, false)).toDF("id", "is_dup")
        .write.mode("overwrite").parquet(s"$vPath/batch_id=$bid")
    }
    val moved = Streams.archiveBatchOutputs(spark, vPath, keepLatest = 2)
    assert(moved === 3L)
    val live = spark.read.parquet(vPath)
    assert(live.select("batch_id").distinct().as[Long].collect().toSet === Set(3L, 4L))
    val arch = spark.read.option("basePath", s"$vPath/_archive").parquet(s"$vPath/_archive")
    assert(arch.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L, 2L))
    assert(live.count() + arch.count() === 5L)
    // idempotent: nothing more to move at the same keepLatest
    assert(Streams.archiveBatchOutputs(spark, vPath, keepLatest = 2) === 0L)
  }

  test("cdcProcessBatch staleHorizon re-classifies forgotten state; fresh keys keep deltas") {
    val dir = Files.createTempDirectory("graft_cdc_stale").toString
    val histPath = s"$dir/history"
    val horizon = Some("7 DAYS")
    // batch 0 (Jan-01): both keys first sightings, companion seeded
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 00:00:00"))).toDF,
      histPath, 0L, staleHorizon = horizon)
    // batch 1 (Jan-15, 14d later — past the horizon): p1 returns with
    // IDENTICAL values — without staleness this is no_change (dropped);
    // with it the forgotten state re-classifies a first sighting. p2
    // changed price — ALSO stale, so no delta against forgotten state.
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-15 00:00:00")),
      Crawl("p2", 55.0, 60.0, null, 1L, ts("2024-01-15 00:00:00"))).toDF,
      histPath, 1L, staleHorizon = horizon)
    // batch 2 (Jan-18, 3d after the batch-1 events refreshed the
    // companion): FRESH again — normal classification with deltas
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-18 00:00:00"))).toDF,
      histPath, 2L, staleHorizon = horizon)
    val got = spark.read.parquet(histPath)
      .select("batch_id", "product_id", "crawl_type", "previous_price", "price_change")
      .collect().map(r => (r.getAs[Number]("batch_id").longValue(), r.getString(1),
        r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSet
    assert(got === Set(
      (0L, "p1", "price_change", null, null),
      (0L, "p2", "price_change", null, null),
      (1L, "p1", "price_change", null, null), // stale: re-classified, not no_change
      (1L, "p2", "price_change", null, null), // stale: no delta vs forgotten 50.0
      (2L, "p1", "price_change", 100.0, 10.0))) // refreshed state: real delta
  }

  test("archive lifecycle: compactArchive bounds files, purgeArchive frees bytes below the floor") {
    val dir = Files.createTempDirectory("graft_archive_tier").toString
    val histPath = s"$dir/history"
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00"))).toDF, histPath, 2L)
    assert(Streams.archiveEventLog(spark, histPath, "2024-01-02 12:00:00") === 3L)
    val archRoot = s"$histPath/_archive"
    // simulate what a re-archival merge does to an archived partition: more
    // part files accumulate in the same batch dir (row copies are fine — the
    // conservation check compares sorted multisets)
    val b0dir = s"$archRoot/batch_id=0"
    val b0 = spark.read.parquet(b0dir)
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(b0.collect().toSeq, 1), b0.schema)
    extra.write.mode("append").parquet(b0dir)
    val filesBefore = Seq(0L, 1L).map(b =>
      graft.store.Compact.dataFileCount(spark, s"$archRoot/batch_id=$b")).sum
    assert(filesBefore >= 3)
    val before = spark.read.option("basePath", archRoot).parquet(archRoot)
      .orderBy("batch_id", "product_id", "crawled_at").collect().map(_.toString).toSeq
    // compaction rewrites each oversized partition down to the auto target
    // (1 at this byte size) without touching a row
    val rewrote = Streams.compactArchive(spark, histPath)
    assert(rewrote >= 1, s"expected at least one partition rewrite (had $filesBefore files)")
    val filesAfter = Seq(0L, 1L).map(b =>
      graft.store.Compact.dataFileCount(spark, s"$archRoot/batch_id=$b")).sum
    assert(filesAfter < filesBefore)
    val after = spark.read.option("basePath", archRoot).parquet(archRoot)
      .orderBy("batch_id", "product_id", "crawled_at").collect().map(_.toString).toSeq
    assert(after === before, "compaction must conserve rows and values exactly")
    // purge the oldest archived batch: returns its footer row count (2
    // original + 2 merged rows), frees the directory, leaves newer archives
    // and the live tree alone
    assert(Streams.purgeArchive(spark, histPath, belowBatchId = 1L) === 4L)
    val fs = new org.apache.hadoop.fs.Path(archRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$archRoot/batch_id=0")))
    val arch = spark.read.option("basePath", archRoot).parquet(archRoot)
    assert(arch.select("batch_id").distinct().as[Long].collect().toSet === Set(1L))
    assert(spark.read.parquet(histPath)
      .select("batch_id").distinct().as[Long].collect().toSet === Set(2L))
    // idempotent: nothing below the floor remains
    assert(Streams.purgeArchive(spark, histPath, belowBatchId = 1L) === 0L)
  }

  test("curation gates and mixture sampling run unchanged on a stream") {
    // the corpus gate expressions and the hash-threshold mixture filter are
    // stateless column expressions — the SAME code is streaming-safe with
    // no watermark, state store, or mode restrictions (the Spark-native
    // payoff of expressions-over-UDF-pipelines)
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextAnalysis
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF.toDF("doc_id", "lang", "text")
    val gated = graft.operators.Corpus
      .mixtureSample(docs, "lang", "doc_id", Map("en" -> 1.0))
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .filter(col("q") >= 0.0)
    val q = gated.writeStream.format("memory").queryName("stream_gate")
      .outputMode("append").start()
    mem.addData((1L, "en", "the quick brown fox"), (2L, "de", "der schnelle fuchs"),
      (3L, "en", "another english document here"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_gate").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L)) // weight-1 en kept, absent de dropped
  }

  test("statefulCdc keeps previous values in group state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ProductObs]
    val outDir = java.nio.file.Files.createTempDirectory("graft_scdc").toString
    val q = Streams.statefulCdc(mem.toDS())
      .writeStream.format("memory").queryName("scdc").outputMode("append").start()
    mem.addData(
      Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")),
      Streams.ProductObs("p2", 50.0, 1L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    mem.addData(
      Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-02 00:00:00")), // price change
      Streams.ProductObs("p2", 50.0, 9L, ts("2024-01-02 00:00:00")), // sales change
      Streams.ProductObs("p2", 50.0, 9L, ts("2024-01-03 00:00:00"))) // no change
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scdc")
      .select("product_id", "crawl_type", "price", "previous_price", "price_change", "sales_change")
      .orderBy("crawled_at", "product_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getLong(5))).toSeq
    // first sight classifies as price_change with a null previous_price —
    // the reference's "first crawl counts as change", same as the batch CDC
    assert(got === Seq(
      ("p1", "price_change", 100.0, null, null, null),
      ("p2", "price_change", 50.0, null, null, null),
      ("p1", "price_change", 120.0, 100.0, 20.0, null),
      ("p2", "sales_change", 50.0, 50.0, null, 8L)))
  }

  test("statefulCdcFrom bootstraps state from a batch snapshot (migration path)") {
    implicit val sqlCtx = spark.sqlContext
    // the batch store's latest-per-key shape: p1 was last seen at 100.0/5
    val snapshot = Seq(("p1", 100.0, 5L)).toDF("product_id", "price", "sales_count")
    val mem = MemoryStream[Streams.ProductObs]
    val q = Streams.statefulCdcFrom(mem.toDS(), snapshot)
      .writeStream.format("memory").queryName("scdc_boot").outputMode("append").start()
    mem.addData(
      Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-02 00:00:00")), // known key
      Streams.ProductObs("p2", 50.0, 1L, ts("2024-01-02 00:00:00"))) // new key
    q.processAllAvailable()
    // second batch: p1 unchanged (no event), p2 sales move
    mem.addData(
      Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-03 00:00:00")),
      Streams.ProductObs("p2", 50.0, 9L, ts("2024-01-03 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scdc_boot")
      .select("product_id", "crawl_type", "price", "previous_price", "price_change", "sales_change")
      .orderBy("crawled_at", "product_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getLong(5))).toSeq
    assert(got === Seq(
      // p1 classifies against the SNAPSHOT, not as a first sighting — the
      // whole point of the migration path
      ("p1", "price_change", 120.0, 100.0, 20.0, null),
      ("p2", "price_change", 50.0, null, null, null),
      ("p2", "sales_change", 50.0, 50.0, null, 8L)))
  }

  test("statefulCdc TTL evicts idle keys; next observation re-classifies (default + RocksDB)") {
    // the staleness horizon (the reference's recency/cleanup policy,
    // tasks/detail.py:196-216): a key unobserved past the TTL leaves the
    // state store, and its next observation is a FIRST sighting again.
    // Run under both providers — eviction must be provider-independent.
    //
    // NO processAllAvailable here: under ProcessingTimeTimeout the state
    // operator's shouldRunAnotherBatch is always true (every trigger is a
    // potential timeout sweep), so the noNewData flag that call waits on
    // is never raised — it would hang forever (measured: the first draft
    // of this spec did). The query churns sweep batches continuously on
    // the default trigger; the spec POLLS sink rows and state metrics.
    implicit val sqlCtx = spark.sqlContext
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for: $what")
    }
    def runScenario(sub: String, rocks: Boolean): Unit = {
      if (rocks) Streams.useRocksDbState(spark) else Streams.useDefaultState(spark)
      try {
        val mem = MemoryStream[Streams.ProductObs]
        val q = Streams.statefulCdc(mem.toDS(), ttl = Some("2 seconds"))
          .writeStream.format("memory").queryName(s"scdc_ttl_$sub")
          .outputMode("append").start()
        try {
          mem.addData(Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")))
          waitFor("first sighting emitted")(spark.table(s"scdc_ttl_$sub").count() == 1)
          // ~2s later a sweep batch evicts p1 — observable in the state
          // metrics (the row leaves the store; no event is emitted)
          waitFor("state row evicted")(Option(q.lastProgress)
            .exists(_.stateOperators.headOption.exists(_.numRowsTotal == 0L)))
          // p1's next observation re-classifies as a first sighting (null
          // previous_price) — NOT as a 100 -> 120 change against state
          // that no longer exists
          mem.addData(Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-03 00:00:00")))
          waitFor("re-classified event emitted")(spark.table(s"scdc_ttl_$sub").count() == 2)
        } finally q.stop()
        val got = spark.table(s"scdc_ttl_$sub")
          .select("product_id", "crawl_type", "price", "previous_price")
          .orderBy("crawled_at")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
            if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
        assert(got === Seq(
          ("p1", "price_change", 100.0, null),
          ("p1", "price_change", 120.0, null)), // re-classified: state was evicted
          s"[$sub] unexpected events: $got")
      } finally Streams.useDefaultState(spark)
    }
    runScenario("default", rocks = false)
    runScenario("rocks", rocks = true)
  }

  test("startTtlQuery + drainTtlQuery: the TTL trigger ceremony as a contract") {
    // the helper pair replaces the manual ceremony the sibling spec wires
    // by hand: startTtlQuery pins the Trigger.ProcessingTime interval a
    // ProcessingTimeTimeout query requires, drainTtlQuery is the
    // processAllAvailable replacement that cannot hang (it waits for a
    // post-call EMPTY batch, not for sweep quiescence — which never comes)
    implicit val sqlCtx = spark.sqlContext
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for: $what")
    }
    val mem = MemoryStream[Streams.ProductObs]
    val q = Streams.startTtlQuery(
      Streams.statefulCdc(mem.toDS(), ttl = Some("2 seconds"))
        .writeStream.format("memory").queryName("scdc_helper")
        .outputMode("append"),
      sweepInterval = "250 milliseconds")
    try {
      mem.addData(Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")))
      Streams.drainTtlQuery(q)
      assert(spark.table("scdc_helper").count() === 1L,
        "drainTtlQuery returned before the data batch reached the sink")
      // eviction rides the sweep cadence the helper pinned
      waitFor("state row evicted")(Option(q.lastProgress)
        .exists(_.stateOperators.headOption.exists(_.numRowsTotal == 0L)))
      mem.addData(Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-03 00:00:00")))
      Streams.drainTtlQuery(q)
    } finally q.stop()
    val got = spark.table("scdc_helper")
      .select("product_id", "price", "previous_price").orderBy("crawled_at")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.isNullAt(2))).toSeq
    assert(got === Seq(("p1", 100.0, true), ("p1", 120.0, true)),
      "both observations must classify as first sightings (state evicted between)")
  }

  test("statefulCdc without TTL keeps state indefinitely (no spurious eviction)") {
    // the TTL-off control: same shape, state must survive an idle gap far
    // longer than the TTL the sibling spec evicts under
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ProductObs]
    val q = Streams.statefulCdc(mem.toDS())
      .writeStream.format("memory").queryName("scdc_nottl")
      .outputMode("append").start()
    mem.addData(Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    Thread.sleep(3000) // > the sibling spec's 2s horizon
    mem.addData(Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-03 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scdc_nottl")
      .select("product_id", "previous_price")
      .orderBy("crawled_at")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(got === Seq(("p1", null), ("p1", 100.0)),
      "without a TTL the 100.0 state must survive the idle gap")
  }

  test("statefulCdcEventTime evicts on watermark passage, deterministically (default + RocksDB)") {
    // EVENT-TIME TTL (4 days): eviction is driven by the data's own clock,
    // so the scenario is exactly reproducible — no sleeps, no polling —
    // and must be provider-independent (run under both state stores).
    // Spark's EventTimeTimeout semantics under test (q81's oracle models
    // the same rules over real data):
    //   (a) after every batch that advances the watermark, a NO-DATA sweep
    //       batch applies the new watermark's timeouts (processAllAvailable
    //       drains it) — eviction can land between ADJACENT data batches;
    //   (b) the sweep evicts only keys whose timeout the watermark
    //       STRICTLY passed; a key observed within the horizon survives
    //       every sweep, however stale it later becomes before its next
    //       sweep opportunity.
    implicit val sqlCtx = spark.sqlContext
    def runScenario(sub: String, rocks: Boolean): Unit = {
      if (rocks) Streams.useRocksDbState(spark) else Streams.useDefaultState(spark)
      try {
        val mem = MemoryStream[Streams.ProductObs]
        val q = Streams.statefulCdcEventTime(mem.toDS(), ttlMs = 4L * 24 * 3600 * 1000)
          .writeStream.format("memory").queryName(s"scdc_ettl_$sub")
          .outputMode("append").start()
        // batch 0 (Jan-01): p1 and p3 first sightings. The post-batch sweep
        // runs with watermark Jan-01 06:00 — passes no one's Jan-05+ horizon.
        mem.addData(
          Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")),
          Streams.ProductObs("p3", 70.0, 3L, ts("2024-01-01 06:00:00")))
        q.processAllAvailable()
        // batch 1 (Jan-06): p3's gap is 5d > 4d TTL, but the only sweep so
        // far carried watermark Jan-01 06:00 < its Jan-05 06:00 horizon —
        // p3 still classifies against its state (b). Post-batch sweep
        // watermark: Jan-06 12:00 → p1 (horizon Jan-05) is SWEPT here (a).
        mem.addData(
          Streams.ProductObs("p2", 50.0, 1L, ts("2024-01-06 00:00:00")),
          Streams.ProductObs("p3", 70.0, 4L, ts("2024-01-06 12:00:00")))
        q.processAllAvailable()
        // batch 2 (Jan-10): post-batch sweep watermark Jan-10 00:00 — p3's
        // Jan-06 12:00 + 4d = Jan-10 12:00 horizon is NOT strictly passed →
        // p3 survives (b).
        mem.addData(Streams.ProductObs("p2", 55.0, 1L, ts("2024-01-10 00:00:00")))
        q.processAllAvailable()
        // batch 3 (Jan-15): p1 returns with IDENTICAL values — a surviving
        // state would classify it no_change (no event); the first-sighting
        // event is itself the proof of eviction. p3's 9-day-stale state
        // SURVIVED (every sweep before this batch ran below its horizon),
        // so p3 classifies against it: sales 4 -> 6.
        mem.addData(
          Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-15 00:00:00")),
          Streams.ProductObs("p3", 70.0, 6L, ts("2024-01-15 06:00:00")))
        q.processAllAvailable()
        q.stop()
        val got = spark.table(s"scdc_ettl_$sub")
          .select("product_id", "crawl_type", "price", "previous_price", "sales_change")
          .orderBy("crawled_at", "product_id")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
            if (r.isNullAt(3)) null else r.getDouble(3),
            if (r.isNullAt(4)) null else r.getLong(4))).toSeq
        assert(got === Seq(
          ("p1", "price_change", 100.0, null, null),
          ("p3", "price_change", 70.0, null, null),
          ("p2", "price_change", 50.0, null, null),
          ("p3", "sales_change", 70.0, 70.0, 1L),   // pre-horizon sweeps only: survives (b)
          ("p2", "price_change", 55.0, 50.0, null),
          ("p1", "price_change", 100.0, null, null), // re-classified: swept after batch 1 (a)
          ("p3", "sales_change", 70.0, 70.0, 2L)),   // every sweep predated its horizon (b)
          s"[$sub] unexpected events")
      } finally Streams.useDefaultState(spark)
    }
    runScenario("default", rocks = false)
    runScenario("rocks", rocks = true)
  }

  test("curationSink: gates, batch + cross-stream dedup, per-reason ledger, replay convergence") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_curation_sink").toString
    val idxPath = s"$dir/index"; val outPath = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "another filler document padding out the tiny corpus for the test"))
      .toDF("doc_id", "text")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    val mem = MemoryStream[DocRow]
    val q = Streams.curationSink(mem.toDF, idxPath, outPath, ckpt, "doc_id", "text",
      minQuality = 0.3, nearDupThreshold = 0.5)
    try {
      // batch 0 exercises every drop reason at once
      mem.addData(
        DocRow(10L, ""), // gate-dropped (quality)
        DocRow(11L, "brand new survivor text that matches nothing stored here today"),
        DocRow(12L, "brand new survivor text that matches nothing stored here today"), // exact dup of 11
        DocRow(13L, "the quick brown fox jumps over the lazy dog again and again"), // near-dup of corpus 1
        DocRow(14L, "completely separate topic sentence about distributed query engines running fast"),
        DocRow(15L, "completely separate topic sentence about distributed query engines running fast today")) // near-dup of 14, within batch
      q.processAllAvailable()
      val kept0 = spark.read.parquet(s"$outPath/batch_id=0")
        .select("doc_id").as[Long].collect().toSet
      assert(kept0 === Set(11L, 14L))
      val led0 = spark.read.parquet(s"$outPath/_ledger/batch_id=0").head()
      assert(led0.getAs[Long]("input") === 6 && led0.getAs[Long]("replayed") === 0)
      assert(led0.getAs[Long]("dropped_lang_or_quality") === 1)
      assert(led0.getAs[Long]("dropped_exact_dup") === 1)
      assert(led0.getAs[Long]("dropped_near_dup_batch") === 1)
      assert(led0.getAs[Long]("dropped_near_dup_corpus") === 1)
      assert(led0.getAs[Long]("kept") === 2)
      // batch 1: a near-dup of batch 0's SURVIVOR must be caught through
      // the index (the cross-stream closure), a novel doc survives
      mem.addData(
        DocRow(20L, "brand new survivor text that matches nothing stored here today"),
        DocRow(21L, "yet another completely different document for the second batch run"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$outPath/batch_id=1")
        .select("doc_id").as[Long].collect().toSet === Set(21L),
        "20 must near-dup the appended batch-0 survivor")
    } finally q.stop()
    // replay of batch 1 converges: kept ids re-emitted from the manifest,
    // the dropped doc re-drops through the pipeline
    val before = spark.read.parquet(s"$outPath/batch_id=1")
      .collect().map(_.toString).sorted.toSeq
    Streams.curationProcessBatch(
      Seq(DocRow(20L, "brand new survivor text that matches nothing stored here today"),
        DocRow(21L, "yet another completely different document for the second batch run")).toDF,
      idxPath, outPath, 1L, "doc_id", "text",
      Seq("en", "de", "es", "fr", "vi"), 0.3, 0.5, 3, 12, 4, 64)
    assert(spark.read.parquet(s"$outPath/batch_id=1")
      .collect().map(_.toString).sorted.toSeq === before)
    val led1 = spark.read.parquet(s"$outPath/_ledger/batch_id=1").head()
    assert(led1.getAs[Long]("replayed") === 1 && led1.getAs[Long]("kept") === 0,
      "the replay row records the re-emit, not a fresh keep")
  }

  test("curationSink maintenance: the compaction trigger fires and is result-invisible") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_curation_compact").toString
    val idxPath = s"$dir/index"; val outPath = s"$dir/out"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"))
      .toDF("doc_id", "text")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    val langs = Seq("en", "de", "es", "fr", "vi")
    // compactAt = 0: every batch's append pushes the file counts over the
    // threshold, so the maintenance pass runs per batch
    Streams.curationProcessBatch(
      Seq(DocRow(11L, "brand new survivor text that matches nothing stored here today")).toDF,
      idxPath, outPath, 0L, "doc_id", "text", langs, 0.0, 0.5, 3, 12, 4, compactAt = 0)
    assert(spark.read.parquet(s"$outPath/_ledger/batch_id=0")
      .head().getAs[Boolean]("compacted"))
    // the compacted index still holds corpus + survivor and still catches
    // near-dups of both in the next batch
    Streams.curationProcessBatch(
      Seq(DocRow(20L, "brand new survivor text that matches nothing stored here today"),
        DocRow(21L, "the quick brown fox jumps over the lazy dog again and again"),
        DocRow(22L, "some genuinely novel sentence closing out the compaction test case")).toDF,
      idxPath, outPath, 1L, "doc_id", "text", langs, 0.0, 0.5, 3, 12, 4, compactAt = 0)
    assert(spark.read.parquet(s"$outPath/batch_id=1")
      .select("doc_id").as[Long].collect().toSet === Set(22L))
    assert(Dedup.minhashIndexIds(spark, idxPath).as[Long].collect().toSet
      === Set(1L, 2L, 11L, 22L))
  }

  test("statefulCdc state survives a query restart via the checkpoint (file source)") {
    val dir = Files.createTempDirectory("graft_scdc_resume").toString
    val srcDir = s"$dir/src"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    def source() = spark.readStream
      .schema("product_id STRING, price DOUBLE, sales_count BIGINT, crawled_at TIMESTAMP")
      .parquet(srcDir).as[Streams.ProductObs]
    def run(): Unit = {
      val q = Streams.statefulCdc(source()).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    Seq(Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")))
      .toDS().write.mode("append").parquet(srcDir)
    run()
    // RESTART from the same checkpoint: the (price, sales) state must be
    // restored from the state store — the new observation classifies as a
    // price_change AGAINST the restored 100.0 (previous_price 100.0,
    // price_change 20.0), not as a fresh first sighting (null previous)
    Seq(Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-02 00:00:00")))
      .toDS().write.mode("append").parquet(srcDir)
    run()
    val got = spark.read.parquet(outDir)
      .select("product_id", "crawl_type", "price", "previous_price", "price_change")
      .orderBy("crawled_at")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
    assert(got === Seq(
      ("p1", "price_change", 100.0, null, null),
      ("p1", "price_change", 120.0, 100.0, 20.0)))
  }

  test("statefulCdc under RocksDB + changelog matches the default provider across a restart") {
    // the documented 100 TB configuration (off-heap state + per-batch delta
    // uploads), exercised end-to-end: same two-batch file-source scenario
    // with a query RESTART between batches, run under both providers —
    // output must be identical, and each checkpoint restores under the
    // provider it was started with
    def runScenario(sub: String, rocks: Boolean): Seq[String] = {
      val dir = Files.createTempDirectory(s"graft_scdc_$sub").toString
      val srcDir = s"$dir/src"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
      if (rocks) Streams.useRocksDbState(spark) else Streams.useDefaultState(spark)
      try {
        def run(): Unit = {
          val q = Streams.statefulCdc(
            spark.readStream
              .schema("product_id STRING, price DOUBLE, sales_count BIGINT, crawled_at TIMESTAMP")
              .parquet(srcDir).as[Streams.ProductObs]).writeStream
            .option("checkpointLocation", ckpt)
            .format("parquet").option("path", outDir).outputMode("append").start()
          q.processAllAvailable(); q.stop()
        }
        Seq(Streams.ProductObs("p1", 100.0, 5L, ts("2024-01-01 00:00:00")),
            Streams.ProductObs("p2", 50.0, 1L, ts("2024-01-01 00:00:00")))
          .toDS().write.mode("append").parquet(srcDir)
        run()
        Seq(Streams.ProductObs("p1", 120.0, 5L, ts("2024-01-02 00:00:00")),
            Streams.ProductObs("p2", 50.0, 9L, ts("2024-01-02 00:00:00")))
          .toDS().write.mode("append").parquet(srcDir)
        run() // restart: state must restore from this provider's checkpoint
      } finally Streams.useDefaultState(spark)
      spark.read.parquet(outDir)
        .select("product_id", "crawl_type", "price", "previous_price",
          "price_change", "sales_change", "crawled_at")
        .collect().map(_.toString).sorted.toSeq
    }
    val rocks = runScenario("rocks", rocks = true)
    val default = runScenario("default", rocks = false)
    assert(rocks.nonEmpty && rocks === default,
      "statefulCdc output must be provider-independent")
  }

  test("ingestSink runs and resumes under the RocksDB provider") {
    // foreachBatch sinks keep their durable state in the index layout, not
    // the state store — but the stream's checkpoint machinery still runs
    // under the configured provider, so pin that the documented RocksDB
    // configuration survives a start + restart of the ingest sink
    import graft.operators.Dedup
    val docs = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 600)
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val b1df = docs.filter(col("doc_id") % 3 === 1)
    val b2df = docs.filter(col("doc_id") % 3 === 2)
    val dir = Files.createTempDirectory("graft_ingest_rocks").toString
    val srcDir = s"$dir/src"; val idxPath = s"$dir/index"
    val vPath = s"$dir/verdicts"; val ckpt = s"$dir/ckpt"
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    Streams.useRocksDbState(spark)
    try {
      def source() = spark.readStream
        .schema("doc_id BIGINT, text STRING").parquet(srcDir)
      b1df.select("doc_id", "text").write.mode("append").parquet(srcDir)
      val q1 = Streams.ingestSink(source(), idxPath, vPath, ckpt,
        "doc_id", "text", threshold = 0.3)
      q1.processAllAvailable(); q1.stop()
      b2df.select("doc_id", "text").write.mode("append").parquet(srcDir)
      val q2 = Streams.ingestSink(source(), idxPath, vPath, ckpt,
        "doc_id", "text", threshold = 0.3)
      q2.processAllAvailable(); q2.stop()
    } finally Streams.useDefaultState(spark)
    val v = spark.read.parquet(vPath)
    assert(v.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L))
    assert(v.count() === b1df.count() + b2df.count(),
      "each document verdicted exactly once across the provider-flipped restart")
  }

  test("ingestSink: per-batch dedup ingest, replay-idempotent, compaction-bounded") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 1000)
    val corpus = docs.filter(col("doc_id") % 5 >= 2)
    val b1df = docs.filter(col("doc_id") % 5 === 0)
    val b2df = docs.filter(col("doc_id") % 5 === 1)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[DocRow] =
      df.select("doc_id", "text").as[DocRow].collect().toSeq
    val dir = Files.createTempDirectory("graft_ingest_sink").toString
    val idxPath = s"$dir/index"; val vPath = s"$dir/verdicts"; val ckpt = s"$dir/ckpt"
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val mem = MemoryStream[DocRow]
    val q = Streams.ingestSink(mem.toDF, idxPath, vPath, ckpt,
      "doc_id", "text", threshold = 0.3, compactAt = 2)
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    mem.addData(rows(b2df): _*); q.processAllAvailable()
    // a re-fed batch (same docs, new batch id) exercises the replay guard:
    // survivors are already in the index and must not be re-appended or
    // violate the disjoint-ids contract
    val bandsRowsBefore = Dedup.readMinhashIndex(spark, idxPath).bands.count()
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    q.stop()
    // per-batch scratch blocks (band keys, candidates, verdicts) must not
    // accumulate across micro-batches — the long-running-stream twin of
    // the bench's block-manager lesson. Asserted HERE, directly after
    // q.stop(): only the sink's own work sits inside the snapshot window.
    // The twin-verification dedupAgainstIndex calls below create their own
    // localCheckpoint blocks that only the GC-driven ContextCleaner frees,
    // so asserting after them made the test GC-timing-dependent.
    assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
      "ingestSink leaked localCheckpoint blocks across micro-batches")
    val v = spark.read.parquet(vPath)
    def verdictSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "is_dup", "dup_of").collect().map(_.toString).sorted.toSeq
    // batch 0 == the batch-path twin against the original corpus index
    val want0 = verdictSet(Dedup.dedupAgainstIndex(b1df,
      Dedup.buildMinhashIndex(corpus, "doc_id", "text"), "doc_id", "text", 0.3))
    assert(verdictSet(v.filter(col("batch_id") === 0)) === want0)
    // batch 1 == the twin against corpus ∪ batch-0 survivors (q71's shape)
    val surv1 = b1df.join(v.filter(col("batch_id") === 0 && !col("is_dup"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    val want1 = verdictSet(Dedup.dedupAgainstIndex(b2df,
      Dedup.buildMinhashIndex(corpus.unionByName(surv1), "doc_id", "text"),
      "doc_id", "text", 0.3))
    assert(verdictSet(v.filter(col("batch_id") === 1)) === want1)
    assert(v.filter(col("batch_id") === 1 && col("is_dup") && col("dup_of") % 5 === 0)
      .count() > 0, "no batch-1 dup resolved against an appended batch-0 survivor")
    // replay converges: same is_dup flags as batch 0, and the index gained
    // nothing (survivors guard-blocked, dups never appended)
    val flags = (bid: Int) => v.filter(col("batch_id") === bid)
      .select("id", "is_dup").collect().map(_.toString).sorted.toSeq
    assert(flags(2) === flags(0))
    assert(Dedup.readMinhashIndex(spark, idxPath).bands.count() === bandsRowsBefore)
    // the compactAt=2 trigger kept the file counts bounded across 3 batches
    val (bf, sf) = Dedup.minhashFileCounts(spark, idxPath)
    assert(math.max(bf, sf) <= 4,
      s"compaction should bound index file counts, got bands=$bf shingles=$sf")
    // the streaming path persists the §2.8 ledger: one row per micro-batch,
    // beside the verdicts
    val ledger = Streams.ingestLedger(spark, vPath)
    assert(ledger.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L, 2L))
    val l0 = ledger.filter(col("batch_id") === 0).head()
    assert(l0.getAs[Long]("rows") === b1df.count())
    assert(l0.getAs[Long]("dups") + l0.getAs[Long]("appended") === l0.getAs[Long]("rows"))
    // the replayed batch: survivors are guard-blocked (already in the
    // manifest), so only batch-0's dups re-run — and they re-verdict as
    // dups, so nothing is appended and the index cannot grow
    val l2 = ledger.filter(col("batch_id") === 2).head()
    assert(l2.getAs[Long]("rows") === l0.getAs[Long]("dups"))
    assert(l2.getAs[Long]("appended") === 0L)
  }

  test("ingestSink: a takedown'd id re-streamed through the sink heals the index") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // threshold ~1.0: nothing verdicts as a dup, so every streamed doc
    // survives and the re-stream's heal is deterministic (a re-crawled doc
    // that re-verdicts as a dup of OTHER live content is correctly not
    // re-added — that's the ingest contract, not the heal's concern)
    val docs = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 500)
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val b1df = docs.filter(col("doc_id") % 3 === 1)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[DocRow] =
      df.select("doc_id", "text").as[DocRow].collect().toSeq
    val dir = Files.createTempDirectory("graft_ingest_reing").toString
    val idxPath = s"$dir/index"; val vPath = s"$dir/verdicts"; val ckpt = s"$dir/ckpt"
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    val mem = MemoryStream[DocRow]
    val q = Streams.ingestSink(mem.toDF, idxPath, vPath, ckpt,
      "doc_id", "text", threshold = 0.99, compactAt = 64)
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    // takedown a slice of the streamed-in docs
    val deleted = Dedup.minhashIndexIds(spark, idxPath)
      .filter(col("id") % 3 === 1).limit(5).collect().map(_.getLong(0)).toSeq
    assert(Dedup.deleteFromMinhashIndex(spark, idxPath, deleted.toDF("id")) === 5L)
    val gen0 = graft.store.Generations.requireCommitted(spark, idxPath).toString
    // the re-crawl arrives through the STREAM: the replay guard reads the
    // filtered manifest (deleted ids look new), and the append path heals —
    // inline purge-compaction, tombstones cleared, docs live again
    mem.addData(rows(docs.filter(col("doc_id").isin(deleted: _*))): _*)
    q.processAllAvailable(); q.stop()
    val gen1 = graft.store.Generations.requireCommitted(spark, idxPath).toString
    assert(gen1 !== gen0, "the streamed re-ingest must trigger the inline compaction")
    val fs = new org.apache.hadoop.fs.Path(gen1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    assert(Dedup.minhashIndexIds(spark, idxPath)
      .filter(col("id").isin(deleted: _*)).count() === 5L)
    // no stale duplicates: one manifest row and distinct shingles per id
    assert(spark.read.parquet(s"$gen1/ids")
      .filter(col("id").isin(deleted: _*)).count() === 5L)
    val sh = spark.read.parquet(s"$gen1/shingles").filter(col("id").isin(deleted: _*))
      .select(col("id"), col("s")).as[(Long, Seq[Long])].collect()
    assert(sh.map(_._1).sorted.toSeq === deleted.sorted,
      "exactly one shingle-set row per re-ingested id")
    assert(sh.forall { case (_, s) => s.distinct.size == s.size })
  }

  test("annIngestSink: a takedown'd vector re-streamed through the sink heals the index") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
    val initial = emb.filter(col("vec_id") % 2 === 0)
    val b1df = emb.filter(col("vec_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[VecRow] =
      df.select("vec_id", "embedding").as[VecRow].collect().toSeq
    val dir = Files.createTempDirectory("graft_ann_reing").toString
    val idxPath = s"$dir/index"; val ckpt = s"$dir/ckpt"
    Ann.writeIvf(Ann.buildIvf(initial, "vec_id", "embedding", nlist = 4), idxPath)
    val mem = MemoryStream[VecRow]
    val q = Streams.annIngestSink(mem.toDF, idxPath, ckpt,
      "vec_id", "embedding", compactAt = 64)
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    val total = Ann.readIvf(spark, idxPath).assigned.count()
    assert(total === emb.count())
    val deleted = b1df.limit(3).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(Ann.deleteFromIvf(spark, idxPath, deleted.toDF("id")) === 3L)
    val gen0 = graft.store.Generations.requireCommitted(spark, idxPath).toString
    assert(Ann.readIvf(spark, idxPath).assigned.count() === total - 3)
    // re-stream the deleted vectors: guard sees them as new, append heals
    mem.addData(rows(emb.filter(col("vec_id").isin(deleted: _*))): _*)
    q.processAllAvailable(); q.stop()
    val gen1 = graft.store.Generations.requireCommitted(spark, idxPath).toString
    assert(gen1 !== gen0, "the streamed re-ingest must trigger the inline compaction")
    val fs = new org.apache.hadoop.fs.Path(gen1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen1/tombstones")))
    // live again, exactly once each — and the corpus is whole
    val assigned = spark.read.parquet(s"$gen1/assigned")
    deleted.foreach(id => assert(assigned.filter(col("vec_id") === id).count() === 1))
    assert(Ann.readIvf(spark, idxPath).assigned.count() === total)
  }

  test("ingestSink resumes from its checkpoint across query restarts (file source)") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 1000)
    val corpus = docs.filter(col("doc_id") % 5 >= 2)
    val b1df = docs.filter(col("doc_id") % 5 === 0)
    val b2df = docs.filter(col("doc_id") % 5 === 1)
    val dir = Files.createTempDirectory("graft_ingest_resume").toString
    val srcDir = s"$dir/src"; val idxPath = s"$dir/index"
    val vPath = s"$dir/verdicts"; val ckpt = s"$dir/ckpt"
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
    def source() = spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(srcDir)
    b1df.select("doc_id", "text").write.mode("append").parquet(srcDir)
    val q1 = Streams.ingestSink(source(), idxPath, vPath, ckpt,
      "doc_id", "text", threshold = 0.3, compactAt = 2)
    q1.processAllAvailable(); q1.stop()
    val bandsAfterB1 = Dedup.readMinhashIndex(spark, idxPath).bands.count()
    // RESTART against the same checkpoint: only files added since may
    // be processed — the already-ingested batch must not replay
    b2df.select("doc_id", "text").write.mode("append").parquet(srcDir)
    val q2 = Streams.ingestSink(source(), idxPath, vPath, ckpt,
      "doc_id", "text", threshold = 0.3, compactAt = 2)
    q2.processAllAvailable(); q2.stop()
    val v = spark.read.parquet(vPath)
    assert(v.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L))
    assert(v.count() === b1df.count() + b2df.count(),
      "each document verdicted exactly once across the restart")
    // index grew by exactly the two batches' survivor sets
    val survivors = v.filter(!col("is_dup")).count()
    val perDocBands = Dedup.readMinhashIndex(spark, idxPath).bands
      .groupBy("id").count().select(max("count")).as[Long].head()
    assert(Dedup.readMinhashIndex(spark, idxPath).bands.count() ===
      corpus.count() * perDocBands + survivors * perDocBands)
    assert(bandsAfterB1 < Dedup.readMinhashIndex(spark, idxPath).bands.count())
  }

  test("annIngestSink: appended vectors probe-visible, replays add nothing, lists compacted") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
    val initial = emb.filter(col("vec_id") % 3 === 0)
    val b1df = emb.filter(col("vec_id") % 3 === 1)
    val b2df = emb.filter(col("vec_id") % 3 === 2)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[VecRow] =
      df.select("vec_id", "embedding").as[VecRow].collect().toSeq
    val dir = Files.createTempDirectory("graft_ann_sink").toString
    val idxPath = s"$dir/index"; val ckpt = s"$dir/ckpt"
    Ann.writeIvf(Ann.buildIvf(initial, "vec_id", "embedding", nlist = 4), idxPath)
    val mem = MemoryStream[VecRow]
    val q = Streams.annIngestSink(mem.toDF, idxPath, ckpt,
      "vec_id", "embedding", compactAt = 1)
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    val countAfterB1 = Ann.readIvf(spark, idxPath).assigned.count()
    assert(countAfterB1 === initial.count() + b1df.count())
    // a re-fed batch (same vectors, new batch id) must append nothing
    mem.addData(rows(b1df): _*); q.processAllAvailable()
    assert(Ann.readIvf(spark, idxPath).assigned.count() === countAfterB1)
    mem.addData(rows(b2df): _*); q.processAllAvailable()
    q.stop()
    val idx = Ann.readIvf(spark, idxPath)
    assert(idx.assigned.count() === emb.count())
    // appended vectors are probe-visible: querying with appended ids
    // returns a top-1 neighbour for every one of them (self-matches are
    // filtered, so these rows prove the partition-pruned scan sees the
    // streamed appends)
    val queries = b2df.filter(col("vec_id") < 50)
    val probe = Ann.ivfTopK(queries, idx, "vec_id", "embedding", k = 1, nprobe = 4)
    assert(probe.count() === queries.count())
    assert(probe.filter(col("neighbor_id") % 3 === 2).count() > 0,
      "some neighbour should itself be a streamed-in vector")
    // the compactAt=1 trigger kept every list's file count bounded
    assert(Ann.ivfFileCounts(spark, idxPath).values.forall(_ <= 2),
      s"per-list counts: ${Ann.ivfFileCounts(spark, idxPath)}")
    // the per-batch ledger, IVF edition: the replayed batch (id 1)
    // appended nothing, the fresh batches appended everything
    val ledger = Streams.annIngestLedger(spark, idxPath)
    assert(ledger.select("batch_id").distinct().as[Long].collect().toSet === Set(0L, 1L, 2L))
    def lrow(bid: Int) = ledger.filter(col("batch_id") === bid).head()
    assert(lrow(0).getAs[Long]("appended") === b1df.count())
    assert(lrow(1).getAs[Long]("rows") === b1df.count())
    assert(lrow(1).getAs[Long]("appended") === 0L)
    assert(lrow(2).getAs[Long]("appended") === b2df.count())
  }

  test("cdcRebuildCompanion surfaces a delete of the old tree that fails non-exceptionally") {
    spark.sparkContext.hadoopConfiguration.set("fs.faildeletelatest.impl",
      classOf[FailDeleteLatestFs].getName)
    val dir = Files.createTempDirectory("graft_cdc_rebuild_nodelete").toString
    val histPath = s"$dir/history"
    def day(d: Int) = ts(f"2024-07-$d%02d 00:00:00")
    Streams.cdcProcessBatch(Seq(Crawl("p0", 100.0, 200.0, null, 1L, day(1)),
      Crawl("p1", 50.0, 60.0, null, 1L, day(1))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(Crawl("p0", 111.0, 200.0, null, 1L, day(2))).toDF,
      histPath, 1L)
    val want = Streams.cdcState(spark, histPath, 2L).get
      .collect().map(_.toString).sorted.toSeq
    val boom = intercept[java.io.IOException](
      Streams.cdcRebuildCompanion(spark, "faildeletelatest://" + histPath, 2L))
    assert(boom.getMessage.contains("cdcRebuildCompanion"), boom.getMessage)
    // the marker still guards the half-swapped companion
    val marker = new org.apache.hadoop.fs.Path(s"$histPath/_latest_REBUILDING")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker))
    val guard = intercept[IllegalStateException](Streams.cdcState(spark, histPath, 2L))
    assert(guard.getMessage.contains("interrupted rebuild"), guard.getMessage)
    // a re-run on a filesystem that deletes completes recovery
    Streams.cdcRebuildCompanion(spark, histPath, 2L)
    assert(!fs.exists(marker))
    assert(Streams.cdcState(spark, histPath, 2L).get
      .collect().map(_.toString).sorted.toSeq === want)
  }

  test("a lost _latest tree without a marker fails the next batch loudly, recoverable by rebuild") {
    val dir = Files.createTempDirectory("graft_cdc_lost").toString
    val histPath = s"$dir/history"
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    // simulate companion loss with NO rebuild marker (disk loss, fat-finger
    // delete): earlier event partitions exist, zero committed generations
    val root = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(root, true))
    // the silent alternative would re-seed the catalog as first sightings;
    // the guard must fail toward recovery instead
    val boom = intercept[IllegalStateException] {
      Streams.cdcProcessBatch(Seq(
        Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00"))).toDF, histPath, 2L)
    }
    assert(boom.getMessage.contains("cdcRebuildCompanion"))
    // recovery: rebuild, then the batch processes and derives against the
    // reconstructed state (a price move from 110, not a first sighting)
    Streams.cdcRebuildCompanion(spark, histPath, nextBatchId = 2L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-01-03 00:00:00"))).toDF, histPath, 2L)
    val ev2 = spark.read.parquet(s"$histPath/batch_id=2")
    assert(ev2.count() === 1)
    assert(ev2.select("previous_price").as[Double].head() === 110.0)
  }

  test("cdcRebuildCompanion works when EVERY live partition has been archived") {
    val dir = Files.createTempDirectory("graft_cdc_archonly").toString
    val histPath = s"$dir/history"
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    // sustained archival's steady state, taken to the limit: the cutoff
    // expires EVERY live partition — only underscore trees remain
    assert(Streams.archiveEventLog(spark, histPath, "2024-06-01 00:00:00") === 3L)
    val root = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(root, true))
    // the rebuild must reconstruct from the archive alone — a bare read of
    // the root would find zero visible data files and die on schema
    // inference with the recovery marker already planted
    Streams.cdcRebuildCompanion(spark, histPath, nextBatchId = 2L)
    val st = Streams.cdcState(spark, histPath, 2L).get
    assert(st.count() === 2)
    assert(st.filter(col("product_id") === "p1").select("price").as[Double].head() === 110.0)
  }

  test("re-archiving a replayed partition REPLACES the archived copy — no duplicates, no rename collision") {
    val dir = Files.createTempDirectory("graft_cdc_rearch").toString
    val histPath = s"$dir/history"
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 100.0, 120.0, null, 5L, ts("2024-01-01 00:00:00")),
      Crawl("p2", 50.0, 60.0, null, 1L, ts("2024-01-01 06:00:00"))).toDF, histPath, 0L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 115.0, 120.0, null, 5L, ts("2024-06-03 00:00:00"))).toDF, histPath, 2L)
    assert(Streams.archiveEventLog(spark, histPath, "2024-05-01 00:00:00") === 3L)
    // crash-before-checkpoint-commit replays batch 1: the sink rewrites
    // batch_id=1 live (new task-UUID file names, same logical content)
    Streams.cdcProcessBatch(Seq(
      Crawl("p1", 110.0, 120.0, null, 5L, ts("2024-01-02 00:00:00"))).toDF, histPath, 1L)
    // the next sweep expires it again; the archive already has batch_id=1 —
    // a file-level merge would land BOTH copies (and throw on _SUCCESS)
    assert(Streams.archiveEventLog(spark, histPath, "2024-05-01 00:00:00") === 1L)
    val arch = spark.read.option("basePath", s"$histPath/_archive")
      .parquet(s"$histPath/_archive")
    assert(arch.filter(col("batch_id") === 1L).count() === 1,
      "the replayed partition must supersede the archived copy, not union with it")
    assert(arch.count() === 3)
  }

  test("companion collapse: on a crawled_at tie the LATER batch wins, not the higher price") {
    val dir = Files.createTempDirectory("graft_cdc_tie").toString
    val histPath = s"$dir/history"
    val t = ts("2024-01-01 00:00:00")
    Streams.cdcProcessBatch(Seq(Crawl("p1", 100.0, 120.0, null, 5L, t)).toDF, histPath, 0L)
    // a later batch re-observes the key at the IDENTICAL timestamp with a
    // LOWER price (a correction). Last-write-wins in batch order is the
    // upsert semantics; a value-ordered tie-break would resurrect 100.0
    Streams.cdcProcessBatch(Seq(Crawl("p1", 90.0, 120.0, null, 5L, t)).toDF, histPath, 1L)
    val st = Streams.cdcState(spark, histPath, 2L).get
    assert(st.filter(col("product_id") === "p1").select("price").as[Double].head() === 90.0)
    // and the REBUILT companion agrees (batch_id recency over the raw log)
    val root = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(root, true))
    Streams.cdcRebuildCompanion(spark, histPath, nextBatchId = 2L)
    val st2 = Streams.cdcState(spark, histPath, 2L).get
    assert(st2.filter(col("product_id") === "p1").select("price").as[Double].head() === 90.0)
  }
}
