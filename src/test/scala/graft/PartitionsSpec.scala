package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{Ann, Dedup}
import graft.store.{Partitions, Store}
import graft.streaming.Streams

/** `Partitions.read`, the one parquet read of a tree graft wrote: its
  * schema is the one Spark's inference returns, for every tree shape, and
  * the generation reads built on it launch no Spark job at construction. */
class PartitionsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val fixture = {
    val root = tmp("graft_read")
    val store = new Store(spark, root)
    val products = Seq(
      ("a", 1.5, Seq("x", "y"), "2024-01-01 10:00:00", ("s1", true)),
      ("b", 2.5, Seq.empty[String], "2024-01-02 11:00:00", ("s2", false)))
      .toDF("product_id", "price", "tags", "crawled_at", "seller")
      .withColumn("crawled_at", to_timestamp(col("crawled_at")))
    store.upsert("products", products, Seq("product_id"))
    store.upsert("products", products.withColumn("price", col("price") * 2), Seq("product_id"))
    store.appendHistory("history", products)
    // two appends, then a compaction rewrites each `__date=` leaf
    store.appendHistory("compacted", products)
    store.appendHistory("compacted", products)
    assert(store.compactHistory("compacted") === 2)
    store.upsert("empty", products.limit(0), Seq("product_id"))
    // a MinHash index with a bucketed base, a flat delta and tombstones
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a completely different sentence about spark"),
      (4L, "another unrelated line of text for the index")).toDF("doc_id", "text")
    val index = s"$root/index"
    val gen = Dedup.writeMinhashIndex(
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"), index)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") > 2), index, "doc_id", "text")
    Dedup.deleteFromMinhashIndex(spark, index, Seq(3L).toDF("id"))
    (root, store, index, gen)
  }

  /** The IVF layout, the streaming CDC companion and its event archive,
    * and the ledgers of both ingest sinks, each written by its operator. */
  private lazy val streamFixture = {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_read_streams")
    // IVF: `list=` partitioned assignments, the id manifest, the centroids;
    // the ANN sink's ledger lands under the index root
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 60)
    val ivf = s"$root/ivf"
    val ivfGen = Ann.writeIvf(
      Ann.buildIvf(emb.filter(col("vec_id") < 40), "vec_id", "embedding", nlist = 2), ivf)
    val vecs = MemoryStream[VecRow]
    val annQ = Streams.annIngestSink(vecs.toDF, ivf, s"$root/ivf_ckpt", "vec_id", "embedding")
    vecs.addData(emb.filter(col("vec_id") >= 40).select("vec_id", "embedding").as[VecRow]
      .collect().toSeq: _*)
    annQ.processAllAvailable(); annQ.stop()
    // the MinHash sink's ledger lands beside its verdicts
    val index = s"$root/index"
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
      "doc_id", "text"), index)
    val docs = MemoryStream[DocRow]
    val verdicts = s"$root/verdicts"
    val ingestQ = Streams.ingestSink(docs.toDF, index, verdicts, s"$root/ingest_ckpt",
      "doc_id", "text", threshold = 0.3)
    docs.addData(DocRow(2L, "the quick brown fox jumps over the lazy cat"),
      DocRow(3L, "a completely different sentence about spark"))
    ingestQ.processAllAvailable(); ingestQ.stop()
    // CDC: batch 0 seeds a bucketed full collapse, batch 1 a flat delta;
    // archiving moves batch 0's event partition under `_archive`
    val hist = s"$root/history"
    def crawl(id: String, price: Double, day: Int) = Crawl(id, price, 200.0, null, 1L,
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"))
    Streams.cdcProcessBatch(Seq(crawl("p1", 100.0, 1), crawl("p2", 110.0, 1)).toDF, hist, 0L)
    Streams.cdcProcessBatch(Seq(crawl("p1", 120.0, 2)).toDF, hist, 1L)
    assert(Streams.archiveEventLog(spark, hist, "2024-01-02 00:00:00") > 0)
    (ivfGen, ivf, verdicts, hist)
  }

  test("Partitions.read returns Spark's inferred schema for every tree graft writes") {
    val (root, _, _, gen) = fixture
    val trees = Seq(
      "flat Store generation" -> s"$root/products/gen_000001",
      "__date history tree" -> s"$root/history/append",
      "compacted __date leaf" -> s"$root/compacted/append/__date=2024-01-01",
      "empty-DataFrame generation" -> s"$root/empty/gen_000000",
      "__bkt bands base" -> s"$gen/bands",
      "flat bands delta" -> s"$gen/bands_delta",
      "shingles" -> s"$gen/shingles",
      "ids" -> s"$gen/ids",
      "tombstones" -> s"$gen/tombstones")
    val (ivfGen, ivf, verdicts, hist) = streamFixture
    val streamTrees = Seq(
      "IVF assigned" -> s"$ivfGen/assigned",
      "IVF ids" -> s"$ivfGen/ids",
      "IVF centroids" -> s"$ivfGen/centroids",
      "bucketed companion full" -> s"$hist/_latest/gen_000000000000/state",
      "flat companion delta" -> s"$hist/_latest/gen_000000000001/state",
      "event _archive" -> s"$hist/_archive",
      "ingest ledger" -> s"$verdicts/_ledger",
      "ANN ingest ledger" -> s"$ivf/_ledger")
    for ((what, dir) <- trees ++ streamTrees) {
      val want = spark.read.parquet(dir)
      val got = Partitions.read(spark, dir)
      assert(got.schema === want.schema, what)
      assert(got.except(want).isEmpty && want.except(got).isEmpty, what)
    }
    assert(Partitions.read(spark, s"$root/history/append").schema("__date").dataType
      === org.apache.spark.sql.types.DateType)
    assert(Partitions.read(spark, s"$gen/bands_delta").columns.contains("__bkt"))
    // the companion trees have the shapes their names say
    assert(Partitions.read(spark, s"$hist/_latest/gen_000000000000/state").columns
      .contains("__kbkt"))
    assert(!Partitions.read(spark, s"$hist/_latest/gen_000000000001/state").columns
      .contains("__kbkt"))
  }

  test("Partitions.read of a dir without a data file fails exactly as the plain read does") {
    val empty = tmp("graft_read_empty")
    val onlyMarker = tmp("graft_read_marker")
    Files.createFile(java.nio.file.Paths.get(onlyMarker, "_SUCCESS"))
    val emptyPartition = tmp("graft_read_part")
    Files.createDirectories(java.nio.file.Paths.get(emptyPartition, "__date=2024-01-01"))
    for (dir <- Seq(empty, onlyMarker, emptyPartition, s"$empty/absent")) {
      val want = Try(spark.read.parquet(dir).schema)
      val got = Try(Partitions.read(spark, dir).schema)
      assert(want.isFailure, dir)
      assert(got.failed.get.getClass === want.failed.get.getClass, dir)
      assert(got.failed.get.getMessage === want.failed.get.getMessage, dir)
    }
  }

  /** Jobs launched on this thread while `f` runs, as their descriptions. */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val marker = "graft.test.partitionsSpec"
    val jobs = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val p = js.properties
        if (p != null && p.getProperty(marker) != null)
          jobs += String.valueOf(p.getProperty("spark.job.description"))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(marker, "1")
    val out = try f finally {
      sc.setLocalProperty(marker, null)
      Bridge.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    (out, jobs.synchronized(jobs.toList))
  }

  test("snapshot, snapshotAt and history launch no Spark job at construction") {
    val (_, store, index, _) = fixture
    val (frames, jobs) = jobsOf(Seq(store.snapshot("products"), store.snapshotAt("products", 0),
      store.history("history"), store.history("history", Some("2024-01-02"))).map(_.get))
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(frames.map(_.count()) === Seq(2L, 2L, 2L, 1L))
    // the MinHash index read: only the 64 `__bkt=` dirs' parallel listing
    // remains (the inference jobs of bands, delta, shingles and
    // tombstones are gone)
    val (_, indexJobs) = jobsOf(Dedup.readMinhashIndex(spark, index))
    assert(indexJobs.forall(_.startsWith("Listing leaf files")), indexJobs.mkString(" | "))
    assert(indexJobs.size <= 1, indexJobs.mkString(" | "))
  }
}
