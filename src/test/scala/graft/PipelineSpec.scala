package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.store.Store
import graft.transform.Transform

case class FxPrice(current_price: Double, original_price: Double, discount_percent: Double)
case class FxRating(average: Double, total_reviews: Long)
case class FxSeller(name: String, is_official: Boolean)
case class FxStock(available: Boolean)
case class FxRaw(product_id: String, name: String, brand: String, url: String,
    category_path: Seq[String], price: FxPrice, rating: FxRating, seller: FxSeller,
    stock: FxStock, sales_count: String, crawled_at: String)

/** Local filesystem whose renames INTO `*_archive` paths fail by returning
  * `false` without throwing — the non-exceptional failure mode several
  * object-store Hadoop connectors exhibit. Used to assert that
  * `Store.archiveHistory` checks rename's boolean result instead of
  * counting a partition as archived while it silently stayed live. */
class FailArchiveRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.toString.contains("_archive")) false else super.rename(src, dst)
}

/** Same idea for deletes: refuse to delete EXISTING generation dirs by
  * returning `false` — asserts `Store.vacuum` checks delete's result. */
class FailDeleteGenFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faildelete"
  override def getUri: java.net.URI = java.net.URI.create("faildelete:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (p.getName.startsWith("gen_") && exists(p)) false
    else super.delete(p, recursive)
}

/** Local filesystem whose renames return `false` when the destination
  * already exists, as HDFS and S3A do (the local filesystem silently
  * replaces a file). Asserts that re-archiving a date whose live and
  * archived copies both carry a committer `_SUCCESS` merges around it. */
class NoClobberRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "noclobber"
  override def getUri: java.net.URI = java.net.URI.create("noclobber:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (exists(dst)) false else super.rename(src, dst)
}

/** End-to-end pipeline spec mirroring the reference's
  * tests/test_transform_load.py fixture (2 valid nested products + invalid
  * price + missing id + duplicate), driven through transform → store upsert
  * → history → summary across two runs. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private type Price = FxPrice; private val Price = FxPrice
  private type Rating = FxRating; private val Rating = FxRating
  private type Seller = FxSeller; private val Seller = FxSeller
  private type Stock = FxStock; private val Stock = FxStock
  private type Raw = FxRaw; private val Raw = FxRaw

  private def fixture(run2: Boolean = false) = Seq(
    Raw("123456", "Sản phẩm  Test 1", "Thương hiệu: BrandA", "https://tiki.vn/p/123456",
      Seq("Root", "Cat"), Price(if (run2) 110000 else 100000, 200000, 50),
      Rating(4.5, 100), Seller("Shop ABC", false), Stock(true), "2k", "2025-01-15 14:00:00"),
    Raw("234567", "Product Two", "BrandB", "https://tiki.vn/p/234567",
      Seq("Root"), Price(50000, 60000, 16.67), Rating(4.0, 10),
      Seller("Shop DEF", true), Stock(true), "500", "2025-01-15 14:00:00"),
    // invalid: price > original_price
    Raw("345678", "Bad Price", "X", "https://tiki.vn/p/345678",
      Seq(), Price(300000, 200000, 0), Rating(3.0, 1),
      Seller("S", false), Stock(false), "1", "2025-01-15 14:00:00"),
    // invalid: non-digit id
    Raw("abc", "No Id", "X", "https://tiki.vn/p/0",
      Seq(), Price(1000, 2000, 0), Rating(3.0, 1),
      Seller("Shop GHI", false), Stock(false), "1", "2025-01-15 14:00:00"),
    // duplicate of 123456 (same id, later name sort)
    Raw("123456", "Sản phẩm Test 1 dup", "BrandA", "https://tiki.vn/p/123456",
      Seq("Root", "Cat"), Price(if (run2) 110000 else 100000, 200000, 50),
      Rating(4.5, 100), Seller("Shop ABC", false), Stock(true), "2k", "2025-01-15 14:00:00"))

  test("transform: flatten/normalize/validate/dedup with reference stats semantics") {
    val t = Transform.run(fixture().toDF())
    assert(t.stats == Transform.RunStats(total = 5, valid = 3, invalid = 2, duplicatesRemoved = 1))
    val byId = t.products.collect().map(r => r.getAs[String]("product_id") -> r).toMap
    assert(byId.keySet == Set("123456", "234567"))
    val p1 = byId("123456")
    assert(p1.getAs[String]("brand") == "BrandA")          // prefix stripped
    assert(p1.getAs[String]("name") == "Sản phẩm Test 1")  // whitespace collapsed + first-wins dedup
    assert(p1.getAs[Long]("sales_count") == 2000L)          // "2k" parsed
    assert(p1.getAs[Double]("discount_percent") == 50.0)    // recomputed
    val reasons = t.rejects.select("reject_reason").as[String].collect().sorted.toSeq
    assert(reasons == Seq("bad_price", "bad_product_id"))
  }

  test("pipeline two runs: upsert keeps table keyed, CDC logs first-crawl then price-change only") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val store = new Store(spark, root)

    val r1 = Pipeline.run(spark, fixture().toDF(), store)
    assert(r1.loadedCount == 2)
    assert(r1.historyEvents == 2) // both first-crawl
    assert(r1.summary.collect()(0).getAs[Long]("total_products") == 2)

    val r2 = Pipeline.run(spark, fixture(run2 = true).toDF(), store)
    assert(r2.loadedCount == 2)   // upsert, not append
    // run2: 123456 price changed → 1 event; 234567 unchanged → no_change dropped
    assert(r2.historyEvents == 1)

    val hist = store.history("crawl_history").get
    val types = hist.groupBy("product_id", "crawl_type").count()
      .orderBy("product_id", "crawl_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(types == Seq(
      ("123456", "price_change", 2L),  // first crawl + real change
      ("234567", "price_change", 1L))) // first crawl only
    // upserted price reflects run2
    val snap = store.snapshot("products").get
    assert(snap.filter(col("product_id") === "123456").select("price").as[Double].collect()(0) == 110000.0)
  }

  test("store archive moves old history partitions and keeps recent ones") {
    val root = Files.createTempDirectory("graft_arch").toString
    val store = new Store(spark, root)
    val events = Seq(
      ("p1", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("p2", 2.0, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("product_id", "price", "crawled_at")
    store.appendHistory("crawl_history", events)
    // snapshot the live (kept) partition's file list + modification times:
    // archiving must MOVE expired partition dirs, never rewrite live ones
    def liveFiles() = {
      val dir = java.nio.file.Paths.get(root, "crawl_history", "append", "__date=2024-06-01")
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = liveFiles()
    val archived = store.archiveHistory("crawl_history", "2024-03-01")
    assert(archived == 1)
    assert(store.history("crawl_history").get.count() == 1)
    assert(store.history("crawl_history_archive").get.count() == 1)
    assert(liveFiles() == before,
      "live partition files were rewritten by archiveHistory")
    // the expired partition dir is gone from the live table
    assert(!Files.exists(java.nio.file.Paths.get(
      root, "crawl_history", "append", "__date=2024-01-01")))
    // re-archiving with a later cutoff into the SAME archive partition set
    store.appendHistory("crawl_history",
      Seq(("p3", 3.0, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
        .toDF("product_id", "price", "crawled_at"))
    assert(store.archiveHistory("crawl_history", "2024-03-01") == 1)
    assert(store.history("crawl_history_archive").get.count() == 2)
    assert(store.archiveHistory("crawl_history", "2024-03-01") == 0) // idempotent
  }

  test("archiveHistory refuses a cutoff that is not an ISO yyyy-MM-dd date") {
    val root = Files.createTempDirectory("graft_arch_cutoff").toString
    val store = new Store(spark, root)
    store.appendHistory("hist", Seq(
      ("p1", 1.0, java.sql.Timestamp.valueOf("2024-01-03 08:00:00")),
      ("p2", 2.0, java.sql.Timestamp.valueOf("2024-01-10 08:00:00")))
      .toDF("product_id", "price", "crawled_at"))
    // as strings, "2024-01-03" < "2024-01-03 00:00:00" would archive the
    // cutoff day itself, and "2024-1-5" sorts after every January date
    for (bad <- Seq("2024-01-03 00:00:00", "2024-1-5", "2024-02-30", "")) {
      val e = intercept[IllegalArgumentException](store.archiveHistory("hist", bad))
      assert(e.getMessage.contains("cutoff") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(store.history("hist").get.count() == 2)
    assert(store.history("hist_archive").isEmpty)
    // the ISO form archives strictly before the cutoff day
    assert(store.archiveHistory("hist", "2024-01-03") == 0)
    assert(store.archiveHistory("hist", "2024-01-04") == 1)
  }

  test("archiveHistory surfaces a rename that fails non-exceptionally " +
      "and leaves the partition live") {
    spark.sparkContext.hadoopConfiguration.set("fs.failrename.impl",
      classOf[FailArchiveRenameFs].getName)
    val root = "failrename://" + Files.createTempDirectory("graft_archfail").toString
    val store = new Store(spark, root)
    store.appendHistory("hist", Seq(
      ("p1", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("p2", 2.0, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("product_id", "price", "crawled_at"))
    val e = intercept[java.io.IOException](store.archiveHistory("hist", "2024-03-01"))
    assert(e.getMessage.contains("rename"), e.getMessage)
    // nothing was counted as archived AND the partition is still live
    assert(store.history("hist").get.count() == 2)
    assert(store.history("hist_archive").isEmpty)
  }

  test("re-archiving a compacted date succeeds on a filesystem whose renames never clobber") {
    spark.sparkContext.hadoopConfiguration.set("fs.noclobber.impl",
      classOf[NoClobberRenameFs].getName)
    val root = "noclobber://" + Files.createTempDirectory("graft_rearch").toString
    val store = new Store(spark, root)
    def append(id: String, t: String): Unit = store.appendHistory("hist",
      Seq((id, 1.0, java.sql.Timestamp.valueOf(t))).toDF("product_id", "price", "crawled_at"))
    append("p1", "2024-01-01 08:00:00"); append("p2", "2024-01-01 09:00:00")
    assert(store.compactHistory("hist") == 1)
    assert(store.archiveHistory("hist", "2024-03-01") == 2)
    // late appends to the archived date, compacted in turn: the live and
    // the archived copy of __date=2024-01-01 now both hold a _SUCCESS
    append("p3", "2024-01-01 10:00:00"); append("p4", "2024-01-01 11:00:00")
    assert(store.compactHistory("hist") == 1)
    assert(store.archiveHistory("hist", "2024-03-01") == 2)
    assert(store.history("hist").isEmpty)
    assert(store.history("hist_archive").get.count() == 4)
    assert(store.archiveHistory("hist", "2024-03-01") == 0)
  }

  test("vacuum surfaces a delete that fails non-exceptionally") {
    spark.sparkContext.hadoopConfiguration.set("fs.faildelete.impl",
      classOf[FailDeleteGenFs].getName)
    val root = "faildelete://" + Files.createTempDirectory("graft_vacfail").toString
    val store = new Store(spark, root)
    for (i <- 1 to 3)
      store.upsert("t", Seq(("p1", i.toDouble)).toDF("product_id", "price"), Seq("product_id"))
    val e = intercept[java.io.IOException](store.vacuum("t", keep = 1))
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // the generation is still on disk and the newest snapshot still reads
    assert(store.snapshot("t").get.count() == 1)
  }

  test("multi-batch store lifecycle: 3 days of upsert+history+latest+archive " +
      "match a sequential model") {
    val root = Files.createTempDirectory("graft_life").toString
    val store = new Store(spark, root)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 3 daily batches; day2 carries a null price for p1 (upsert must keep old)
    val days = Seq(
      Seq(("p1", Some(1.0), ts("2024-01-01 08:00:00")),
        ("p2", Some(2.0), ts("2024-01-01 09:00:00"))),
      Seq(("p1", None, ts("2024-01-02 08:00:00")),
        ("p2", Some(20.0), ts("2024-01-02 09:00:00")),
        ("p3", Some(3.0), ts("2024-01-02 10:00:00"))),
      Seq(("p1", Some(100.0), ts("2024-01-03 08:00:00")),
        ("p4", Some(4.0), ts("2024-01-03 09:00:00"))))
    days.foreach { batch =>
      val df = batch.toDF("product_id", "price", "crawled_at")
      store.upsert("products", df.drop("crawled_at"), Seq("product_id"))
      store.appendHistory("crawl_history", df)
      store.upsertLatest("crawl_history", df, Seq("product_id"))
    }
    // sequential model of the upsert: last non-null value per key wins
    val model = days.flatten.foldLeft(Map.empty[String, Option[Double]]) {
      case (m, (k, v, _)) => m.updated(k, v.orElse(m.getOrElse(k, None)))
    }
    val snap = store.snapshot("products").get
      .select("product_id", "price").as[(String, Option[Double])]
      .collect().toMap
    assert(snap == model)
    // latest companion = global latest-per-key over all appended events
    val latestModel = days.flatten.groupBy(_._1).map { case (k, rows) =>
      k -> rows.maxBy(_._3.getTime)._3
    }
    val latest = store.latest("crawl_history").get
      .select("product_id", "crawled_at")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(latest == latestModel)
    // archive days 1-2, keep day 3; totals conserved across live + archive
    val archived = store.archiveHistory("crawl_history", "2024-01-03")
    assert(archived == 5)
    assert(store.history("crawl_history").get.count() == 2)
    assert(store.history("crawl_history_archive").get.count() == 5)
    // archiving EVERYTHING leaves an empty live table, read as never-written
    assert(store.archiveHistory("crawl_history", "2024-02-01") == 2)
    assert(store.history("crawl_history").isEmpty)
    assert(store.history("crawl_history_archive").get.count() == 7)
  }

  test("vacuum drops old generations, keeps the newest, snapshot intact") {
    val root = Files.createTempDirectory("graft_vac").toString
    val store = new Store(spark, root)
    store.upsert("products", Seq(("a", 1.0)).toDF("product_id", "price"), Seq("product_id"))
    store.upsert("products", Seq(("b", 2.0)).toDF("product_id", "price"), Seq("product_id"))
    store.upsert("products", Seq(("a", 9.0)).toDF("product_id", "price"), Seq("product_id"))
    import scala.jdk.CollectionConverters._
    def genDirs() = Files.list(java.nio.file.Paths.get(root, "products"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("gen_")).toSeq.sorted
    assert(genDirs().size == 3)
    assert(store.vacuum("products", keep = 1) == 2)
    assert(genDirs() == Seq("gen_000002"))
    val snap = store.snapshot("products").get.orderBy("product_id")
      .select("product_id", "price").as[(String, Double)].collect().toSeq
    assert(snap == Seq(("a", 9.0), ("b", 2.0)))
    assert(store.vacuum("products", keep = 1) == 0) // idempotent
  }

  test("snapshotAt time-travels to any retained generation; vacuum bounds the horizon") {
    val root = Files.createTempDirectory("graft_tt").toString
    val store = new Store(spark, root)
    store.upsert("products", Seq(("a", 1.0)).toDF("product_id", "price"), Seq("product_id"))
    store.upsert("products", Seq(("b", 2.0)).toDF("product_id", "price"), Seq("product_id"))
    store.upsert("products", Seq(("a", 9.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(store.generations("products") == Seq(0, 1, 2))
    def rows(g: Int) = store.snapshotAt("products", g).get.orderBy("product_id")
      .select("product_id", "price").as[(String, Double)].collect().toSeq
    // each pinned generation reproduces the exact pre-upsert states
    assert(rows(0) == Seq(("a", 1.0)))
    assert(rows(1) == Seq(("a", 1.0), ("b", 2.0)))
    assert(rows(2) == Seq(("a", 9.0), ("b", 2.0)))
    // the pin survives later upserts (immutable generations)
    store.upsert("products", Seq(("c", 5.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(rows(1) == Seq(("a", 1.0), ("b", 2.0)))
    // ... until vacuum reclaims it: the horizon is a retention decision
    store.vacuum("products", keep = 2)
    assert(store.generations("products") == Seq(2, 3))
    assert(store.snapshotAt("products", 1).isEmpty)
    assert(store.snapshotAt("products", 99).isEmpty)
  }

  test("a crashed writer's partial generation is invisible to readers and reclaimed by vacuum") {
    val root = Files.createTempDirectory("graft_partial").toString
    val store = new Store(spark, root)
    store.upsert("products", Seq(("a", 1.0)).toDF("product_id", "price"), Seq("product_id"))
    // simulate an upsert that died mid-write: the gen dir exists with data
    // files but the committer never wrote _SUCCESS, and the claim marker
    // was never cleaned (claims are tombstones by design)
    val dir = new org.apache.hadoop.fs.Path(s"$root/products/gen_000001")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(("partial", 666.0)).toDF("product_id", "price")
      .write.parquet(dir.toString)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/products/.claim_gen_000001"), false).close()
    // readers never see the truncated snapshot — not as latest, not by pin
    assert(store.generations("products") == Seq(0))
    assert(store.snapshot("products").get.select("price").as[Double].collect().toSeq
      == Seq(1.0))
    assert(store.snapshotAt("products", 1).isEmpty)
    // the next upsert numbers PAST the partial (its claim tombstone would
    // collide) and becomes the new latest
    store.upsert("products", Seq(("a", 2.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(store.generations("products") == Seq(0, 2))
    assert(store.snapshot("products").get.select("price").as[Double].collect().toSeq
      == Seq(2.0))
    // vacuum reclaims the superseded partial (no longer the raw-newest, so
    // it cannot be an in-flight writer's directory)
    store.vacuum("products", keep = 2)
    assert(!fs.exists(dir))
    assert(store.generations("products") == Seq(0, 2))
  }

  test("a claimed generation whose data landed but whose commit did not stays invisible") {
    val root = Files.createTempDirectory("graft_uncommitted").toString
    val store = new Store(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(table: String, gen: Int, name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(f"$root/$table/gen_$gen%06d/$name"))
    store.upsert("products", Seq(("a", 1.0)).toDF("product_id", "price"), Seq("product_id"))
    // a real upsert claims and commits through Generations: an overwrite-
    // mode write would have deleted the claim it made before writing
    assert(marker("products", 0, "_CLAIM") && marker("products", 0, "_COMMITTED"))
    // an upsert that died between its data write and its commit: claim,
    // data and the committer's _SUCCESS, but no _COMMITTED
    val dir = new org.apache.hadoop.fs.Path(s"$root/products/gen_000001")
    fs.create(new org.apache.hadoop.fs.Path(dir, "_CLAIM"), false).close()
    Seq(("partial", 666.0)).toDF("product_id", "price").write.mode("append").parquet(dir.toString)
    assert(marker("products", 1, "_SUCCESS") && !marker("products", 1, "_COMMITTED"))
    assert(store.generations("products") == Seq(0))
    assert(store.snapshot("products").get.select("price").as[Double].collect().toSeq
      == Seq(1.0))
    assert(store.snapshotAt("products", 1).isEmpty)
    // the next upsert numbers past it; vacuum reclaims it once it sits
    // below the newest committed generation
    store.upsert("products", Seq(("a", 2.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(store.generations("products") == Seq(0, 2))
    assert(store.snapshot("products").get.select("price").as[Double].collect().toSeq
      == Seq(2.0))
    assert(store.vacuum("products", keep = 2) == 1)
    assert(!fs.exists(dir))
  }

  test("a store tree in the pre-Generations layout reads as before and upserts past it") {
    val root = Files.createTempDirectory("graft_legacy_layout").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(name: String) = new org.apache.hadoop.fs.Path(s"$root/products/$name")
    // the old format: committed generations hold only the committer's root
    // _SUCCESS, each claimed by a sibling .claim_gen_N file; gen_000002 is
    // a crashed upsert's partial (data, no _SUCCESS)
    for ((price, g) <- Seq(1.0, 2.0, 666.0).zipWithIndex) {
      Seq(("a", price)).toDF("product_id", "price").write.parquet(path(f"gen_$g%06d").toString)
      fs.create(path(f".claim_gen_$g%06d"), false).close()
    }
    assert(fs.delete(path("gen_000002/_SUCCESS"), false))
    val store = new Store(spark, root)
    def prices(df: org.apache.spark.sql.DataFrame) = df.select("price").as[Double].collect().toSeq
    assert(store.generations("products") == Seq(0, 1))
    assert(prices(store.snapshot("products").get) == Seq(2.0))
    assert(prices(store.snapshotAt("products", 0).get) == Seq(1.0))
    assert(store.snapshotAt("products", 2).isEmpty)
    // the partial is the newest dir — possibly a writer in flight — so
    // vacuum leaves it, as it did before
    assert(store.vacuum("products", keep = 2) == 0)
    // the next upsert numbers past every legacy dir and commits the new way
    store.upsert("products", Seq(("b", 3.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(store.generations("products") == Seq(0, 1, 3))
    assert(fs.exists(path("gen_000003/_CLAIM")) && fs.exists(path("gen_000003/_COMMITTED")))
    assert(!fs.exists(path(".claim_gen_000003")))
    assert(store.snapshot("products").get.orderBy("product_id")
      .select("product_id", "price").as[(String, Double)].collect().toSeq
      == Seq(("a", 2.0), ("b", 3.0)))
    // the partial now sits below the newest committed generation
    assert(store.vacuum("products", keep = 1) == 3)
    assert(store.generations("products") == Seq(3))
    assert((0 to 2).forall(g => !fs.exists(path(f"gen_$g%06d"))))
    // legacy claim files are ignored, not read and not reclaimed
    assert(fs.exists(path(".claim_gen_000000")))
  }

  test("a generation an older version wrote bucketed through the catalog reads by path") {
    val root = Files.createTempDirectory("graft_bucketed_layout").toString
    // what the bucketed layout left on disk: bucket-numbered part files and
    // the committer's _SUCCESS at the generation root; its catalog entry
    // lived only in the writing session
    Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("product_id", "price")
      .write.bucketBy(4, "product_id").sortBy("product_id")
      .option("path", s"$root/products/gen_000000").saveAsTable("graft_bucketed_layout")
    spark.sql("DROP TABLE graft_bucketed_layout")
    val store = new Store(spark, root)
    store.upsert("products", Seq(("b", 9.0), ("d", 4.0)).toDF("product_id", "price"),
      Seq("product_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("product_id")
      .select("product_id", "price").as[(String, Double)].collect().toSeq
    assert(rows(store.snapshotAt("products", 0).get) == Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
    assert(rows(store.snapshot("products").get) ==
      Seq(("a", 1.0), ("b", 9.0), ("c", 3.0), ("d", 4.0)))
    assert(store.generations("products") == Seq(0, 1))
  }

  test("store works against an explicit file: URI (Hadoop FS read path)") {
    val root = "file:" + Files.createTempDirectory("graft_uri").toString
    val store = new Store(spark, root)
    store.upsert("products", Seq(("a", 1.0), ("b", 2.0)).toDF("product_id", "price"),
      Seq("product_id"))
    store.upsert("products", Seq(("b", 3.0)).toDF("product_id", "price"), Seq("product_id"))
    val snap = store.snapshot("products").get
    assert(snap.count() == 2)
    assert(snap.filter(col("product_id") === "b").select("price").as[Double].collect()(0) == 3.0)
  }

  test("upsertLatest companion equals a global latest-per-key across appends") {
    val root = Files.createTempDirectory("graft_latest").toString
    val store = new Store(spark, root)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(("p1", 1.0, ts("2024-01-01 00:00:00")), ("p2", 2.0, ts("2024-01-02 00:00:00")))
      .toDF("product_id", "price", "crawled_at")
    val b2 = Seq(("p1", 9.0, ts("2024-02-01 00:00:00")))
      .toDF("product_id", "price", "crawled_at")
    store.appendHistory("h", b1)
    store.upsertLatest("h", b1, Seq("product_id"))
    store.appendHistory("h", b2)
    store.upsertLatest("h", b2, Seq("product_id"))
    val got = store.latest("h").get.orderBy("product_id")
      .select("product_id", "price").as[(String, Double)].collect().toSeq
    assert(got == Seq(("p1", 9.0), ("p2", 2.0)))
    // and the full log is intact (companion is additive, not a replacement)
    assert(store.history("h").get.count() == 3)
  }

  test("history events conform to the declared crawl_history schema") {
    import graft.schema.Schemas
    // the CDC event columns must be a subset of the declared at-rest schema
    // (modulo types refined at write time)
    val eventCols = Set("product_id", "crawl_type", "price", "previous_price",
      "price_change", "price_change_percent", "sales_count",
      "previous_sales_count", "sales_change", "is_flash_sale", "crawled_at")
    assert(eventCols.subsetOf(Schemas.crawlHistory.fieldNames.toSet))
    assert(Schemas.product.fieldNames.contains("product_id"))
    assert(Schemas.category.fieldNames.toSet.contains("is_leaf"))
  }

  test("pinned-snapshot retention: inside the keep window reads are exact; outside, failure is loud") {
    val root = Files.createTempDirectory("graft_pin").toString
    val store = new Store(spark, root)
    store.upsert("products", Seq(("a", 1.0)).toDF("product_id", "price"), Seq("product_id"))
    val pinned = store.snapshotAt("products", 0).get
    // the pin survives upserts while its generation stays in the keep window
    store.upsert("products", Seq(("a", 2.0)).toDF("product_id", "price"), Seq("product_id"))
    store.upsert("products", Seq(("a", 3.0)).toDF("product_id", "price"), Seq("product_id"))
    assert(pinned.select("price").as[Double].collect().toSeq == Seq(1.0))
    // a long-horizon pin is a retention decision: keep covers it, all good
    assert(store.vacuum("products", keep = 3) == 0)
    assert(pinned.select("price").as[Double].collect().toSeq == Seq(1.0))
    // outside the window, BOTH failure paths are loud, never silently wrong:
    store.vacuum("products", keep = 2)
    // (a) a fresh pin of the dropped generation is None
    assert(store.snapshotAt("products", 0).isEmpty)
    // (b) the held handle's plan captured the dropped generation's files —
    // its next action surfaces the missing files instead of serving any
    // surviving generation's rows
    val e = intercept[Throwable](pinned.select("price").as[Double].collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
      Option(c.getMessage).exists(m => m.contains("FileNotFound") || m.contains("does not exist"))),
      s"expected a loud missing-files failure, got: $e")
  }

  test("rejectReason labels a NULL url bad_url, not unknown (rlike(NULL) skipped the branch)") {
    val rows = Seq(
      ("1", "ok name", null: String, 1.0, 2.0, 1.0, 0L),
      ("2", "ok name", "https://x/y", 1.0, 2.0, 1.0, 0L))
      .toDF("product_id", "name", "url", "price", "original_price", "rating_average", "sales_count")
    val got = rows.filter(!Transform.validity)
      .withColumn("r", Transform.rejectReason)
      .select("product_id", "r").as[(String, String)].collect().toMap
    assert(got == Map("1" -> "bad_url"))
  }
}
