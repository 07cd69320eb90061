package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColumnOps
import graft.functions.TextAnalysis
import graft.operators.{Ann, Corpus, Dedup, Hierarchy, History, Merge, Multimodal, Similarity}
import graft.quality.Checks
import graft.streaming.Streams
import graft.warehouse.StarSchema

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql` where ANSI-SQL
  * expressible.
  *
  * Conventions that keep the Spark↔DuckDB hash compare stable:
  *  - money/quantity aggregates run in DECIMAL(18,2) (exact, associative —
  *    identical in any execution order/engine), outputs cast to DOUBLE;
  *  - counts cast to BIGINT explicitly on both sides;
  *  - every result carries a total ORDER BY with tie-breakers;
  *  - the `events.ts` column is nanosecond-precision parquet; Spark reads
  *    µs — we never output a raw ts, only date_trunc'd values.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-(query, sfDir, process) scratch dir, wiped at each construction.
    * The key carries the sanitized sfDir AND the JVM pid: two concurrent
    * graft JVMs (a Bench beside a Verify spot-check, or two Verify runs on
    * different scale factors) must never wipe each other's live scratch
    * mid-query; within one JVM repeated builds (bench passes, PlanSpec
    * sweeps) reuse one directory instead of leaking a tree per
    * construction. */
  private def scratch(name: String, dir: String): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9._-]", "_")
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_${name}_${key}_${ProcessHandle.current().pid()}")
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    ScratchJanitor.register(p.toFile)
    p.toString
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** exact decimal sum, exported as double */
  private def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** portable average: exact decimal sum / count, rounded, as double */
  private def davg(c: Column): Column =
    round(sum(dec(c)).cast(DoubleType) / count(c), 4)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ==========================================================================
  // Lifecycle fixtures (q71–q92): the set-up their constructions share
  // ==========================================================================

  /** Cut `df` at the `crawled_at` instants `cuts` into `cuts.size + 1`
    * consecutive day slices. */
  private def slicesAt(df: DataFrame, cuts: String*): Seq[DataFrame] = {
    val c = cuts.map(lit(_).cast(TimestampType))
    val ts = col("crawled_at")
    (0 to c.size).map {
      case 0 => df.filter(ts < c(0))
      case i if i == c.size => df.filter(ts >= c(i - 1))
      case i => df.filter(ts >= c(i - 1) && ts < c(i))
    }
  }

  /** `events` as CDC observations, one per event; `event_id` rides along
    * as the latest-per-key tie-break. */
  private def cdcObservations(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("user_id").as("product_id"),
      col("value").as("price"),
      (col("value") + 10.0).as("original_price"),
      lit(null).cast(DoubleType).as("discount_percent"),
      (col("event_id") % 100).as("sales_count"),
      col("ts").as("crawled_at"),
      col("event_id"))

  /** Each key's latest observation derived against the history before
    * 2024-01-16 (q33), state older than `staleHorizon` treated as absent. */
  private def cdcDerived(s: SparkSession, dir: String,
      staleHorizon: Option[String]): DataFrame = {
    val ev = cdcObservations(s, dir)
    val hist = ev.filter(col("crawled_at") < lit("2024-01-16 00:00:00").cast(TimestampType)).drop("event_id")
    val batch = Merge.latestPerKey(ev, Seq("product_id"), "crawled_at", Seq(col("event_id").desc)).drop("event_id")
    History.deriveEvents(batch, hist, None, staleHorizon = staleHorizon)
      .withColumn("crawled_at", date_trunc("second", col("crawled_at")))
      .orderBy(col("product_id"))
  }

  /** A slice's latest observation per key, as one CDC sink batch. */
  private def latestBatch(slice: DataFrame): DataFrame =
    // checkpointed: cdcProcessBatch evaluates its batch twice (the
    // bucket-prune collect + the derive), and here each evaluation
    // would re-run the latest-per-key window over the slice — pin the
    // tiny batch once instead (the streaming sink's batches are cheap
    // file re-reads and stay unpinned; this is the construction path)
    Merge.latestPerKey(slice, Seq("product_id"), "crawled_at",
      Seq(col("event_id").desc)).drop("event_id").localCheckpoint()

  /** The q76 CDC sink run: three day slices through `process` (default:
    * cdcProcessBatch) as batches 0-2 of an event tree in `query`'s
    * scratch. Returns the tree's path. */
  private def cdcSinkRun(s: SparkSession, dir: String, query: String)(
      process: (DataFrame, String, Long) => Unit = Streams.cdcProcessBatch(_, _, _)): String = {
    val histPath = s"${scratch(query, dir)}/history"
    slicesAt(cdcObservations(s, dir), "2024-01-11 00:00:00", "2024-01-21 00:00:00")
      .zipWithIndex.foreach { case (sl, i) =>
        process(Phase(s, "cdc.input")(latestBatch(sl)), histPath, i.toLong)
      }
    histPath
  }

  /** An event tree's rows in full, by batch then key. */
  private def cdcEventRows(tree: DataFrame): DataFrame =
    tree.select(col("product_id"), col("price"), col("original_price"),
        col("discount_percent"), col("discount_amount"),
        col("price_change"), col("price_change_percent"),
        col("previous_price"), col("previous_original_price"), col("previous_discount_percent"),
        col("sales_count"), col("sales_change"), col("is_flash_sale"), col("crawl_type"),
        date_trunc("second", col("crawled_at")).as("crawled_at"),
        col("batch_id").cast(LongType).as("batch_id"))
      .orderBy(col("batch_id"), col("product_id"))

  /** An event tree's price/sales columns only. */
  private def cdcEventSummary(tree: DataFrame): DataFrame =
    tree.select(col("product_id"), col("price"), col("previous_price"),
      col("price_change"), col("sales_count"), col("sales_change"),
      col("crawl_type"), date_trunc("second", col("crawled_at")).as("crawled_at"),
      col("batch_id").cast(LongType).as("batch_id"))

  /** Six 5-day slices of January 2024. */
  private val FiveDayCuts = Seq("2024-01-06", "2024-01-11", "2024-01-16", "2024-01-21",
    "2024-01-26").map(d => s"$d 00:00:00")

  private val ObsSchema = "product_id STRING, price DOUBLE, sales_count BIGINT, crawled_at TIMESTAMP"

  /** `events` thinned by `thin` as streaming observations: string key,
    * price, `optional` columns, event time. */
  private def streamObs(s: SparkSession, dir: String, thin: Column,
      optional: Column*): DataFrame =
    t(s, dir, "events").filter(thin).select(
      Seq(concat(lit("u"), col("user_id").cast(StringType)).as("product_id"),
        col("value").as("price")) ++ optional :+ col("ts").as("crawled_at"): _*)

  private val obsSalesCount = (col("event_id") % 100).cast(LongType).as("sales_count")

  /** Append each slice to `root/src` and run `op` over the file stream to
    * completion: one micro-batch per slice, with a query RESTART between
    * slices, so state crosses batches only through the checkpoint at
    * `root/ckpt`. Returns the parquet sink dir. `obs` sizes the keyed
    * state; callers checkpoint it, as each slice write would otherwise
    * re-run the events scan + filter + projection. */
  private def restartEachSlice(root: String, obs: DataFrame, slices: Seq[DataFrame])(
      op: DataFrame => org.apache.spark.sql.Dataset[_]): String = {
    val s = obs.sparkSession
    val srcDir = s"$root/src"; val outDir = s"$root/out"
    // keyed-state shuffle partitions DERIVED from the stream's own
    // catalog estimate (Streams.stateShufflePartitions' documented
    // sizing rule — the pre-r19 literal `8` was tuned to this catalog):
    // the count is pinned into the checkpoint at first start, and every
    // restart re-opens one state store per partition. One cheap
    // approx-distinct job over the checkpointed key column pays for it.
    val statePartitions = Streams.stateShufflePartitions(
      obs.agg(approx_count_distinct(col("product_id"))).head.getLong(0))
    slices.foreach { sl =>
      sl.write.mode("append").parquet(srcDir)
      // session conf restored after each start (the stream holds its own
      // copy); a real deployment sizes this to its catalog
      val before = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        val q = op(s.readStream.schema(ObsSchema).parquet(srcDir)).writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .format("parquet").option("path", outDir).outputMode("append").start()
        q.processAllAvailable(); q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", before)
    }
    outDir
  }

  /** A streaming CDC sink's change events, by key then event time. */
  private def streamCdcRows(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
      .select(col("product_id"), col("crawl_type"), col("price"),
        col("previous_price"), col("price_change"), col("sales_change"),
        date_trunc("second", col("crawled_at")).as("crawled_at"))
      .orderBy(col("product_id"), col("crawled_at"))

  /** The ingest fixture: `documents` split by `doc_id % 5` into batches
    * b1..b`batches` (residues 0..batches-1) and a corpus (the rest). The
    * corpus is indexed at `path` and b1 ingested through Dedup.ingestCycle
    * — the ledgered path (dedup → append survivors → stats row), so the
    * oracle gates the exact append it performs. Returns b2..b`batches`. */
  private def ingestFixture(s: SparkSession, dir: String, path: String,
      batches: Int): Seq[DataFrame] = {
    val docs = t(s, dir, "documents")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(
      docs.filter(col("doc_id") % 5 >= batches), "doc_id", "text"), path)
    Dedup.ingestCycle(docs.filter(col("doc_id") % 5 === 0), path, "doc_id", "text", threshold = 0.3)
    (1 until batches).map(i => docs.filter(col("doc_id") % 5 === i))
  }

  /** A batch's dedup verdicts against the index at `path`. */
  private def verdicts(s: SparkSession, batch: DataFrame, path: String): DataFrame =
    Dedup.dedupAgainstIndex(batch, Dedup.readMinhashIndex(s, path),
      "doc_id", "text", threshold = 0.3)
      .select(col("id").as("doc_id"), col("is_dup"), col("dup_of"), col("jaccard"))

  /** The id manifest at `path` in the verdict columns, tagged `phase`. */
  private def manifestListing(s: SparkSession, path: String, phase: Long): DataFrame =
    Dedup.minhashIndexIds(s, path).select(
      lit(phase).as("phase"), col("id").as("doc_id"),
      lit(null).cast(BooleanType).as("is_dup"),
      lit(null).cast(LongType).as("dup_of"),
      lit(null).cast(DoubleType).as("jaccard"))

  /** The first `n` embedding vectors, as injected IVF centroids. */
  private def firstVectors(emb: DataFrame, n: Int): Array[Array[Double]] =
    // ≤16 rows collected: same capped driver-side exception as readIvf's
    // centroid load (documented in Ann)
    emb.filter(col("vec_id") < n)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** The IVF fixture: an 8-list layout at `path` with INJECTED centroids
    * (the first 8 embeddings), built over `vec_id % 5 != 4` and then
    * appended the rest. Returns `embeddings`. */
  private def ivfFixture(s: SparkSession, dir: String, path: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.writeIvf(Ann.buildIvfFixed(emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "embedding", firstVectors(emb, 8)), path)
    Ann.appendToIvf(emb.filter(col("vec_id") % 5 === 4), path, "vec_id", "embedding")
    emb
  }

  /** The IVF probe: top-5 over 4 lists for every 101st vector. */
  private def ivfProbe(s: SparkSession, emb: DataFrame, path: String): DataFrame =
    Ann.ivfTopK(emb.filter(col("vec_id") % 101 === 7), Ann.readIvf(s, path),
      "vec_id", "embedding", k = 5, nprobe = 4)
      .withColumn("rank", col("rank").cast(LongType))

  // ==========================================================================
  // Queries
  // ==========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- A1/A7: single-pass pricing summary (grouped min/max/avg/count) -----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).cast(LongType).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- A2: global scalar stats row ----------------------------------------
    "q02_global_stats" -> ((s, dir) => {
      t(s, dir, "orders").agg(
        count(lit(1)).cast(LongType).as("n_orders"),
        countDistinct(col("o_custkey")).cast(LongType).as("n_customers"),
        dsum(col("o_totalprice")).as("sum_total"),
        davg(col("o_totalprice")).as("avg_total"),
        date_trunc("second", max(col("o_orderdate"))).as("max_orderdate"))
    }),

    // --- A3: conditional counts (COUNT FILTER) ------------------------------
    "q03_conditional_counts" -> ((s, dir) => {
      t(s, dir, "orders").agg(
        count(when(col("o_orderstatus") === "F", 1)).cast(LongType).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).cast(LongType).as("n_o"),
        count(when(col("o_orderpriority") === "1-URGENT", 1)).cast(LongType).as("n_urgent"),
        count(when(col("o_totalprice") > 100000, 1)).cast(LongType).as("n_big"))
    }),

    // --- A5/D5: grouped count + top-10 --------------------------------------
    "q04_top_groups" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .orderBy(col("n").desc, col("p_brand").asc)
        .limit(10)
    }),

    // --- J1/J2/P5: fact enriched by two broadcast dim joins ------------------
    "q05_enrich_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p  = broadcast(t(s, dir, "part"))
      val su = broadcast(t(s, dir, "supplier"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("p_name"), col("p_brand"), col("s_name"),
          (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(1000)
    }),

    // --- J6: upsert merge with COALESCE(NULLIF(new,''), old) semantics ------
    "q06_upsert_merge" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldDf = orders.select("o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus")
      val newDf = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("").as("o_orderpriority"),
          lit("U").as("o_orderstatus"))
      Merge.upsertMerge(oldDf, newDf, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // --- J7: latest-per-key (DISTINCT ON analogue) ---------------------------
    "q07_latest_per_key" -> ((s, dir) => {
      Merge.latestPerKey(t(s, dir, "events"), Seq("user_id"), "ts", Seq(col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value").cast(DoubleType).as("value"))
        .orderBy(col("user_id"))
    }),

    // --- as-of join: latest prior 'click' for each 'purchase' ---------------
    "q08_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      Merge.asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          col("value").cast(DoubleType).as("value"),
          col("click_value").cast(DoubleType).as("click_value"))
        .orderBy(col("event_id"))
    }),

    // --- sessionization: 30-minute inactivity gap (batch shape of the
    //     streaming session-window; SURVEY.md §2.10) -------------------------
    "q09_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast(DoubleType) - col("prev_ts").cast(DoubleType) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).cast(LongType).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // --- tumbling time-window aggregation (streaming batch analogue) --------
    "q10_window_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // --- J4: anti join (cleanup / not-exists) --------------------------------
    "q11_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy(col("o_orderkey"))
    }),

    // --- F5: semi join (exists / skip-set) ------------------------------------
    "q12_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey"))
    }),

    // --- U2: set difference ----------------------------------------------------
    "q13_set_except" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"))
        .except(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    // --- U1/D1: union + order-insensitive dedup -------------------------------
    "q14_union_dedup" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
      o.filter(col("o_orderkey") % 3 === 0)
        .unionByName(o.filter(col("o_orderkey") % 2 === 0))
        .distinct()
        .orderBy(col("o_orderkey"))
    }),

    // --- D3: top-N per group (window) ------------------------------------------
    "q15_topn_per_group" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("c_mktsegment"), col("rank").cast(LongType).as("rank"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rank"))
    }),

    // --- D4: priority-ordered top-k (scheduler query) ---------------------------
    "q16_priority_topk" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("priority",
          when(col("event_type") === "error", 0L)
            .when(col("event_type") === "purchase", 1L)
            .otherwise(2L))
        .orderBy(col("priority").asc, col("value").desc, col("event_id").asc)
        .select(col("event_id"), col("user_id"), col("event_type"), col("priority"),
          col("value").cast(DoubleType).as("value"))
        .limit(50)
    }),

    // --- A7/rollup: hierarchical subtotals --------------------------------------
    "q17_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).cast(LongType).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // --- A7-C: HAVING --------------------------------------------------------
    "q18_having" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          davg(col("p_retailprice")).as("avg_price"))
        .filter(col("n") >= 50)
        .orderBy(col("p_type"))
    }),

    // --- X21/A7-D: CASE bucketing + per-bucket aggregates ----------------------
    "q19_bucket_case" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .when(col("o_totalprice") < 300000, "large")
            .otherwise("jumbo"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy(col("bucket"))
    }),

    // --- X13/X14: discount math + flash-sale flag per row ----------------------
    "q20_discount_math" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          ColumnOps.discountAmount(dec(col("l_extendedprice")),
            dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast(DoubleType).as("discount_amount"),
          ColumnOps.discountPercent(dec(col("l_extendedprice")),
            dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast(DoubleType).as("discount_percent"),
          (dec(col("l_extendedprice")) * dec(col("l_discount")) >= 2000).as("is_flash_sale"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // --- text analysis: token counts + document fingerprint -----------------
    "q21_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("token_count"),
        TextAnalysis.bpeTokenCount(col("text")).cast(LongType).as("bpe_token_count"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- text analysis: stopword language-ID -------------------------------
    "q22_language_id" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langPredict(TextAnalysis.tokens(col("text"))).as("lang_pred"))
        .withColumn("correct", col("lang_pred") === col("lang"))
        .orderBy(col("doc_id"))
    }),

    // --- text analysis: quality + stopword-ratio scoring --------------------
    "q23_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.stopwordRatio(TextAnalysis.tokens(col("text"))).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // --- exact dedup on normalized-text fingerprint, first(min id) wins -----
    "q24_exact_dedup" -> ((s, dir) => {
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // --- MinHash + LSH near-dup pairs, Jaccard-verified ----------------------
    "q25_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.3, shingleN = 3, numHashes = 12, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- all-pairs n-gram Jaccard via inverted-index join --------------------
    //     (the auto dense-vs-inverted route probe is the only route: r18
    //     measured a probe bypass at ×2.46 SLOWER here — this corpus's 2-gram
    //     vocabulary fits the dense bitmap route, and the probe's one
    //     vocabulary shuffle is far cheaper than losing it) -----------------
    "q26_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- SimHash near-dup candidates (banded, hamming-verified) --------------
    "q27_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 16, maxDist = 3)
        .withColumn("hamming", col("hamming").cast(LongType))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- embedding-cosine near-dup pairs via sign-LSH buckets ----------------
    "q28_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, planes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- brute-force cosine top-k ANN ----------------------------------------
    "q29_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- LSH-bucketed ANN top-k ----------------------------------------------
    "q30_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", k = 5, planes = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- H1/H4: hierarchy path materialization over a 3-level taxonomy ------
    //     (region → nation → supplier as category tree)
    "q31_hierarchy_paths" -> ((s, dir) => {
      val cats = t(s, dir, "region")
        .select(concat(lit("r"), col("r_regionkey")).as("url"), col("r_name").as("name"),
          lit(null).cast(StringType).as("parent_url"))
        .unionByName(t(s, dir, "nation")
          .select(concat(lit("n"), col("n_nationkey")).as("url"), col("n_name").as("name"),
            concat(lit("r"), col("n_regionkey")).as("parent_url")))
        .unionByName(t(s, dir, "supplier")
          .select(concat(lit("s"), col("s_suppkey")).as("url"), col("s_name").as("name"),
            concat(lit("n"), col("s_nationkey")).as("parent_url")))
      Hierarchy.withIsLeaf(Hierarchy.resolvePaths(cats, maxDepth = 4))
        .select(col("url"),
          array_join(col("category_path"), ">").as("path"),
          col("level").cast(LongType).as("level"),
          col("is_leaf"))
        .orderBy(col("url"))
    }),

    // --- D2: dedup by key, best-wins (shortest url, then longest name) ------
    "q32_best_wins_dedup" -> ((s, dir) => {
      Hierarchy.dedupBestWins(t(s, dir, "part")
        .select(col("p_brand").as("category_id"), col("p_name").as("url"), col("p_type").as("name")))
        .orderBy(col("category_id"))
    }),

    // --- CDC history derivation (J7 + X13–X15 + F7) --------------------------
    "q33_history_cdc" -> ((s, dir) => {
      cdcDerived(s, dir, staleHorizon = None)
    }),

    // --- P1/P2/F1: nested→flat transform with normalization + validation ----
    "q34_transform_flatten" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val raw = o.join(c, o("o_custkey") === c("c_custkey")).select(
        col("o_orderkey").cast(StringType).as("product_id"),
        concat(lit("  Product  "), col("o_orderpriority"), lit("  ")).as("raw_name"),
        concat(lit("https://tiki.vn/p/"), col("o_orderkey")).as("url"),
        struct(col("o_totalprice").as("current_price"),
          (col("o_totalprice") * 1.25).as("original_price")).as("price"),
        struct(((col("o_orderkey") % 70) / 10.0).as("average"),
          (col("o_orderkey") % 500).as("total_reviews")).as("rating"),
        struct(col("c_name").as("name"), (col("c_custkey") % 2 === 0).as("is_official")).as("seller"),
        ((col("o_orderkey") % 11) - 1).as("sales_count"))
      val flat = raw.select(
        col("product_id"),
        ColumnOps.normalizeText(col("raw_name")).as("name"),
        col("url"),
        col("price.current_price").as("price"),
        col("price.original_price").as("original_price"),
        ColumnOps.discountPercent(col("price.original_price"), col("price.current_price")).as("discount_percent"),
        col("rating.average").as("rating_average"),
        col("rating.total_reviews").cast(LongType).as("rating_count"),
        col("seller.name").as("seller_name"),
        col("seller.is_official").as("seller_is_official"),
        coalesce(col("sales_count"), lit(0)).cast(LongType).as("sales_count"))
      flat.filter(
        col("product_id").rlike("^[0-9]+$") &&
          col("url").rlike("^https?://") &&
          col("price").isNotNull && col("price") >= 0 && col("price") <= col("original_price") &&
          col("rating_average") >= 0 && col("rating_average") <= 5 &&
          col("sales_count") >= 0)
        .orderBy(col("product_id"))
    }),

    // --- X1–X6, X11: parser/normalizer scalar-function pack ------------------
    "q35_parsers" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        ColumnOps.parsePrice(concat(col("p_retailprice").cast(IntegerType), lit("₫"))).as("parsed_price"),
        ColumnOps.parseSalesCount(
          when(col("p_partkey") % 3 === 0, concat((col("p_partkey") % 90).cast(StringType), lit("k")))
            .when(col("p_partkey") % 3 === 1, concat(lit("Đã bán "), (col("p_partkey") % 50).cast(StringType)))
            .otherwise((col("p_partkey") % 1000).cast(StringType))).as("parsed_sales"),
        ColumnOps.extractProductId(concat(lit("https://tiki.vn/san-pham/p/"), col("p_partkey"))).as("pid"),
        ColumnOps.extractCategoryId(concat(lit("https://tiki.vn/ao-thun/c"), col("p_partkey") % 100)).as("cid"),
        ColumnOps.normalizeCategoryId(
          when(col("p_partkey") % 2 === 0, concat(lit("C"), (col("p_partkey") % 100).cast(StringType)))
            .otherwise((col("p_partkey") % 100).cast(StringType))).as("cid_norm"),
        ColumnOps.nameFromSlug(concat(lit("https://tiki.vn/ao-thun-nam/c"), col("p_partkey") % 100)).as("slug_name"),
        ColumnOps.normalizeUrl(lit("https://tiki.vn/x?b=2&utm_source=g&a=1&spid=3#frag")).as("norm_url"))
        .orderBy(col("p_partkey"))
    }),

    // --- A8/X19/X21/F2: completeness score, segments, seller validity -------
    "q36_quality_flags" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.select(
        col("c_custkey"),
        ColumnOps.completenessScore(
          critical = Seq(col("c_name").isNotNull, col("c_custkey").isNotNull),
          important = Seq(col("c_mktsegment").isNotNull, length(col("c_mktsegment")) > 8),
          optional = Seq(col("c_acctbal") > 0)).as("completeness"),
        ColumnOps.priceSegment(col("c_acctbal") * 1000).as("segment"),
        ColumnOps.priceCategory(col("c_acctbal") * 1000).as("category"),
        ColumnOps.isOfficialSeller(
          when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit(" Official Store")))
            .otherwise(col("c_name"))).as("is_official"),
        ColumnOps.validSellerName(
          when(col("c_custkey") % 5 === 0, lit("123"))
            .when(col("c_custkey") % 5 === 1, lit("đã mua hàng x"))
            .otherwise(col("c_name"))).as("seller_name"))
        .orderBy(col("c_custkey"))
    }),

    // --- X8–X10: Vietnamese name cleaning / shortening UDFs ------------------
    //     Not ANSI-SQL-expressible (Unicode word-boundary regex passes) →
    //     no oracleSql entry; correctness is covered by the 20-case
    //     differential golden suite in NameCleanerSpec (outputs of the
    //     reference implementation executed directly).
    "q37_name_cleaning" -> ((s, dir) => {
      import graft.functions.NameCleaner
      val names = Seq(
        "Áo thun nam CV0016 cao cấp #hot 2024",
        "[HOT] Quần jean nữ - ",
        "Bình giữ nhiệt 500ml SKU-123",
        "Kệ gỗ W76x30.5xH11.5Cm đa năng",
        "Tai nghe bluetooth 5.0 chống ồn MS 456 giá sốc!!!",
        "Combo 3 món đồ chơi trẻ em thông minh 2023",
        "Giày thể thao nam - hàng nội địa (size 39-44)",
        "Balo laptop 15.6 inch chống nước, siêu bền, bảo hành 12 tháng")
      import s.implicits._
      val base = t(s, dir, "part").limit(200)
      val withNames = base.withColumn("raw_name",
        element_at(
          typedLit(names),
          (col("p_partkey") % names.size).cast(IntegerType) + 1))
      withNames.select(
        col("p_partkey"),
        col("raw_name"),
        NameCleaner.cleanNameUdf(col("raw_name")).as("clean_name"),
        NameCleaner.shortNameUdf(col("raw_name")).as("short_name"))
        .orderBy(col("p_partkey"))
    }),

    // --- multimodal: binary asset column + partition-mapped stub decode -----
    //     (decode itself is a deterministic fake — the contract under test is
    //     the Spark-side plumbing: binary column, per-partition decoder,
    //     feature schema, metadata-only resize)
    "q38_multimodal" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val assets = Multimodal.asAsset(docs, "text", "text/plain")
      val decoded = Multimodal.decodeAssets(assets, "asset")
      Multimodal.resizeMeta(decoded, 512)
        .select(col("doc_id"), col("width"), col("height"), col("duration_ms"),
          col("f0"), col("f1"), col("f2"), col("f3"),
          col("resized_width"), col("resized_height"))
        .orderBy(col("doc_id"))
    }),

    // --- J9/X20/X21: star-schema build — dim dedup + SK assignment, dim_date,
    //     price-segment ladder, broadcast fact assembly ----------------------
    "q39_star_fact" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val dimBrand = StarSchema.dim(part, Seq("p_brand"), "brand_sk")
      val dimDate = StarSchema.dimDate(orders, "o_orderdate")
      val src = li
        .join(orders.select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(part.select(col("p_partkey"), col("p_brand"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
      val fact = StarSchema.fact(src,
        Seq(dimBrand -> Seq("p_brand"), dimDate -> Seq("date")),
        keep = Seq(
          StarSchema.priceSegmentSk(col("p_retailprice") * 1000).as("segment_sk"),
          (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .as("rev")))
      fact.groupBy(col("brand_sk"), col("segment_sk"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          countDistinct(col("date_sk")).cast(LongType).as("n_dates"),
          sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("brand_sk"), col("segment_sk"))
    }),

    // --- §5c quality checker: one-pass rule report + FK orphans + dup keys --
    "q40_quality_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val rules = Seq(
        Checks.inRange("l_quantity", 1, 50),
        Checks.inRange("l_discount", 0, 0.1),
        Checks.inRange("l_tax", 0, 0.08),
        Checks.required("l_returnflag"))
      val base = Checks.report(li, rules)
      val orphans = Checks.fkOrphans(li, orders, "l_orderkey", "o_orderkey")
        .agg(count(lit(1)).cast(LongType).as("violations"))
        .withColumn("rule", lit("fk_orphans_lineitem_orders")).select("rule", "violations")
      val dups = Checks.duplicates(li, Seq("l_orderkey", "l_linenumber"))
        .agg(count(lit(1)).cast(LongType).as("violations"))
        .withColumn("rule", lit("duplicate_line_keys")).select("rule", "violations")
      base.unionByName(orphans).unionByName(dups).orderBy(col("rule"))
    }),

    // --- F5: staleness skip — latest activity per key, anti vs fresh set ----
    //     (detail-skip predicate: rows touched within N days are skipped;
    //      reference interval on updated_at, tasks/detail.py:194-216)
    "q41_staleness_skip" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tss", date_trunc("second", col("ts")))
      val latest = ev.groupBy(col("user_id"))
        .agg(max(col("tss")).as("last_ts"), count(lit(1)).cast(LongType).as("n_events"))
      val ref = latest.agg(max(col("last_ts")).as("ref_ts"))
      latest.crossJoin(broadcast(ref))
        .filter(col("last_ts") < col("ref_ts") - expr("INTERVAL 1 DAYS"))
        .select(col("user_id"), col("last_ts"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    // --- A4: coverage stats — recency-bucketed distinct keys + windowed avg -
    "q42_crawl_coverage" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tss", date_trunc("second", col("ts")))
      val latest = ev.groupBy(col("user_id")).agg(max(col("tss")).as("last_ts"))
      val ref = latest.agg(max(col("last_ts")).as("ref_ts"))
      val buckets = latest.crossJoin(broadcast(ref)).agg(
        count(when(col("last_ts") >= col("ref_ts") - expr("INTERVAL 1 DAYS"), 1))
          .cast(LongType).as("seen_24h"),
        count(when(col("last_ts") < col("ref_ts") - expr("INTERVAL 1 DAYS") &&
          col("last_ts") >= col("ref_ts") - expr("INTERVAL 7 DAYS"), 1))
          .cast(LongType).as("seen_7d"),
        count(when(col("last_ts") < col("ref_ts") - expr("INTERVAL 7 DAYS"), 1))
          .cast(LongType).as("seen_older"),
        count(lit(1)).cast(LongType).as("total_users"))
      val recent = ev.crossJoin(broadcast(ref))
        .filter(col("tss") >= col("ref_ts") - expr("INTERVAL 30 DAYS"))
        .agg(count(lit(1)).cast(LongType).as("events_30d"), davg(col("value")).as("avg_value_30d"))
      buckets.crossJoin(recent)
    }),

    // --- §2.10 per-day quota: rate-limited take of k events per key per day -
    "q43_daily_quota" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tss", date_trunc("second", col("ts")))
        .withColumn("day", date_format(col("tss"), "yyyy-MM-dd"))
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("tss").asc, col("event_id").asc)
      val kept = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      kept.groupBy(col("day"))
        .agg(count(lit(1)).cast(LongType).as("kept"),
          countDistinct(col("user_id")).cast(LongType).as("users"))
        .orderBy(col("day"))
    }),

    // --- X17/X18: map column ops — JSON payload → MapType → key access ------
    "q44_map_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
      ev.select(col("event_type"),
          element_at(col("m"), "k").cast(LongType).as("k"),
          size(map_keys(col("m"))).cast(LongType).as("nkeys"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("k")).cast(LongType).as("sum_k"),
          max(col("nkeys")).cast(LongType).as("max_keys"))
        .orderBy(col("event_type"))
    }),

    // --- IVF ANN: KMeans inverted lists + nprobe search (scale path; no SQL
    //     oracle — KMeans isn't SQL-expressible, driver does rows-only) -----
    "q45_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // build-once semantics: the index is an offline artifact; the query
      // measures the probe (Bench pre-builds it in warmup). Served from the
      // PERSISTED list-partitioned layout so the measured probe includes the
      // partition-pruned scan — the 100 TB read path, not a checkpoint.
      val index = operators.Ann.persistedIvfCached(dir, emb, "vec_id", "embedding", nlist = 16)
      operators.Ann.ivfTopK(emb.filter(col("vec_id") < 20), index,
        "vec_id", "embedding", k = 10, nprobe = 4)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- P4/F3: read-side detail-merge — detail truthy values overwrite the
    //     listing, sales_count prefers detail, brand-required gate ----------
    "q46_detail_merge" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val listing = part.select(
        col("p_partkey").as("product_id"),
        col("p_name").as("name"),
        when(col("p_partkey") % 7 === 0, lit(null).cast(StringType))
          .otherwise(col("p_brand")).as("brand"),
        col("p_retailprice").as("price"),
        when(col("p_partkey") % 5 === 0, lit(null).cast(LongType))
          .otherwise(col("p_size").cast(LongType)).as("sales_count"),
        col("p_type").as("description"))
      val detail = part.filter(col("p_partkey") % 2 === 0).select(
        col("p_partkey").as("product_id"),
        when(col("p_partkey") % 4 === 0, lit(""))
          .otherwise(concat(lit("D-"), col("p_brand"))).as("brand"),
        when(col("p_partkey") % 3 === 0, lit(0.0))
          .otherwise(col("p_retailprice") + 100.0).as("price"),
        when(col("p_partkey") % 6 === 0, lit(null).cast(LongType))
          .otherwise(col("p_size").cast(LongType) * 2).as("sales_count"),
        lit(null).cast(StringType).as("description"))
      Merge.detailMerge(listing, detail, "product_id",
        detailWins = Seq("brand", "price", "description"),
        preferDetail = Seq("sales_count"),
        requireCol = Some("brand"))
        .orderBy(col("product_id"))
    }),

    // --- J3: category product-count join (OR-match as union of equi-joins) --
    "q47_category_counts" -> ((s, dir) => {
      val cats = t(s, dir, "region")
        .select(concat(lit("r"), col("r_regionkey")).as("url"),
          lit(null).cast(LongType).as("category_id"), lit(false).as("is_leaf"))
        .unionByName(t(s, dir, "nation")
          .select(concat(lit("n"), col("n_nationkey")).as("url"),
            lit(null).cast(LongType).as("category_id"), lit(false).as("is_leaf")))
        .unionByName(t(s, dir, "supplier")
          .select(concat(lit("s"), col("s_suppkey")).as("url"),
            when(col("s_suppkey") % 10 === 0, lit(null).cast(LongType))
              .otherwise(col("s_suppkey") + 1000L).as("category_id"),
            lit(true).as("is_leaf")))
        .withColumn("product_count", lit(-1L))
      val prods = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("product_id"),
        when(col("l_linenumber") % 2 === 0, concat(lit("s"), col("l_suppkey")))
          .otherwise(lit(null).cast(StringType)).as("category_url"),
        when(col("l_linenumber") % 2 === 1, col("l_suppkey") + 1000L)
          .otherwise(lit(null).cast(LongType)).as("category_id"))
      Hierarchy.categoryProductCounts(cats, prods)
        .select("url", "category_id", "is_leaf", "product_count")
        .orderBy(col("url"))
    }),

    // --- P6: _metadata enrichment — missing_fields + score + quality label --
    "q48_metadata" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val f = c.select(
        col("c_custkey"),
        col("c_name").as("name"),
        when(col("c_custkey") % 11 === 0, lit(null).cast(DoubleType))
          .otherwise(col("c_acctbal") * 1000).as("price"),
        when(col("c_custkey") % 5 === 0, lit("123"))
          .when(col("c_custkey") % 5 === 1, lit("x"))
          .otherwise(col("c_name")).as("seller_name"),
        when(col("c_custkey") % 3 === 0, lit("")).otherwise(col("c_mktsegment")).as("brand"),
        when(col("c_custkey") % 7 === 0, lit(null).cast(LongType))
          .otherwise(col("c_custkey") % 100).as("category_id"),
        when(col("c_custkey") % 2 === 0, lit(null).cast(DoubleType))
          .otherwise((col("c_custkey") % 50) / 10.0).as("rating_average"),
        when(col("c_custkey") % 13 === 0, lit(null).cast(LongType))
          .otherwise(col("c_custkey") % 500).as("sales_count"))
      val m = ColumnOps.enrichMetadata(
        critical = Seq(
          "name" -> (col("name").isNotNull && col("name") =!= ""),
          "price" -> col("price").isNotNull,
          "product_id" -> col("c_custkey").isNotNull),
        important = Seq(
          "seller_name" -> ColumnOps.validSellerName(col("seller_name")).isNotNull,
          "brand" -> (col("brand").isNotNull && col("brand") =!= ""),
          "category_id" -> col("category_id").isNotNull),
        optional = Seq(
          "rating_average" -> col("rating_average").isNotNull,
          "sales_count" -> col("sales_count").isNotNull),
        retryCount = col("c_custkey") % 3,
        crawlStatus = when(col("c_custkey") % 2 === 0, lit("success")).otherwise(lit("partial")))
      f.withColumn("_m", m).select(
        col("c_custkey"),
        array_join(col("_m.missing_fields"), ",").as("missing_fields"),
        col("_m.data_completeness_score").as("completeness"),
        col("_m.retry_count").cast(LongType).as("retry_count"),
        col("_m.data_quality").as("data_quality"),
        col("_m.crawl_status").as("crawl_status"))
        .orderBy(col("c_custkey"))
    }),

    // --- curation pipeline end-to-end: lang/quality gates → exact dedup →
    //     MinHash near-dup removal; output = kept corpus ids --------------
    "q50_curation" -> ((s, dir) => {
      val res = pipeline.Curation.curate(t(s, dir, "documents"), "doc_id", "text",
        allowedLangs = Seq("en", "vi"), minQuality = 0.5,
        nearDupThreshold = 0.7, shingleN = 3)
      res.kept.select("doc_id", "lang", "source", "n_chars").orderBy(col("doc_id"))
    }),

    // --- corpus prep: deterministic stratified sample per language ----------
    "q51_stratified_sample" -> ((s, dir) => {
      Corpus.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", n = 20)
        .select("doc_id", "lang", "source")
        .orderBy(col("doc_id"))
    }),

    // --- corpus prep: per-language token-budget packing (data mixing) -------
    "q52_token_budget" -> ((s, dir) => {
      Corpus.tokenBudgetPack(t(s, dir, "documents"), "lang", "doc_id", "text",
        budget = 5000L)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // --- corpus prep: fixed-size token chunking with overlap ----------------
    "q53_chunking" -> ((s, dir) => {
      Corpus.chunkDocs(t(s, dir, "documents"), "text", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
          col("chunk_tokens"), md5(col("chunk_text")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // --- corpus prep: PII detection + redaction (pure regexp expressions) ---
    "q54_pii_scrub" -> ((s, dir) => {
      import graft.functions.Scrub
      val d = t(s, dir, "documents")
      // plant deterministic PII so the scrub has something to find
      val planted = d.withColumn("text2",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact me at user"), col("doc_id"),
            lit("@example.com or https://ex.com/p?id="), col("doc_id")))
          .when(col("doc_id") % 7 === 0,
            concat(lit("call +84 123 456 789 now "), col("text")))
          .otherwise(col("text")))
      planted.select(
        col("doc_id"),
        Scrub.emailCount(col("text2")).cast(LongType).as("n_emails"),
        Scrub.urlCount(col("text2")).cast(LongType).as("n_urls"),
        Scrub.phoneCount(col("text2")).cast(LongType).as("n_phones"),
        Scrub.hasPii(col("text2")).as("has_pii"),
        md5(Scrub.redactPii(col("text2"))).as("redacted_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- corpus prep: benchmark decontamination (shared-shingle semi-join) --
    "q55_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 50 =!= 0)
      val evalSet = d.filter(col("doc_id") % 50 === 0)
      Corpus.decontaminate(corpus, evalSet, "doc_id", "text", shingleN = 5)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // --- text quality: Gopher-style repetition scoring ----------------------
    "q57_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__tk", TextAnalysis.tokens(col("text")))
      d.select(
        col("doc_id"),
        TextAnalysis.dupNgramFraction(col("__tk"), 1).as("dup_token_frac"),
        TextAnalysis.dupNgramFraction(col("__tk"), 2).as("dup_bigram_frac"),
        (TextAnalysis.dupNgramFraction(col("__tk"), 2) > 0.2).as("is_repetitive"))
        .orderBy(col("doc_id"))
    }),

    // --- near-dup clustering: MinHash pairs → connected components ----------
    "q56_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.3, shingleN = 3, numHashes = 12, bands = 4)
      Dedup.clusterNearDups(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // --- H5: path-root repair — root name forced to index 1 of every path ---
    "q49_path_root" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").join(t(s, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      val withPath = sup.select(col("s_suppkey"),
        when(col("s_suppkey") % 3 === 0, array(col("n_name"), col("s_name")))
          .when(col("s_suppkey") % 3 === 1, array(col("n_name"), lit("Root"), col("s_name")))
          .otherwise(array(lit("Root"), col("n_name"), col("s_name"))).as("category_path"))
      Hierarchy.fixPathRoot(withPath, "category_path", "Root")
        .select(col("s_suppkey"), array_join(col("category_path"), ">").as("path"))
        .orderBy(col("s_suppkey"))
    }),

    // --- H3: recursive JSON category tree → flat (name,url,parent,level) ----
    //     trees assembled region→nation→supplier, flattened by the bounded
    //     per-level explode loop (extract_categories.py:30-74) --------------
    "q58_tree_flatten" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nk"),
        struct(col("s_name").as("name"),
          concat(lit("/s/"), col("s_suppkey")).as("url")).as("ch"))
      val supByNation = sup.groupBy("nk")
        .agg(sort_array(collect_list(col("ch"))).as("children"))
      val nat = t(s, dir, "nation")
        .join(supByNation, col("n_nationkey") === col("nk"), "left")
        .select(col("n_regionkey").as("rk"),
          struct(col("n_name").as("name"),
            concat(lit("/n/"), col("n_nationkey")).as("url"),
            col("children")).as("ch"))
      val natByRegion = nat.groupBy("rk")
        .agg(sort_array(collect_list(col("ch"))).as("children"))
      val trees = t(s, dir, "region")
        .join(natByRegion, col("r_regionkey") === col("rk"), "left")
        .select(to_json(struct(col("r_name").as("name"),
          concat(lit("/r/"), col("r_regionkey")).as("url"),
          col("children"))).as("tree"))
      Hierarchy.flattenTree(trees, "tree", maxDepth = 5)
        .select(col("name"), col("url"), col("parent_url"),
          col("level").cast(LongType).as("level"))
        .orderBy(col("url"))
    }),

    // --- H6: missing-parent repair — orphans pulled from a reference dim,
    //     the rest auto-created as slug-named placeholder roots; paths and
    //     is_leaf re-derived (tasks/loader.py:21-219) ----------------------
    "q59_parent_repair" -> ((s, dir) => {
      val cats = t(s, dir, "nation")
        .select(concat(lit("/c/n"), col("n_nationkey")).as("url"),
          col("n_name").as("name"),
          concat(lit("/c/r"), col("n_regionkey")).as("parent_url"))
        .unionByName(t(s, dir, "region").filter(col("r_regionkey") % 2 === 0)
          .select(concat(lit("/c/r"), col("r_regionkey")).as("url"),
            col("r_name").as("name"),
            lit(null).cast(StringType).as("parent_url")))
      val refDim = t(s, dir, "region").filter(col("r_regionkey") === 1)
        .select(concat(lit("/c/r"), col("r_regionkey")).as("url"),
          concat(lit("REF "), col("r_name")).as("name"),
          lit(null).cast(StringType).as("parent_url"))
      Hierarchy.repairParents(cats, refDim)
        .select(col("url"), col("name"), col("parent_url"),
          array_join(col("category_path"), ">").as("path"),
          col("level").cast(LongType).as("level"), col("is_leaf"))
        .orderBy(col("url"))
    }),

    // --- A6/§2.8: transform-stats ledger — the full Transform.run stage over
    //     a nested fixture, stats exposed as one deterministic row
    //     (transformer.py:113-187) -----------------------------------------
    "q60_transform_stats" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val key = col("o_orderkey")
      val raw = o.join(c, o("o_custkey") === c("c_custkey")).select(
        when(key % 13 === 0, concat(lit("X"), key.cast(StringType)))
          .otherwise((key % 4000).cast(StringType)).as("product_id"),
        when(key % 17 === 0, lit("   "))
          .otherwise(concat(lit("  Product  "), col("o_orderpriority"), lit("  "))).as("name"),
        concat(lit("Thương hiệu: Brand"), (key % 5).cast(StringType)).as("brand"),
        when(key % 19 === 0, lit("ftp://bad"))
          .otherwise(concat(lit("https://shop.example/p/"), key)).as("url"),
        when(key % 29 === 0, lit(null).cast(ArrayType(StringType)))
          .otherwise(array(lit("Root"), col("o_orderpriority"))).as("category_path"),
        struct(
          col("o_totalprice").as("current_price"),
          when(key % 23 === 0, col("o_totalprice") * 0.5)
            .otherwise(col("o_totalprice") * 1.25).as("original_price"),
          lit(null).cast(DoubleType).as("discount_percent")).as("price"),
        struct(((key % 70) / 10.0).as("average"),
          (key % 500).cast(LongType).as("total_reviews")).as("rating"),
        struct(col("c_name").as("name"), (key % 2 === 0).as("is_official")).as("seller"),
        struct((key % 3 === 0).as("available")).as("stock"),
        when(key % 3 === 0, concat((key % 90).cast(StringType), lit("k")))
          .when(key % 3 === 1, concat(lit("Đã bán "), (key % 50).cast(StringType)))
          .otherwise((key % 1000).cast(StringType)).as("sales_count"),
        concat(lit("2024-01-"), lpad(((key % 28) + 1).cast(StringType), 2, "0"),
          lit(" 10:00:00")).as("crawled_at"))
      val st = graft.transform.Transform.run(raw, materialize = false).stats
      Seq((st.total, st.valid, st.invalid, st.duplicatesRemoved,
        st.valid - st.duplicatesRemoved))
        .toDF("total", "valid", "invalid", "duplicates_removed", "kept")
    }),

    // --- H2/K1: tree build — children grouped per parent, name-sorted ------
    "q61_tree_build" -> ((s, dir) => {
      val cats = t(s, dir, "nation")
        .select(concat(lit("/c/n"), col("n_nationkey")).as("url"),
          col("n_name").as("name"),
          concat(lit("/c/r"), col("n_regionkey")).as("parent_url"))
        .unionByName(t(s, dir, "region")
          .select(concat(lit("/c/r"), col("r_regionkey")).as("url"),
            col("r_name").as("name"),
            lit(null).cast(StringType).as("parent_url")))
      Hierarchy.childrenByParent(cats)
        .select(col("parent_url"),
          size(col("children")).cast(LongType).as("n_children"),
          array_join(transform(col("children"), c => c.getField("name")), "|")
            .as("child_names"))
        .orderBy(col("parent_url"))
    }),

    // --- data mixing: hash-threshold mixture sampling (shuffle-free) --------
    "q62_mixture_sample" -> ((s, dir) => {
      Corpus.mixtureSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.3))
        .select("doc_id", "lang", "source")
        .orderBy(col("doc_id"))
    }),

    // --- vocabulary build: top-k tokens by frequency (tokenizer prep) -------
    "q63_top_tokens" -> ((s, dir) => {
      Corpus.topTokens(t(s, dir, "documents"), "text", 100)
        .orderBy(col("n").desc, col("token"))
    }),

    // --- S5: raw JSON payload → typed nested product (schema-first parse;
    //     payload assembled from part, absent fields must surface as null) --
    "q64_payload_parse" -> ((s, dir) => {
      val key = col("p_partkey")
      val raw = t(s, dir, "part").select(to_json(struct(
        key.cast(StringType).as("product_id"),
        col("p_name").as("name"),
        when(key % 3 === 0, lit(null).cast(StringType))
          .otherwise(col("p_brand")).as("brand"),
        concat(lit("https://shop.example/p/"), key).as("url"),
        struct(col("p_retailprice").as("current_price"),
          lit(null).cast(DoubleType).as("discount_percent"),
          lit("VND").as("currency")).as("price"),
        array(lit("img-1"), concat(lit("img-"), key)).as("images"),
        map(lit("container"), col("p_type")).as("specifications"),
        (key % 1000).cast(StringType).as("sales_count"))).as("payload"))
      graft.sources.Sources.parseRawProducts(raw, "payload")
        .select(col("product_id"), col("name"), col("brand"),
          col("price.current_price").as("current_price"),
          col("price.currency").as("currency"),
          col("price.original_price").as("original_price"), // absent -> null
          col("rating.average").as("rating_average"),       // absent -> null
          size(col("images")).cast(LongType).as("n_images"),
          element_at(col("specifications"), "container").as("spec_container"),
          col("sales_count"))
        .orderBy(col("product_id").cast(LongType))
    }),

    // --- S6-S9/J6: the Store write path END-TO-END as an oracle-checked
    //     query — 3 daily keyed batches upserted + appended + archived in a
    //     fresh temp store, final snapshot returned with live/archived
    //     history totals (deterministic: same fixture every run).
    //     NOTE for plan-only tooling: building this query RUNS the store
    //     writes (upserts + archive are imperative; only the final read is
    //     a plan). The scratch dir is per-(sfDir, pid) and wiped at entry,
    //     so repeated builds (bench passes, PlanSpec sweeps, plan dumps)
    //     reuse one directory instead of leaking a tree per construction,
    //     and concurrent graft JVMs never clobber each other. --------------
    "q65_store_lifecycle" -> ((s, dir) => {
      val root = scratch("q65", dir)
      val store = new graft.store.Store(s, root)
      val o = t(s, dir, "orders")
      for (d <- 0 to 2) {
        val batch = o.filter(col("o_orderkey") % 3 === d)
          .select((col("o_orderkey") % 500).cast(StringType).as("product_id"),
            col("o_totalprice").as("price"),
            lit(f"2024-01-0${d + 1}%d 10:00:00").cast(TimestampType).as("crawled_at"),
            col("o_orderkey").as("event_id"))
        val keyed = Merge.latestPerKey(batch, Seq("product_id"), "crawled_at",
          Seq(col("event_id").desc)).drop("event_id")
        // disjoint tables (products snapshot vs hist append), both derived
        // from the same deterministic frame — overlap the two writes
        // (guide §2.6); ordering between them was never observable
        graft.Par.run(
          () => store.upsert("products", keyed.drop("crawled_at"), Seq("product_id")),
          () => store.appendHistory("hist", keyed))
      }
      val archived = store.archiveHistory("hist", "2024-01-03")
      val totals = store.history("hist").get
        .agg(count(lit(1)).cast(LongType).as("n_live"))
        .withColumn("n_archived", lit(archived))
      store.snapshot("products").get
        .crossJoin(broadcast(totals))
        .orderBy(col("product_id"))
    }),

    // --- §7.4#3: batch → cache → DB precedence merge as one relational pass -
    "q66_precedence_merge" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val batch = n.filter(col("n_nationkey") % 2 === 0).select(
        col("n_nationkey").as("k"),
        when(col("n_nationkey") % 4 === 0, lit("")).otherwise(concat(lit("B-"), col("n_name"))).as("name"),
        when(col("n_nationkey") % 6 === 0, lit(null).cast(LongType))
          .otherwise(col("n_nationkey") * 10).as("pop"))
      val cache = n.filter(col("n_nationkey") % 3 === 0).select(
        col("n_nationkey").as("k"),
        concat(lit("C-"), col("n_name")).as("name"),
        (col("n_nationkey") * 100).cast(LongType).as("pop"))
      val db = n.select(
        col("n_nationkey").as("k"),
        concat(lit("D-"), col("n_name")).as("name"),
        when(col("n_nationkey") % 5 === 0, lit(null).cast(LongType))
          .otherwise(col("n_nationkey") * 1000).as("pop"))
      Merge.precedenceMerge(Seq(batch, cache, db), "k")
        .orderBy(col("k"))
    }),

    // --- skew handling: salted agg + salted join, result-identical to the
    //     unsalted forms (the oracle IS the unsalted SQL) ------------------
    "q67_skew_salted" -> ((s, dir) => {
      import operators.SkewJoin
      // lineitem's l_suppkey plays the skewed fact key; supplier is the dim
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"),
        col("s_name"), col("s_nationkey"))
      val agg = SkewJoin.saltedSumCount(
        li.select(col("l_suppkey"), dec(col("l_quantity")).as("q")),
        "l_suppkey", "q", buckets = 8, saltFrom = Seq("l_suppkey", "q"))
        .select(col("l_suppkey"), col("sum_q").cast(DoubleType).as("sum_qty"), col("n"))
      SkewJoin.saltedJoin(agg, sup, "l_suppkey",
        buckets = 8, saltFrom = Seq("l_suppkey", "n"))
        .select(col("l_suppkey"), col("sum_qty"), col("n"), col("s_name"), col("s_nationkey"))
        .orderBy(col("l_suppkey"))
    }),

    // --- data mixing: deterministic hash-range train/val/test split ---------
    "q68_split_assign" -> ((s, dir) => {
      Corpus.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split")
        .orderBy(col("doc_id"))
    }),

    // --- incremental dedup: a new batch vs an already-indexed corpus --------
    //     (every 5th doc plays the incoming batch; the rest are the corpus)
    "q69_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text",
        threshold = 0.3, shingleN = 3, numHashes = 12, bands = 4)
        .select(col("id").as("doc_id"), col("is_dup"), col("dup_of"), col("jaccard"))
        .orderBy(col("doc_id"))
    }),

    // --- S1+S4 END-TO-END: crawl-envelope JSON files (assembled
    //     deterministically from `part`) read schema-first through
    //     Sources.readEnvelope, flattened, written through the atomic sink,
    //     re-read, and digested per envelope. The JSON+parquet round-trip is
    //     identity on the constructed fields, so the oracle reproduces the
    //     digest straight from `part` — any envelope-schema, explode, or
    //     committer bug breaks the hash match. Like q65 this RUNS file
    //     writes at construction; per-(sfDir, pid) scratch wiped at entry. -
    "q70_envelope_roundtrip" -> ((s, dir) => {
      val scratchDir = scratch("q70", dir)
      val part = t(s, dir, "part")
      // 20 envelope files, each {crawled_at, total_products, products:[...]}
      val envelopes = part
        .select((col("p_partkey") % 20).as("env"),
          struct(
            col("p_partkey").cast(StringType).as("product_id"),
            col("p_name").as("name"),
            col("p_brand").as("brand"),
            concat(lit("https://shop.example/p/"), col("p_partkey")).as("url"),
            struct(col("p_retailprice").cast(DoubleType).as("current_price"),
              lit("VND").as("currency")).as("price")).as("p"))
        .groupBy("env")
        .agg(to_json(struct(
          concat(lit("2024-01-01T00:00:"),
            lpad(col("env").cast(StringType), 2, "0")).as("crawled_at"),
          count(lit(1)).as("total_products"),
          array_sort(collect_list(col("p"))).as("products"))).as("value"))
      envelopes.select("value").write.mode("overwrite").text(s"$scratchDir/envelopes")
      val flat = graft.sources.Sources.readEnvelope(s, s"$scratchDir/envelopes")
      graft.sources.Sources.writeAtomic(
        flat.select(col("envelope_crawled_at"), col("product_id"), col("name"),
          col("brand"), col("price.current_price").as("current_price")),
        s"$scratchDir/out")
      s.read.parquet(s"$scratchDir/out")
        .groupBy(col("envelope_crawled_at"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          countDistinct(col("brand")).cast(LongType).as("n_brands"),
          dsum(col("current_price")).as("sum_price"),
          min(col("product_id")).as("min_pid"),
          max(col("product_id")).as("max_pid"))
        .orderBy(col("envelope_crawled_at"))
    }),

    // --- the FULL incremental-dedup ingest cycle, oracle-gated: index the
    //     corpus, dedup batch 1 against it, append batch 1's survivors,
    //     dedup batch 2 against corpus ∪ survivors — batch 2's verdicts
    //     depend on the append being exactly right. Like q65/q70 this RUNS
    //     index writes at construction; per-(sfDir, pid) scratch wiped at
    //     entry. Batch 1 goes through Dedup.ingestCycle — the ledgered
    //     ingest path (dedup → append survivors → stats row) — so the
    //     oracle gates the exact append that path performs. ----------------
    "q71_ingest_cycle" -> ((s, dir) => {
      val path = scratch("q71", dir)
      val Seq(b2) = ingestFixture(s, dir, path, batches = 2)
      verdicts(s, b2, path).orderBy(col("doc_id"))
    }),

    // --- S2 + F6/H4: flat category-list JSON (assembled from region/nation
    //     as a 2-level hierarchy) read schema-first through
    //     Sources.readCategories, is_leaf computed by the REAL operator
    //     (anti-join on parent urls), digested. Construction writes the
    //     JSON fixture; per-(sfDir, pid) scratch wiped at entry. ------------
    "q72_category_roundtrip" -> ((s, dir) => {
      val scratchDir = scratch("q72", dir)
      val roots = t(s, dir, "region").select(
        concat(lit("https://shop.example/c/r"), col("r_regionkey")).as("url"),
        col("r_name").as("name"),
        lit(null).cast(StringType).as("parent_url"),
        concat(lit("c"), col("r_regionkey")).as("category_id"),
        lit(1).as("level"))
      val kids = t(s, dir, "nation").select(
        concat(lit("https://shop.example/c/n"), col("n_nationkey")).as("url"),
        col("n_name").as("name"),
        concat(lit("https://shop.example/c/r"), col("n_regionkey")).as("parent_url"),
        concat(lit("c"), col("n_regionkey") * 100 + col("n_nationkey")).as("category_id"),
        lit(2).as("level"))
      roots.unionByName(kids)
        .select(to_json(struct(col("url"), col("name"), col("parent_url"),
          col("category_id"), col("level"))).as("value"))
        .write.mode("overwrite").text(s"$scratchDir/categories")
      val cats = graft.sources.Sources.readCategories(s, s"$scratchDir/categories")
      Hierarchy.withIsLeaf(cats)
        .select(col("url"), col("name"), col("parent_url"),
          col("category_id"), col("level"), col("is_leaf"))
        .orderBy(col("url"))
    }),

    // --- COMPACTION under the oracle: a 3-batch ingest run with a
    //     compactMinhashIndex maintenance pass after EACH append — batch 3's
    //     verdicts depend on both appends AND both compactions preserving
    //     the index exactly (a dropped/duplicated row flips a verdict or a
    //     jaccard). The oracle knows nothing about files: it computes the
    //     same three-generation corpus purely relationally, so a hash match
    //     proves compaction is result-identity. CompactSpec separately
    //     asserts the file counts actually drop. Like q71 this RUNS index
    //     writes at construction; per-(sfDir, pid) scratch wiped at entry. -
    "q73_compacted_ingest" -> ((s, dir) => {
      val path = scratch("q73", dir)
      val Seq(b2, b3) = ingestFixture(s, dir, path, batches = 3)
      Dedup.compactMinhashIndex(s, path)
      Dedup.ingestCycle(b2, path, "doc_id", "text", threshold = 0.3)
      Dedup.compactMinhashIndex(s, path)
      verdicts(s, b3, path).orderBy(col("doc_id"))
    }),

    // --- IVF math under the oracle: INJECTED centroids (the first 8
    //     embedding vectors) make assignment, append, compaction and the
    //     nprobe-pruned probe pure deterministic arithmetic DuckDB can
    //     reproduce — closing q45's oracle blind spot down to the KMeans
    //     fit itself (spec-gated recall). Exercises buildIvfFixed →
    //     writeIvf (generation commit) → appendToIvf (schema-validated,
    //     nearest-centroid) → compactIvf (per-list rewrite) → readIvf
    //     (latest committed generation) → ivfTopK (partition-pruned scan).
    //     Like q65 this RUNS index writes at construction; per-(sfDir, pid)
    //     scratch wiped at entry. ------------------------------------------
    "q74_ivf_fixed" -> ((s, dir) => {
      val path = scratch("q74", dir)
      val emb = ivfFixture(s, dir, path)
      Ann.compactIvf(s, path)
      ivfProbe(s, emb, path).orderBy(col("query_id"), col("rank"))
    }),

    // --- §2.10 STATEFUL CDC, oracle-gated: flatMapGroupsWithState over a
    //     file-sourced stream, three day-sliced micro-batches with a query
    //     RESTART between each — classification state crosses batches via
    //     the checkpointed state store, never driver memory. The oracle is
    //     the lag-window form of the same classification: per key, ordered
    //     by (crawled_at, price, sales_count) — exactly statefulCdc's
    //     in-batch sort, and the day slices respect that order across
    //     batches, so stream output ≡ the global window. Like q65 this RUNS
    //     streaming queries at construction; per-(sfDir, pid) scratch wiped
    //     at entry. ---------------------------------------------------------
    "q75_stateful_cdc" -> ((s, dir) => {
      import s.implicits._
      val root = scratch("q75", dir)
      val obs = streamObs(s, dir, col("user_id") % 3 === 0, obsSalesCount).localCheckpoint()
      streamCdcRows(s, restartEachSlice(root, obs,
        slicesAt(obs, "2024-01-11 00:00:00", "2024-01-21 00:00:00"))(
        src => Streams.statefulCdc(src.as[Streams.ProductObs])))
    }),

    // --- §2.10 streaming CDC SINK, oracle-gated end-to-end: three keyed
    //     day-slice batches through cdcProcessBatch (the exact foreachBatch
    //     body cdcSink runs) — each derives against the maintained
    //     latest-per-key COMPANION generation, writes its own batch_id=
    //     event partition, and commits the next companion generation. The
    //     oracle collapses the companion recursion to a lag window over
    //     per-(key, batch) head rows: a no_change row never enters the
    //     companion but carries values identical to the prior state, so
    //     "previous state" ≡ the key's previous batch head row. Like q65
    //     this RUNS generational writes at construction; per-(sfDir, pid)
    //     scratch wiped at entry. -------------------------------------------
    "q76_cdc_sink" -> ((s, dir) => {
      val histPath = cdcSinkRun(s, dir, "q76")()
      cdcEventRows(Phase(s, "cdc.readBack")(s.read.parquet(histPath)))
    }),

    // --- S9 for the STREAMING event tree, oracle-gated: the q76 pipeline
    //     followed by archiveEventLog at a cutoff that fully expires
    //     batches 0-1 (every row older) but not batch 2. The query returns
    //     the LIVE tree after the move — the oracle recomputes the same
    //     derivation relationally and keeps only the unexpired batch, so a
    //     hash match proves the archive moved exactly the expired
    //     partitions and nothing else (a lost or double-moved row changes
    //     the live set). Companion generations under `_latest/` are
    //     untouched by construction. -----------------------------------------
    "q77_event_archive" -> ((s, dir) => {
      val histPath = cdcSinkRun(s, dir, "q77")()
      Streams.archiveEventLog(s, histPath, "2024-01-21 00:00:00")
      cdcEventSummary(Phase(s, "cdc.readBack")(s.read.parquet(histPath)))
        .orderBy(col("product_id"))
    }),

    // --- §2.10 batch→streaming MIGRATION, oracle-gated: statefulCdcFrom
    //     seeds the state store from a batch snapshot (latest-per-key over
    //     the pre-cutoff history — Store.latest's shape), then streams the
    //     post-cutoff observations through a file source. Known keys
    //     classify their first streamed observation against the SNAPSHOT
    //     (previous_price = the snapshot value), unseen keys as first
    //     sightings — the oracle reproduces this by unioning the seed rows
    //     as virtual order-0 observations under the same lag window. ---------
    "q78_bootstrap_cdc" -> ((s, dir) => {
      val root = scratch("q78", dir)
      val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
      val obs = streamObs(s, dir, col("user_id") % 3 === 0, obsSalesCount)
      val cut = lit("2024-01-16 00:00:00").cast(TimestampType)
      val snapshot = Merge.latestPerKey(
        obs.filter(col("crawled_at") < cut),
        Seq("product_id"), "crawled_at", Seq(col("price").desc, col("sales_count").desc))
      obs.filter(col("crawled_at") >= cut).write.mode("overwrite").parquet(srcDir)
      import s.implicits._
      val src = s.readStream.schema(ObsSchema).parquet(srcDir).as[Streams.ProductObs]
      val q = Streams.statefulCdcFrom(src, snapshot).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      streamCdcRows(s, outDir)
    }),

    // --- §2.10 staleness re-classification, oracle-gated: q33's derivation
    //     with a 15-day event-time horizon — previous state older than
    //     (crawled_at - horizon) is treated as absent, so a product
    //     returning after a long gap classifies as a first sighting (null
    //     previous_*, no deltas) instead of a change against forgotten
    //     state. The batch twin of statefulCdc's TTL eviction (the
    //     reference's recency policy, tasks/detail.py:196-216), decided in
    //     event time so it is deterministic and hash-gateable. --------------
    "q79_stale_cdc" -> ((s, dir) => {
      cdcDerived(s, dir, staleHorizon = Some("15 DAYS"))
    }),

    // --- archive retention tier, oracle-gated: the q77 pipeline, archival
    //     at the same cutoff, then compactArchive rewriting each archived
    //     partition's many per-task part files down to one. The query
    //     returns the ARCHIVE tree — q77 gates what STAYED live, this gates
    //     what MOVED: a hash match against the expired batches' derivation
    //     proves the rename + rewrite conserved every row and value (a
    //     compaction that dropped, duplicated, or mutated a row changes the
    //     hash). Like q65/q76 this RUNS generational writes at
    //     construction; per-(sfDir, pid) scratch wiped at entry. -------------
    "q80_archive_compact" -> ((s, dir) => {
      val histPath = cdcSinkRun(s, dir, "q80")()
      Streams.archiveEventLog(s, histPath, "2024-01-21 00:00:00")
      Streams.compactArchive(s, histPath)
      cdcEventSummary(Phase(s, "cdc.readBack")(s.read.parquet(s"$histPath/_archive")))
        .orderBy(col("batch_id"), col("product_id"))
    }),

    // --- §2.10 EVENT-TIME TTL CDC, oracle-gated: statefulCdcEventTime over
    //     six 5-day slices (observations thinned 8× so keys genuinely skip
    //     slices), one micro-batch per slice with a query RESTART between
    //     each (watermark + state restored from the checkpoint). A key idle
    //     past the 4-day horizon is evicted when the watermark passes it —
    //     in the no-data sweep batch Spark runs after every watermark
    //     advance, never in a batch where the key has data; the oracle
    //     models exactly that recursion relationally (per-batch cumulative
    //     max event-time in ms = the watermark; eviction iff the
    //     consecutive observations span different batches and the
    //     watermark through cur-1 passed prev + ttl), so a hash match
    //     proves the streaming eviction semantics, not just the happy
    //     path. ----------------------------------------------------------
    "q81_event_ttl_cdc" -> ((s, dir) => {
      import s.implicits._
      val root = scratch("q81", dir)
      val obs = streamObs(s, dir, col("user_id") % 3 === 0 && col("event_id") % 8 === 0,
        obsSalesCount).localCheckpoint()
      streamCdcRows(s, restartEachSlice(root, obs, slicesAt(obs, FiveDayCuts: _*))(
        src => Streams.statefulCdcEventTime(src.as[Streams.ProductObs],
          ttlMs = 4L * 24 * 3600 * 1000)))
    }),

    // --- STREAMING EXACT DEDUP under the oracle: dedupStream
    //     (dropDuplicatesWithinWatermark) over six file-source micro-batches
    //     with a restart per slice (q81's pattern — checkpoint restore of
    //     watermark + dedup state is load-bearing). Slices are per-key
    //     unique (latestPerKey) so within-batch arrival order cannot affect
    //     which row survives; the oracle models the state machine
    //     relationally with a RECURSIVE chain per key — dedup state does
    //     NOT refresh on dropped duplicates (expiry stays at the last KEPT
    //     row's event time + delay), so each row's verdict depends on the
    //     previous KEPT row, not the previous row. Eviction uses the same
    //     watermark recursion q81 pinned down (max event ms over earlier
    //     batches, strict >). -----------------------------------------------
    "q84_stream_dedup" -> ((s, dir) => {
      val root = scratch("q84", dir)
      val obs = streamObs(s, dir, col("user_id") % 3 === 0 && col("event_id") % 8 === 0,
        obsSalesCount, col("event_id")).localCheckpoint()
      val slices = slicesAt(obs, FiveDayCuts: _*).map(sl =>
        Merge.latestPerKey(sl, Seq("product_id"), "crawled_at",
          Seq(col("event_id").desc)).drop("event_id"))
      s.read.parquet(restartEachSlice(root, obs, slices)(
        src => Streams.dedupStream(src, Seq("product_id"), "crawled_at", "4 days")))
        .select(col("product_id"), col("price"), col("sales_count"),
          date_trunc("second", col("crawled_at")).as("crawled_at"))
        .orderBy(col("product_id"), col("crawled_at"))
    }),

    // --- LIVE RE-BUCKETING of the CDC companion under the oracle: the q76
    //     pipeline, but batch 0 collapses at 4 key buckets and the operator
    //     is reconfigured to 8 mid-stream (the catalog "outgrew" the old
    //     count) — batch 1's delta derives against the 4-bucket full
    //     (pruned under ITS recorded count), batch 2 collapses at 8
    //     (collapseEvery=2). The oracle is q76's, verbatim: a hash match
    //     proves the layout migration is invisible to every derived event.
    //     Per-(sfDir, pid) scratch wiped at entry. --------------------------
    "q82_cdc_rebucket" -> ((s, dir) => {
      val buckets = Seq(4, 4, 8) // reconfigured before batch 2's collapse
      val histPath = cdcSinkRun(s, dir, "q82") { (batch, histPath, i) =>
        Streams.cdcProcessBatch(batch, histPath, i,
          collapseEvery = 2, keyBuckets = buckets(i.toInt))
      }
      cdcEventRows(Phase(s, "cdc.readBack")(s.read.parquet(histPath)))
    }),

    // --- PROGRESS LEDGER ACCOUNTING under the oracle: six file-source
    //     micro-batches through ONE long-lived stateless passthrough query
    //     with the StreamingQueryListener ledger attached. The pre-r19
    //     shape restarted the query per slice (q81's pattern borrowed
    //     wholesale), but nothing here is stateful — there is no
    //     checkpoint-recovery contract to exercise — so the five restarts
    //     were pure fixed cost (guide §1.2). Batch boundaries stay exact:
    //     each slice lands as ONE parquet file made visible by ONE atomic
    //     rename (a multi-file append could straddle two triggers of the
    //     running query, splitting a slice's row count across ledger
    //     rows), and processAllAvailable drains it before the next slice
    //     is written. The query returns, per DATA batch in order, the
    //     ledger-recorded numInputRows — the oracle counts the same slices
    //     relationally, so a hash match proves the listener recorded every
    //     batch Spark ran with exactly the rows it processed (an ordinal,
    //     not Spark's raw batchId, keys the output: robust to empty
    //     slices). The listener bus delivers asynchronously; construction
    //     latches until the known number of non-empty slices has landed. --
    "q88_progress_ledger" -> ((s, dir) => {
      val root = scratch("q88", dir)
      val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
      val ledgerDir = s"$root/ledger"
      // checkpointed: the per-slice count + write below would otherwise
      // re-run the events scan per action
      val obs = streamObs(s, dir,
        col("user_id") % 3 === 0 && col("event_id") % 8 === 0).localCheckpoint()
      val slices = slicesAt(obs, FiveDayCuts: _*)
      // the listener bus is asynchronous — the ledger listener's own
      // post-write callback counts data batches down to zero, so the wait
      // is a latch the bus thread releases the instant the last file is
      // durably written: no sleep-poll, no repeated ledger re-reads
      val landed = new java.util.concurrent.atomic.AtomicLong(0)
      val gate = new Object
      val listener = Streams.attachProgressLedger(s, ledgerDir, onProgress = p =>
        if (p.numInputRows > 0) gate.synchronized { landed.incrementAndGet(); gate.notifyAll() })
      var nonEmpty = 0L
      try {
        val fs = graft.store.Partitions.fs(s, new org.apache.hadoop.fs.Path(srcDir))
        fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
        var q: org.apache.spark.sql.streaming.StreamingQuery = null
        slices.zipWithIndex.foreach { case (sl, i) =>
          val n = sl.count()
          if (n > 0) nonEmpty += 1
          // one file per slice, atomically visible: write to a staging dir,
          // rename the single part file in (the running query's trigger can
          // never observe a half-landed slice)
          val stage = s"$root/stage_$i"
          sl.repartition(1).write.mode("overwrite").parquet(stage)
          val part = graft.store.Compact.dataFiles(s, stage).head
          if (!fs.rename(part, new org.apache.hadoop.fs.Path(srcDir, s"slice_$i.parquet")))
            throw new java.io.IOException(s"q88: rename of slice $i failed")
          fs.delete(new org.apache.hadoop.fs.Path(stage), true)
          if (q == null)
            q = s.readStream
              .schema("product_id STRING, price DOUBLE, crawled_at TIMESTAMP")
              .parquet(srcDir)
              .writeStream.option("checkpointLocation", ckpt)
              .format("parquet").option("path", outDir).outputMode("append").start()
          q.processAllAvailable()
        }
        q.stop()
        val deadline = System.currentTimeMillis() + 60000
        gate.synchronized {
          while (landed.get() < nonEmpty && System.currentTimeMillis() < deadline)
            gate.wait(math.max(1, deadline - System.currentTimeMillis()))
        }
        // fail LOUDLY on a lost/late event — a silent short read would
        // surface as an inscrutable oracle hash mismatch instead
        if (landed.get() < nonEmpty) throw new IllegalStateException(
          s"q88: progress ledger has ${landed.get()} data batches after 60s, expected $nonEmpty")
      } finally Streams.detachProgressLedger(s, listener)
      import org.apache.spark.sql.expressions.Window
      Streams.readProgressLedger(s, ledgerDir)
        .filter(col("numInputRows") > 0)
        .withColumn("batch_ord",
          row_number().over(Window.orderBy(col("batchId"))) - lit(1))
        .select(col("batch_ord").cast(LongType).as("batch_ord"),
          col("numInputRows").cast(LongType).as("n_rows"))
        .orderBy(col("batch_ord"))
    }),

    // --- CONTINUOUS CURATION under the oracle: the streaming closure of
    //     q50's corpus pipeline. Two curationSink micro-batches (driven
    //     through the factored per-batch body, q76's pattern) run gates →
    //     within-batch exact + near-dup → cross-stream near-dup against a
    //     persisted index seeded from the %5>=3 corpus — batch 1's
    //     survivors are APPENDED, so batch 2's near-dups of them must be
    //     caught through the index. The oracle recomputes both batches'
    //     kept sets relationally (q50's gate/dedup model + q71's evolving
    //     index corpus), blind to files, appends, and ledgers. -------------
    "q87_curation_stream" -> ((s, dir) => {
      val root = scratch("q87", dir)
      val idxPath = s"$root/index"; val outPath = s"$root/out"
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 >= 3)
      Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), idxPath)
      Seq(0, 1).foreach { i => // batch i+1 is the doc_id % 5 == i residue
        Streams.curationProcessBatch(docs.filter(col("doc_id") % 5 === i), idxPath, outPath,
          i.toLong, "doc_id", "text", Seq("en", "vi"), 0.5, 0.7, 3, 12, 4, 64)
      }
      Phase(s, "cur.readBack")(s.read.parquet(outPath))
        .select(col("doc_id"), col("batch_id").cast(LongType).as("batch_id"))
        .orderBy(col("batch_id"), col("doc_id"))
    }),

    // --- IVF RE-LIST MIGRATION under the oracle: q74's fixed-centroid
    //     pipeline (build@8 lists → append → compact), then the OFFLINE
    //     REBUILD path a drifted or outgrown layout takes — new centroids
    //     (16, injected = embeddings vec_id<16 so the math stays
    //     oracle-reproducible), corpus read from the PERSISTED LAYOUT
    //     ITSELF (no source table needed), written as a fresh committed
    //     generation and vacuumed. The probe then runs against the 16-list
    //     layout; the oracle is pure 16-centroid assignment + probe math,
    //     blind to the 8-list history — the hash proves the rebuild lost
    //     and invented nothing. Closes the migration triangle with
    //     q82 (CDC key buckets) and q83 (MinHash band buckets). ------------
    "q86_ivf_rebuild" -> ((s, dir) => {
      val path = scratch("q86", dir)
      val emb = ivfFixture(s, dir, path)
      Ann.compactIvf(s, path)
      // the rebuild: 16 new centroids, corpus = the layout's own vectors
      val fromLayout = Ann.readIvf(s, path).assigned.drop("list")
      Ann.writeIvf(Ann.buildIvfFixed(fromLayout, "vec_id", "embedding", firstVectors(emb, 16)), path)
      Ann.vacuumIvf(s, path)
      ivfProbe(s, emb, path).orderBy(col("query_id"), col("rank"))
    }),

    // --- COMPANION DISASTER RECOVERY under the oracle: the q76 pipeline
    //     over FOUR batches, with the `_latest` companion tree destroyed
    //     after batch 1 and rebuilt from the event log
    //     (Streams.cdcRebuildCompanion) before batches 2-3 run. The
    //     oracle recomputes the whole four-batch CDC relationally with no
    //     recovery concept, so a hash match proves the rebuilt state is
    //     indistinguishable from the lost one — every post-recovery event
    //     (previous_* values, change classification) lands identically.
    //     Per-(sfDir, pid) scratch wiped at entry. --------------------------
    "q85_cdc_recover" -> ((s, dir) => {
      val histPath = s"${scratch("q85", dir)}/history"
      val slices = slicesAt(cdcObservations(s, dir),
        "2024-01-08 00:00:00", "2024-01-16 00:00:00", "2024-01-24 00:00:00")
      def process(i: Int): Unit =
        Streams.cdcProcessBatch(latestBatch(slices(i)), histPath, i.toLong)
      process(0); process(1)
      // catastrophe + recovery: the companion tree is lost mid-stream
      val latestRoot = new org.apache.hadoop.fs.Path(s"$histPath/_latest")
      graft.store.Partitions.fs(s, latestRoot).delete(latestRoot, true)
      Streams.cdcRebuildCompanion(s, histPath, nextBatchId = 2L)
      process(2); process(3)
      cdcEventRows(s.read.parquet(histPath))
    }),

    // --- LIVE RE-BUCKETING of the MinHash index under the oracle: the q73
    //     ingest run, but the second maintenance pass migrates the bands
    //     layout 64 → 16 buckets (compactMinhashIndex targetBuckets).
    //     Batch 3's verdicts then probe the re-bucketed layout under its
    //     recorded count; the oracle (q73's, verbatim) knows nothing about
    //     files, so a hash match proves re-bucketing is result-identity.
    //     Per-(sfDir, pid) scratch wiped at entry. --------------------------
    "q83_rebucketed_ingest" -> ((s, dir) => {
      val path = scratch("q83", dir)
      val Seq(b2, b3) = ingestFixture(s, dir, path, batches = 3)
      Dedup.compactMinhashIndex(s, path)
      Dedup.ingestCycle(b2, path, "doc_id", "text", threshold = 0.3)
      Dedup.compactMinhashIndex(s, path, targetBuckets = 16)
      verdicts(s, b3, path).orderBy(col("doc_id"))
    }),

    // --- DELETION TIER under the oracle (MinHash): q71's ingest pipeline,
    //     then deleteFromMinhashIndex takes down every live id with
    //     doc_id % 7 == 0. Batch 2 is deduped TWICE — phase 0 against the
    //     tombstone-filtered index (no rewrite yet), phase 1 after the
    //     forced physical compaction — and phase 2 lists the surviving
    //     manifest. The oracle recomputes all three relationally with the
    //     deleted ids simply absent from the index side: a hash match
    //     proves a deleted doc neither matches as dup_of nor appears in
    //     the listing, identically on the anti-join path and the
    //     physically-rewritten layout, and that nothing else was lost. ------
    "q89_index_delete" -> ((s, dir) => {
      val path = scratch("q89", dir)
      val Seq(b2) = ingestFixture(s, dir, path, batches = 2)
      Dedup.deleteFromMinhashIndex(s, path,
        Dedup.minhashIndexIds(s, path).filter(col("id") % 7 === 0))
      def phase(p: Long) = verdicts(s, b2, path).select(lit(p).as("phase"), col("*"))
      val v0 = phase(0).localCheckpoint() // pinned BEFORE the rewrite
      Dedup.compactMinhashIndex(s, path) // forced by live tombstones
      v0.unionByName(phase(1)).unionByName(manifestListing(s, path, 2L))
        .orderBy(col("phase"), col("doc_id"))
    }),

    // --- DELETION TIER under the oracle (IVF): q74's fixed-centroid
    //     pipeline, then deleteFromIvf takes down every vector with
    //     vec_id % 9 == 0. The probe runs twice — phase 0 against the
    //     tombstone anti-join, phase 1 after compactIvfOnline's physical
    //     rewrite — under an oracle that is pure centroid/probe math over
    //     the corpus WITHOUT the deleted vectors: the hash proves deleted
    //     vectors never surface as neighbors on either path and every
    //     surviving neighbor/rank/cosine is untouched. ----------------------
    "q90_ivf_delete" -> ((s, dir) => {
      val path = scratch("q90", dir)
      val emb = ivfFixture(s, dir, path)
      Ann.deleteFromIvf(s, path,
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id").as("id")))
      def probe(phase: Int) =
        ivfProbe(s, emb, path)
          .select(lit(phase.toLong).as("phase"), col("query_id"),
            col("rank"), col("neighbor_id"), col("cosine"))
      val p0 = probe(0).localCheckpoint() // pinned BEFORE the rewrite
      Ann.compactIvfOnline(s, path)
      p0.unionByName(probe(1))
        .orderBy(col("phase"), col("query_id"), col("rank"))
    }),

    // --- RE-INGEST after takedown (MinHash): q89's delete pipeline, then
    //     the EVEN multiples of 7 among the deleted ids come back with
    //     their original text (the reference's cleanup→re-crawl cycle).
    //     appendToMinhashIndex detects the tombstone hit, runs the forced
    //     physical compaction inline (purging the old rows, clearing the
    //     tombstones), and appends the fresh rows. Phase 0 dedups batch 2
    //     against the healed index, phase 1 lists the manifest. The oracle
    //     computes both with re-added ids simply PRESENT and dead ids
    //     absent: a hash match proves a re-added doc matches as dup_of
    //     again, its stale rows are gone (duplicate shingles would corrupt
    //     every Jaccard it appears in), and odd multiples stayed dead. -----
    "q91_index_reingest" -> ((s, dir) => {
      val path = scratch("q91", dir)
      val Seq(b2) = ingestFixture(s, dir, path, batches = 2)
      val deleted = Dedup.minhashIndexIds(s, path)
        .filter(col("id") % 7 === 0).localCheckpoint()
      Dedup.deleteFromMinhashIndex(s, path, deleted)
      val recrawl = t(s, dir, "documents").join(
        deleted.filter(col("id") % 14 === 0).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      Dedup.appendToMinhashIndex(recrawl, path, "doc_id", "text")
      verdicts(s, b2, path).select(lit(0L).as("phase"), col("*"))
        .unionByName(manifestListing(s, path, 1L))
        .orderBy(col("phase"), col("doc_id"))
    }),

    // --- RE-INGEST after takedown (IVF): q90's delete pipeline, then the
    //     even multiples of 9 come back through appendToIvf, which detects
    //     the tombstone hit and runs compactIvfOnline inline (purge +
    //     clear) before appending. The probe runs against the healed
    //     layout; the oracle is q90's probe math with re-added vectors
    //     present and odd multiples of 9 absent — the hash proves re-added
    //     vectors rank as neighbors again exactly once (surviving stale
    //     rows would duplicate them and shift every rank below). ------------
    "q92_ivf_reingest" -> ((s, dir) => {
      val path = scratch("q92", dir)
      val emb = ivfFixture(s, dir, path)
      Ann.deleteFromIvf(s, path,
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id").as("id")))
      Ann.appendToIvf(emb.filter(col("vec_id") % 18 === 0), path, "vec_id", "embedding")
      ivfProbe(s, emb, path).orderBy(col("query_id"), col("rank"))
    })
  )

  // ==========================================================================
  // Oracle SQL (DuckDB, same parquet tables registered by name)
  // ==========================================================================

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // the re-bucketing twins (q82/q83) are result-identical to their source
    // queries BY CONTRACT — the layout migration under test must be
    // invisible to every derived row — so the SAME oracle gates both sides
    base +
      ("q82_cdc_rebucket" -> base("q76_cdc_sink")) +
      ("q83_rebucketed_ingest" -> base("q73_compacted_ingest"))
  }

  private def oracleSqlBase: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount), 4) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_global_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice), 4) AS avg_total,
        |  date_trunc('second', MAX(o_orderdate)) AS max_orderdate
        |FROM orders""".stripMargin,

    "q03_conditional_counts" ->
      """SELECT
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |  CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big
        |FROM orders""".stripMargin,

    "q04_top_groups" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n
        |FROM part GROUP BY p_brand
        |ORDER BY n DESC, p_brand ASC LIMIT 10""".stripMargin,

    "q05_enrich_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_brand, s_name,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin,

    "q06_upsert_merge" ->
      """WITH new_rows AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |         '' AS o_orderpriority, 'U' AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), old_rows AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus FROM orders
        |)
        |SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
        |  COALESCE(NULLIF(n.o_orderpriority, ''), o.o_orderpriority) AS o_orderpriority,
        |  COALESCE(NULLIF(n.o_orderstatus, ''), o.o_orderstatus) AS o_orderstatus
        |FROM new_rows n FULL OUTER JOIN old_rows o ON n.o_orderkey = o.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q07_latest_per_key" ->
      """SELECT user_id, event_id, event_type, CAST(value AS DOUBLE) AS value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "q08_asof_join" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
        |), clicks AS (
        |  SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, CAST(p.value AS DOUBLE) AS value,
        |       CAST(c.click_value AS DOUBLE) AS click_value
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q09_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q10_window_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_anti_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q13_set_except" ->
      """SELECT o_orderkey FROM orders
        |EXCEPT
        |SELECT l_orderkey AS o_orderkey FROM lineitem
        |ORDER BY o_orderkey""".stripMargin,

    "q14_union_dedup" ->
      """SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
        |) ORDER BY o_orderkey""".stripMargin,

    "q15_topn_per_group" ->
      """SELECT c_mktsegment, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rank <= 3
        |ORDER BY c_mktsegment, rank""".stripMargin,

    "q16_priority_topk" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(CASE event_type WHEN 'error' THEN 0 WHEN 'purchase' THEN 1 ELSE 2 END AS BIGINT) AS priority,
        |  CAST(value AS DOUBLE) AS value
        |FROM events
        |ORDER BY priority ASC, value DESC, event_id ASC
        |LIMIT 50""".stripMargin,

    "q17_rollup" ->
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q18_having" ->
      """SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(p_retailprice), 4) AS avg_price
        |FROM part GROUP BY p_type HAVING COUNT(*) >= 50
        |ORDER BY p_type""".stripMargin,

    "q19_bucket_case" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            WHEN o_totalprice < 300000 THEN 'large'
        |            ELSE 'jumbo' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q20_discount_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) - CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount_amount,
        |  CAST(ROUND((CAST(l_extendedprice AS DECIMAL(18,2)) - CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) / CAST(l_extendedprice AS DECIMAL(18,2)) * 100, 2) AS DOUBLE) AS discount_percent,
  |  (CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) >= 2000) AS is_flash_sale
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q21_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '')) AS BIGINT) AS token_count,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS bpe_token_count,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q22_language_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') tk
        |  FROM documents
        |), langs AS (
        |  SELECT * FROM (VALUES
        |    ('de', ['der','die','das','und','ist','nicht','ein','mit','für','von']),
        |    ('en', ['the','a','of','and','to','in','is','it','that','for']),
        |    ('es', ['el','la','de','que','y','en','un','es','por','con']),
        |    ('fr', ['le','la','de','et','est','un','une','pour','dans','que']),
        |    ('vi', ['và','của','là','có','không','được','cho','với','này','các'])) AS v(l, sw)
        |), scored AS (
        |  SELECT t.doc_id, t.lang, g.l,
        |    CASE WHEN len(t.tk) > 0
        |      THEN round(len(list_filter(t.tk, x -> list_contains(g.sw, x)))::DOUBLE / len(t.tk), 6)
        |      ELSE 0.0 END s
        |  FROM toks t CROSS JOIN langs g
        |)
        |SELECT doc_id, lang, l AS lang_pred, (l = lang) AS correct
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) = 1
        |ORDER BY doc_id""".stripMargin,

    "q23_quality_score" ->
      """WITH base AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) t,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') tk
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, length(t) n, len(tk) ntok,
        |    CASE WHEN len(tk) > 0 THEN length(t)::DOUBLE / len(tk) ELSE 0.0 END mean_len,
        |    CASE WHEN length(t) > 0 THEN length(regexp_replace(t, '[^\p{L} ]', '', 'g'))::DOUBLE / length(t) ELSE 0.0 END alpha,
        |    tk
        |  FROM base
        |)
        |SELECT doc_id,
        |  round((CASE WHEN n >= 50 AND n <= 100000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN mean_len >= 3 AND mean_len <= 12 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + alpha * 0.5, 6) AS quality,
        |  CASE WHEN ntok > 0 THEN round(len(list_filter(tk, x -> list_contains(
        |    ['der','die','das','und','ist','nicht','ein','mit','für','von',
        |     'the','a','of','and','to','in','is','it','that','for',
        |     'el','la','de','que','y','en','un','es','por','con',
        |     'le','et','est','une','pour','dans',
        |     'và','của','là','có','không','được','cho','với','này','các'], x)))::DOUBLE / ntok, 6)
        |    ELSE 0.0 END AS stopword_ratio
        |FROM m ORDER BY doc_id""".stripMargin,

    "q24_exact_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q25_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
        |), sj AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |)
        |SELECT id_a, id_b, jaccard FROM sj WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "q26_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 2 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+1], ' ') FOR i IN range(1, len(l))]) END sh
        |  FROM toks
        |), inv AS (
        |  SELECT doc_id, len(sh) n, unnest(sh) s FROM sh
        |), p AS (
        |  SELECT x.doc_id id_a, y.doc_id id_b, x.n n_a, y.n n_b, count(*) inter
        |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT id_a, id_b, round(inter::DOUBLE / (n_a + n_b - inter), 6) jaccard
        |FROM p WHERE round(inter::DOUBLE / (n_a + n_b - inter), 6) >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q27_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), fp AS (
        |  SELECT doc_id, CAST(list_sum([
        |    CASE WHEN list_sum([
        |      CASE WHEN ((('0x' || substr(md5(t), 1, 8))::BIGINT >> j) & 1) = 1 THEN 1 ELSE -1 END
        |      FOR t IN l]) > 0 THEN (1::BIGINT << j) ELSE 0 END
        |    FOR j IN range(0, 16)]) AS BIGINT) fp
        |  FROM toks
        |), banded AS (
        |  -- pigeonhole banding, maxDist + 1 = 4 chunks of 16/4 = 4 bits:
        |  -- hamming <= 3 pairs differ in at most 3 chunks, so they share
        |  -- at least one — the candidate set is complete for the verify
        |  SELECT doc_id, fp, unnest([
        |    '0:' || ((fp >> 0) & 15)::VARCHAR, '1:' || ((fp >> 4) & 15)::VARCHAR,
        |    '2:' || ((fp >> 8) & 15)::VARCHAR, '3:' || ((fp >> 12) & 15)::VARCHAR]) band
        |  FROM fp
        |), pairs AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b, CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) hamming
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
        |)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "q28_embed_neardup" ->
      """WITH banded AS (
        |  SELECT vec_id, b::VARCHAR || ':' || CAST(list_sum([
        |    CASE WHEN embedding[b*8+i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END FOR i IN range(0, 8)]) AS VARCHAR) band
        |  FROM embeddings, range(0, 4) t(b)
        |), cand AS (
        |  SELECT DISTINCT x.vec_id id_a, y.vec_id id_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.vec_id < y.vec_id
        |), p AS (
        |  SELECT c.id_a, c.id_b,
        |    round(list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a JOIN embeddings b ON b.vec_id = c.id_b
        |)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q29_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id query_id, embedding qv FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT q.query_id, c.vec_id neighbor_id,
        |    round(list_sum([q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.qv[i]::DOUBLE * q.qv[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM q JOIN embeddings c ON c.vec_id != q.query_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM s
        |)
        |SELECT query_id, CAST(rk AS BIGINT) rank, neighbor_id, cosine FROM r WHERE rk <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q30_lsh_topk" ->
      """WITH b AS (
        |  SELECT vec_id, embedding, CAST(list_sum([
        |    CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END FOR i IN range(0, 8)]) AS BIGINT) bucket
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id query_id, embedding qv, bucket FROM b WHERE vec_id < 50
        |), s AS (
        |  SELECT q.query_id, c.vec_id neighbor_id,
        |    round(list_sum([q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.qv[i]::DOUBLE * q.qv[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.query_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM s
        |)
        |SELECT query_id, CAST(rk AS BIGINT) rank, neighbor_id, cosine FROM r WHERE rk <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q31_hierarchy_paths" ->
      """WITH cats AS (
        |  SELECT 'r' || r_regionkey url, r_name AS "name", CAST(NULL AS VARCHAR) parent_url FROM region
        |  UNION ALL SELECT 'n' || n_nationkey, n_name, 'r' || n_regionkey FROM nation
        |  UNION ALL SELECT 's' || s_suppkey, s_name, 'n' || s_nationkey FROM supplier
        |), j AS (
        |  SELECT c.url, c."name", p."name" p_name, g."name" g_name
        |  FROM cats c LEFT JOIN cats p ON c.parent_url = p.url LEFT JOIN cats g ON p.parent_url = g.url
        |)
        |SELECT url,
        |  array_to_string([x FOR x IN [g_name, p_name, "name"] IF x IS NOT NULL], '>') AS path,
        |  CAST(len([x FOR x IN [g_name, p_name, "name"] IF x IS NOT NULL]) AS BIGINT) AS level,
        |  url NOT IN (SELECT parent_url FROM cats WHERE parent_url IS NOT NULL) AS is_leaf
        |FROM j ORDER BY url""".stripMargin,

    "q32_best_wins_dedup" ->
      """SELECT category_id, url, "name" FROM (
        |  SELECT p_brand category_id, p_name url, p_type AS "name" FROM part)
        |QUALIFY row_number() OVER (
        |  PARTITION BY category_id ORDER BY length(url) ASC, length(name) DESC, url ASC) = 1
        |ORDER BY category_id""".stripMargin,

    "q33_history_cdc" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count, ts crawled_at, event_id
        |  FROM events
        |), hist AS (
        |  SELECT product_id, price, original_price, discount_percent, sales_count, crawled_at
        |  FROM ev WHERE crawled_at < TIMESTAMP '2024-01-16 00:00:00'
        |), batch AS (
        |  SELECT product_id, price, original_price, discount_percent, sales_count, crawled_at FROM ev
        |  QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), prev AS (
        |  SELECT product_id, price previous_price, original_price previous_original_price,
        |    discount_percent previous_discount_percent, sales_count previous_sales_count FROM hist
        |  QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY crawled_at DESC, price DESC) = 1
        |), joined AS (
        |  SELECT b.*, p.previous_price, p.previous_original_price, p.previous_discount_percent, p.previous_sales_count
        |  FROM batch b LEFT JOIN prev p USING (product_id)
        |  WHERE b.product_id IS NOT NULL AND b.price IS NOT NULL
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price) OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM joined
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type,
        |    CASE WHEN original_price IS NOT NULL AND price IS NOT NULL THEN original_price - price END discount_amount
        |  FROM typed
        |)
        |SELECT product_id, price, original_price, discount_percent, discount_amount,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL AND previous_price IS NOT NULL
        |    THEN price - previous_price END price_change,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL AND previous_price IS NOT NULL
        |    AND previous_price > 0 THEN round((price - previous_price) / previous_price * 100, 2) END price_change_percent,
        |  previous_price, previous_original_price, previous_discount_percent,
        |  sales_count, sales_change,
        |  (coalesce(discount_percent, 0) >= 30 OR coalesce(discount_amount, 0) >= 100000) is_flash_sale,
        |  crawl_type, date_trunc('second', crawled_at) crawled_at
        |FROM ev2 WHERE crawl_type != 'no_change' ORDER BY product_id""".stripMargin,

    "q34_transform_flatten" ->
      """SELECT * FROM (
        |  SELECT CAST(o_orderkey AS VARCHAR) product_id,
        |    trim(regexp_replace('  Product  ' || o_orderpriority || '  ', '\s+', ' ', 'g')) AS "name",
        |    'https://tiki.vn/p/' || o_orderkey url,
        |    o_totalprice price,
        |    o_totalprice * 1.25 original_price,
        |    round((o_totalprice * 1.25 - o_totalprice) / (o_totalprice * 1.25) * 100, 2) discount_percent,
        |    (o_orderkey % 70) / 10.0 rating_average,
        |    CAST(o_orderkey % 500 AS BIGINT) rating_count,
        |    c_name seller_name,
        |    c_custkey % 2 = 0 seller_is_official,
        |    CAST(o_orderkey % 11 - 1 AS BIGINT) sales_count
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE regexp_matches(product_id, '^[0-9]+$') AND regexp_matches(url, '^https?://')
        |  AND price IS NOT NULL AND price >= 0 AND price <= original_price
        |  AND rating_average >= 0 AND rating_average <= 5 AND sales_count >= 0
        |ORDER BY product_id""".stripMargin,

    "q35_parsers" ->
      """WITH inputs AS (
        |  SELECT p_partkey,
        |    CAST(CAST(trunc(p_retailprice) AS BIGINT) AS VARCHAR) || '₫' price_str,
        |    CASE WHEN p_partkey % 3 = 0 THEN (p_partkey % 90)::VARCHAR || 'k'
        |         WHEN p_partkey % 3 = 1 THEN 'Đã bán ' || (p_partkey % 50)::VARCHAR
        |         ELSE (p_partkey % 1000)::VARCHAR END sales_str,
        |    'https://tiki.vn/san-pham/p/' || p_partkey purl,
        |    'https://tiki.vn/ao-thun/c' || (p_partkey % 100) curl,
        |    CASE WHEN p_partkey % 2 = 0 THEN 'C' || (p_partkey % 100)::VARCHAR
        |         ELSE (p_partkey % 100)::VARCHAR END cid_raw,
        |    'https://tiki.vn/ao-thun-nam/c' || (p_partkey % 100) slug_url,
        |    'https://tiki.vn/x?b=2&utm_source=g&a=1&spid=3#frag' raw_url
        |  FROM part
        |), parsed AS (
        |  SELECT p_partkey,
        |    CASE WHEN regexp_replace(price_str, '[^0-9]', '', 'g') = '' THEN NULL
        |      ELSE CAST(regexp_replace(price_str, '[^0-9]', '', 'g') AS BIGINT) END parsed_price,
        |    lower(trim(sales_str)) ls,
        |    regexp_extract(lower(trim(sales_str)), '([0-9]+(?:\.[0-9]+)?)\s*([km]?)', 1) num,
        |    regexp_extract(lower(trim(sales_str)), '([0-9]+(?:\.[0-9]+)?)\s*([km]?)', 2) unit,
        |    CASE WHEN regexp_extract(purl, '[/-]p[/-]?([0-9]+)', 1) = '' THEN NULL
        |      ELSE regexp_extract(purl, '[/-]p[/-]?([0-9]+)', 1) END pid,
        |    CASE WHEN regexp_extract(curl, '/c([0-9]+)', 1) = '' THEN NULL
        |      ELSE 'c' || regexp_extract(curl, '/c([0-9]+)', 1) END cid,
        |    CASE WHEN regexp_matches(lower(trim(cid_raw)), '^c?[0-9]+$')
        |      THEN 'c' || regexp_replace(lower(trim(cid_raw)), '^c', '') ELSE NULL END cid_norm,
        |    array_to_string(list_transform(
        |      string_split(replace(regexp_extract(slug_url, '/([^/]+)/c[0-9]+', 1), '-', ' '), ' '),
        |      w -> upper(w[1]) || lower(w[2:])), ' ') slug_name,
        |    regexp_extract(regexp_replace(trim(raw_url), '#.*$', ''), '^([^?]*)', 1) base,
        |    regexp_extract(regexp_replace(trim(raw_url), '#.*$', ''), '\?(.*)$', 1) query
        |  FROM inputs
        |)
        |SELECT p_partkey, parsed_price,
        |  CASE WHEN num = '' THEN NULL
        |       WHEN unit = 'k' THEN CAST(trunc(CAST(num AS DOUBLE) * 1000) AS BIGINT)
        |       WHEN unit = 'm' THEN CAST(trunc(CAST(num AS DOUBLE) * 1000000) AS BIGINT)
        |       ELSE CAST(trunc(CAST(num AS DOUBLE)) AS BIGINT) END parsed_sales,
        |  pid, cid, cid_norm, slug_name,
        |  CASE WHEN query = '' OR len(list_filter(string_split(query, '&'),
        |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'spid=') OR starts_with(p, 'src=') OR p = ''))) = 0
        |    THEN base
        |    ELSE base || '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'spid=') OR starts_with(p, 'src=') OR p = ''))), '&') END norm_url
        |FROM parsed ORDER BY p_partkey""".stripMargin,

    "q36_quality_flags" ->
      """WITH synth AS (
        |  SELECT c_custkey, c_name, c_acctbal * 1000 px,
        |    CASE WHEN c_mktsegment IS NOT NULL THEN 1.0 ELSE 0.0 END
        |      + CASE WHEN length(c_mktsegment) > 8 THEN 1.0 ELSE 0.0 END imp_sum,
        |    CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END opt_sum,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_name || ' Official Store' ELSE c_name END off_name,
        |    trim(CASE WHEN c_custkey % 5 = 0 THEN '123'
        |         WHEN c_custkey % 5 = 1 THEN 'đã mua hàng x' ELSE c_name END) s
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  round(1.0 * 0.5 + (imp_sum / 2.0) * 0.35 + opt_sum * 0.15, 4) AS completeness,
        |  CASE WHEN px IS NULL THEN 'unknown' WHEN px < 100000 THEN 'under_100k'
        |       WHEN px < 500000 THEN '100k_500k' WHEN px < 1000000 THEN '500k_1m'
        |       WHEN px < 5000000 THEN '1m_5m' WHEN px < 20000000 THEN '5m_20m'
        |       ELSE 'over_20m' END AS segment,
        |  CASE WHEN px IS NULL THEN 'unknown' WHEN px < 100000 THEN 'budget'
        |       WHEN px < 1000000 THEN 'mid-range' WHEN px < 10000000 THEN 'premium'
        |       ELSE 'luxury' END AS category,
        |  (contains(lower(coalesce(off_name, '')), 'official')
        |   OR contains(lower(coalesce(off_name, '')), 'chính hãng')
        |   OR contains(lower(coalesce(off_name, '')), 'tiki')) AS is_official,
        |  CASE WHEN s IS NULL OR length(s) < 2 OR length(s) > 100
        |       OR contains(lower(s), 'đã mua') OR contains(lower(s), 'đã bán')
        |       OR contains(lower(s), 'sold') OR contains(lower(s), 'bought')
        |       OR contains(lower(s), 'mua') OR contains(lower(s), 'bán')
        |       OR contains(lower(s), 'xem thêm') OR contains(lower(s), 'more info')
        |       OR contains(lower(s), 'chi tiết') OR contains(lower(s), 'loading')
        |       OR contains(lower(s), 'đang tải') OR contains(lower(s), 'đã mua hàng')
        |       OR regexp_matches(s, '^[0-9]+$') OR regexp_matches(s, '^[^\p{L}\p{N}_]+$')
        |       OR regexp_matches(s, '^[0-9]+\s')
        |    THEN NULL ELSE s END AS seller_name
        |FROM synth ORDER BY c_custkey""".stripMargin,

    // q37_name_cleaning: intentionally absent — Unicode word-boundary UDF
    // logic not expressible in DuckDB SQL; covered by NameCleanerSpec's
    // differential goldens. Driver records a rows-only check.

    "q38_multimodal" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) h FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    1 + ('0x' || substr(h, 1, 4))::INT % 1024 width,
        |    1 + ('0x' || substr(h, 5, 4))::INT % 640 height,
        |    CAST(('0x' || substr(h, 9, 4))::INT AS BIGINT) duration_ms,
        |    ('0x' || substr(h, 1, 4))::INT / 65535.0 f0,
        |    ('0x' || substr(h, 5, 4))::INT / 65535.0 f1,
        |    ('0x' || substr(h, 9, 4))::INT / 65535.0 f2,
        |    ('0x' || substr(h, 13, 4))::INT / 65535.0 f3
        |  FROM d
        |)
        |SELECT doc_id, width, height, duration_ms, f0, f1, f2, f3,
        |  CAST(floor(width * least(1.0, 512.0 / greatest(width, height))) AS INTEGER) resized_width,
        |  CAST(floor(height * least(1.0, 512.0 / greatest(width, height))) AS INTEGER) resized_height
        |FROM m ORDER BY doc_id""".stripMargin,

    "q39_star_fact" ->
      """WITH dim_brand AS (
        |  SELECT p_brand, CAST(row_number() OVER (ORDER BY p_brand) AS BIGINT) brand_sk
        |  FROM (SELECT DISTINCT p_brand FROM part)
        |), dim_date AS (
        |  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) date_sk
        |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) d FROM orders WHERE o_orderdate IS NOT NULL)
        |), fact AS (
        |  SELECT b.brand_sk,
        |    CAST(CASE WHEN p.p_retailprice IS NULL THEN 0
        |      WHEN p.p_retailprice * 1000 < 100000 THEN 1
        |      WHEN p.p_retailprice * 1000 < 500000 THEN 2
        |      WHEN p.p_retailprice * 1000 < 1000000 THEN 3
        |      WHEN p.p_retailprice * 1000 < 3000000 THEN 4
        |      WHEN p.p_retailprice * 1000 < 5000000 THEN 5
        |      ELSE 6 END AS BIGINT) segment_sk,
        |    dd.date_sk,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) rev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN dim_brand b ON p.p_brand = b.p_brand
        |  JOIN dim_date dd ON CAST(o.o_orderdate AS DATE) = dd.d
        |)
        |SELECT brand_sk, segment_sk, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(COUNT(DISTINCT date_sk) AS BIGINT) n_dates,
        |  CAST(SUM(rev) AS DOUBLE) revenue
        |FROM fact GROUP BY brand_sk, segment_sk
        |ORDER BY brand_sk, segment_sk""".stripMargin,

    "q40_quality_report" ->
      """SELECT 'range_l_quantity' AS rule,
        |  CAST(COUNT(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 END) AS BIGINT) violations
        |FROM lineitem
        |UNION ALL SELECT 'range_l_discount',
        |  CAST(COUNT(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1) THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL SELECT 'range_l_tax',
        |  CAST(COUNT(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.08) THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL SELECT 'required_l_returnflag',
        |  CAST(COUNT(CASE WHEN l_returnflag IS NULL OR trim(CAST(l_returnflag AS VARCHAR)) = '' THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL SELECT 'fk_orphans_lineitem_orders', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL SELECT 'duplicate_line_keys', CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1)
        |ORDER BY rule""".stripMargin,

    "q41_staleness_skip" ->
      """WITH latest AS (
        |  SELECT user_id, MAX(date_trunc('second', ts)) last_ts, CAST(COUNT(*) AS BIGINT) n_events
        |  FROM events GROUP BY user_id
        |), ref AS (SELECT MAX(last_ts) ref_ts FROM latest)
        |SELECT user_id, last_ts, n_events
        |FROM latest, ref WHERE last_ts < ref_ts - INTERVAL 1 DAY
        |ORDER BY user_id""".stripMargin,

    "q42_crawl_coverage" ->
      """WITH latest AS (
        |  SELECT user_id, MAX(date_trunc('second', ts)) last_ts FROM events GROUP BY user_id
        |), ref AS (SELECT MAX(last_ts) ref_ts FROM latest),
        |b AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN last_ts >= ref_ts - INTERVAL 1 DAY THEN 1 END) AS BIGINT) seen_24h,
        |    CAST(COUNT(CASE WHEN last_ts < ref_ts - INTERVAL 1 DAY
        |      AND last_ts >= ref_ts - INTERVAL 7 DAY THEN 1 END) AS BIGINT) seen_7d,
        |    CAST(COUNT(CASE WHEN last_ts < ref_ts - INTERVAL 7 DAY THEN 1 END) AS BIGINT) seen_older,
        |    CAST(COUNT(*) AS BIGINT) total_users
        |  FROM latest, ref
        |), r AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) events_30d,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 4) avg_value_30d
        |  FROM events, ref WHERE date_trunc('second', ts) >= ref_ts - INTERVAL 30 DAY
        |)
        |SELECT * FROM b, r""".stripMargin,

    "q43_daily_quota" ->
      """WITH ranked AS (
        |  SELECT user_id, strftime(date_trunc('second', ts), '%Y-%m-%d') AS "day",
        |    row_number() OVER (PARTITION BY user_id, strftime(date_trunc('second', ts), '%Y-%m-%d')
        |      ORDER BY date_trunc('second', ts), event_id) rn
        |  FROM events
        |)
        |SELECT "day", CAST(COUNT(*) AS BIGINT) kept, CAST(COUNT(DISTINCT user_id) AS BIGINT) users
        |FROM ranked WHERE rn <= 3
        |GROUP BY "day" ORDER BY "day"""".stripMargin,

    "q44_map_ops" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) sum_k,
        |  CAST(MAX(len(json_keys(props))) AS BIGINT) max_keys
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q46_detail_merge" ->
      """WITH listing AS (
        |  SELECT p_partkey product_id, p_name AS "name",
        |    CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_brand END brand,
        |    p_retailprice price,
        |    CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE CAST(p_size AS BIGINT) END sales_count,
        |    p_type description
        |  FROM part
        |), detail AS (
        |  SELECT p_partkey product_id,
        |    CASE WHEN p_partkey % 4 = 0 THEN '' ELSE 'D-' || p_brand END brand,
        |    CASE WHEN p_partkey % 3 = 0 THEN 0.0 ELSE p_retailprice + 100.0 END price,
        |    CASE WHEN p_partkey % 6 = 0 THEN NULL ELSE CAST(p_size AS BIGINT) * 2 END sales_count,
        |    CAST(NULL AS VARCHAR) description
        |  FROM part WHERE p_partkey % 2 = 0
        |), merged AS (
        |  SELECT l.product_id, l."name",
        |    CASE WHEN d.brand IS NOT NULL AND d.brand != '' THEN d.brand ELSE l.brand END brand,
        |    CASE WHEN d.price IS NOT NULL AND d.price != 0 THEN d.price ELSE l.price END price,
        |    coalesce(d.sales_count, l.sales_count) sales_count,
        |    CASE WHEN d.description IS NOT NULL AND d.description != '' THEN d.description ELSE l.description END description
        |  FROM listing l LEFT JOIN detail d USING (product_id)
        |)
        |SELECT product_id, "name", brand, price, sales_count, description FROM merged
        |WHERE brand IS NOT NULL AND trim(brand) != '' ORDER BY product_id""".stripMargin,

    "q47_category_counts" ->
      """WITH cats AS (
        |  SELECT 'r' || r_regionkey url, CAST(NULL AS BIGINT) category_id, FALSE is_leaf FROM region
        |  UNION ALL SELECT 'n' || n_nationkey, CAST(NULL AS BIGINT), FALSE FROM nation
        |  UNION ALL SELECT 's' || s_suppkey,
        |    CASE WHEN s_suppkey % 10 = 0 THEN NULL ELSE s_suppkey + 1000 END, TRUE FROM supplier
        |), prods AS (
        |  SELECT l_orderkey * 10 + l_linenumber product_id,
        |    CASE WHEN l_linenumber % 2 = 0 THEN 's' || l_suppkey END category_url,
        |    CASE WHEN l_linenumber % 2 = 1 THEN l_suppkey + 1000 END category_id
        |  FROM lineitem
        |), counts AS (
        |  SELECT c.url, count(DISTINCT p.product_id) cnt
        |  FROM cats c JOIN prods p
        |    ON p.category_url = c.url OR (c.category_id IS NOT NULL AND p.category_id = c.category_id)
        |  WHERE c.is_leaf GROUP BY c.url
        |)
        |SELECT c.url, c.category_id, c.is_leaf,
        |  CAST(CASE WHEN c.is_leaf THEN coalesce(cnt, 0) ELSE -1 END AS BIGINT) product_count
        |FROM cats c LEFT JOIN counts ct ON c.url = ct.url ORDER BY c.url""".stripMargin,

    "q48_metadata" ->
      """WITH f AS (
        |  SELECT c_custkey, c_name AS "name",
        |    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal * 1000 END price,
        |    NOT (c_custkey % 5 IN (0, 1)) seller_ok,
        |    NOT (c_custkey % 3 = 0) brand_ok,
        |    NOT (c_custkey % 7 = 0) cat_ok,
        |    NOT (c_custkey % 2 = 0) rating_ok,
        |    NOT (c_custkey % 13 = 0) sales_ok
        |  FROM customer
        |), scored AS (
        |  SELECT c_custkey, seller_ok, brand_ok, cat_ok,
        |    CASE WHEN "name" IS NOT NULL AND "name" != '' AND price IS NOT NULL AND c_custkey IS NOT NULL
        |      THEN round(0.5
        |        + 0.35 * ((seller_ok::INT + brand_ok::INT + cat_ok::INT) / 3.0)
        |        + 0.15 * ((rating_ok::INT + sales_ok::INT) / 2.0), 4)
        |      ELSE 0.0 END score
        |  FROM f
        |)
        |SELECT c_custkey,
        |  coalesce(array_to_string([x FOR x IN [
        |    CASE WHEN NOT seller_ok THEN 'seller_name' END,
        |    CASE WHEN NOT brand_ok THEN 'brand' END,
        |    CASE WHEN NOT cat_ok THEN 'category_id' END] IF x IS NOT NULL], ','), '') missing_fields,
        |  score completeness,
        |  CAST(c_custkey % 3 AS BIGINT) retry_count,
        |  CASE WHEN seller_ok AND brand_ok AND cat_ok THEN 'complete'
        |       WHEN score >= 0.7 THEN 'partial' ELSE 'incomplete' END data_quality,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'success' ELSE 'partial' END crawl_status
        |FROM scored ORDER BY c_custkey""".stripMargin,

    "q50_curation" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, n_chars, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) t,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') tk
        |  FROM documents
        |), langs AS (
        |  SELECT * FROM (VALUES
        |    ('de', ['der','die','das','und','ist','nicht','ein','mit','für','von']),
        |    ('en', ['the','a','of','and','to','in','is','it','that','for']),
        |    ('es', ['el','la','de','que','y','en','un','es','por','con']),
        |    ('fr', ['le','la','de','et','est','un','une','pour','dans','que']),
        |    ('vi', ['và','của','là','có','không','được','cho','với','này','các'])) AS v(l, sw)
        |), pred AS (
        |  SELECT doc_id, l lang_pred FROM (
        |    SELECT b.doc_id, g.l,
        |      CASE WHEN len(b.tk) > 0
        |        THEN round(len(list_filter(b.tk, x -> list_contains(g.sw, x)))::DOUBLE / len(b.tk), 6)
        |        ELSE 0.0 END s
        |    FROM base b CROSS JOIN langs g)
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) = 1
        |), qual AS (
        |  SELECT doc_id,
        |    round((CASE WHEN length(t) >= 50 AND length(t) <= 100000 THEN 1.0 WHEN length(t) > 0 THEN 0.5 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN len(tk) > 0 AND length(t)::DOUBLE / len(tk) >= 3 AND length(t)::DOUBLE / len(tk) <= 12 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN length(t) > 0 THEN length(regexp_replace(t, '[^\p{L} ]', '', 'g'))::DOUBLE / length(t) ELSE 0.0 END) * 0.5, 6) q
        |  FROM base
        |), gated AS (
        |  SELECT b.* FROM base b JOIN pred p USING (doc_id) JOIN qual u USING (doc_id)
        |  WHERE p.lang_pred IN ('en', 'vi') AND u.q >= 0.5
        |), exact AS (
        |  SELECT * FROM gated
        |  QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) END sh
        |  FROM exact
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
        |), losers AS (
        |  SELECT DISTINCT c.id_b FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.7
        |)
        |SELECT doc_id, lang, source, n_chars FROM exact
        |WHERE doc_id NOT IN (SELECT id_b FROM losers) ORDER BY doc_id""".stripMargin,

    "q51_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) <= 20
        |ORDER BY doc_id""".stripMargin,

    "q52_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    -- coalesce matches the engine: a NULL text counts 0 tokens
        |    coalesce(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '')), 0) ntok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_chars,
        |    SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |  FROM t
        |)
        |SELECT doc_id, lang, n_chars FROM c WHERE cum <= 5000 ORDER BY doc_id""".stripMargin,

    "q53_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') tk
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tk,
        |    greatest(1, CAST(ceil((len(tk) - 16)::DOUBLE / 48) AS INT)) nc
        |  FROM toks
        |), e AS (
        |  SELECT doc_id, tk, unnest(range(0, nc)) cid FROM c
        |)
        |SELECT doc_id, CAST(cid AS BIGINT) chunk_id,
        |  CAST(len(tk[cid*48+1:cid*48+64]) AS BIGINT) chunk_tokens,
        |  md5(array_to_string(tk[cid*48+1:cid*48+64], ' ')) chunk_hash
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    "q54_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact me at user' || doc_id || '@example.com or https://ex.com/p?id=' || doc_id
        |    WHEN doc_id % 7 = 0 THEN 'call +84 123 456 789 now ' || text
        |    ELSE text END t2
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) n_emails,
        |  CAST(len(regexp_extract_all(t2, 'https?://[^\s]+')) AS BIGINT) n_urls,
        |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9 .-]{7,}[0-9]')) AS BIGINT) n_phones,
        |  (len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |   OR len(regexp_extract_all(t2, 'https?://[^\s]+')) > 0
        |   OR len(regexp_extract_all(t2, '\+?[0-9][0-9 .-]{7,}[0-9]')) > 0) has_pii,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 .-]{7,}[0-9]', '<PHONE>', 'g')) redacted_hash
        |FROM planted ORDER BY doc_id""".stripMargin,

    "q55_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang, n_chars, CASE WHEN len(l) < 5 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+4], ' ') FOR i IN range(1, len(l) - 3)]) END sh
        |  FROM toks
        |), ev AS (
        |  SELECT DISTINCT unnest(sh) s FROM sh WHERE doc_id % 50 = 0
        |), contaminated AS (
        |  SELECT DISTINCT c.doc_id FROM (
        |    SELECT doc_id, unnest(sh) s FROM sh WHERE doc_id % 50 != 0) c
        |  JOIN ev ON c.s = ev.s
        |)
        |SELECT doc_id, lang, n_chars FROM sh
        |WHERE doc_id % 50 != 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    "q57_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') tk
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, tk,
        |    CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
        |      ELSE [array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))] END g2
        |  FROM toks
        |), f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) > 0 THEN round(1.0 - len(list_distinct(tk))::DOUBLE / len(tk), 6) ELSE 0.0 END dup_token_frac,
        |    CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6) ELSE 0.0 END dup_bigram_frac
        |  FROM g
        |)
        |SELECT doc_id, dup_token_frac, dup_bigram_frac, dup_bigram_frac > 0.2 is_repetitive
        |FROM f ORDER BY doc_id""".stripMargin,

    "q56_dup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
        |), p AS (
        |  SELECT c.id_a, c.id_b FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3
        |), edges AS (
        |  SELECT id_a a, id_b b FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT a doc_id, least(a, min(b)) cluster_id FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "q49_path_root" ->
      """WITH p AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 3 = 0 THEN [n_name, s_name]
        |         WHEN s_suppkey % 3 = 1 THEN [n_name, 'Root', s_name]
        |         ELSE ['Root', n_name, s_name] END path
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |)
        |SELECT s_suppkey, array_to_string(
        |  CASE WHEN path[1] != 'Root'
        |    THEN list_prepend('Root', list_filter(path, x -> x != 'Root'))
        |    ELSE path END, '>') AS path
        |FROM p ORDER BY s_suppkey""".stripMargin,

    // independent reconstruction: the tree was assembled region→nation→
    // supplier, so the flattened rows are exactly those three levels
    "q58_tree_flatten" ->
      """SELECT r_name AS "name", '/r/' || r_regionkey AS url,
        |  CAST(NULL AS VARCHAR) parent_url, CAST(1 AS BIGINT) "level" FROM region
        |UNION ALL
        |SELECT n_name, '/n/' || n_nationkey, '/r/' || n_regionkey, 2 FROM nation
        |UNION ALL
        |SELECT s_name, '/s/' || s_suppkey, '/n/' || s_nationkey, 3 FROM supplier
        |ORDER BY url""".stripMargin,

    "q59_parent_repair" ->
      """WITH cats AS (
        |  SELECT '/c/n' || n_nationkey url, n_name "name", '/c/r' || n_regionkey parent_url FROM nation
        |  UNION ALL
        |  SELECT '/c/r' || r_regionkey, r_name, NULL FROM region WHERE r_regionkey % 2 = 0
        |), refdim AS (
        |  SELECT '/c/r' || r_regionkey url, 'REF ' || r_name "name",
        |    CAST(NULL AS VARCHAR) parent_url FROM region WHERE r_regionkey = 1
        |), missing AS (
        |  SELECT DISTINCT parent_url url FROM cats
        |  WHERE parent_url IS NOT NULL AND parent_url NOT IN (SELECT url FROM cats)
        |), repaired AS (
        |  SELECT * FROM cats
        |  UNION ALL SELECT r.url, r."name", r.parent_url FROM missing m JOIN refdim r USING (url)
        |  UNION ALL SELECT m.url,
        |    upper(substr(regexp_extract(m.url, '/([^/]+)/?$', 1), 1, 1))
        |      || substr(regexp_extract(m.url, '/([^/]+)/?$', 1), 2),
        |    NULL
        |  FROM missing m WHERE m.url NOT IN (SELECT url FROM refdim)
        |), with_path AS (
        |  SELECT c.url, c."name", c.parent_url,
        |    CASE WHEN p."name" IS NOT NULL THEN p."name" || '>' || c."name" ELSE c."name" END path,
        |    CAST(CASE WHEN p."name" IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) "level"
        |  FROM repaired c LEFT JOIN repaired p ON c.parent_url = p.url
        |)
        |SELECT w.url, w."name", w.parent_url, w.path, w."level",
        |  w.url NOT IN (SELECT parent_url FROM repaired WHERE parent_url IS NOT NULL) is_leaf
        |FROM with_path w ORDER BY w.url""".stripMargin,

    "q60_transform_stats" ->
      """WITH raw AS (
        |  SELECT o_orderkey k, o_totalprice, o_orderpriority
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), flat AS (
        |  SELECT
        |    CASE WHEN k % 13 = 0 THEN 'X' || k ELSE CAST(k % 4000 AS VARCHAR) END product_id,
        |    CASE WHEN k % 17 = 0 THEN ''
        |      ELSE trim(regexp_replace('  Product  ' || o_orderpriority || '  ', '\s+', ' ', 'g')) END "name",
        |    CASE WHEN k % 19 = 0 THEN 'ftp://bad' ELSE 'https://shop.example/p/' || k END url,
        |    o_totalprice price,
        |    CASE WHEN k % 23 = 0 THEN o_totalprice * 0.5 ELSE o_totalprice * 1.25 END original_price,
        |    (k % 70) / 10.0 rating_average
        |  FROM raw
        |), v AS (
        |  SELECT * FROM flat
        |  WHERE regexp_matches(product_id, '^[0-9]+$')
        |    AND "name" != ''
        |    AND regexp_matches(url, '^https?://')
        |    AND price >= 0 AND price <= original_price
        |    AND rating_average >= 0 AND rating_average <= 5
        |)
        |SELECT (SELECT count(*) FROM flat)::BIGINT total,
        |  (SELECT count(*) FROM v)::BIGINT "valid",
        |  ((SELECT count(*) FROM flat) - (SELECT count(*) FROM v))::BIGINT invalid,
        |  ((SELECT count(*) FROM v) - (SELECT count(DISTINCT product_id) FROM v))::BIGINT duplicates_removed,
        |  (SELECT count(DISTINCT product_id) FROM v)::BIGINT kept""".stripMargin,

    "q61_tree_build" ->
      """WITH cats AS (
        |  SELECT '/c/n' || n_nationkey url, n_name "name", '/c/r' || n_regionkey parent_url FROM nation
        |  UNION ALL
        |  SELECT '/c/r' || r_regionkey, r_name, NULL FROM region
        |)
        |SELECT parent_url, count(*)::BIGINT n_children,
        |  string_agg("name", '|' ORDER BY "name", url) child_names
        |FROM cats GROUP BY parent_url ORDER BY parent_url""".stripMargin,

    // thresholds: floor(w * 2^32) as 8 lowercase hex chars (0.5 -> 80000000,
    // 0.3 -> 4ccccccc); fixed-width hex compares lexicographically. The
    // 'mix||' prefix is the operator's domain separation vs assignSplits.
    "q62_mixture_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (lang = 'en' AND substr(md5('mix||' || doc_id::VARCHAR), 1, 8) < '80000000')
        |   OR (lang = 'de' AND substr(md5('mix||' || doc_id::VARCHAR), 1, 8) < '4ccccccc')
        |ORDER BY doc_id""".stripMargin,

    "q63_top_tokens" ->
      """SELECT token, count(*)::BIGINT n FROM (
        |  SELECT unnest(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '')) token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    // the payload was assembled from part, so the parsed rows reconstruct
    // directly; fields absent from the payload must come back NULL
    "q64_payload_parse" ->
      """SELECT CAST(p_partkey AS VARCHAR) product_id, p_name "name",
        |  CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE p_brand END brand,
        |  p_retailprice current_price, 'VND' currency,
        |  CAST(NULL AS DOUBLE) original_price,
        |  CAST(NULL AS DOUBLE) rating_average,
        |  CAST(2 AS BIGINT) n_images,
        |  p_type spec_container,
        |  CAST(p_partkey % 1000 AS VARCHAR) sales_count
        |FROM part ORDER BY p_partkey""".stripMargin,

    // sequential model of the store lifecycle: per (day, product) the
    // max-orderkey row wins the day (latest-per-key tiebreak), the latest
    // day wins the upsert; history totals split at the archive cutoff
    "q65_store_lifecycle" ->
      """WITH b AS (
        |  SELECT o_orderkey % 3 d, CAST(o_orderkey % 500 AS VARCHAR) product_id,
        |    o_totalprice price, o_orderkey
        |  FROM orders
        |), per_day AS (
        |  SELECT * FROM b
        |  QUALIFY row_number() OVER (PARTITION BY d, product_id ORDER BY o_orderkey DESC) = 1
        |), final AS (
        |  SELECT * FROM per_day
        |  QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY d DESC) = 1
        |), t AS (
        |  SELECT
        |    (SELECT count(*) FROM per_day WHERE d = 2)::BIGINT n_live,
        |    (SELECT count(*) FROM per_day WHERE d < 2)::BIGINT n_archived
        |)
        |SELECT f.product_id, f.price, t.n_live, t.n_archived
        |FROM final f CROSS JOIN t ORDER BY f.product_id""".stripMargin,

    // the precedence chain as coalesce over left joins from the key universe
    "q66_precedence_merge" ->
      """WITH b AS (
        |  SELECT n_nationkey k,
        |    CASE WHEN n_nationkey % 4 = 0 THEN '' ELSE 'B-' || n_name END "name",
        |    CASE WHEN n_nationkey % 6 = 0 THEN NULL ELSE n_nationkey * 10 END pop
        |  FROM nation WHERE n_nationkey % 2 = 0
        |), c AS (
        |  SELECT n_nationkey k, 'C-' || n_name "name", n_nationkey * 100 pop
        |  FROM nation WHERE n_nationkey % 3 = 0
        |), d AS (
        |  SELECT n_nationkey k, 'D-' || n_name "name",
        |    CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey * 1000 END pop
        |  FROM nation
        |), u AS (
        |  SELECT k FROM b UNION SELECT k FROM c UNION SELECT k FROM d
        |)
        |SELECT u.k,
        |  coalesce(nullif(b."name", ''), nullif(c."name", ''), nullif(d."name", '')) "name",
        |  coalesce(b.pop, c.pop, d.pop) pop
        |FROM u LEFT JOIN b ON u.k = b.k LEFT JOIN c ON u.k = c.k LEFT JOIN d ON u.k = d.k
        |ORDER BY u.k""".stripMargin,

    // salting is a physical rewrite: the oracle is the UNSALTED query
    "q67_skew_salted" ->
      """SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty,
        |  count(*)::BIGINT n, s_name, s_nationkey
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY l_suppkey, s_name, s_nationkey
        |ORDER BY l_suppkey""".stripMargin,

    // cumulative hash ranges: 0.8 -> cccccccc, 0.9 -> e6666666; the
    // 'split||' prefix is the operator's domain separation vs mixtureSample
    "q68_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5('split||' || doc_id::VARCHAR), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5('split||' || doc_id::VARCHAR), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same banding + signature family as q25, but candidates cross from the
    // batch (doc_id % 5 = 0) into the corpus (the rest); best verified match
    // per batch doc, ties to the lowest corpus id
    "q69_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 != 0
        |), sj AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), best AS (
        |  SELECT id_a, id_b, jaccard FROM sj WHERE jaccard >= 0.3
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) = 1
        |)
        |SELECT d.doc_id, (h.id_b IS NOT NULL) AS is_dup, h.id_b AS dup_of, h.jaccard
        |FROM documents d LEFT JOIN best h ON h.id_a = d.doc_id
        |WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin,

    // q70: the envelope JSON + atomic-sink round-trip is identity on the
    // constructed fields, so the digest is computable straight from `part`
    "q70_envelope_roundtrip" ->
      """SELECT '2024-01-01T00:00:' || lpad(CAST(p_partkey % 20 AS VARCHAR), 2, '0') AS envelope_crawled_at,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MIN(CAST(p_partkey AS VARCHAR)) AS min_pid,
        |  MAX(CAST(p_partkey AS VARCHAR)) AS max_pid
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    // q71: q69's MinHash model extended to the two-batch ingest cycle —
    // batch 2's corpus is the original corpus PLUS batch 1's survivors
    // (batch-1 docs with no verified match >= 0.3 in the original corpus)
    "q71_ingest_cycle" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand1 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 >= 2
        |), sj1 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand1 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), dup1 AS (
        |  SELECT DISTINCT id_a FROM sj1 WHERE jaccard >= 0.3
        |), cand2 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 1 AND (y.doc_id % 5 >= 2 OR
        |    (y.doc_id % 5 = 0 AND y.doc_id NOT IN (SELECT id_a FROM dup1)))
        |), sj2 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand2 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), best2 AS (
        |  SELECT id_a, id_b, jaccard FROM sj2 WHERE jaccard >= 0.3
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) = 1
        |)
        |SELECT d.doc_id, (h.id_b IS NOT NULL) AS is_dup, h.id_b AS dup_of, h.jaccard
        |FROM documents d LEFT JOIN best2 h ON h.id_a = d.doc_id
        |WHERE d.doc_id % 5 = 1 ORDER BY d.doc_id""".stripMargin,

    // q72: the category JSON round-trip is identity on the constructed
    // fields; is_leaf = url not referenced as any parent_url
    "q72_category_roundtrip" ->
      """SELECT 'https://shop.example/c/n' || n_nationkey AS url,
        |  n_name AS name,
        |  'https://shop.example/c/r' || n_regionkey AS parent_url,
        |  'c' || (n_regionkey * 100 + n_nationkey) AS category_id,
        |  CAST(2 AS INTEGER) AS level, true AS is_leaf
        |FROM nation
        |UNION ALL
        |SELECT 'https://shop.example/c/r' || r_regionkey, r_name, NULL,
        |  'c' || r_regionkey, CAST(1 AS INTEGER), false
        |FROM region
        |ORDER BY url""".stripMargin,

    // q73: q71's MinHash ingest model extended to three batches — batch 3's
    // corpus is the original (%5>=3) plus batch 1's and batch 2's survivors.
    // The oracle is purely relational (no file/compaction concept), so the
    // hash match proves the two compactMinhashIndex passes preserved the
    // index exactly.
    "q73_compacted_ingest" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand1 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 >= 3
        |), sj1 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand1 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), dup1 AS (
        |  SELECT DISTINCT id_a FROM sj1 WHERE jaccard >= 0.3
        |), cand2 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 1 AND (y.doc_id % 5 >= 3 OR
        |    (y.doc_id % 5 = 0 AND y.doc_id NOT IN (SELECT id_a FROM dup1)))
        |), sj2 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand2 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), dup2 AS (
        |  SELECT DISTINCT id_a FROM sj2 WHERE jaccard >= 0.3
        |), cand3 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 2 AND (y.doc_id % 5 >= 3 OR
        |    (y.doc_id % 5 = 0 AND y.doc_id NOT IN (SELECT id_a FROM dup1)) OR
        |    (y.doc_id % 5 = 1 AND y.doc_id NOT IN (SELECT id_a FROM dup2)))
        |), sj3 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand3 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), best3 AS (
        |  SELECT id_a, id_b, jaccard FROM sj3 WHERE jaccard >= 0.3
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) = 1
        |)
        |SELECT d.doc_id, (h.id_b IS NOT NULL) AS is_dup, h.id_b AS dup_of, h.jaccard
        |FROM documents d LEFT JOIN best3 h ON h.id_a = d.doc_id
        |WHERE d.doc_id % 5 = 2 ORDER BY d.doc_id""".stripMargin,

    // q74: fixed centroids = embeddings vec_id 0..7 (list id = vec_id).
    // Assignment is argmin of squared L2 (ties -> lower list), the probe
    // takes each query's 4 nearest lists, exact cosine (6 dp) top-5 inside
    // them — the same double-precision arithmetic q29/q30 already
    // hash-match on. The appended batch (%5=4) and the compaction are
    // invisible relationally: assignment is nearest-centroid either way.
    "q74_ivf_fixed" ->
      """WITH cent AS (
        |  SELECT vec_id AS list, embedding FROM embeddings WHERE vec_id < 8
        |), dist AS (
        |  SELECT e.vec_id, c.list,
        |    list_sum([(e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |            * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) FOR i IN range(1, 65)]) d2
        |  FROM embeddings e CROSS JOIN cent c
        |), assigned AS (
        |  SELECT vec_id, list FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) = 1
        |), qprobe AS (
        |  SELECT vec_id AS query_id, list FROM dist WHERE vec_id % 101 = 7
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) <= 4
        |), scored AS (
        |  SELECT qp.query_id, a.vec_id neighbor_id,
        |    round(list_sum([q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM qprobe qp
        |  JOIN embeddings q ON q.vec_id = qp.query_id
        |  JOIN assigned a ON a.list = qp.list AND a.vec_id != qp.query_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM scored
        |)
        |SELECT query_id, CAST(rk AS BIGINT) rank, neighbor_id, cosine FROM r WHERE rk <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // statefulCdc processes each key's observations in (crawled_at, price,
    // sales_count) order — within a batch by its explicit sort, across
    // batches because the day slices partition crawled_at — so the stream's
    // state recursion collapses to one lag window in that exact order.
    // `ts IS NOT NULL` matches the stream side explicitly: the query's day
    // slices drop NULL-ts rows (every range comparison yields null), so the
    // oracle must too — shipped drops have no null ts, but the gate should
    // not depend on that staying true. First sight classifies as
    // price_change (the reference's "first crawl counts as change"),
    // matching the batch CDC surface.
    "q75_stateful_cdc" ->
      """WITH obs AS (
        |  SELECT 'u' || user_id product_id, value price,
        |    CAST(event_id % 100 AS BIGINT) sales_count, ts crawled_at
        |  FROM events WHERE user_id % 3 = 0 AND ts IS NOT NULL
        |), seq AS (
        |  SELECT *, lag(price) OVER w prev_price, lag(sales_count) OVER w prev_sales
        |  FROM obs
        |  WINDOW w AS (PARTITION BY product_id ORDER BY crawled_at, price, sales_count)
        |), typed AS (
        |  SELECT product_id,
        |    CASE WHEN prev_price IS NULL THEN 'price_change'
        |         WHEN price != prev_price THEN 'price_change'
        |         WHEN sales_count != prev_sales THEN 'sales_change' END crawl_type,
        |    price, prev_price previous_price,
        |    CASE WHEN prev_price IS NOT NULL AND price != prev_price
        |      THEN price - prev_price END price_change,
        |    CASE WHEN prev_price IS NOT NULL AND price = prev_price AND sales_count != prev_sales
        |      THEN sales_count - prev_sales END sales_change,
        |    date_trunc('second', crawled_at) crawled_at
        |  FROM seq
        |)
        |SELECT * FROM typed WHERE crawl_type IS NOT NULL
        |ORDER BY product_id, crawled_at""".stripMargin,

    // cdcProcessBatch derives each batch against the latest-per-key
    // companion built from prior batches' CHANGED rows. A no_change row
    // never enters the companion but carries values identical to the state
    // it matched, so per key "previous state" ≡ the previous batch's head
    // row — the companion recursion collapses to a lag window over
    // per-(key, batch) head rows ordered by batch id.
    "q76_cdc_sink" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count,
        |    ts crawled_at, event_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 2 END batch_id
        |  -- ts IS NOT NULL matches the query's slice semantics: a NULL-ts row
        |  -- falls out of every range filter on the Spark side, while the CASE
        |  -- above would route it to batch 2 — the sides must agree explicitly
        |  FROM events WHERE ts IS NOT NULL
        |), heads AS (
        |  SELECT * FROM ev
        |  QUALIFY row_number() OVER (
        |    PARTITION BY product_id, batch_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), valid AS (
        |  SELECT * FROM heads WHERE product_id IS NOT NULL AND price IS NOT NULL
        |), seq AS (
        |  SELECT *,
        |    lag(price) OVER w previous_price,
        |    lag(original_price) OVER w previous_original_price,
        |    lag(discount_percent) OVER w previous_discount_percent,
        |    lag(sales_count) OVER w previous_sales_count
        |  FROM valid WINDOW w AS (PARTITION BY product_id ORDER BY batch_id)
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL
        |      AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price)
        |      OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM seq
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type,
        |    CASE WHEN original_price IS NOT NULL AND price IS NOT NULL
        |      THEN original_price - price END discount_amount
        |  FROM typed
        |)
        |SELECT product_id, price, original_price, discount_percent, discount_amount,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL THEN price - previous_price END price_change,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL AND previous_price > 0
        |    THEN round((price - previous_price) / previous_price * 100, 2) END price_change_percent,
        |  previous_price, previous_original_price, previous_discount_percent,
        |  sales_count, sales_change,
        |  (coalesce(discount_percent, 0) >= 30 OR coalesce(discount_amount, 0) >= 100000) is_flash_sale,
        |  crawl_type, date_trunc('second', crawled_at) crawled_at,
        |  CAST(batch_id AS BIGINT) batch_id
        |FROM ev2 WHERE crawl_type != 'no_change' ORDER BY batch_id, product_id""".stripMargin,

    // q77 = the q76 derivation with only the LIVE (unexpired) batch
    // surviving archival: batches 0-1 expire wholly below the cutoff, so
    // the live tree is exactly batch 2's events. A hash match proves the
    // archive moved the expired partitions and ONLY them.
    "q77_event_archive" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count,
        |    ts crawled_at, event_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 2 END batch_id
        |  FROM events WHERE ts IS NOT NULL
        |), heads AS (
        |  SELECT * FROM ev
        |  QUALIFY row_number() OVER (
        |    PARTITION BY product_id, batch_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), valid AS (
        |  SELECT * FROM heads WHERE product_id IS NOT NULL AND price IS NOT NULL
        |), seq AS (
        |  SELECT *,
        |    lag(price) OVER w previous_price,
        |    lag(original_price) OVER w previous_original_price,
        |    lag(discount_percent) OVER w previous_discount_percent,
        |    lag(sales_count) OVER w previous_sales_count
        |  FROM valid WINDOW w AS (PARTITION BY product_id ORDER BY batch_id)
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL
        |      AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price)
        |      OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM seq
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type
        |  FROM typed
        |)
        |SELECT product_id, price, previous_price,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL THEN price - previous_price END price_change,
        |  sales_count, sales_change, crawl_type,
        |  date_trunc('second', crawled_at) crawled_at,
        |  CAST(batch_id AS BIGINT) batch_id
        |FROM ev2 WHERE crawl_type != 'no_change' AND batch_id = 2
        |ORDER BY product_id""".stripMargin,

    // q78: statefulCdcFrom's snapshot bootstrap collapses to the same lag
    // window as q75 with the pre-cutoff latest-per-key rows unioned in as
    // virtual order-0 observations — they seed each key's first lag, then
    // drop out of the output (ord = 0 rows are state, not events).
    "q78_bootstrap_cdc" ->
      """WITH obs AS (
        |  SELECT 'u' || user_id product_id, value price,
        |    CAST(event_id % 100 AS BIGINT) sales_count, ts crawled_at
        |  FROM events WHERE user_id % 3 = 0 AND ts IS NOT NULL
        |), seed AS (
        |  SELECT product_id, price, sales_count,
        |    CAST(NULL AS TIMESTAMP) crawled_at, 0 ord
        |  FROM obs WHERE crawled_at < TIMESTAMP '2024-01-16 00:00:00'
        |  QUALIFY row_number() OVER (PARTITION BY product_id
        |    ORDER BY crawled_at DESC, price DESC, sales_count DESC) = 1
        |), post AS (
        |  SELECT product_id, price, sales_count, crawled_at, 1 ord FROM obs
        |  WHERE crawled_at >= TIMESTAMP '2024-01-16 00:00:00'
        |), uni AS (
        |  SELECT * FROM seed UNION ALL SELECT * FROM post
        |), seq AS (
        |  SELECT *, lag(price) OVER w prev_price, lag(sales_count) OVER w prev_sales
        |  FROM uni
        |  WINDOW w AS (PARTITION BY product_id ORDER BY ord, crawled_at, price, sales_count)
        |), typed AS (
        |  SELECT product_id,
        |    CASE WHEN prev_price IS NULL THEN 'price_change'
        |         WHEN price != prev_price THEN 'price_change'
        |         WHEN sales_count != prev_sales THEN 'sales_change' END crawl_type,
        |    price, prev_price previous_price,
        |    CASE WHEN prev_price IS NOT NULL AND price != prev_price
        |      THEN price - prev_price END price_change,
        |    CASE WHEN prev_price IS NOT NULL AND price = prev_price AND sales_count != prev_sales
        |      THEN sales_count - prev_sales END sales_change,
        |    date_trunc('second', crawled_at) crawled_at, ord
        |  FROM seq
        |)
        |SELECT product_id, crawl_type, price, previous_price, price_change,
        |  sales_change, crawled_at
        |FROM typed WHERE ord = 1 AND crawl_type IS NOT NULL
        |ORDER BY product_id, crawled_at""".stripMargin,

    // q79 = q33's derivation with a 15-day staleness horizon (the prev→batch
    // gap spans ~13-17 days at test SFs, so BOTH branches are exercised:
    // fresh keys classify against real state, stale keys re-classify as
    // first sightings): previous state older than (crawled_at - horizon)
    // is nulled BEFORE classification, so first_crawl and every downstream
    // delta see the re-classified state.
    "q79_stale_cdc" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count, ts crawled_at, event_id
        |  FROM events
        |), hist AS (
        |  SELECT product_id, price, original_price, discount_percent, sales_count, crawled_at
        |  FROM ev WHERE crawled_at < TIMESTAMP '2024-01-16 00:00:00'
        |), batch AS (
        |  SELECT product_id, price, original_price, discount_percent, sales_count, crawled_at FROM ev
        |  QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), prev AS (
        |  SELECT product_id, price previous_price, original_price previous_original_price,
        |    discount_percent previous_discount_percent, sales_count previous_sales_count,
        |    crawled_at previous_crawled_at FROM hist
        |  QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY crawled_at DESC, price DESC) = 1
        |), joined AS (
        |  SELECT b.product_id, b.price, b.original_price, b.discount_percent, b.sales_count, b.crawled_at,
        |    (p.previous_crawled_at IS NOT NULL AND b.crawled_at IS NOT NULL
        |      AND p.previous_crawled_at < b.crawled_at - INTERVAL 15 DAY) stale,
        |    p.previous_price, p.previous_original_price, p.previous_discount_percent, p.previous_sales_count
        |  FROM batch b LEFT JOIN prev p USING (product_id)
        |  WHERE b.product_id IS NOT NULL AND b.price IS NOT NULL
        |), fresh AS (
        |  SELECT product_id, price, original_price, discount_percent, sales_count, crawled_at,
        |    CASE WHEN stale THEN NULL ELSE previous_price END previous_price,
        |    CASE WHEN stale THEN NULL ELSE previous_original_price END previous_original_price,
        |    CASE WHEN stale THEN NULL ELSE previous_discount_percent END previous_discount_percent,
        |    CASE WHEN stale THEN NULL ELSE previous_sales_count END previous_sales_count
        |  FROM joined
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price) OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM fresh
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type,
        |    CASE WHEN original_price IS NOT NULL AND price IS NOT NULL THEN original_price - price END discount_amount
        |  FROM typed
        |)
        |SELECT product_id, price, original_price, discount_percent, discount_amount,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL AND previous_price IS NOT NULL
        |    THEN price - previous_price END price_change,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL AND previous_price IS NOT NULL
        |    AND previous_price > 0 THEN round((price - previous_price) / previous_price * 100, 2) END price_change_percent,
        |  previous_price, previous_original_price, previous_discount_percent,
        |  sales_count, sales_change,
        |  (coalesce(discount_percent, 0) >= 30 OR coalesce(discount_amount, 0) >= 100000) is_flash_sale,
        |  crawl_type, date_trunc('second', crawled_at) crawled_at
        |FROM ev2 WHERE crawl_type != 'no_change' ORDER BY product_id""".stripMargin,

    // q80 = the q76/q77 derivation restricted to the EXPIRED batches (0-1):
    // exactly what archival moved under _archive/ and compaction rewrote.
    "q80_archive_compact" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count,
        |    ts crawled_at, event_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 2 END batch_id
        |  FROM events WHERE ts IS NOT NULL
        |), heads AS (
        |  SELECT * FROM ev
        |  QUALIFY row_number() OVER (
        |    PARTITION BY product_id, batch_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), valid AS (
        |  SELECT * FROM heads WHERE product_id IS NOT NULL AND price IS NOT NULL
        |), seq AS (
        |  SELECT *,
        |    lag(price) OVER w previous_price,
        |    lag(original_price) OVER w previous_original_price,
        |    lag(discount_percent) OVER w previous_discount_percent,
        |    lag(sales_count) OVER w previous_sales_count
        |  FROM valid WINDOW w AS (PARTITION BY product_id ORDER BY batch_id)
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL
        |      AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price)
        |      OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM seq
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type
        |  FROM typed
        |)
        |SELECT product_id, price, previous_price,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL THEN price - previous_price END price_change,
        |  sales_count, sales_change, crawl_type,
        |  date_trunc('second', crawled_at) crawled_at,
        |  CAST(batch_id AS BIGINT) batch_id
        |FROM ev2 WHERE crawl_type != 'no_change' AND batch_id < 2
        |ORDER BY batch_id, product_id""".stripMargin,

    // q81 models Spark's EventTimeTimeout relationally: the watermark
    // after batch j is the max event time (ms, floor — Spark tracks
    // µs/1000) over batches ≤ j, and every watermark advance triggers a
    // NO-DATA sweep batch (drained by processAllAvailable) that evicts
    // keys whose timeout the new watermark STRICTLY passed — keys with
    // data in a batch are never swept there (data precedence, their
    // timeout re-arms). So consecutive observations of a key evict iff
    // they land in DIFFERENT batches and the cumulative max event time
    // through cur-1 exceeds prev + ttl (watermarks are monotone — the
    // last pre-cur sweep covers every earlier opportunity); same-batch
    // neighbors never evict. An evicted key's next observation is a
    // first sighting (null previous, no deltas).
    "q81_event_ttl_cdc" ->
      """WITH obs AS (
        |  SELECT 'u' || user_id product_id, value price,
        |    CAST(event_id % 100 AS BIGINT) sales_count, ts crawled_at,
        |    CASE WHEN ts < TIMESTAMP '2024-01-06 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 1
        |         WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 2
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 3
        |         WHEN ts < TIMESTAMP '2024-01-26 00:00:00' THEN 4 ELSE 5 END batch_id
        |  FROM events WHERE user_id % 3 = 0 AND event_id % 8 = 0 AND ts IS NOT NULL
        |), bmax AS (
        |  SELECT batch_id, max(epoch_ms(crawled_at)) mx FROM obs GROUP BY batch_id
        |), seq AS (
        |  SELECT *, lag(price) OVER w prev_price, lag(sales_count) OVER w prev_sales,
        |    lag(crawled_at) OVER w prev_ts, lag(batch_id) OVER w prev_bid
        |  FROM obs
        |  WINDOW w AS (PARTITION BY product_id ORDER BY crawled_at, price, sales_count)
        |), ev AS (
        |  SELECT *, coalesce(
        |    prev_bid IS NOT NULL AND prev_bid < batch_id AND
        |      (SELECT max(mx) FROM bmax b WHERE b.batch_id < seq.batch_id)
        |        > epoch_ms(prev_ts) + 345600000, FALSE) evicted
        |  FROM seq
        |), typed AS (
        |  SELECT product_id,
        |    CASE WHEN prev_price IS NULL OR evicted THEN 'price_change'
        |         WHEN price != prev_price THEN 'price_change'
        |         WHEN sales_count != prev_sales THEN 'sales_change' END crawl_type,
        |    price,
        |    CASE WHEN evicted THEN NULL ELSE prev_price END previous_price,
        |    CASE WHEN NOT evicted AND prev_price IS NOT NULL AND price != prev_price
        |      THEN price - prev_price END price_change,
        |    CASE WHEN NOT evicted AND prev_price IS NOT NULL AND price = prev_price
        |      AND sales_count != prev_sales THEN sales_count - prev_sales END sales_change,
        |    date_trunc('second', crawled_at) crawled_at
        |  FROM ev
        |)
        |SELECT * FROM typed WHERE crawl_type IS NOT NULL
        |ORDER BY product_id, crawled_at""".stripMargin,

    // q84 models dropDuplicatesWithinWatermark's state machine with a
    // RECURSIVE per-key chain: a row is KEPT iff the previous KEPT row's
    // state expired — dedup state does NOT refresh on dropped duplicates,
    // so expiry tracks the last kept row's event time + delay, and the
    // verdict recursion cannot be expressed with a plain lag(). The
    // eviction rule was pinned against Spark's bytecode and the sf0.01
    // run: the WATERMARK is max event ms over strictly earlier batches
    // MINUS the delay (withWatermark subtracts it — unlike q81's 0-delay
    // timers), state expires at the kept row's event time (µs) PLUS the
    // delay, and eviction is NON-STRICT (wm_µs >= expiry,
    // StreamingDeduplicateWithinWatermarkExec.evictDupInfoFromState).
    // Slices are per-key unique (heads), so within-batch arrival order is
    // moot and the first row per key is kept unconditionally (empty state).
    "q84_stream_dedup" ->
      """WITH RECURSIVE obs AS (
        |  SELECT 'u' || user_id product_id, value price,
        |    CAST(event_id % 100 AS BIGINT) sales_count, ts crawled_at, event_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-06 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 1
        |         WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 2
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 3
        |         WHEN ts < TIMESTAMP '2024-01-26 00:00:00' THEN 4 ELSE 5 END batch_id
        |  FROM events WHERE user_id % 3 = 0 AND event_id % 8 = 0 AND ts IS NOT NULL
        |), heads AS (
        |  SELECT * FROM obs
        |  QUALIFY row_number() OVER (
        |    PARTITION BY product_id, batch_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), bmax AS (
        |  SELECT batch_id, max(epoch_ms(crawled_at)) mx FROM heads GROUP BY batch_id
        |), seq AS (
        |  SELECT product_id, batch_id, crawled_at, price, sales_count,
        |    row_number() OVER (PARTITION BY product_id ORDER BY batch_id) rn
        |  FROM heads
        |), chain AS (
        |  SELECT product_id, batch_id, crawled_at, price, sales_count, rn,
        |    TRUE AS kept, crawled_at AS last_kept_ts
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.product_id, s.batch_id, s.crawled_at, s.price, s.sales_count, s.rn,
        |    (coalesce((SELECT max(mx) FROM bmax b WHERE b.batch_id < s.batch_id),
        |        -100000000000) - 345600000) * 1000
        |      >= epoch_us(c.last_kept_ts) + 345600000000 AS kept,
        |    CASE WHEN (coalesce((SELECT max(mx) FROM bmax b WHERE b.batch_id < s.batch_id),
        |        -100000000000) - 345600000) * 1000
        |      >= epoch_us(c.last_kept_ts) + 345600000000
        |      THEN s.crawled_at ELSE c.last_kept_ts END AS last_kept_ts
        |  FROM seq s JOIN chain c ON s.product_id = c.product_id AND s.rn = c.rn + 1
        |)
        |SELECT product_id, price, sales_count, date_trunc('second', crawled_at) crawled_at
        |FROM chain WHERE kept ORDER BY product_id, crawled_at""".stripMargin,

    // q88 = per-slice row counts, relationally. The engine side reads them
    // from the StreamingQueryListener ledger, so the hash proves the
    // listener recorded every data batch with exactly the rows Spark
    // processed.
    "q88_progress_ledger" ->
      """WITH obs AS (
        |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-06 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 1
        |         WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 2
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 3
        |         WHEN ts < TIMESTAMP '2024-01-26 00:00:00' THEN 4 ELSE 5 END batch_id
        |  FROM events WHERE user_id % 3 = 0 AND event_id % 8 = 0 AND ts IS NOT NULL
        |), counts AS (
        |  SELECT batch_id, count(*) n FROM obs GROUP BY batch_id
        |)
        |SELECT CAST(row_number() OVER (ORDER BY batch_id) - 1 AS BIGINT) batch_ord,
        |  CAST(n AS BIGINT) n_rows
        |FROM counts ORDER BY batch_ord""".stripMargin,

    // q86 = q74's probe math at SIXTEEN injected centroids (vec_id<16):
    // the 8-list build/append/compact history the engine runs first is
    // relationally invisible — after the rebuild, assignment is
    // nearest-of-16 over the same corpus whichever path produced it.
    "q86_ivf_rebuild" ->
      """WITH cent AS (
        |  SELECT vec_id AS list, embedding FROM embeddings WHERE vec_id < 16
        |), dist AS (
        |  SELECT e.vec_id, c.list,
        |    list_sum([(e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |            * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) FOR i IN range(1, 65)]) d2
        |  FROM embeddings e CROSS JOIN cent c
        |), assigned AS (
        |  SELECT vec_id, list FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) = 1
        |), qprobe AS (
        |  SELECT vec_id AS query_id, list FROM dist WHERE vec_id % 101 = 7
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) <= 4
        |), scored AS (
        |  SELECT qp.query_id, a.vec_id neighbor_id,
        |    round(list_sum([q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM qprobe qp
        |  JOIN embeddings q ON q.vec_id = qp.query_id
        |  JOIN assigned a ON a.list = qp.list AND a.vec_id != qp.query_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM scored
        |)
        |SELECT query_id, CAST(rk AS BIGINT) rank, neighbor_id, cosine FROM r WHERE rk <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // q87 = q50's gate/dedup model applied PER BATCH with q71's evolving
    // index corpus: batch 1 (%5=0) is gated, exact-deduped, internally
    // near-dup-resolved (drop the larger id of each verified pair), then
    // cross-deduped against the %5>=3 seed corpus; its kept set joins the
    // corpus for batch 2 (%5=1). Only the kept-set identity is modeled —
    // appends, ledgers and replay guards are file mechanics the oracle is
    // blind to, which is what the hash proves correct.
    "q87_curation_stream" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) t,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x != '') tk
        |  FROM documents
        |), langs AS (
        |  SELECT * FROM (VALUES
        |    ('de', ['der','die','das','und','ist','nicht','ein','mit','für','von']),
        |    ('en', ['the','a','of','and','to','in','is','it','that','for']),
        |    ('es', ['el','la','de','que','y','en','un','es','por','con']),
        |    ('fr', ['le','la','de','et','est','un','une','pour','dans','que']),
        |    ('vi', ['và','của','là','có','không','được','cho','với','này','các'])) AS v(l, sw)
        |), pred AS (
        |  SELECT doc_id, l lang_pred FROM (
        |    SELECT b.doc_id, g.l,
        |      CASE WHEN len(b.tk) > 0
        |        THEN round(len(list_filter(b.tk, x -> list_contains(g.sw, x)))::DOUBLE / len(b.tk), 6)
        |        ELSE 0.0 END s
        |    FROM base b CROSS JOIN langs g)
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) = 1
        |), qual AS (
        |  SELECT doc_id,
        |    round((CASE WHEN length(t) >= 50 AND length(t) <= 100000 THEN 1.0 WHEN length(t) > 0 THEN 0.5 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN len(tk) > 0 AND length(t)::DOUBLE / len(tk) >= 3 AND length(t)::DOUBLE / len(tk) <= 12 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN length(t) > 0 THEN length(regexp_replace(t, '[^\p{L} ]', '', 'g'))::DOUBLE / length(t) ELSE 0.0 END) * 0.5, 6) q
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) END sh
        |  FROM base
        |), sig AS (
        |  SELECT doc_id, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), jac AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) j
        |  FROM (SELECT DISTINCT x.doc_id, y.doc_id AS y_id FROM bands x
        |        JOIN bands y ON x.bk = y.bk AND x.doc_id != y.doc_id) c(doc_id, y_id)
        |  JOIN sh a ON a.doc_id = c.doc_id JOIN sh b ON b.doc_id = c.y_id
        |), g1 AS (
        |  SELECT b.doc_id, b.t FROM base b JOIN pred p USING (doc_id) JOIN qual u USING (doc_id)
        |  WHERE b.doc_id % 5 = 0 AND p.lang_pred IN ('en', 'vi') AND u.q >= 0.5
        |), e1 AS (
        |  SELECT doc_id FROM g1 QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
        |), i1 AS (
        |  SELECT doc_id FROM e1 WHERE doc_id NOT IN (
        |    SELECT j.id_b FROM jac j
        |    WHERE j.id_a IN (SELECT doc_id FROM e1) AND j.id_b IN (SELECT doc_id FROM e1)
        |      AND j.id_a < j.id_b AND j.j >= 0.7)
        |), k1 AS (
        |  SELECT doc_id FROM i1 WHERE doc_id NOT IN (
        |    SELECT j.id_a FROM jac j
        |    WHERE j.id_a IN (SELECT doc_id FROM i1) AND j.id_b % 5 >= 3 AND j.j >= 0.7)
        |), g2 AS (
        |  SELECT b.doc_id, b.t FROM base b JOIN pred p USING (doc_id) JOIN qual u USING (doc_id)
        |  WHERE b.doc_id % 5 = 1 AND p.lang_pred IN ('en', 'vi') AND u.q >= 0.5
        |), e2 AS (
        |  SELECT doc_id FROM g2 QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
        |), i2 AS (
        |  SELECT doc_id FROM e2 WHERE doc_id NOT IN (
        |    SELECT j.id_b FROM jac j
        |    WHERE j.id_a IN (SELECT doc_id FROM e2) AND j.id_b IN (SELECT doc_id FROM e2)
        |      AND j.id_a < j.id_b AND j.j >= 0.7)
        |), k2 AS (
        |  SELECT doc_id FROM i2 WHERE doc_id NOT IN (
        |    SELECT j.id_a FROM jac j
        |    WHERE j.id_a IN (SELECT doc_id FROM i2)
        |      AND (j.id_b % 5 >= 3 OR j.id_b IN (SELECT doc_id FROM k1)) AND j.j >= 0.7)
        |)
        |SELECT doc_id, CAST(0 AS BIGINT) batch_id FROM k1
        |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) batch_id FROM k2
        |ORDER BY batch_id, doc_id""".stripMargin,

    // q85 = the q76 relational CDC model over FOUR batches. The oracle has
    // no recovery concept — the engine side destroys and rebuilds the
    // companion between batches 1 and 2, so the hash match proves the
    // rebuilt state reproduces every post-recovery event exactly.
    "q85_cdc_recover" ->
      """WITH ev AS (
        |  SELECT user_id product_id, value price, value + 10.0 original_price,
        |    CAST(NULL AS DOUBLE) discount_percent, event_id % 100 sales_count,
        |    ts crawled_at, event_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1
        |         WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN 2 ELSE 3 END batch_id
        |  FROM events WHERE ts IS NOT NULL
        |), heads AS (
        |  SELECT * FROM ev
        |  QUALIFY row_number() OVER (
        |    PARTITION BY product_id, batch_id ORDER BY crawled_at DESC, event_id DESC) = 1
        |), valid AS (
        |  SELECT * FROM heads WHERE product_id IS NOT NULL AND price IS NOT NULL
        |), seq AS (
        |  SELECT *,
        |    lag(price) OVER w previous_price,
        |    lag(original_price) OVER w previous_original_price,
        |    lag(discount_percent) OVER w previous_discount_percent,
        |    lag(sales_count) OVER w previous_sales_count
        |  FROM valid WINDOW w AS (PARTITION BY product_id ORDER BY batch_id)
        |), typed AS (
        |  SELECT *,
        |    CASE WHEN previous_sales_count IS NOT NULL AND sales_count IS NOT NULL
        |      THEN sales_count - previous_sales_count END sales_change,
        |    (previous_price IS NULL AND previous_original_price IS NULL
        |      AND previous_discount_percent IS NULL) first_crawl,
        |    ((price IS DISTINCT FROM previous_price)
        |      OR (original_price IS DISTINCT FROM previous_original_price)
        |      OR (discount_percent IS DISTINCT FROM previous_discount_percent)) price_changed
        |  FROM seq
        |), ev2 AS (
        |  SELECT *,
        |    CASE WHEN first_crawl THEN 'price_change' WHEN price_changed THEN 'price_change'
        |         WHEN sales_change IS NOT NULL AND sales_change != 0 THEN 'sales_change'
        |         ELSE 'no_change' END crawl_type,
        |    CASE WHEN original_price IS NOT NULL AND price IS NOT NULL
        |      THEN original_price - price END discount_amount
        |  FROM typed
        |)
        |SELECT product_id, price, original_price, discount_percent, discount_amount,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL THEN price - previous_price END price_change,
        |  CASE WHEN NOT first_crawl AND crawl_type = 'price_change' AND price IS NOT NULL
        |    AND previous_price IS NOT NULL AND previous_price > 0
        |    THEN round((price - previous_price) / previous_price * 100, 2) END price_change_percent,
        |  previous_price, previous_original_price, previous_discount_percent,
        |  sales_count, sales_change,
        |  (coalesce(discount_percent, 0) >= 30 OR coalesce(discount_amount, 0) >= 100000) is_flash_sale,
        |  crawl_type, date_trunc('second', crawled_at) crawled_at,
        |  CAST(batch_id AS BIGINT) batch_id
        |FROM ev2 WHERE crawl_type != 'no_change' ORDER BY batch_id, product_id""".stripMargin,

    // q89 = q71's two-batch MinHash ingest model with deleted ids (% 7 = 0)
    // simply ABSENT from the index side: `live` is the post-append id set,
    // batch 2's candidates join live MINUS deleted, and the phase cross
    // join asserts the tombstone-filtered (0) and physically-compacted (1)
    // reads answer identically; phase 2 is the surviving manifest listing.
    "q89_index_delete" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand1 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 >= 2
        |), sj1 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand1 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), dup1 AS (
        |  SELECT DISTINCT id_a FROM sj1 WHERE jaccard >= 0.3
        |), live AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 >= 2
        |  UNION ALL
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id_a FROM dup1)
        |), cand2 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 1 AND y.doc_id % 7 != 0
        |    AND y.doc_id IN (SELECT doc_id FROM live)
        |), sj2 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand2 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), best2 AS (
        |  SELECT id_a, id_b, jaccard FROM sj2 WHERE jaccard >= 0.3
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) = 1
        |), verdicts AS (
        |  SELECT d.doc_id, (h.id_b IS NOT NULL) AS is_dup, h.id_b AS dup_of, h.jaccard
        |  FROM documents d LEFT JOIN best2 h ON h.id_a = d.doc_id
        |  WHERE d.doc_id % 5 = 1
        |)
        |SELECT CAST(ph.phase AS BIGINT) AS phase, v.doc_id, v.is_dup, v.dup_of, v.jaccard
        |FROM verdicts v CROSS JOIN (SELECT 0 AS phase UNION ALL SELECT 1) ph
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, CAST(NULL AS BOOLEAN), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |FROM live WHERE doc_id % 7 != 0
        |ORDER BY phase, doc_id""".stripMargin,

    // q90 = q74's fixed-centroid probe math with deleted vectors (% 9 = 0)
    // absent from the assigned corpus; the phase cross join asserts the
    // tombstone anti-join (0) and the post-compaction physical layout (1)
    // probe identically. Queries are untouched (they come from the source
    // table, not the index).
    "q90_ivf_delete" ->
      """WITH cent AS (
        |  SELECT vec_id AS list, embedding FROM embeddings WHERE vec_id < 8
        |), dist AS (
        |  SELECT e.vec_id, c.list,
        |    list_sum([(e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |            * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) FOR i IN range(1, 65)]) d2
        |  FROM embeddings e CROSS JOIN cent c
        |), assigned AS (
        |  SELECT vec_id, list FROM dist WHERE vec_id % 9 != 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) = 1
        |), qprobe AS (
        |  SELECT vec_id AS query_id, list FROM dist WHERE vec_id % 101 = 7
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) <= 4
        |), scored AS (
        |  SELECT qp.query_id, a.vec_id neighbor_id,
        |    round(list_sum([q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM qprobe qp
        |  JOIN embeddings q ON q.vec_id = qp.query_id
        |  JOIN assigned a ON a.list = qp.list AND a.vec_id != qp.query_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM scored
        |)
        |SELECT CAST(ph.phase AS BIGINT) AS phase, query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
        |FROM r CROSS JOIN (SELECT 0 AS phase UNION ALL SELECT 1) ph
        |WHERE rk <= 5
        |ORDER BY phase, query_id, rank""".stripMargin,

    // q91 = q89's model with the final index side `live2`: the post-append
    // live set minus deleted ids (% 7 = 0) PLUS the re-ingested even
    // multiples (% 14 = 0). The oracle knows nothing about tombstones,
    // purges, or generations — batch 2's candidates simply join live2, and
    // phase 1 lists it. Blind to the heal mechanism, which is the point.
    "q91_index_reingest" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), t -> t != '') l
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) END sh
        |  FROM toks
        |), sig AS (
        |  SELECT doc_id, sh, [list_min([md5(i::VARCHAR || '|' || s) FOR s IN sh]) FOR i IN range(0, 12)] sg FROM sh
        |), bands AS (
        |  SELECT doc_id, unnest([b::VARCHAR || ':' || md5(array_to_string(sg[b*3+1:b*3+3], ',')) FOR b IN range(0, 4)]) bk FROM sig
        |), cand1 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 >= 2
        |), sj1 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand1 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), dup1 AS (
        |  SELECT DISTINCT id_a FROM sj1 WHERE jaccard >= 0.3
        |), live AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 >= 2
        |  UNION ALL
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id_a FROM dup1)
        |), live2 AS (
        |  SELECT doc_id FROM live WHERE doc_id % 7 != 0 OR doc_id % 14 = 0
        |), cand2 AS (
        |  SELECT DISTINCT x.doc_id id_a, y.doc_id id_b FROM bands x JOIN bands y ON x.bk = y.bk
        |  WHERE x.doc_id % 5 = 1 AND y.doc_id IN (SELECT doc_id FROM live2)
        |), sj2 AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) jaccard
        |  FROM cand2 c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |), best2 AS (
        |  SELECT id_a, id_b, jaccard FROM sj2 WHERE jaccard >= 0.3
        |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) = 1
        |), verdicts AS (
        |  SELECT d.doc_id, (h.id_b IS NOT NULL) AS is_dup, h.id_b AS dup_of, h.jaccard
        |  FROM documents d LEFT JOIN best2 h ON h.id_a = d.doc_id
        |  WHERE d.doc_id % 5 = 1
        |)
        |SELECT CAST(0 AS BIGINT) AS phase, doc_id, is_dup, dup_of, jaccard FROM verdicts
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), doc_id, CAST(NULL AS BOOLEAN), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |FROM live2
        |ORDER BY phase, doc_id""".stripMargin,

    // q92 = q90's probe math with the assigned corpus = everything except
    // the non-re-ingested deleted vectors (% 9 = 0 and % 18 != 0). Single
    // phase — the probe runs once, against the healed layout.
    "q92_ivf_reingest" ->
      """WITH cent AS (
        |  SELECT vec_id AS list, embedding FROM embeddings WHERE vec_id < 8
        |), dist AS (
        |  SELECT e.vec_id, c.list,
        |    list_sum([(e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |            * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) FOR i IN range(1, 65)]) d2
        |  FROM embeddings e CROSS JOIN cent c
        |), assigned AS (
        |  SELECT vec_id, list FROM dist WHERE vec_id % 9 != 0 OR vec_id % 18 = 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) = 1
        |), qprobe AS (
        |  SELECT vec_id AS query_id, list FROM dist WHERE vec_id % 101 = 7
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, list ASC) <= 4
        |), scored AS (
        |  SELECT qp.query_id, a.vec_id neighbor_id,
        |    round(list_sum([q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])
        |      / (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) cosine
        |  FROM qprobe qp
        |  JOIN embeddings q ON q.vec_id = qp.query_id
        |  JOIN assigned a ON a.list = qp.list AND a.vec_id != qp.query_id
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk FROM scored
        |)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
        |FROM r WHERE rk <= 5
        |ORDER BY query_id, rank""".stripMargin
  )
}
