package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions — the scale contract (SURVEY.md §7.4 #7):
  * filters reach the parquet scan, projections prune columns, small dims
  * broadcast, hot paths stay inside whole-stage codegen. These are the
  * properties that decide 100 TB behavior; the oracle gate can't see them.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"), p)
    val readSchema = p.split("ReadSchema:")(1).split("\n")(0)
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), s"column pruning failed: $readSchema")
  }

  test("dim joins broadcast (q05 enrich, q17 rollup)") {
    val p1 = plan(SparkEntry.queries("q05_enrich_join")(spark, sfDir))
    assert(p1.contains("BroadcastHashJoin"), p1.take(2000))
    val p2 = plan(SparkEntry.queries("q17_rollup")(spark, sfDir))
    assert(p2.contains("BroadcastHashJoin"), p2.take(2000))
  }

  test("aggregations use map-side partial aggregation and whole-stage codegen") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    val p = plan(df)
    // partial (map-side) aggregate below the shuffle — one Exchange, two HashAggregates
    assert(p.contains("partial_sum"), p.take(2000))
    df.collect() // finalize AQE so codegen stages materialize
    val finalPlan = df.queryExecution.executedPlan.toString
    // whole-stage-codegen stages print as `*(n) Operator` in the final plan
    assert(finalPlan.contains("*(1)") || finalPlan.contains("WholeStageCodegen"),
      finalPlan.take(2000))
  }

  test("anti/semi joins use join operators, not subquery re-scans") {
    val p = plan(SparkEntry.queries("q11_anti_join")(spark, sfDir))
    assert(p.contains("LeftAnti"), p.take(2000))
    val p2 = plan(SparkEntry.queries("q12_semi_join")(spark, sfDir))
    assert(p2.contains("LeftSemi"), p2.take(2000))
  }

  test("hierarchy resolution broadcasts the parent dim every round (no shuffle joins)") {
    val p = plan(SparkEntry.queries("q31_hierarchy_paths")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "hierarchy rounds must not shuffle-join a dim")
  }

  test("mixture sampling is a shuffle-free stateless filter") {
    // the 100 TB contract of hash-threshold sampling: no Exchange anywhere —
    // a rank-based formulation would shuffle and single-task each group
    val df = operators.Corpus.mixtureSample(
      Tables.documents(spark, sfDir), "lang", "doc_id", Map("en" -> 0.5))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"mixtureSample must not shuffle:\n${p.take(2000)}")
  }

  test("no query plans a cartesian product or an unintended nested-loop join") {
    // BNLJ is legitimate ONLY where the algorithm is genuinely all-pairs
    // against a broadcast side: brute-force ANN and single-row
    // reference-time joins
    val bnljAllowed = Set("q29_ann_topk", "q41_staleness_skip", "q42_crawl_coverage",
      "q65_store_lifecycle", // single-row totals broadcast-cross-joined onto the snapshot
      "q31_hierarchy_paths", "q59_parent_repair") // resolvePaths' one-row parent map
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
    }
  }

  test("history read with a cutoff prunes date partitions at the scan") {
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val store = new graft.store.Store(spark, root)
    val events = Seq(
      ("p1", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("p2", 2.0, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("product_id", "price", "crawled_at")
    store.appendHistory("crawl_history", events)
    val pruned = store.history("crawl_history", since = Some("2024-03-01")).get
    val p = plan(pruned)
    // the cutoff must land in PartitionFilters (partitions never opened),
    // not as a post-scan Filter over all rows
    assert(p.contains("PartitionFilters") && p.contains("__date"), p.take(2000))
    assert(pruned.count() == 1)
  }

  test("dedup family runs no single-partition sort/window stage") {
    // The scale contract for the dedup operators: nothing funnels the corpus
    // (or its shingle vocabulary) through one task. The classic offender is
    // an unpartitioned Window.orderBy — Exchange SinglePartition + Sort +
    // Window over the FULL relation. Final single-ROW aggregates also plan
    // Exchange SinglePartition but carry pre-aggregated bytes, so the
    // assertion keys on SinglePartition *combined with* a Sort or Window.
    // Stages hidden behind localCheckpoint never appear in the final plan
    // string, so capture every executed plan via a listener instead.
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq("q24_exact_dedup", "q25_minhash_pairs", "q26_ngram_jaccard",
          "q27_simhash_pairs", "q28_embed_neardup").foreach { q =>
        SparkEntry.queries(q)(spark, sfDir).collect()
      }
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    val captured = plans.synchronized { plans.toVector }
    assert(captured.nonEmpty, "listener captured no plans")
    val bad = captured.filter(p => p.contains("Exchange SinglePartition") &&
      (p.contains("Window [") || p.contains("Sort [")))
    assert(bad.isEmpty, s"single-partition sort/window stage:\n${bad.headOption.getOrElse("").take(2000)}")
  }

  test("driver contract: every oracle key names a query; rows-only set is exactly q37/q45") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphanOracles = o -- q
    assert(orphanOracles.isEmpty,
      s"oracleSql keys without a matching query (typo?): $orphanOracles")
    // q37 (Unicode word-boundary UDF) and q45 (KMeans) are deliberately
    // rows-only — anything else missing an oracle is a gate regression
    assert((q -- o) == Set("q37_name_cleaning", "q45_ivf_topk"),
      s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("minhash signature path has no shuffle between scan and band explode") {
    // the sketch is a scalar expression: scan → repartition → project(sig)
    // → generate. A groupBy/Window on the path would add an extra Exchange.
    val sigOnly = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val df = graft.operators.Dedup.minhashLshCandidates(sigOnly, "doc_id", "text")
    // candidates still compute (smoke); the checkpointed band relation has
    // exactly the narrow repartition exchange upstream — assert by running
    // the full operator and checking no SortMergeJoin appeared
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(df.columns.toSeq === Seq("id_a", "id_b"))
  }
}
