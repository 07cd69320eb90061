package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Hierarchy, History, Merge}

/** Behavioral specs for the merge/as-of/dedup/hierarchy/history operators
  * against hand-computed expectations. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("detailMerge: truthy detail wins, sales prefers detail, brand gate drops (P4/F3)") {
    val listing = Seq(
      (1L, "A", Option("BrandA"), 10.0, Option(5L)),
      (2L, "B", Option("BrandB"), 20.0, None),
      (3L, "C", None, 30.0, Option(7L)),        // brand null, no detail → dropped
      (4L, "D", Option("BrandD"), 40.0, Option(9L)))
      .toDF("product_id", "name", "brand", "price", "sales_count")
    val detail = Seq(
      (1L, Option(""), Option(0.0), Option(50L)),   // empty brand + zero price keep listing
      (2L, Option("NewB"), Option(25.0), None),     // truthy wins; null sales keeps listing's null
      (4L, None, Option(44.0), Option(0L)))         // null brand keeps; sales 0 IS non-null → wins
      .toDF("product_id", "brand", "price", "sales_count")
    val got = Merge.detailMerge(listing, detail, "product_id",
      detailWins = Seq("brand", "price"), preferDetail = Seq("sales_count"),
      requireCol = Some("brand"))
      .orderBy("product_id")
      .as[(Long, String, String, Double, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, "A", "BrandA", 10.0, Some(50L)),
      (2L, "B", "NewB", 25.0, None),
      (4L, "D", "BrandD", 44.0, Some(0L))))
  }

  test("detailMerge strictUniqueKeys: a retrying-crawler duplicate batch fails naming the keys") {
    val listing = Seq((1L, "A", Option("BrandA")), (2L, "B", Option("BrandB")))
      .toDF("product_id", "name", "brand")
    // the retry shape: the crawler re-emitted product 1 twice and product 2 once
    val detail = Seq((1L, Option("X1")), (1L, Option("X2")), (1L, Option("X3")),
      (2L, Option("Y")), (2L, Option("Y2")))
      .toDF("product_id", "brand")
    val e = intercept[IllegalArgumentException](
      Merge.detailMerge(listing, detail, "product_id", detailWins = Seq("brand"),
        strictUniqueKeys = true))
    assert(e.getMessage.contains("duplicate 'product_id'"), e.getMessage)
    assert(e.getMessage.contains("1×3"), e.getMessage) // hottest key first, named
    assert(e.getMessage.contains("2×2"), e.getMessage)
    assert(e.getMessage.contains("latestPerKey"), e.getMessage)
    // the default path is unchanged: same batch silently multiplies (documented
    // contract), and a unique batch passes strict mode with identical output
    val unique = Seq((1L, Option("X1")), (2L, Option("Y"))).toDF("product_id", "brand")
    val strictOut = Merge.detailMerge(listing, unique, "product_id",
      detailWins = Seq("brand"), strictUniqueKeys = true).orderBy("product_id").collect().toSeq
    val defaultOut = Merge.detailMerge(listing, unique, "product_id",
      detailWins = Seq("brand")).orderBy("product_id").collect().toSeq
    assert(strictOut === defaultOut)
  }

  test("detailMerge: empty arrays/maps are not truthy, non-empty win (P4 images/specs)") {
    val listing = Seq(
      (1L, "b1", Seq("old.jpg"), Map("k" -> "v")),
      (2L, "b2", Seq("keep.jpg"), Map("m" -> "n")))
      .toDF("product_id", "brand", "images", "specifications")
    val detail = Seq(
      (1L, Seq("new1.jpg", "new2.jpg"), Map("x" -> "y")),  // non-empty → win
      (2L, Seq.empty[String], Map.empty[String, String]))  // empty → keep listing
      .toDF("product_id", "images", "specifications")
    val got = Merge.detailMerge(listing, detail, "product_id",
      detailWins = Seq("images", "specifications"))
      .orderBy("product_id")
      .as[(Long, String, Seq[String], Map[String, String])].collect().toSeq
    assert(got == Seq(
      (1L, "b1", Seq("new1.jpg", "new2.jpg"), Map("x" -> "y")),
      (2L, "b2", Seq("keep.jpg"), Map("m" -> "n"))))
  }

  test("categoryProductCounts: OR-match distinct count, leaf-only update-back (J3)") {
    val cats = Seq(
      ("c1", Option(100L), true, -1L),   // matched by url AND id (same products → distinct)
      ("c2", None, true, -1L),           // url-match only (null id never id-matches)
      ("c3", Option(300L), true, -1L),   // id-match only
      ("c4", None, true, -1L),           // leaf, no products → 0
      ("p0", None, false, -1L))          // non-leaf keeps old value
      .toDF("url", "category_id", "is_leaf", "product_count")
    val prods = Seq(
      (1L, Option("c1"), Option(100L)),  // both arms hit c1 — counted once
      (2L, Option("c1"), None),
      (3L, Option("c2"), None),
      (4L, None, Option(300L)),
      (5L, Option("p0"), None))          // matches non-leaf → ignored
      .toDF("product_id", "category_url", "category_id")
    val got = Hierarchy.categoryProductCounts(cats, prods)
      .orderBy("url").select("url", "product_count").as[(String, Long)].collect().toSeq
    assert(got == Seq(("c1", 2L), ("c2", 1L), ("c3", 1L), ("c4", 0L), ("p0", -1L)))
  }

  test("enrichMetadata: missing_fields order, score ladder, label ladder (P6/A8)") {
    import graft.functions.ColumnOps
    val df = Seq(
      ("all", true, true, true, true),
      ("noSeller", true, false, true, true),     // 0.5 + 0.35·(1/2) + 0.15 = 0.825 → partial
      ("noImp", true, false, false, false),      // 0.5 + 0 + 0 = 0.5 → incomplete
      ("noCrit", false, true, true, true))       // critical missing → score 0; label still
                                                 // 'complete' (ladder keys on important only,
                                                 // faithful to data_validator.py:211-217)
      .toDF("id", "crit_ok", "seller_ok", "brand_ok", "opt_ok")
    val m = ColumnOps.enrichMetadata(
      critical = Seq("name" -> col("crit_ok")),
      important = Seq("seller_name" -> col("seller_ok"), "brand" -> col("brand_ok")),
      optional = Seq("rating" -> col("opt_ok")),
      retryCount = lit(1), crawlStatus = lit("success"))
    val got = df.withColumn("_m", m).select(
      col("id"), array_join(col("_m.missing_fields"), ",").as("mf"),
      col("_m.data_completeness_score"), col("_m.data_quality"))
      .as[(String, String, Double, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("all") == (("", 1.0, "complete")))
    assert(got("noSeller") == (("seller_name", 0.825, "partial")))
    assert(got("noImp") == (("seller_name,brand", 0.5, "incomplete")))
    assert(got("noCrit") == (("", 0.0, "complete")))
  }

  test("corpus: stratifiedSample takes n per group, deterministically") {
    import graft.operators.Corpus
    val df = (1L to 50L).map(i => (i, if (i % 2 == 0) "en" else "vi")).toDF("doc_id", "lang")
    val a = Corpus.stratifiedSample(df, "lang", "doc_id", 5)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val b = Corpus.stratifiedSample(df, "lang", "doc_id", 5)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(a == b, "sample must be stable across runs")
    assert(a.count(_._2 == "en") == 5 && a.count(_._2 == "vi") == 5)
  }

  test("corpus: tokenBudgetPack keeps in-order prefix within budget per group") {
    import graft.operators.Corpus
    val df = Seq(
      (1L, "en", "a b c"),        // 3 tokens, cum 3
      (2L, "en", "d e f g"),      // 4 tokens, cum 7 > 5 → dropped
      (3L, "en", "h"),            // after overflow → dropped too (cum 8)
      (1L, "vi", "x y"),          // cum 2
      (2L, "vi", "z w v")         // cum 5 ≤ 5 → kept
    ).toDF("doc_id", "lang", "text")
    val got = Corpus.tokenBudgetPack(df, "lang", "doc_id", "text", budget = 5L)
      .select("lang", "doc_id").as[(String, Long)].collect().toSeq.sorted
    assert(got == Seq(("en", 1L), ("vi", 1L), ("vi", 2L)))
  }

  test("corpus: chunkDocs strides with overlap, short/empty docs yield one chunk") {
    import graft.operators.Corpus
    val words = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq((1L, words), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = Corpus.chunkDocs(df, "text", chunkTokens = 4, overlap = 1)
      .select("doc_id", "chunk_id", "chunk_text")
      .orderBy("doc_id", "chunk_id").as[(Long, Int, String)].collect().toSeq
    // stride 3, 10 tokens → ceil(9/3)=3 chunks: [1..4],[4..7],[7..10]
    assert(got == Seq(
      (1L, 0, "w1 w2 w3 w4"), (1L, 1, "w4 w5 w6 w7"), (1L, 2, "w7 w8 w9 w10"),
      (2L, 0, "a b"), (3L, 0, "")))
  }

  test("corpus: scrub redacts urls-then-emails-then-phones, counts match") {
    import graft.functions.Scrub
    val df = Seq(
      (1L, "mail me at a.b@x.com or visit https://x.com/a?b=1 or call +84 123 456 789"),
      (2L, "clean text, no pii here")).toDF("id", "t")
    val got = df.select(col("id"),
      Scrub.emailCount(col("t")).as("e"), Scrub.urlCount(col("t")).as("u"),
      Scrub.phoneCount(col("t")).as("p"), Scrub.redactPii(col("t")).as("r"))
      .orderBy("id").as[(Long, Int, Int, Int, String)].collect().toSeq
    assert(got(0)._2 == 1 && got(0)._3 == 1 && got(0)._4 == 1)
    assert(got(0)._5 == "mail me at <EMAIL> or visit <URL> or call <PHONE>")
    assert(got(1) == ((2L, 0, 0, 0, "clean text, no pii here")))
  }

  test("corpus: decontaminate drops docs sharing an n-gram with the eval set") {
    import graft.operators.Corpus
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the dog"),   // shares 5-gram with eval
      (2L, "completely unrelated words appear here now")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "a b the quick brown fox jumps c d")).toDF("doc_id", "text")
    val got = Corpus.decontaminate(corpus, evalSet, "doc_id", "text", shingleN = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("mixtureSample: deterministic hash-threshold fraction per group") {
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "vi"))
      .toDF("id", "lang")
    val got = graft.operators.Corpus
      .mixtureSample(df, "lang", "id", Map("en" -> 0.5, "vi" -> 1.0))
      .select("id").as[Long].collect().toSet
    // sequential model of the same hash rule (domain-separated prefix)
    def hex8(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"mix||$id".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 8)
    val thrEn = f"${(0.5 * 4294967296.0).toLong}%08x"
    val want = (0L until 400L).filter { i =>
      if (i % 2 == 1) true else hex8(i) < thrEn
    }.toSet
    assert(got == want)
    // weight-1 group kept whole, absent group dropped entirely
    assert(got.count(_ % 2 == 1) == 200)
    assert(graft.operators.Corpus
      .mixtureSample(df, "lang", "id", Map("vi" -> 0.3))
      .filter($"lang" === "en").count() == 0)
  }

  test("assignSplits: exhaustive, deterministic, membership is per-row stable") {
    val df = (0L until 500L).map(i => (i, s"d$i")).toDF("id", "v")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = graft.operators.Corpus.assignSplits(df, "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 500 && got.values.toSet.subsetOf(Set("train", "val", "test")))
    // rerun on a shuffled subset assigns identical labels
    val sub = graft.operators.Corpus.assignSplits(df.filter($"id" % 3 === 0).repartition(5), "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => got(k) == v })
    // rough proportions (binomial around the weights)
    val train = got.values.count(_ == "train").toDouble / 500
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
  }

  test("mixtureSample then assignSplits: decisions are independent (domain-separated hashes)") {
    // without domain separation, every row surviving weight 0.5 has
    // hash < 80000000 and an 0.8/0.1/0.1 split would label ALL of them
    // 'train', leaving val/test empty
    val df = (0L until 2000L).map(i => (i, "en")).toDF("id", "lang")
    val mixed = graft.operators.Corpus.mixtureSample(df, "lang", "id", Map("en" -> 0.5))
    val labeled = graft.operators.Corpus.assignSplits(
      mixed, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byLabel = labeled.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = byLabel.values.sum.toDouble
    assert(byLabel.getOrElse("val", 0L) > 0 && byLabel.getOrElse("test", 0L) > 0,
      s"val/test must be non-empty after mix-then-split: $byLabel")
    val trainFrac = byLabel.getOrElse("train", 0L) / n
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac of $byLabel")
  }

  test("salt re-rolls mixture and split decisions; '|' salts rejected") {
    import graft.operators.Corpus
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "vi"))
      .toDF("doc_id", "lang")
    val w = Map("en" -> 0.5, "vi" -> 0.5)
    def ids(salt: String) = Corpus.mixtureSample(docs, "lang", "doc_id", w, salt)
      .select("doc_id").as[Long].collect().toSet
    val s0 = ids(""); val s1 = ids("exp1"); val s2 = ids("exp2")
    // a new salt re-rolls the kept set (each still ~half of 400 rows)
    assert(s1 != s0 && s2 != s0 && s1 != s2)
    Seq(s0, s1, s2).foreach(s => assert(s.size > 120 && s.size < 280))
    val sp = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def labels(salt: String) = Corpus.assignSplits(docs, "doc_id", sp, salt = salt)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(labels("exp1") != labels("exp2"))
    intercept[IllegalArgumentException](
      Corpus.mixtureSample(docs, "lang", "doc_id", w, "a|b"))
    intercept[IllegalArgumentException](
      Corpus.assignSplits(docs, "doc_id", sp, salt = "a|b"))
  }

  test("Curation.mixAndSplit threads one salt through both decisions") {
    import graft.operators.Corpus
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "vi"))
      .toDF("doc_id", "lang")
    val w = Map("en" -> 0.5, "vi" -> 0.5)
    val sp = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "split").as[(Long, String, String)].collect().toSet
    val got = canon(graft.pipeline.Curation.mixAndSplit(docs, "lang", "doc_id", w, sp, salt = "exp1"))
    val want = canon(Corpus.assignSplits(
      Corpus.mixtureSample(docs, "lang", "doc_id", w, "exp1"), "doc_id", sp, salt = "exp1"))
    assert(got == want && got.nonEmpty)
    // a different salt re-rolls the whole experiment
    assert(got != canon(graft.pipeline.Curation.mixAndSplit(docs, "lang", "doc_id", w, sp, salt = "exp2")))
  }

  test("precedenceMerge rejects type-mismatched sources with a clear error") {
    val a = Seq((1L, "x")).toDF("k", "name")
    val b = Seq((1L, 2L)).toDF("k", "name")
    val e = intercept[IllegalArgumentException](Merge.precedenceMerge(Seq(a, b), "k"))
    assert(e.getMessage.contains("'name'") && e.getMessage.contains("bigint")
      && e.getMessage.contains("string"), e.getMessage)
  }

  test("topTokens: frequency counts with deterministic tie-break") {
    val docs = Seq("b a a", "c b a", "d d").toDF("text")
    val got = graft.operators.Corpus.topTokens(docs, "text", 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 3L), ("b", 2L), ("d", 2L)))
  }

  test("clusterNearDups: min-id connected components across chained pairs") {
    // components: {1,2,3,7} via 1-2, 2-3, 3-7 (a chain), {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("id_a", "id_b").withColumn("jaccard", lit(1.0))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Dedup.clusterNearDups(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L), (10L, 10L), (11L, 10L)))
    // checkpoint hygiene: superseded per-round label generations AND the
    // edge list are unpersisted — a bounded number of live checkpoints
    // regardless of how many propagation rounds ran (leak = one per round)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"clusterNearDups leaked ${leaked.size} persisted RDDs (expected ≤ 2)")
  }

  test("clusterNearDups converges on a long chain (needs many rounds)") {
    // a 12-node path: diameter 11 — exercises the periodic convergence
    // check and multi-round checkpoint rotation
    val pairs = (0L until 11L).map(i => (i, i + 1))
      .toDF("id_a", "id_b").withColumn("jaccard", lit(1.0))
    val got = Dedup.clusterNearDups(pairs, maxIter = 20).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == (0L until 12L).map(i => (i, 0L)))
  }

  test("precedenceMerge: first truthy source wins per column, keys unioned") {
    val batch = Seq(("1", "", Some(10)), ("2", "b2", None)).toDF("k", "s", "n")
    val cache = Seq(("1", "c1", Some(100)), ("3", "c3", Some(300))).toDF("k", "s", "n")
    val db    = Seq(("1", "d1", Some(1000)), ("2", "d2", Some(2000)),
      ("3", "d3", None), ("4", "d4", Some(4000))).toDF("k", "s", "n")
    val got = Merge.precedenceMerge(Seq(batch, cache, db), "k").orderBy("k")
      .as[(String, String, Option[Int])].collect().toSeq
    assert(got == Seq(
      ("1", "c1", Some(10)),   // batch name blank -> cache; batch n wins
      ("2", "b2", Some(2000)), // batch name wins; batch n null -> db
      ("3", "c3", Some(300)),  // absent from batch -> cache
      ("4", "d4", Some(4000)))) // only in db
  }

  test("upsertMerge: new non-empty wins, empty string keeps old, new keys inserted (J6)") {
    val old  = Seq(("1", "a", 10), ("2", "b", 20)).toDF("k", "s", "n")
    val newD = Seq(("2", "", 99), ("3", "c", 30)).toDF("k", "s", "n")
    val got = Merge.upsertMerge(old, newD, Seq("k")).orderBy("k")
      .as[(String, String, Int)].collect().toSeq
    assert(got == Seq(("1", "a", 10), ("2", "b", 99), ("3", "c", 30)))
  }

  test("latestPerKey picks max-ts row with deterministic tie-break (J7)") {
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L, "old"),
      ("u1", ts("2024-01-01 11:00:00"), 2L, "new"),
      ("u1", ts("2024-01-01 11:00:00"), 3L, "tie-wins"),
      ("u2", ts("2024-01-01 09:00:00"), 4L, "only")).toDF("k", "t", "id", "v")
    val got = Merge.latestPerKey(df, Seq("k"), "t", Seq(col("id").desc))
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(got == Seq("tie-wins", "only"))
  }

  test("asofJoin: latest right row at or before left time, null when none") {
    val left = Seq(
      ("u1", ts("2024-01-01 10:00:00"), "p1"),
      ("u1", ts("2024-01-01 12:00:00"), "p2"),
      ("u2", ts("2024-01-01 08:00:00"), "p3")).toDF("k", "t", "ev")
    val right = Seq(
      ("u1", ts("2024-01-01 09:00:00"), 1.0),
      ("u1", ts("2024-01-01 11:00:00"), 2.0),
      ("u2", ts("2024-01-01 09:00:00"), 3.0)).toDF("k", "t", "price")
    val got = Merge.asofJoin(left, right, "k", "t", "t", Seq("price"))
      .orderBy("ev").select("ev", "price").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(got == Seq(("p1", 1.0), ("p2", 2.0), ("p3", null)))
  }

  test("asofJoin equal timestamps: right row at same instant is visible (<=)") {
    val left  = Seq(("u", ts("2024-01-01 10:00:00"), "e")).toDF("k", "t", "ev")
    val right = Seq(("u", ts("2024-01-01 10:00:00"), 7.0)).toDF("k", "t", "price")
    val got = Merge.asofJoin(left, right, "k", "t", "t", Seq("price")).collect()(0)
    assert(got.getDouble(got.fieldIndex("price")) == 7.0)
  }

  test("exactDedup keeps min-id row per normalized text (D1)") {
    val docs = Seq(
      (3L, "Hello  World"), (1L, "hello world"), (2L, "other")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs, "doc_id", "text").orderBy("doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L))
  }

  test("minhashDedupPairs finds identical docs, skips unrelated (near-dup family)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words appear here with nothing shared at all")).toDF("doc_id", "text")
    val got = Dedup.minhashDedupPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("minhashBandKeys: the persisted (id, bandkey) format matches the checked-in golden") {
    // the band-key strings ARE the persisted index's bands relation, and
    // the `__bkt` prune hashes them: a drift in the `b:` prefix, the md5
    // over the band's hashes or the explode would orphan every written
    // index. Round-trip and oracle tests cannot see such a drift (both
    // sides run the same code), so the rows are pinned literally
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "Ünïcode  tokens, punctuation! and MIXED case words here")).toDF("doc_id", "text")
    val got = Dedup.minhashBandKeys(docs, "doc_id", "text")
      .orderBy("id", "bandkey").as[(Long, String)].collect()
      .map { case (id, k) => s"$id,$k" }.mkString("\n")
    if (sys.props.get("graft.test.writeGolden").contains("1")) {
      GoldenResource.write("/minhash_bandkeys_golden.txt",
        "src/test/resources/minhash_bandkeys_golden.txt", got + "\n")
      info("golden regenerated (source tree + test classpath)")
    } else {
      assert(got === GoldenResource.read("/minhash_bandkeys_golden.txt"),
        "MinHash band keys diverged from the checked-in golden: every " +
          "persisted index written before this change would stop matching")
    }
  }

  test("shingleRows: the persisted xxhash64 shingle sets match the checked-in golden") {
    // the fingerprints ARE the persisted index's shingles relation, and an
    // index written earlier is verified against a new batch's sets: a
    // drift in the tokenizer, the n-gram join or the hash seed would make
    // every stored set disjoint from every new one. The golden was recorded
    // from the row-per-shingle layout's (id, s) rows, grouped by id, so it
    // also pins that the set layout holds exactly those fingerprints
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "Ünïcode  tokens, punctuation! and MIXED case words here")).toDF("doc_id", "text")
    val sets = Dedup.shingleRows(docs, "doc_id", "text", 3).as[(Long, Seq[Long])].collect()
    assert(sets.forall { case (_, s) => s.distinct.size == s.size },
      "a stored shingle set repeats a fingerprint")
    val got = sets.sortBy(_._1)
      .map { case (id, s) => s"$id:" + s.sorted.mkString(",") }.mkString("\n")
    if (sys.props.get("graft.test.writeGolden").contains("1")) {
      GoldenResource.write("/minhash_shingles_golden.txt",
        "src/test/resources/minhash_shingles_golden.txt", got + "\n")
      info("golden regenerated (source tree + test classpath)")
    } else {
      assert(got === GoldenResource.read("/minhash_shingles_golden.txt"),
        "shingle fingerprints diverged from the checked-in golden: every " +
          "persisted index written before this change would stop matching")
    }
  }

  test("dedupAgainstCorpus flags batch near-dups of the corpus, passes fresh docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (11L, "fresh new content that matches nothing in the corpus today")).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text", threshold = 0.5)
      .orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(got == Seq((10L, true, Some(1L)), (11L, false, None)))
  }

  test("dedupAgainstIndex on a written+read index matches the inline form") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "another filler document padding out the tiny corpus for the test")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh new content that matches nothing in the corpus today")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
    val viaIndex = Dedup.dedupAgainstIndex(batch, Dedup.readMinhashIndex(spark, dir),
      "doc_id", "text", threshold = 0.5).orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
    val inline = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text", threshold = 0.5)
      .orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(viaIndex == inline)
    assert(viaIndex == Seq((10L, true, Some(1L)), (11L, false, None)))
  }

  test("appendToMinhashIndex: ingest loop — next batch dedups against corpus plus survivors") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (11L, "completely novel text that joins the corpus as a survivor now"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_app").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
    val r1 = Dedup.dedupAgainstIndex(b1, Dedup.readMinhashIndex(spark, dir),
      "doc_id", "text", threshold = 0.5)
    val survivors = b1.join(
      r1.filter(!col("is_dup")).select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    Dedup.appendToMinhashIndex(survivors, dir, "doc_id", "text")
    // batch 2 contains a dup of the APPENDED survivor (11) and of the
    // original corpus (2) — both must be caught by the updated index
    val b2 = Seq(
      (20L, "completely novel text that joins the corpus as a survivor now"),
      (21L, "an entirely unrelated corpus document about spark physical plans"),
      (22L, "nothing like anything stored before in any generation at all"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstIndex(b2, Dedup.readMinhashIndex(spark, dir),
      "doc_id", "text", threshold = 0.5).orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(got == Seq((20L, true, Some(11L)), (21L, true, Some(2L)), (22L, false, None)))
    // the dropped dup (10) was never appended — it is nobody's match target
    assert(Dedup.readMinhashIndex(spark, dir).bands
      .filter(col("id") === 10L).count() === 0)
  }

  test("persisted-index probe partition-prunes on band buckets; id manifest maintained") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "another filler document padding out the tiny corpus for the test"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh new content that matches nothing in the corpus today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_bkt").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
    val idx = Dedup.readMinhashIndex(spark, dir)
    // the persisted layout is bucketed by hash(bandkey)
    assert(idx.bands.columns.contains("__bkt"))
    val verdicts = Dedup.dedupAgainstIndex(batch, idx, "doc_id", "text", threshold = 0.5)
    // the candidate probe's index scan prunes to the batch's buckets — a
    // PARTITION filter on __bkt, not a post-read filter (the per-batch
    // full-index-scan fix the r6 verdict asked for)
    val plan = verdicts.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bkt"),
      s"expected a __bkt partition filter in the probe plan:\n$plan")
    // ... and pruning is result-invisible
    assert(verdicts.orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq ==
      Seq((10L, true, Some(1L)), (11L, false, None)))
    // the id manifest reads its own compact relation, never the bands tree
    val ids = Dedup.minhashIndexIds(spark, dir)
    assert(ids.inputFiles.nonEmpty && ids.inputFiles.forall(_.contains("/ids/")),
      s"manifest should be backed by the ids relation, got ${ids.inputFiles.toSeq}")
    assert(ids.as[Long].collect().toSet === Set(1L, 2L, 3L))
    // appends maintain it (survivor 11 joins; ids is what replay guards read)
    Dedup.appendToMinhashIndex(batch.filter(col("doc_id") === 11L), dir, "doc_id", "text")
    assert(Dedup.minhashIndexIds(spark, dir).as[Long].collect().toSet === Set(1L, 2L, 3L, 11L))
  }

  test("minhash index re-bucketing: compaction migrates the __bkt count; probes and appends follow") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated corpus document about spark physical plans"),
      (3L, "another filler document padding out the tiny corpus for the test"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh new content that matches nothing in the corpus today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_rebkt").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
    val before = Dedup.dedupAgainstIndex(batch, Dedup.readMinhashIndex(spark, dir),
      "doc_id", "text", threshold = 0.5).orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
    // migrate 64 → 16 buckets: one reader-atomic generation swap
    assert(Dedup.compactMinhashIndex(spark, dir, targetBuckets = 16) === 1)
    val gen = graft.store.Generations.requireCommitted(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(gen.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$gen/_NBKT_16")),
      "the migrated generation must record its new bucket count")
    val bkts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$gen/bands"))
      .map(_.getPath.getName).filter(_.startsWith("__bkt=")).map(_.drop(6).toInt).toSet
    assert(bkts.nonEmpty && bkts.forall(b => b >= 0 && b < 16),
      s"bands dirs must lie under the new 16-way modulus, got $bkts")
    // the prober follows the recorded count: same verdicts, still a
    // partition-pruned probe under the NEW modulus
    val idx = Dedup.readMinhashIndex(spark, dir)
    assert(idx.bandBuckets === 16)
    val after = Dedup.dedupAgainstIndex(batch, idx, "doc_id", "text", threshold = 0.5)
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bkt"),
      s"probe must still partition-prune after the migration:\n${plan.take(2000)}")
    assert(after.orderBy("id")
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
      === before)
    // appends bucket under the recorded count too — and stay probe-visible
    Dedup.appendToMinhashIndex(batch.filter(col("doc_id") === 11L), dir, "doc_id", "text")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$gen/bands"))
      .map(_.getPath.getName).filter(_.startsWith("__bkt="))
      .map(_.drop(6).toInt).forall(b => b >= 0 && b < 16))
    val b2 = Seq((20L, "fresh new content that matches nothing in the corpus today"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(b2, Dedup.readMinhashIndex(spark, dir),
      "doc_id", "text", threshold = 0.5)
      .select("id", "is_dup", "dup_of").as[(Long, Boolean, Option[Long])].collect().toSeq
      === Seq((20L, true, Some(11L))))
  }

  test("generation memo: a same-path rebuild with an equal _COMMITTED mtime never serves stale markers") {
    val corpus = (1 to 8).map(i =>
      (i.toLong, s"corpus document number $i talks about topic $i in some detail here"))
      .toDF("doc_id", "text")
    val batch = (1 to 8).map(i =>
      (100L + i, s"corpus document number $i talks about topic $i in some detail here"))
      .toDF("doc_id", "text")
    val expected = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text", threshold = 0.5)
      .orderBy("id").select("id", "is_dup", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(expected.forall(_._2), "every batch doc is a planted copy")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_memo").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/gen_000000/_COMMITTED")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    // rebuild gen_000000 in place at `buckets`, probe it, and compare with
    // the inline form, which never reads a persisted layout
    def rebuildAndProbe(buckets: Int, legacyMarker: Boolean, mtime: Option[Long]): Long = {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Dedup.writeMinhashIndex(idx.copy(bandBuckets = buckets), dir)
      if (legacyMarker) { fs.delete(marker, false); fs.create(marker, false).close() }
      mtime.foreach(fs.setTimes(marker, _, -1L))
      val read = Dedup.readMinhashIndex(spark, dir)
      assert(Dedup.dedupAgainstIndex(batch, read, "doc_id", "text", threshold = 0.5)
        .orderBy("id").select("id", "is_dup", "dup_of")
        .as[(Long, Boolean, Option[Long])].collect().toSeq === expected)
      assert(read.bandBuckets === buckets)
      fs.getFileStatus(marker).getModificationTime
    }
    // a stale 2-way modulus would prune the 64-way probe to buckets 0-1
    val mtime = rebuildAndProbe(2, legacyMarker = false, None)
    rebuildAndProbe(64, legacyMarker = false, Some(mtime))
    // markers written before commits carried a token are never cached
    rebuildAndProbe(2, legacyMarker = true, Some(mtime))
    rebuildAndProbe(64, legacyMarker = true, Some(mtime))
  }

  test("ingestCycle: caller-staged sketches and the cycle's own staging agree") {
    val corpus = (1 to 12).map(i =>
      (i.toLong, s"corpus document number $i talks about topic $i in some detail here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "corpus document number 3 talks about topic 3 in some detail here"), // exact copy
      (102L, "corpus document number 7 talks about topic 7 in some more detail here"), // edited copy
      (103L, "a fresh document that shares nothing with the indexed corpus at all"),
      (104L, "another new arrival about streaming joins and watermark semantics"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("mhidx_staged")
    val (bare, staged) = (s"$root/bare", s"$root/staged")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), bare)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(bare), new java.io.File(staged))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val (vBare, sBare) = Dedup.ingestCycle(batch, bare, "doc_id", "text", threshold = 0.5)
    val (vStaged, sStaged) = Dedup.ingestCycle(batch, staged, "doc_id", "text", threshold = 0.5,
      sketches = Some(Dedup.sketchesOf(batch, "doc_id", "text", 3, 12, 4).staged))
    assert(rows(vStaged) === rows(vBare))
    assert(rows(vBare.filter(col("is_dup")).select("id", "dup_of")) === Seq("101|3", "102|7"))
    assert(sStaged === sBare)
    assert(sBare.appendedRows === 2L)
    assert(rows(Dedup.minhashIndexIds(spark, staged)) === rows(Dedup.minhashIndexIds(spark, bare)))
    val (iBare, iStaged) = (Dedup.readMinhashIndex(spark, bare), Dedup.readMinhashIndex(spark, staged))
    assert(rows(iStaged.bands.select("id", "bandkey")) === rows(iBare.bands.select("id", "bandkey")))
    assert(rows(iStaged.shingles) === rows(iBare.shingles))
    assert(rows(iBare.shingles.select("id").distinct()).size === 14)
  }

  test("resolvePaths cycle guards: self-parent and two-node cycles terminate") {
    val cats = Seq(
      ("A", "NodeA", "A"),          // self-parent
      ("B", "NodeB", "C"),          // 2-cycle B <-> C
      ("C", "NodeC", "B"),
      ("D", "NodeD", null)).toDF("url", "name", "parent_url")
    val got = graft.operators.Hierarchy.resolvePaths(cats)
      .select("url", "category_path").as[(String, Seq[String])]
      .collect().toMap
    assert(got("A") == Seq("NodeA"))          // cycle stops immediately
    assert(got("B") == Seq("NodeC", "NodeB")) // one hop then guard fires
    assert(got("C") == Seq("NodeB", "NodeC"))
    assert(got("D") == Seq("NodeD"))
    // empty input flows through the bounded join loop
    assert(graft.operators.Hierarchy.resolvePaths(
      Seq.empty[(String, String, String)].toDF("url", "name", "parent_url")).count() === 0)
  }

  test("transform and upsert tolerate empty inputs") {
    val emptyRaw = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq(FxRaw("x", "x", "x", "x", Seq(), FxPrice(0, 0, 0), FxRating(0, 0),
        FxSeller("x", false), FxStock(false), "0", "2024-01-01 00:00:00"))
        .toDF().schema)
    val t = graft.transform.Transform.run(emptyRaw)
    assert(t.stats == graft.transform.Transform.RunStats(0, 0, 0, 0))
    assert(t.products.count() === 0 && t.rejects.count() === 0)
    val old  = Seq(("1", 1.0)).toDF("k", "v")
    val none = Seq.empty[(String, Double)].toDF("k", "v")
    assert(Merge.upsertMerge(old, none, Seq("k")).as[(String, Double)]
      .collect().toSeq == Seq(("1", 1.0)))
    assert(Merge.upsertMerge(none, old, Seq("k")).as[(String, Double)]
      .collect().toSeq == Seq(("1", 1.0)))
    assert(Merge.precedenceMerge(Seq(none, old), "k").as[(String, Option[Double])]
      .collect().toSeq == Seq(("1", Some(1.0))))
  }

  test("hierarchy resolvePaths builds root-first paths with cycle guard (H1)") {
    val cats = Seq(
      ("r", "Root", null.asInstanceOf[String]),
      ("a", "Mid", "r"),
      ("b", "Leaf", "a"),
      ("c1", "CycleA", "c2"), ("c2", "CycleB", "c1")).toDF("url", "name", "parent_url")
    val got = Hierarchy.resolvePaths(cats, maxDepth = 4)
      .select("url", "category_path", "level").orderBy("url")
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList, r.getInt(2))).toSeq
    assert(got.find(_._1 == "b").get._2 == List("Root", "Mid", "Leaf"))
    assert(got.find(_._1 == "r").get._2 == List("Root"))
    // cycle terminates with both names, no infinite loop
    assert(got.find(_._1 == "c1").get._3 == 2)
  }

  test("withIsLeaf + missingParents (H4/H6)") {
    val cats = Seq(
      ("r", "Root", null.asInstanceOf[String]),
      ("a", "Mid", "r"),
      ("b", "Leaf", "a"),
      ("orphan", "X", "ghost")).toDF("url", "name", "parent_url")
    val leaves = Hierarchy.withIsLeaf(cats).filter(col("is_leaf"))
      .select("url").as[String].collect().toSet
    assert(leaves == Set("b", "orphan"))
    val missing = Hierarchy.missingParents(cats).as[String].collect().toSeq
    assert(missing == Seq("ghost"))
  }

  test("history deriveEvents classifies first crawl, price change, sales change, no-change filter (X15)") {
    val hist = Seq(
      ("p1", 100.0, 120.0, null.asInstanceOf[java.lang.Double], 5L, ts("2024-01-01 00:00:00")),
      ("p2", 50.0, 60.0, null.asInstanceOf[java.lang.Double], 9L, ts("2024-01-01 00:00:00")),
      ("p3", 70.0, 80.0, null.asInstanceOf[java.lang.Double], 3L, ts("2024-01-01 00:00:00")))
      .toDF("product_id", "price", "original_price", "discount_percent", "sales_count", "crawled_at")
    val batch = Seq(
      ("p1", 110.0, 120.0, null.asInstanceOf[java.lang.Double], 5L, ts("2024-01-02 00:00:00")), // price_change
      ("p2", 50.0, 60.0, null.asInstanceOf[java.lang.Double], 12L, ts("2024-01-02 00:00:00")),  // sales_change
      ("p3", 70.0, 80.0, null.asInstanceOf[java.lang.Double], 3L, ts("2024-01-02 00:00:00")),   // no_change → dropped
      ("p4", 30.0, 40.0, null.asInstanceOf[java.lang.Double], 1L, ts("2024-01-02 00:00:00")))   // first crawl
      .toDF("product_id", "price", "original_price", "discount_percent", "sales_count", "crawled_at")
    val got = History.deriveEvents(batch, hist, None)
      .select("product_id", "crawl_type").as[(String, String)].collect().toMap
    assert(got == Map("p1" -> "price_change", "p2" -> "sales_change", "p4" -> "price_change"))
  }

  test("deriveEvents staleHorizon re-classifies state older than the horizon as a first sighting") {
    val hist = Seq(
      ("p1", 100.0, 120.0, null.asInstanceOf[java.lang.Double], 5L, ts("2024-01-01 00:00:00")), // 14d old → stale
      ("p2", 50.0, 60.0, null.asInstanceOf[java.lang.Double], 9L, ts("2024-01-12 00:00:00")),   // 3d old → fresh
      ("p3", 70.0, 80.0, null.asInstanceOf[java.lang.Double], 3L, ts("2024-01-14 00:00:00")))   // 1d old → fresh
      .toDF("product_id", "price", "original_price", "discount_percent", "sales_count", "crawled_at")
    val batch = Seq(
      ("p1", 100.0, 120.0, null.asInstanceOf[java.lang.Double], 5L, ts("2024-01-15 00:00:00")), // identical values, but stale → FIRST SIGHTING, not no_change
      ("p2", 55.0, 60.0, null.asInstanceOf[java.lang.Double], 9L, ts("2024-01-15 00:00:00")),   // fresh → price_change vs prev
      ("p3", 70.0, 80.0, null.asInstanceOf[java.lang.Double], 3L, ts("2024-01-15 00:00:00")))   // fresh, unchanged → dropped
      .toDF("product_id", "price", "original_price", "discount_percent", "sales_count", "crawled_at")
    val got = History.deriveEvents(batch, hist, None, staleHorizon = Some("7 DAYS"))
      .select("product_id", "crawl_type", "previous_price", "price_change")
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // p1's forgotten state: first-sighting shape — null previous, no delta
    assert(got("p1") === (("price_change", None, None)))
    // p2's fresh state still classifies as a real change with deltas
    assert(got("p2") === (("price_change", Some(50.0), Some(5.0))))
    assert(!got.contains("p3"))
    // horizon off → p1 is an exact-match no_change and drops, p2 unchanged
    val off = History.deriveEvents(batch, hist, None)
      .select("product_id", "crawl_type").as[(String, String)].collect().toMap
    assert(off == Map("p2" -> "price_change"))
  }

  test("ngramJaccard inverted and dense strategies produce identical pairs") {
    val docs = Tables.documents(spark, sfDir).limit(300)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // denseVocabBits = 0 forces the inverted-index path on the same input
    val dense = canon(graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5))
    val inverted = canon(graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5,
      denseVocabBits = 0))
    assert(dense.nonEmpty)
    assert(dense === inverted)
  }

  test("exactDedup passes null-text rows through instead of collapsing them to one") {
    val docs = Seq((1L, "same"), (2L, "same"),
      (3L, null), (4L, null), (5L, null)).toDF("doc_id", "text")
    // md5(NULL) = NULL and PARTITION BY groups NULLs together — without the
    // per-id sentinel, 4 and 5 would be silently deleted as "duplicates" of 3
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 3L, 4L, 5L))
  }

  test("simhashPairs banding is pigeonhole-complete for the verified distance") {
    val docs = Tables.documents(spark, sfDir).limit(80)
    for (maxDist <- Seq(1, 2, 3)) {
      // ground truth: brute-force hamming over the SAME fingerprints
      val fp = docs.select(col("doc_id").as("id"),
        graft.expressions.HashExpressions.simhash64(
          graft.functions.TextAnalysis.tokens(col("text")), 16).as("fp"))
      val want = fp.as("x").join(fp.as("y"), col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          graft.functions.TextAnalysis.hammingDistance(col("x.fp"), col("y.fp")).as("h"))
        .filter(col("h") <= maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = Dedup.simhashPairs(docs, "doc_id", "text", bits = 16, maxDist = maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // the candidate banding must not LOSE any within-distance pair (the
      // old two-half banding missed ~half of all hamming-2 pairs), and the
      // verify filter makes the result exactly the within-distance set
      assert(got === want, s"maxDist=$maxDist")
    }
  }

  test("degenerate LSH/banding parameters fail loudly instead of going quadratic") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    // bands > numHashes: every band key would be the constant md5("")
    intercept[IllegalArgumentException](
      Dedup.minhashLshCandidates(docs, "doc_id", "text", numHashes = 12, bands = 24).count())
    // non-dividing bands silently ignore trailing hashes
    intercept[IllegalArgumentException](
      Dedup.minhashLshCandidates(docs, "doc_id", "text", numHashes = 12, bands = 5).count())
    // bands x planes past the embedding dimension: ANSI element_at would
    // throw INVALID_ARRAY_INDEX from deep inside the plan
    val emb = Seq((1L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.5, planes = 8, bands = 4).count())
  }

  test("zero-norm vectors never match and never crash the cosine family (ANSI div-by-zero)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(0.9f, 0.2f)),
      (3L, Array(0.0f, 0.0f))) // a failed-embedding artifact
      .toDF("vec_id", "embedding")
    // brute force: the zero vector as corpus row must rank below real ones
    // (NULL cosine), and as a query must return no >= threshold matches —
    // under ANSI, the unguarded division crashed the whole job instead
    val topk = graft.operators.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 2)
    assert(topk.filter(col("query_id") === 1L && col("rank") === 1)
      .select("neighbor_id").as[Long].head() === 2L)
    assert(topk.filter(col("query_id") === 1L && col("neighbor_id") === 3L)
      .select("cosine").collect().forall(_.isNullAt(0)))
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.5, planes = 2, bands = 1)
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((1L, 2L)))
  }

  test("exactDedup: null-id + null-text rows pass through instead of collapsing (contract-violating rows)") {
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "same"), (Some(2L), "same"),
      (None, null), (None, null), (Some(3L), null))
      .toDF("doc_id", "text")
    // the per-id sentinel is itself NULL when the id is NULL — without the
    // per-row last tier, both (null, null) rows would share one NULL
    // fingerprint partition and one would be silently deleted
    val got = Dedup.exactDedup(docs, "doc_id", "text")
    assert(got.count() === 4L) // one "same" survivor + all three null-text rows
    assert(got.filter(col("doc_id").isNull).count() === 2L)
  }

  test("simhashPairs at 64 bits: banding complete vs brute force; width-64 mask safe at maxDist 0") {
    val docs = Tables.documents(spark, sfDir).limit(80)
    for ((bits, maxDist) <- Seq((64, 0), (64, 2), (48, 1))) {
      val fp = docs.select(col("doc_id").as("id"),
        graft.expressions.HashExpressions.simhash64(
          graft.functions.TextAnalysis.tokens(col("text")), bits).as("fp"))
      val want = fp.as("x").join(fp.as("y"), col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          graft.functions.TextAnalysis.hammingDistance(col("x.fp"), col("y.fp")).as("h"))
        .filter(col("h") <= maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // (bits = 64, maxDist = 0) is ONE full-width chunk: the pre-fix mask
      // (1L << 64) - 1 wrapped to 0 and every fingerprint landed in a
      // single constant band — candidates stayed complete, but as a full
      // cross join; the fix keys the band on the whole fingerprint
      val got = Dedup.simhashPairs(docs, "doc_id", "text", bits = bits, maxDist = maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === want, s"bits=$bits maxDist=$maxDist")
    }
  }

  test("simhash wide fingerprints use 8 digest bytes (bits > 32 is not a constant-top-half hash)") {
    // independent reimplementation: MessageDigest directly, top 8 bytes
    def ref(tokens: Seq[String], bits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](bits)
      tokens.foreach { t =>
        val d = md.digest(t.getBytes("UTF-8"))
        val h0 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val h = if (bits <= 32) h0
          else (h0 << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        (0 until bits).foreach(i => if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1)
      }
      (0 until bits).foldLeft(0L)((fp, i) => if (votes(i) > 0) fp | (1L << i) else fp)
    }
    val toks = Seq("the", "quick", "brown", "fox", "jumps")
    for (bits <- Seq(16, 32, 48, 64)) {
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(graft.expressions.HashExpressions.simhash64(col("toks"), bits))
        .head().getLong(0)
      assert(got === ref(toks, bits), s"bits=$bits")
    }
    // the pre-fix kernel read only 4 digest bytes, so bits 32..63 always
    // voted -1 and every wide fingerprint's top half was constant 0
    val wide = Seq(Tuple1(toks)).toDF("toks")
      .select(graft.expressions.HashExpressions.simhash64(col("toks"), 64))
      .head().getLong(0)
    assert((wide >>> 32) !== 0L, "wide fingerprint's top half must carry real votes")
  }

  test("simhashPairs fan-out guard fails loudly when the band keyspace is saturated") {
    val docs = Tables.documents(spark, sfDir).limit(80)
    // 80 docs into 4-bit bands is exactly the saturation shape the guard
    // exists for at corpus scale — with the cap forced low, the call must
    // stop with sizing guidance BEFORE running the banded self-join
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", bits = 16, maxDist = 3,
        maxCandidatePairs = 10L).count())
    assert(e.getMessage.contains("maxCandidatePairs"), e.getMessage)
    assert(e.getMessage.contains("raise bits"), e.getMessage)
  }

  // ---- the r14 guard generalization: every sibling banded join measures its
  // fan-out and refuses a dup-heavy pileup the parameter checks can't see.
  // 60 identical documents/vectors is the corpus-induced saturation shape:
  // every row lands in the same band key(s), so the "banded" join is a
  // cross join in disguise whatever the sketch parameters are.

  test("minhashLshCandidates fan-out guard trips on a duplicate-heavy corpus") {
    val docs = (1L to 60L).map(i => (i, "identical boilerplate text repeated verbatim"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minhashLshCandidates(docs, "doc_id", "text", maxCandidatePairs = 100L).count())
    assert(e.getMessage.contains("minhashLshCandidates"), e.getMessage)
    assert(e.getMessage.contains("maxCandidatePairs"), e.getMessage)
    assert(e.getMessage.contains("exactDedup"), e.getMessage)
    // after exactDedup — the guidance the guard names — the same corpus passes
    val deduped = Dedup.exactDedup(docs, "doc_id", "text")
    assert(Dedup.minhashLshCandidates(deduped, "doc_id", "text",
      maxCandidatePairs = 100L).count() === 0L)
  }

  test("embeddingNearDupPairs fan-out guard trips when identical vectors share every bucket") {
    val emb = (1L to 60L).map(i => (i, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", threshold = 0.9,
        planes = 2, bands = 1, maxCandidatePairs = 100L).count())
    assert(e.getMessage.contains("embeddingNearDupPairs"), e.getMessage)
    assert(e.getMessage.contains("raise planes"), e.getMessage)
  }

  test("lshTopK fan-out guard trips when query and corpus pile into one bucket") {
    val emb = (1L to 60L).map(i => (i, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.operators.Similarity.lshTopK(emb, emb, "vec_id", "embedding", k = 3,
        planes = 2, maxCandidatePairs = 100L).count())
    assert(e.getMessage.contains("lshTopK"), e.getMessage)
    assert(e.getMessage.contains("raise planes"), e.getMessage)
    // a small query set against the same corpus is the intended shape — passes
    assert(graft.operators.Similarity.lshTopK(emb.filter(col("vec_id") === 1L), emb,
      "vec_id", "embedding", k = 3, planes = 2, maxCandidatePairs = 100L).count() === 3L)
  }

  test("dedupAgainstIndex fan-out guard trips on a hot index band key") {
    val corpus = (1L to 60L).map(i => (i, "identical boilerplate text repeated verbatim"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    val batch = (1001L to 1050L).map(i => (i, "identical boilerplate text repeated verbatim"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupAgainstIndex(batch, idx, "doc_id", "text", threshold = 0.7,
        maxCandidatePairs = 100L).count())
    assert(e.getMessage.contains("dedupAgainstIndex"), e.getMessage)
    assert(e.getMessage.contains("maxCandidatePairs"), e.getMessage)
    assert(e.getMessage.contains("compact the index"), e.getMessage)
    // the guarded default still serves the legitimate shape verbatim
    val verdicts = Dedup.dedupAgainstIndex(batch.limit(2), idx, "doc_id", "text",
      threshold = 0.7)
    assert(verdicts.filter(col("is_dup")).count() === 2L)
  }

  test("exactDedup anon-tier key is deterministic (stable across recomputes of the same input)") {
    // contract-violating (null id, null text) rows bypass the window
    // shuffle entirely (r15: filter/union, no per-row key at all) — two
    // evaluations of the same input must produce the same surviving rows
    val docs = Seq[(Option[Long], Option[String], String)](
      (None, None, "a"), (None, None, "a"), (None, None, "b"), (Some(1L), Some("x"), "c"))
      .toDF("doc_id", "text", "payload")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() === 4L) // all anon rows pass through, plus the real row
    val a = out.collect().map(_.toString).sorted.toSeq
    val b = Dedup.exactDedup(docs, "doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("exactDedup freezes row-set-unstable inputs before the split, never deterministic ones (r16)") {
    import org.apache.spark.sql.execution.LogicalRDD
    def checkpointed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.exists { case _: LogicalRDD => true; case _ => false }
    // rowSetUnstable: the freeze predicate, pinned directly
    def unstable(df: org.apache.spark.sql.DataFrame): Boolean =
      Dedup.rowSetUnstable(df.queryExecution.analyzed)
    val base = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    // deterministic shapes — source, derived, aggregated — all split as-is
    assert(!unstable(base)) // LocalRelation leaf
    assert(!unstable(base.filter(col("doc_id") > 0).select("doc_id", "text")))
    assert(!unstable(base.groupBy("text").agg(min("doc_id").as("doc_id"))))
    assert(!unstable(base.join(base.select("doc_id"), Seq("doc_id"), "left_semi")))
    assert(!unstable(base.orderBy("doc_id")))
    // row-set-unstable shapes — two executions can pick different rows
    assert(unstable(base.sample(0.5)))
    assert(unstable(base.withColumn("r", rand())))
    assert(unstable(base.limit(1)))
    assert(unstable(base.dropDuplicates("text")))
    val dir = java.nio.file.Files.createTempDirectory("exdedup_src").toString
    base.write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    assert(!unstable(src.filter(col("doc_id") > 0)))
    // a source-shaped input splits WITHOUT a checkpoint: the anon branch's
    // IS NULL predicates must stay pushable to the parquet scan
    assert(!checkpointed(Dedup.exactDedup(src, "doc_id", "text")))
    // a deterministic DERIVED input (Curation's semi-joined frame) also
    // splits without one: freeze-first measured slower than the double
    // evaluation (tools/LineageProbe, docs/SCALE.md r16)
    val derived = base.join(base.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(!checkpointed(Dedup.exactDedup(derived, "doc_id", "text")))
    // a nondeterministic input IS frozen once — correctness, not cost
    assert(checkpointed(Dedup.exactDedup(
      base.withColumn("doc_id", when(rand() < 0.5, col("doc_id"))), "doc_id", "text")))
  }

  test("exactDedup is exact-once on a NONDETERMINISTIC input (routing frozen by the checkpoint)") {
    // id/text nullability decided by rand(): without the checkpoint the
    // keyed and anon branches evaluate the plan independently, and a row
    // can land in both branches or neither (r15 advice scenario — no task
    // retry needed). All payloads unique ⇒ every row must survive exactly
    // once, whatever the routing rolled.
    val n = 200L
    val docs = spark.range(n)
      .select(
        when(rand() < 0.5, col("id")).as("doc_id"),
        when(rand() < 0.5, concat(lit("t"), col("id"))).as("text"),
        col("id").as("payload"))
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() === n)
    // and the surviving payload set is exactly the input's, not a multiset
    assert(out.select("payload").distinct().count() === n)
  }

  test("rowSetUnstable scans subquery plans (r16 advice: instability hidden in IN subqueries)") {
    // plan.exists does not traverse SubqueryExpression plans: a sample /
    // un-ordered limit / rand() hidden inside an IN-subquery (reachable
    // via the SQL surface) must still trip the freeze — without the
    // subquery scan such an input splits with unstable routing
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    base.createOrReplaceTempView("rsu_t")
    def unstable(sql: String): Boolean =
      Dedup.rowSetUnstable(spark.sql(sql).queryExecution.analyzed)
    // deterministic subquery: both executions admit the same ids — stable
    assert(!unstable(
      "SELECT * FROM rsu_t WHERE doc_id IN (SELECT doc_id FROM rsu_t WHERE text = 'a')"))
    // TABLESAMPLE inside the subquery: executions can admit different ids
    assert(unstable(
      "SELECT * FROM rsu_t WHERE doc_id IN (SELECT doc_id FROM rsu_t TABLESAMPLE (50 PERCENT))"))
    // un-ordered LIMIT inside the subquery: an arbitrary id wins
    assert(unstable(
      "SELECT * FROM rsu_t WHERE doc_id IN (SELECT doc_id FROM rsu_t LIMIT 1)"))
    // rand() inside the subquery's filter
    assert(unstable(
      "SELECT * FROM rsu_t WHERE doc_id IN (SELECT doc_id FROM rsu_t WHERE rand() > 0.5)"))
    // nested: instability two subquery levels down (subqueriesAll recurses)
    assert(unstable(
      "SELECT * FROM rsu_t WHERE doc_id IN (SELECT doc_id FROM rsu_t WHERE doc_id IN " +
        "(SELECT doc_id FROM rsu_t LIMIT 1))"))
  }

  test("a malformed _SKETCH_ marker fails with a message naming it, not a MatchError") {
    val corpus = Seq((1L, "some corpus text for the sketch marker test")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_badmarker").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
    val gen = new java.io.File(dir).listFiles().filter(_.getName.startsWith("gen_")).head
    // replace the real marker with garbage a foreign tool might leave
    gen.listFiles().filter(_.getName.startsWith("_SKETCH_")).foreach(_.delete())
    new java.io.File(gen, "_SKETCH_bogus_marker").createNewFile()
    val e = intercept[IllegalArgumentException](Dedup.readMinhashIndex(spark, dir))
    assert(e.getMessage.contains("_SKETCH_bogus_marker"), e.getMessage)
    assert(e.getMessage.contains("refusing to guess"), e.getMessage)
  }

  test("fixPathRoot: empty/null paths pass through instead of an ANSI element_at crash") {
    val df = Seq(
      (1L, Seq("Root", "A")),
      (2L, Seq("B")),
      (3L, Seq.empty[String]),
      (4L, null: Seq[String])).toDF("id", "category_path")
    // element_at(path, 1) throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on the
    // empty array under ANSI — one garbage row killed the whole job
    val got = Hierarchy.fixPathRoot(df, "category_path", "Root")
      .orderBy("id").select("category_path").collect()
    assert(got(0).getSeq[String](0) == Seq("Root", "A"))
    assert(got(1).getSeq[String](0) == Seq("Root", "B"))
    assert(got(2).getSeq[String](0) == Seq.empty[String])
    assert(got(3).isNullAt(0))
  }

  test("flattenTree: malformed tree JSON is dropped, not emitted as a phantom null row") {
    val trees = Seq(
      """{"name":"Root","url":"/r","children":[{"name":"A","url":"/r/a"}]}""",
      """this is not json at all""").toDF("tree")
    val got = Hierarchy.flattenTree(trees, "tree", maxDepth = 3)
    assert(got.count() === 2L) // Root + A, nothing from the garbage row
    assert(got.filter(col("url").isNull).count() === 0L)
  }

  test("asofJoin tieBreakers: equal (key, rightTime) rows pick deterministically") {
    val left = Seq(("k", ts("2024-01-02 00:00:00"), "L")).toDF("k", "t", "tag")
    val right = Seq(
      ("k", ts("2024-01-01 00:00:00"), 10.0, 2L),
      ("k", ts("2024-01-01 00:00:00"), 20.0, 1L)).toDF("k", "t", "price", "seq")
    // without a tie-breaker the winner is partition arrival order; with
    // one, the FIRST row in tie order wins — here max seq
    val got = Merge.asofJoin(left, right, "k", "t", "t", Seq("price"),
      tieBreakers = Seq(col("seq").desc))
    assert(got.select("price").as[Double].head() === 10.0)
    val got2 = Merge.asofJoin(left, right, "k", "t", "t", Seq("price"),
      tieBreakers = Seq(col("seq").asc))
    assert(got2.select("price").as[Double].head() === 20.0)
  }

  test("tokenBudgetPack: a null-text row costs 0 tokens wherever it falls in the group") {
    import graft.operators.Corpus
    val df = Seq(
      (1L, "en", null: String), (2L, "en", "a b c"),
      (3L, "en", null: String), (4L, "en", "d e f"))
      .toDF("doc_id", "lang", "text")
    // budget 6: 0 + 3 + 0 + 3 — all four fit. Pre-fix, the window sum
    // SKIPPED the leading null (running total NULL -> row dropped) while
    // keeping mid-group nulls for free: order-dependent garbage handling
    val got = Corpus.tokenBudgetPack(df, "lang", "doc_id", "text", budget = 6L)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L))
  }

  test("lshTopK: a truncated vector cannot crash the bucketing scan (ANSI element_at)") {
    val emb = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.9f, 0.8f, 0.7f, 0.6f, 0.5f, 0.4f, 0.3f, 0.2f)),
      (3L, Array(-1.0f))) // truncated failed-embedding artifact
      .toDF("vec_id", "embedding")
    // pre-fix, element_at(v, i) threw INVALID_ARRAY_INDEX from inside the
    // bucketing scan for ANY plan touching row 3; with get(), the short
    // vector buckets on its present components (missing vote 0), lands in
    // bucket 0, and is simply never paired with the bucket-255 query
    val got = graft.operators.Similarity.lshTopK(
      emb.filter(col("vec_id") === 1L), emb, "vec_id", "embedding", k = 2, planes = 8)
    assert(got.select("neighbor_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("guardSelfJoinFanout tier: an under-bound corpus pays the count, not the histogram") {
    // the r14 bench A/B priced the unconditional per-key histogram at
    // 0.3-1.2 canary-units per call; the r15 tier's contract is that a
    // banding whose C(N,2) bound already clears the cap runs NO groupBy
    // over the key column. Observable from the executed plans captured
    // during CONSTRUCTION (the guard is eager; the candidate join has not
    // run yet): the histogram is the only construction-phase plan that
    // hash-partitions on the band key.
    def plansDuring(body: => Unit): Vector[String] = {
      val plans = scala.collection.mutable.ArrayBuffer[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          plans.synchronized { plans += qe.executedPlan.toString }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try { body; org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark) }
      finally spark.listenerManager.unregister(listener)
      plans.synchronized { plans.toVector }
    }
    val docs = (1L to 200L).map(i => (i, s"document number $i about topic ${i % 7} entirely unique tail $i"))
      .toDF("doc_id", "text").localCheckpoint()
    // 200 docs x 4 bands = 800 banded rows, C(800,2) ~ 3.2e5 <= the default
    // 2e9 cap: the free bound proves safety, the histogram must NOT run
    val skipped = plansDuring(Dedup.minhashLshCandidates(docs, "doc_id", "text"))
    assert(skipped.nonEmpty, "construction must run the guard's count")
    assert(!skipped.exists(_.contains("hashpartitioning(bandkey")),
      "under the bound, no construction-phase plan may aggregate on the band key:\n" +
        skipped.find(_.contains("hashpartitioning(bandkey")).getOrElse("").take(1500))
    // cap below the bound but above the exact fan-out: the histogram MUST
    // run (the tier cannot prove safety from the count alone) and the call
    // still passes - distinct docs share almost no band keys
    val exact = plansDuring(
      Dedup.minhashLshCandidates(docs, "doc_id", "text", maxCandidatePairs = 100000L))
    assert(exact.exists(_.contains("hashpartitioning(bandkey")),
      "past the bound, the exact per-key histogram must run before the join")
    // the two-sided tier (guardJoinFanout) behind the index probe: a
    // 20-doc batch against the written 200-doc index bounds the fan-out
    // at |batch bands|·|index rows| = 80 x 800 = 64,000 pairs
    val dir = java.nio.file.Files.createTempDirectory("mhidx_tier").toString
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(docs, "doc_id", "text"), dir)
    val idx = Dedup.readMinhashIndex(spark, dir)
    val batch = (1001L to 1020L)
      .map(i => (i, s"fresh batch text $i on subject ${i % 5} with its own tail $i"))
      .toDF("doc_id", "text").localCheckpoint()
    def probe(cap: Long) =
      plansDuring(Dedup.dedupAgainstIndex(batch, idx, "doc_id", "text",
        threshold = 0.5, maxCandidatePairs = cap))
    val probeSkipped = probe(Dedup.DefaultMaxCandidatePairs)
    assert(probeSkipped.nonEmpty, "construction must run the probe's guard")
    assert(!probeSkipped.exists(_.contains("hashpartitioning(bandkey")),
      "under the two-sided bound, no construction-phase plan may aggregate on the band key:\n" +
        probeSkipped.find(_.contains("hashpartitioning(bandkey")).getOrElse("").take(1500))
    // below the 64,000 bound, above the exact fan-out (fresh text shares
    // next to no band keys with the index): the histogram runs, the probe passes
    assert(probe(10000L).exists(_.contains("hashpartitioning(bandkey")),
      "past the two-sided bound, the exact per-key histogram must run before the probe")
  }

  test("ngramJaccard inverted-route fan-out guard trips on a boilerplate-shingle corpus") {
    // every document shares every shingle, so one shingle key emits nC2
    // join rows and the length filter cannot help (all docs the same
    // length) — the KEYED-join sibling of the banded saturation shape.
    // denseVocabBits = 0 pins the hazardous route (the dense path absorbs
    // tiny vocabularies without the self-join).
    val docs = (1L to 60L).map(i => (i, "identical boilerplate text repeated verbatim"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.8,
        denseVocabBits = 0, maxCandidatePairs = 100L).count())
    assert(e.getMessage.contains("ngramJaccardPairs(inverted)"), e.getMessage)
    assert(e.getMessage.contains("maxCandidatePairs"), e.getMessage)
    assert(e.getMessage.contains("shingleN"), e.getMessage)
    assert(e.getMessage.contains("exactDedup"), e.getMessage)
    // the guidance works: after exactDedup the same route on the same
    // corpus passes under the same cap
    val deduped = Dedup.exactDedup(docs, "doc_id", "text")
    assert(Dedup.ngramJaccardPairs(deduped, "doc_id", "text", shingleN = 3,
      threshold = 0.8, denseVocabBits = 0, maxCandidatePairs = 100L).count() === 0L)
  }

  test("exactDedup handles MapType payload columns and keeps identical anon rows") {
    // Spark 4 hash expressions reject MapType at ANALYSIS time
    // (DATATYPE_MISMATCH.HASH_MAP_TYPE): the r14 whole-row xxhash64 anon
    // tier crashed every exactDedup over a frame carrying a map column —
    // e.g. product specs maps, which Curation passes through — even when
    // no anon row existed. The split/union shape hashes nothing.
    val docs = Seq(
      (Option(1L), Option("same text"), Map("k" -> "v1")),
      (Option(2L), Option("same  TEXT"), Map("k" -> "v2")), // normalizes equal to doc 1
      (Option(3L), None: Option[String], Map("k" -> "v3")), // null text: per-id sentinel
      (None: Option[Long], None: Option[String], Map("k" -> "anon")), // anon: kept
      (None: Option[Long], None: Option[String], Map("k" -> "anon"))) // identical anon: ALSO kept
      .toDF("doc_id", "text", "specs")
    val got = Dedup.exactDedup(docs, "doc_id", "text")
    assert(got.count() === 4L)
    assert(got.filter(col("doc_id") === 1L).count() === 1L) // min id wins
    assert(got.filter(col("doc_id") === 2L).count() === 0L)
    assert(got.filter(col("doc_id").isNull).count() === 2L)
    assert(got.columns.toSeq === docs.columns.toSeq)
  }

  test("detailMerge strictUniqueKeys: duplicate NULL detail keys are not a violation") {
    // NULL keys never match the left equi-join, so they cannot multiply
    // listing rows — the audit must not abort a merge the hazard does not
    // affect (a crawler batch with several failed-extraction NULL-id rows)
    val listing = Seq((Option(1L), "A", Option("BrandA")))
      .toDF("product_id", "name", "brand")
    val detail = Seq(
      (None: Option[Long], Option("X1")),
      (None: Option[Long], Option("X2")),
      (Option(1L), Option("B1")))
      .toDF("product_id", "brand")
    val got = Merge.detailMerge(listing, detail, "product_id",
      detailWins = Seq("brand"), strictUniqueKeys = true).collect().toSeq
    assert(got.size === 1 && got.head.getString(2) === "B1")
    // a duplicated NON-null key still trips with the NULL rows present
    val bad = detail.unionByName(Seq((Option(1L), Option("B2"))).toDF("product_id", "brand"))
    val e = intercept[IllegalArgumentException](
      Merge.detailMerge(listing, bad, "product_id", detailWins = Seq("brand"),
        strictUniqueKeys = true))
    assert(e.getMessage.contains("1\u00d72"), e.getMessage + " -- expected 1\\u00d72 hint")
  }
}
