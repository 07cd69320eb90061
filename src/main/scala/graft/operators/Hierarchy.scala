package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Hierarchy / graph-ish operators (SURVEY.md §2.9, H1–H6, D2).
  *
  * The reference walks `parent_url` chains row-at-a-time with a visited-set
  * cycle guard and a depth cap of 10 (`postgres_storage.py:487-562`). The
  * Spark shape is a bounded walk over a broadcast lookup: each step extends
  * every node's ancestor path by one hop; nodes whose parent is missing or
  * already in the path (cycle) stop extending. Depth is bounded (≤5 levels
  * in the reference, `MAX_CATEGORY_LEVELS`), so this is a fixed small number
  * of map lookups in one projection — no GraphX, no driver loop over rows.
  *
  * Scale: the parent table is a dim (≈1k rows in the reference); we
  * `broadcast` it once as a one-row map so path materialization over N rows
  * is N×depth map-side work with zero shuffles.
  */
object Hierarchy {

  /** H1 — materialize root-first name paths for every node.
    * Input: url, name, parent_url. Output: adds `category_path`
    * (array<string>, root first, ≤ maxLevels) and `level` (= size(path)).
    *
    * One projection over a broadcast lookup: the parent relation is
    * aggregated once into a one-row `map<url, struct<name, parent>>`
    * (null urls left out — they can never be a parent), that row is
    * broadcast-cross-joined onto every node, and each chain is walked
    * with `aggregate` over `maxDepth` steps. A step hops to the parent
    * when the parent's NAME is non-null and the cursor is not already in
    * the walked path (`array_contains(seen, cursor)`, the cycle guard);
    * otherwise the walk stops. The plan no longer depends on `maxDepth`.
    * It replaced `maxDepth` unrolled broadcast joins, whose planning was
    * most of warm q59 (1.79 s of driver gap in 2.08 s at sf0.01).
    * An r19 frontier checkpoint every 3 rounds had cut that plan too, but
    * measured ~1 s SLOWER warm: its extra materialization jobs cost more
    * than the planning they saved. Do not re-try it.
    *
    * Urls are the categories' upsert key, so they are unique; a parent
    * relation with a repeated url fails the action with an error naming
    * `resolvePaths` rather than resolving a node twice.
    *
    * Scale: a map lookup scans the keys, so a step costs O(|parents|) —
    * fine for a category dim (≈1k rows in the reference), not for a
    * parent relation of millions. */
  def resolvePaths(categories: DataFrame, maxDepth: Int = 10, maxLevels: Int = 5): DataFrame = {
    // one task gathers the dim: the broadcast collects it to the driver
    // anyway, and a shuffle to one partition would only add a stage
    val entries = categories.where(col("url").isNotNull).coalesce(1)
      .agg(collect_list(struct(col("url"),
        struct(col("name"), col("parent_url").as("parent")).as("node"))).as("e"))
    val lookup = entries.select(
      when(size(array_distinct(col("e.url"))) === size(col("e")), map_from_entries(col("e")))
        .otherwise(raise_error(lit("resolvePaths: the parent relation repeats a url " +
          "(urls are the categories' upsert key)"))).as("__parents"))
    def step(s: Column): Column = {
      val p = element_at(col("__parents"), s("cursor"))
      val hop = p("name").isNotNull && !array_contains(s("seen"), s("cursor"))
      struct(
        when(hop, concat(array(p("name")), s("path"))).otherwise(s("path")).as("path"),
        when(hop, p("parent")).as("cursor"),
        when(hop, concat(s("seen"), array(s("cursor")))).otherwise(s("seen")).as("seen"))
    }
    // typed as the join chain typed it: elements nullable (a looked-up
    // name), the path itself not — a walk never yields null, and the
    // coalesce only carries that to the declared type
    val own = array(col("name")).cast(ArrayType(categories.schema("name").dataType))
    val start = struct(own.as("path"), col("parent_url").as("cursor"), array(col("url")).as("seen"))
    val walked = aggregate(array_repeat(lit(0), maxDepth), start, (s, _) => step(s), _("path"))
    categories.crossJoin(broadcast(lookup))
      .withColumn("category_path", slice(coalesce(walked, own), 1, maxLevels))
      .withColumn("level", size(col("category_path")))
      .drop("__parents")
  }

  /** H4 — is_leaf: url never appears as someone's parent_url.
    * Ref: postgres_storage.py:481,588,714. */
  def withIsLeaf(categories: DataFrame): DataFrame = {
    val parentUrls = categories.select(col("parent_url").as("__pu")).where(col("__pu").isNotNull).distinct()
    categories.join(broadcast(parentUrls), col("url") === col("__pu"), "left")
      .withColumn("is_leaf", col("__pu").isNull)
      .drop("__pu")
  }

  /** D2 — dedup by category_id, best-wins: shortest URL, tie → longer name.
    * Ref: postgres_storage.py:772-800. */
  def dedupBestWins(categories: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("category_id"))
      .orderBy(length(col("url")).asc, length(col("name")).desc, col("url").asc)
    categories.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** U2/H6 — parent URLs referenced but absent from the table (to repair).
    * Ref: postgres_storage.py:836-854; tasks/loader.py:62-75. */
  def missingParents(categories: DataFrame): DataFrame =
    categories.select(col("parent_url").as("url")).where(col("url").isNotNull).distinct()
      .join(categories.select("url"), Seq("url"), "left_anti")

  /** H6 — full missing-parent repair: pull absent parents from a reference
    * dimension (precedence: existing table wins), union them in, re-derive
    * paths and is_leaf. Parents absent from the reference too are created
    * as placeholder roots named from their URL slug (the reference's
    * auto-create default, postgres_storage.py:836-854).
    * Ref flow: tasks/loader.py:21-219. */
  def repairParents(categories: DataFrame, referenceDim: DataFrame,
      maxLevels: Int = 5): DataFrame = {
    val missing = missingParents(categories)
    val fromRef = missing.join(referenceDim, Seq("url"), "inner")
      .select(col("url"), col("name"), col("parent_url"))
    val placeholders = missing.join(referenceDim.select("url"), Seq("url"), "left_anti")
      .select(col("url"),
        initcap(regexp_replace(regexp_extract(col("url"), "/([^/]+)/?$", 1), "-", " ")).as("name"),
        lit(null).cast("string").as("parent_url"))
    val repaired = categories.select("url", "name", "parent_url")
      .unionByName(fromRef).unionByName(placeholders)
    withIsLeaf(resolvePaths(repaired, maxLevels = maxLevels))
  }

  /** H5 — ensure the root name sits at index 1 of every path.
    * Ref: validate_category_path.py:24-124.
    *
    * The head probe is `get(path, 0)`, not `element_at(path, 1)`:
    * element_at THROWS INVALID_ARRAY_INDEX_IN_ELEMENT_AT on an empty
    * array under ANSI mode (on by default in Spark 4), so one
    * empty-path row — upstream of the resolver this normally follows —
    * would kill the whole job from deep inside the plan. `get` returns
    * NULL out of bounds; a NULL/empty path passes through unchanged. */
  def fixPathRoot(df: DataFrame, pathCol: String, rootName: String): DataFrame =
    df.withColumn(pathCol,
      when(get(col(pathCol), lit(0)) =!= rootName,
        concat(array(lit(rootName)), array_remove(col(pathCol), rootName)))
        .otherwise(col(pathCol)))

  /** J3 — category product-count update: count DISTINCT products per LEAF
    * category where the product matches by `category_url = url` OR (category
    * has a non-null id AND `product.category_id = category_id`), then write
    * the count back onto the leaf rows (non-leaf rows keep their old value;
    * leaves with no products get 0 — the reference's LEFT JOIN).
    *
    * Ref: postgres_storage.py:1526-1539 (`update_category_product_counts`).
    *
    * The Postgres OR-join would plan a nested loop on Spark; here it is a
    * UNION of two equi-joins (url-match ∪ id-match) feeding one
    * `countDistinct` — each join hashes on its own key, the union is narrow
    * (url, product_id) rows, and `countDistinct` dedups products that match
    * the same category through both arms. The category dim is small →
    * broadcast on both arms; the products side never shuffles. */
  def categoryProductCounts(
      categories: DataFrame, products: DataFrame,
      countCol: String = "product_count"): DataFrame = {
    val leaf = categories.filter(col("is_leaf"))
    val byUrl = products
      .select(col("category_url").as("__curl"), col("product_id").as("__pid"))
      .join(broadcast(leaf.select(col("url").as("__curl"))), Seq("__curl"))
      .select(col("__curl").as("__url"), col("__pid"))
    val byId = products
      .filter(col("category_id").isNotNull)
      .select(col("category_id").as("__cid"), col("product_id").as("__pid"))
      .join(broadcast(leaf.filter(col("category_id").isNotNull)
        .select(col("category_id").as("__cid"), col("url").as("__url"))), Seq("__cid"))
      .select(col("__url"), col("__pid"))
    val counts = byUrl.unionByName(byId)
      .groupBy(col("__url")).agg(countDistinct(col("__pid")).as("__cnt"))
    // counts has at most one row per leaf category — always dim-sized, so
    // the update-back join broadcasts instead of shuffling the category table
    categories
      .join(broadcast(counts.withColumnRenamed("__url", "url")), Seq("url"), "left")
      .withColumn(countCol,
        when(col("is_leaf"), coalesce(col("__cnt"), lit(0L)))
          .otherwise(col(countCol)))
      .drop("__cnt")
  }

  /** H2 — nested tree assembly (small-data, driver-bound by design: the
    * category dim is ≈1k rows). Children grouped and name-sorted (K1). */
  def childrenByParent(categories: DataFrame): DataFrame =
    categories
      .groupBy(col("parent_url"))
      .agg(sort_array(collect_list(struct(col("name"), col("url")))).as("children"))

  /** H3 — flatten a recursive `{name,url,children:[...]}` JSON tree into
    * (name, url, parent_url, level) rows. Spark has no recursive types, so
    * the schema is depth-unrolled to `maxDepth` and the descent is a bounded
    * loop of explodes — one narrow Generate per level, no driver recursion.
    * Ref: extract_categories.py:30-74. */
  def flattenTree(trees: DataFrame, jsonCol: String, maxDepth: Int = 5): DataFrame = {
    import org.apache.spark.sql.types._
    def nodeSchema(d: Int): StructType = {
      val base = Seq(StructField("name", StringType), StructField("url", StringType))
      if (d <= 1) StructType(base)
      else StructType(base :+ StructField("children", ArrayType(nodeSchema(d - 1))))
    }
    var cur = trees
      .select(from_json(col(jsonCol), nodeSchema(maxDepth)).as("node"))
      // from_json is lenient: malformed tree JSON parses to an all-null
      // struct (PERMISSIVE mode), which would surface as a phantom
      // (null, null, null, 1) row in the flattened output. A real node
      // carries at least one of name/url by the tree contract.
      .filter(col("node").isNotNull &&
        (col("node.name").isNotNull || col("node.url").isNotNull))
      .select(lit(null).cast(StringType).as("parent_url"), col("node"), lit(1).as("level"))
    val levels = Seq.newBuilder[DataFrame]
    for (d <- 1 to maxDepth) {
      levels += cur.select(col("node.name").as("name"), col("node.url").as("url"),
        col("parent_url"), col("level"))
      if (d < maxDepth)
        cur = cur.filter(col("node.children").isNotNull)
          .select(col("node.url").as("parent_url"),
            explode(col("node.children")).as("node"), (col("level") + 1).as("level"))
    }
    levels.result().reduce(_ unionByName _)
  }
}
