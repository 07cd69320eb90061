package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Write-side merge/upsert + latest-per-key + as-of join operators
  * (SURVEY.md J5/J6/J7). These are the Spark re-expressions of the
  * reference's Postgres `INSERT .. ON CONFLICT DO UPDATE` and
  * `SELECT DISTINCT ON` idioms.
  */
object Merge {

  /** J6 — upsert merge with Postgres `COALESCE(NULLIF(EXCLUDED.x,''), old.x)`
    * semantics: a new value wins only when it is non-null and (for strings)
    * non-empty, otherwise the old value is kept. New keys are inserted, old
    * keys never dropped (full-outer).
    *
    * Ref: storage/postgres_storage.py:984-1012 (products, key product_id);
    * :804-830 (categories, key url).
    *
    * Keys are PRIMARY keys and must be non-null (they are NOT NULL in the
    * reference schema; F1 validation drops null-id rows upstream). The join
    * uses plain equality, NOT `<=>`: with non-null keys it is exact, and
    * Catalyst would rewrite each null-safe key into a coalesce/isnull
    * expression pair — two hashed join keys where one suffices.
    *
    * Scale: one key-partitioned shuffle of snapshot ∪ batch — both sides
    * hash on `keys`. [[graft.store.Store]] writes every generation as plain
    * parquet read by path, so no layout metadata lets either side skip it
    * (a catalog-held bucketed layout would not outlive the session that
    * wrote it). AQE handles skew. No driver-side state.
    */
  def upsertMerge(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = newDf.columns.filterNot(keys.contains)
    require(valueCols.sameElements(oldDf.columns.filterNot(keys.contains)),
      "old and new must share a schema")
    val n = newDf.select(newDf.columns.map(c => col(c).as(s"__n_$c")).toIndexedSeq: _*)
    val o = oldDf.select(oldDf.columns.map(c => col(c).as(s"__o_$c")).toIndexedSeq: _*)
    val cond = keys.map(k => col(s"__n_$k") === col(s"__o_$k")).reduce(_ && _)
    val joined = n.join(o, cond, "full_outer")
    val keyCols = keys.map(k => coalesce(col(s"__n_$k"), col(s"__o_$k")).as(k))
    val merged = valueCols.toIndexedSeq.map { c =>
      val nv = col(s"__n_$c")
      val ov = col(s"__o_$c")
      val newWins = newDf.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => when(nv.isNotNull && nv =!= "", nv)
        case _                                      => when(nv.isNotNull, nv)
      }
      coalesce(newWins, ov).as(c)
    }
    joined.select((keyCols ++ merged).toIndexedSeq: _*)
  }

  /** P4 — read-side detail-merge: enrich listing rows with freshly-crawled
    * detail values. For each column in `detailWins` the detail value
    * overwrites the listing value only when it is "truthy" in the
    * reference's Python sense (`if detail.get(x):`) — non-null, non-empty
    * string, non-zero number, non-empty array/map. Columns in
    * `preferDetail` (sales_count) use plain `is not None` precedence.
    * Rows whose merged `requireCol` is null/blank are dropped (the
    * reference's brand-required gate, F3 — such rows are re-crawled later).
    *
    * Ref: tasks/detail.py:1932-1994 (`merge_product_details` field-update
    * loop + brand filter).
    *
    * Scale: one left join hashed on `key` (broadcast when the detail batch
    * is small — it's the day's crawl delta, listing is the full catalog);
    * everything else is a per-row projection.
    *
    * Contract: `detail` is UNIQUE per key (it is a per-product dict in the
    * reference) — a duplicate detail key would multiply the matching
    * listing rows through the left join, not merge them. Dedup the batch
    * first ([[latestPerKey]]) if the crawler can emit retries. At scale a
    * doc-only contract eventually gets violated, so `strictUniqueKeys`
    * makes it ENFORCED: one extra aggregate over the detail batch (the
    * day's delta, not the catalog — eager at construction) that fails
    * NAMING the duplicated keys instead of silently multiplying listing
    * rows. Opt-in because the legit path shouldn't pay for the audit on
    * every run once the upstream dedups. */
  def detailMerge(
      listing: DataFrame, detail: DataFrame, key: String,
      detailWins: Seq[String], preferDetail: Seq[String] = Nil,
      requireCol: Option[String] = None,
      strictUniqueKeys: Boolean = false): DataFrame = {
    if (strictUniqueKeys) {
      // NULL detail keys are excluded: they never match the left equi-join
      // (NULL = NULL is not true), so duplicate NULL keys cannot multiply
      // listing rows — the hazard this audit guards — and aborting on them
      // would fail merges the hazard does not affect.
      val dups = detail.filter(col(key).isNotNull)
        .groupBy(col(key)).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1)
        .orderBy(col("__c").desc, col(key))
        .limit(6).collect()
      require(dups.isEmpty,
        s"detailMerge: detail batch has duplicate '$key' values — each would " +
          "multiply its matching listing rows through the left join, not merge " +
          "them. Duplicated keys (top by count): " +
          dups.take(5).map(r => s"${r.get(0)}×${r.getLong(1)}").mkString(", ") +
          (if (dups.length > 5) ", …" else "") +
          ". Dedup the batch first (Merge.latestPerKey) — a retrying crawler " +
          "emits the same product more than once")
    }
    import org.apache.spark.sql.types._
    def truthy(c: Column, dt: DataType): Column = dt match {
      case StringType          => c.isNotNull && c =!= ""
      case _: NumericType      => c.isNotNull && c =!= lit(0)
      case BooleanType         => c.isNotNull && c
      case _: ArrayType        => c.isNotNull && size(c) > 0
      case _: MapType          => c.isNotNull && size(c) > 0
      case _                   => c.isNotNull
    }
    val d = detail.select(detail.columns.map(c => col(c).as(s"__d_$c")).toIndexedSeq: _*)
    val joined = listing.join(d, col(key) === col(s"__d_$key"), "left")
    val outCols = listing.columns.toIndexedSeq.map { c =>
      if (detailWins.contains(c))
        when(truthy(col(s"__d_$c"), detail.schema(c).dataType), col(s"__d_$c"))
          .otherwise(col(c)).as(c)
      else if (preferDetail.contains(c))
        coalesce(col(s"__d_$c"), col(c)).as(c)
      else col(c)
    }
    val merged = joined.select(outCols: _*)
    requireCol.fold(merged) { rc =>
      merged.filter(col(rc).isNotNull && trim(col(rc)) =!= "")
    }
  }

  /** J7 — latest row per key (`SELECT DISTINCT ON (k) .. ORDER BY k, ts DESC`).
    * `tieBreakers` make the pick deterministic for equal timestamps (the
    * reference relies on Postgres physical order there — we do not).
    * Ref: storage/postgres_storage.py:1283-1305.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ts: String, tieBreakers: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy((col(ts).desc +: tieBreakers).toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Precedence merge across N same-schema sources: one output row per key
    * (union of all sources' keys), each value column taken from the FIRST
    * source, in argument order, holding a truthy value for that key
    * (non-null; non-empty for strings) — the reference's batch → cache → DB
    * lookup chain (SURVEY §7.4 #3) as ONE relational pass instead of
    * per-row fallback lookups. Ref: postgres_storage.py:520-560.
    *
    * Scale: sources are tagged with their precedence rank and unioned, then
    * one hash-partitioned groupBy(key) takes `min(struct(rank, value))` per
    * column over truthy rows — a single shuffle regardless of source count
    * (a join-chain formulation would shuffle once per source). */
  def precedenceMerge(sources: Seq[DataFrame], key: String): DataFrame = {
    require(sources.nonEmpty, "precedenceMerge needs at least one source")
    val valueCols = sources.head.columns.filterNot(_ == key).toIndexedSeq
    sources.zipWithIndex.foreach { case (s, i) =>
      require(s.columns.filterNot(_ == key).toIndexedSeq == valueCols,
        s"all sources must share a schema (source $i has columns ${s.columns.mkString(",")})")
      // names alone aren't enough: truthy() resolves each column's type from
      // sources.head, so a non-string head column would silently disable the
      // empty-string-is-falsy rule for a string column in a later source,
      // and genuinely mismatched types die as an opaque unionByName error.
      (key +: valueCols).foreach { c =>
        require(s.schema(c).dataType == sources.head.schema(c).dataType,
          s"precedenceMerge: column '$c' has type ${s.schema(c).dataType.simpleString} " +
            s"in source $i but ${sources.head.schema(c).dataType.simpleString} in source 0")
      }
    }
    def truthy(c: String): Column = sources.head.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType => col(c).isNotNull && col(c) =!= ""
      case _                                      => col(c).isNotNull
    }
    val tagged = sources.zipWithIndex.map { case (df, i) =>
      df.select((col(key) +: valueCols.map(col) :+ lit(i).as("__rank")): _*)
    }.reduce(_ unionByName _)
    val picks = valueCols.map { c =>
      min(when(truthy(c), struct(col("__rank"), col(c).as("v"))))
        .getField("v").as(c)
    }
    tagged.groupBy(col(key)).agg(picks.head, picks.tail: _*)
  }

  /** As-of join: for every left row, the latest right row with the same key
    * and rightTime <= leftTime. Single shuffle, no per-key cross product:
    * union both sides tagged, then `last(value, ignoreNulls)` over a window
    * ordered by (time, right-before-left) — the classic scalable as-of shape.
    *
    * `rightVals` are the right columns to carry; they come back
    * null when no prior right row exists (left outer as-of).
    *
    * `tieBreakers`: when several right rows share (key, rightTime), which
    * one is "the latest" is otherwise up to partition arrival order —
    * nondeterministic across runs, the same hole [[latestPerKey]] plugs
    * with its tieBreakers. Pass right-side ordering columns (e.g.
    * `Seq(col("event_id").desc)`; the FIRST row in tie order wins) and the
    * right side is reduced to one row per (key, rightTime) before the
    * union — one extra keyed window over the right side, only when asked.
    * The default keeps the single-shuffle plan for inputs whose
    * (key, time) pairs are unique.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      rightVals: Seq[String], tieBreakers: Seq[Column] = Nil): DataFrame = {
    val leftCols = left.columns.toIndexedSeq
    val rightD =
      if (tieBreakers.isEmpty) right
      else {
        val tw = Window.partitionBy(col(key), col(rightTime)).orderBy(tieBreakers.toIndexedSeq: _*)
        right.withColumn("__rn", row_number().over(tw)).filter(col("__rn") === 1).drop("__rn")
      }
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          rightVals.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))))
    val r = rightD
      .select((col(key) +: rightVals.map(col) :+ col(rightTime)).toIndexedSeq: _*)
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .withColumn("__rv", struct(rightVals.map(col).toIndexedSeq: _*))
    val lAll = l.select((col(key).as("__k") +: leftCols.map(col) :+ col("__t") :+ col("__side") :+ col("__rv")).toIndexedSeq: _*)
    val rAll = r.select((col(key).as("__k") +: leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+ col("__t") :+ col("__side") :+ col("__rv")).toIndexedSeq: _*)
    val unioned = lAll.unionByName(rAll)
    // right rows sort before left rows at the same timestamp (<= semantics)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select((leftCols.map(col) ++ rightVals.map(c => col(s"__asof.$c").as(c))).toIndexedSeq: _*)
  }
}
