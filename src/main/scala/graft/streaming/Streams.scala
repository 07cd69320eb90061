package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import org.apache.hadoop.fs.Path

import graft.operators.{Dedup, History, Merge}
import graft.store.{Generations, Partitions}
import graft.operators.Scratch
import graft.operators.Scratch.Ops

/** Structured Streaming surface (SURVEY.md §2.10). The reference is
  * micro-batch incremental (resumable progress, recency watermark, CDC into
  * crawl_history, per-day quota); these are the Spark-native equivalents:
  * `readStream` → transform → `writeStream`, watermarks for the staleness
  * policy, `foreachBatch` for the CDC merge.
  *
  * All transforms below work identically on batch DataFrames (Spark's
  * unified API) — the batch twins are what the oracle gate checks
  * (q09/q10/q33); these wrappers add watermarking + sink wiring.
  *
  * Scale: every aggregation keys its state by (window/session, group key) —
  * state store size is bounded by the watermark horizon, not stream length.
  */
object Streams {

  /** Tumbling-window aggregation with a late-data watermark (the streaming
    * twin of q10_window_hourly). */
  def windowedAgg(events: DataFrame, tsCol: String, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Gap-based session windows (the streaming twin of q09_sessionize;
    * built-in `session_window` keeps state per open session only). */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Streaming dedup by key within the watermark horizon — the streaming
    * analogue of the crawler's skip-already-seen set (F5/J4). */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** CDC sink: per micro-batch, derive typed change events against a
    * MAINTAINED latest-per-key companion and write them under the batch's
    * own partition (the streaming form of History.deriveEvents; the
    * reference probes only the latest stored row per key,
    * postgres_storage.py:1283-1305).
    *
    * Scale contract: the derive input is the companion — O(keys) rows,
    * FLAT in stream length — never the event log itself
    * ([[graft.operators.History]]'s own documented rule: "Callers must NOT
    * pass the full log"). Re-reading all prior `batch_id=` partitions per
    * batch (this sink's pre-r7 shape) costs a full-log scan + shuffle
    * whose price grows with every batch a long-running stream processes.
    *
    * The companion lives at `historyPath/_latest/gen_<batchId>/` — a
    * generation PER BATCH, committed with the [[graft.store.Generations]]
    * marker discipline (underscore prefix keeps it invisible to readers of
    * the event tree). Most generations are DELTAS — just the batch's own
    * changed rows, O(batch) bytes — and every `collapseEvery`-th batch
    * writes a FULL collapse (latestPerKey over base ∪ deltas, flagged by a
    * `_FULL` marker) — or earlier, the moment the accumulated delta bytes
    * since the last full exceed `collapseBytesFrac` of its size, so
    * skewed batch sizes cannot pile a multi-×-catalog overlay onto every
    * derive in the window before a count-based collapse arrives. Batch N
    * derives against latestPerKey(newest full
    * generation with id < N ∪ the deltas between it and N); max-by (ts,
    * tieBreakers) is associative, so that equals a global latest-per-key
    * over all prior events. The per-batch WRITE is O(batch) (the r7 shape —
    * a full O(catalog) rewrite per micro-batch — made the companion write
    * the dominant cost at a 10⁹-key catalog with minute-level batches),
    * and the per-batch READ partition-prunes: full collapses are laid out
    * by `__kbkt = hash(key) % n` and the derive reads only the batch's
    * buckets of them (state for keys outside the batch cannot affect its
    * events; flat deltas are O(batch) and row-filtered), so a micro-batch
    * touching few keys reads O(catalog × touched-buckets/n +
    * collapseEvery·batch), not the whole companion. Only the
    * every-collapseEvery-th collapse pays a full read+write.
    *
    * `keyBuckets` sets `n`. The default `0` sizes each full collapse from
    * the bytes it folds ([[cdcAutoKeyBuckets]]: one bucket per ~128 MB,
    * capped at [[CdcKeyBuckets]]), so a small companion is one `__kbkt=0`
    * dir that the derive reads whole, without a bucket-set collect or a
    * listing job. A value above 0 writes every full with exactly that many
    * buckets — the explicit migration path for a catalog whose per-bucket
    * bytes outgrew the cap.
    *
    * At-least-once `foreachBatch` delivery CONVERGES: a replayed batch
    * resolves only generations with id STRICTLY below its own — its
    * half-committed outputs invisible by construction (deriving against its
    * own events would classify everything no_change and erase them) — and
    * overwrites both its `batch_id=N` event partition and its gen_N
    * companion generation with byte-identical results (the full-vs-delta
    * decision depends only on strictly-earlier generations, so it replays
    * identically too). Superseded generations are dropped by [[cdcVacuum]]:
    * everything strictly OLDER than the second-newest full collapse — the
    * newest full + its trailing deltas reconstruct any state a replay of
    * the current batch can need, and the one-older full survives for the
    * reader-in-flight window, exactly Generations.vacuum's keep=2 rationale.
    * Readers of `historyPath` see one extra `batch_id` partition column. */
  def cdcSink(batchStream: DataFrame, historyPath: String, checkpointPath: String,
      collapseEvery: Int = 8, collapseBytesFrac: Double = 0.5,
      staleHorizon: Option[String] = None,
      keyBuckets: Int = 0): StreamingQuery =
    batchStream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cdcProcessBatch(batch, historyPath, batchId, collapseEvery, collapseBytesFrac,
          staleHorizon, keyBuckets)
        ()
      }
      .start()

  /** Columns the CDC derivation compares against — the companion's schema. */
  private val CdcStateCols = Seq(
    "product_id", "price", "original_price", "discount_percent", "sales_count", "crawled_at")

  /** The CAP of the automatic key-bucket count of a companion full
    * collapse ([[cdcAutoKeyBuckets]]), and the count of legacy fulls that
    * predate the `_NBKT_<n>` marker. The per-batch derive needs previous
    * state for the BATCH's keys only, so collapses are laid out by
    * `__kbkt = hash(product_id) % n` and the derive's companion read
    * partition-prunes to the batch's bucket set — O(touched buckets) of
    * the catalog instead of the whole companion per micro-batch, the
    * read-side twin of the delta-write bound. A key hashes to the same
    * bucket in every generation WITH THE SAME COUNT, and each generation
    * RECORDS its own count (`_NBKT_<n>` marker beside `_FULL`), so the
    * prune is computed per generation under that generation's modulus and
    * can never hide a key's newest state — even across a live re-bucketing
    * migration. 64 keeps the bucket list a bounded driver-side literal
    * (same capped-collect exception as the MinHash band buckets); a
    * catalog large enough that catalog/64 outgrows a healthy derive read
    * restarts the sink with an explicit, bigger `keyBuckets` and the next
    * full collapse adopts it — no offline rewrite, older fulls keep
    * pruning under their recorded count until vacuumed. */
  val CdcKeyBuckets = 64

  /** Key buckets of a full collapse that folds `bytes` of companion and
    * event data when the sink's `keyBuckets` is left at 0: Compact's one
    * sizing rule (one bucket per [[graft.store.Compact.DefaultMaxFileBytes]],
    * at least 1), capped at [[CdcKeyBuckets]]. Dirs track per-bucket
    * BYTES: below ~128 MB the whole state is one bucket, which the derive
    * reads whole (docs/SCALE.md, "Bucket counts are per-generation
    * properties"). */
  private[graft] def cdcAutoKeyBuckets(bytes: Long): Int =
    math.min(CdcKeyBuckets,
      graft.store.Compact.resolveTarget(bytes, graft.store.Compact.DefaultMaxFileBytes))

  private def keyBucket(c: org.apache.spark.sql.Column, n: Int) =
    pmod(hash(c), lit(n))

  /** One committed companion generation: `buckets` is the key-bucket count
    * its state layout was written with (`_NBKT_<n>` marker; legacy fulls
    * without one predate per-generation counts and used the then-constant
    * [[CdcKeyBuckets]]). Deltas are flat — their `buckets` is unused. */
  private[graft] final case class CdcGen(id: Long, path: Path, isFull: Boolean, buckets: Int)

  /** The tombstone a [[cdcRebuildCompanion]] run plants before touching
    * anything and clears only after the rebuilt tree is swapped in — while
    * it exists, every companion read fails loudly instead of treating a
    * half-recovered `_latest` as a fresh stream. */
  private def rebuildMarker(historyPath: String): Path =
    new Path(s"$historyPath/_latest_REBUILDING")

  /** Committed companion generations with id strictly below `batchId`,
    * ascending. One directory listing per generation resolves the `_FULL`
    * and `_NBKT_<n>` markers together. Throws while a
    * [[cdcRebuildCompanion]] recovery marker is present: an interrupted
    * rebuild may have deleted the old tree, and deriving against ZERO
    * committed generations would silently reclassify the whole catalog as
    * first sightings — the one failure mode recovery must never convert a
    * crash into. */
  private def cdcGensBelow(spark: SparkSession, historyPath: String,
      batchId: Long): Seq[CdcGen] = {
    val marker = rebuildMarker(historyPath)
    if (Partitions.fs(spark, marker).exists(marker))
      throw new IllegalStateException(
        s"CDC companion at $historyPath has an interrupted rebuild ($marker exists) — " +
          "re-run cdcRebuildCompanion to complete recovery before resuming the sink")
    val gens = cdcGensBelowUnchecked(spark, historyPath, batchId)
    // ZERO committed generations below a NON-FIRST batch while earlier
    // event partitions exist: `_latest` was lost without a rebuild marker
    // (disk loss, accidental delete). Deriving against nothing would
    // silently reclassify the whole catalog as first sightings — the one
    // failure mode that must never happen quietly. Fail loudly toward
    // recovery instead. Cost: this listing runs only when gens is empty,
    // i.e. normally just the stream's very first batch over an empty tree.
    if (gens.isEmpty && batchId > 0) {
      val archive = new Path(s"$historyPath/_archive")
      val priorData = Partitions.fs(spark, archive).exists(archive) ||
        Partitions.list(spark, new Path(historyPath), "batch_id").exists { case (id, _) =>
          scala.util.Try(id.toLong).toOption.exists(_ < batchId)
        }
      if (priorData) throw new IllegalStateException(
        s"CDC companion at $historyPath has NO committed generation below batch " +
          s"$batchId, but earlier event partitions exist — the `_latest` tree was " +
          "lost. Run cdcRebuildCompanion before resuming, or every key would be " +
          "silently reclassified as a first sighting")
    }
    gens
  }

  private def cdcGensBelowUnchecked(spark: SparkSession, historyPath: String,
      batchId: Long): Seq[CdcGen] =
    Generations.genDirs(spark, s"$historyPath/_latest")
      .map(p => (p.getName.drop(4).toLong, p))
      .filter { case (id, p) => id < batchId && Generations.isCommitted(spark, p) }
      .sortBy(_._1)
      .map { case (id, p) =>
        val fs = Partitions.fs(spark, p)
        val names = fs.listStatus(p).map(_.getPath.getName)
        val buckets = names.collectFirst {
          case n if n.startsWith("_NBKT_") => n.drop("_NBKT_".length).toInt
        }.getOrElse(CdcKeyBuckets)
        CdcGen(id, p, names.contains("_FULL"), buckets)
      }

  /** One [[cdcSink]] micro-batch, factored out so a replay is directly
    * testable: derive against the strictly-earlier companion state,
    * overwrite the batch's event partition, write the batch's companion
    * generation — a DELTA of the batch's own events unless a collapse is
    * due: `collapseEvery` deltas have accumulated since the last full
    * collapse, OR (the bytes trigger) the accumulated delta bytes since
    * that full exceed `collapseBytesFrac` of its size. The count trigger
    * alone is blind to skew — 8 catalog-sized deltas before a count-based
    * collapse make every derive in that window read a multi-×-catalog
    * overlay; the bytes trigger bounds the overlay the moment it outgrows
    * the fraction. Both are decided from COMMITTED strictly-earlier
    * generations only (immutable bytes, vacuum-protected), so a replayed
    * batch makes the identical delta-vs-full choice. A full collapse gets
    * `keyBuckets` key buckets, or with `keyBuckets = 0` the
    * [[cdcAutoKeyBuckets]] count for the bytes it folds. Jobs are labelled
    * `cdc.prune` (the bucket-set collect), `cdc.derive`, `cdc.write` and
    * `cdc.vacuum`. */
  private[graft] def cdcProcessBatch(batch: DataFrame, historyPath: String, batchId: Long,
      collapseEvery: Int = 8, collapseBytesFrac: Double = 0.5,
      staleHorizon: Option[String] = None, keyBuckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    Scratch.scoped {
      // the batch is deliberately NOT checkpointed (unlike the ingest
      // sinks'): its extra evaluation is the bucket-prune collect —
      // key-column-only, column-pruned at a columnar source — and the one
      // full-width use is deriveEvents, whose output is what gets pinned.
      // A full-width batch checkpoint would trade that narrow scan for a
      // second copy of the whole batch in executor storage.
      val gens = cdcGensBelow(spark, historyPath, batchId)
      // the derive needs previous state for the BATCH's keys only — prune
      // the companion read to their buckets. Flat deltas row-filter under
      // the anchor full's recorded count, so the batch has ONE modulus and
      // at most one tiny distinct-collect (none when that count is 1)
      val lastFullIdx = gens.lastIndexWhere(_.isFull)
      val modulus = if (lastFullIdx >= 0) gens(lastFullIdx).buckets else CdcKeyBuckets
      val pruneTo = graft.Phase(spark, "cdc.prune")(bucketSetsFor(batch, gens, modulus))
      // materialized once: the events feed both the partition write and the
      // companion write (and the scoped wrapper frees the blocks per batch).
      // `staleHorizon` applies History's event-time staleness rule: state
      // older than the horizon re-classifies the observation as a first
      // sighting. Classification-only — the companion keeps retaining
      // latest-per-key values (a stale-reclassified row IS logged, so its
      // delta refreshes the companion's values and timestamp), and the
      // no_change-rows-never-enter-a-delta invariant is preserved: a row
      // classified no_change is by construction FRESH and value-identical
      // to state, so dropping it still cannot change any future derive.
      // Consequence: the horizon measures the age of the last LOGGED
      // change — no_change observations do not refresh it — matching the
      // reference's probe-the-last-stored-history-row shape (its history
      // also only holds should_log rows, postgres_storage.py:1283-1305).
      val events = graft.Phase(spark, "cdc.derive") {
        val prev = cdcStateFrom(spark, gens, Some(pruneTo), modulus)
          .getOrElse(batch.select(CdcStateCols.map(col): _*).limit(0))
        History.deriveEvents(batch, prev, None, staleHorizon).scratchCheckpoint()
      }
      // the batch's delta: its own changed rows only, collapsed to one per
      // key below. A no_change row never enters any generation — it carries
      // values identical to the state it matched, so dropping it cannot
      // change any future derive.
      val delta = events.select(CdcStateCols.map(col): _*)
      // full collapse when collapseEvery deltas piled up since the last
      // full (or no full exists yet — the first batch seeds the base), or
      // when their accumulated BYTES outgrew collapseBytesFrac of that
      // full (skewed batch sizes reach catalog-scale overlay long before
      // the count trigger). Decided from strictly-earlier generations
      // only — committed parquet bytes never change and cdcVacuum keeps
      // every generation at or after the second-newest full — so a replay
      // makes the identical choice.
      val deltasSinceFull = gens.size - 1 - lastFullIdx
      def bytesOf(p: Path): Long = {
        val fs = Partitions.fs(spark, p)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }
      // the state bytes a collapse folds: what cdcStateFrom reads — the
      // anchor full and the deltas after it (every generation of a legacy
      // layout without `_FULL` markers)
      lazy val foldedBytes = gens.drop(math.max(lastFullIdx, 0))
        .map(g => bytesOf(new Path(g.path, "state")))
      val bytesDue = lastFullIdx >= 0 && deltasSinceFull > 0 && {
        val fullBytes = foldedBytes.head
        fullBytes > 0 && foldedBytes.tail.sum >= collapseBytesFrac * fullBytes
      }
      val isFull = lastFullIdx < 0 || deltasSinceFull + 1 >= collapseEvery || bytesDue
      // tie-break discipline (matching cdcStateFrom's): on a crawled_at tie
      // the CURRENT batch's row supersedes resolved prior state — batch
      // recency, the reference's last-write-wins upsert order — and the
      // trailing value columns totalize the order WITHIN a delta (a batch
      // can log several changes for one key; rows tying on every ordered
      // column are identical, so the pick is immaterial). A replayed batch
      // therefore collapses deterministically, which the byte-identical
      // generation-rewrite contract requires.
      val valueTieBreaks = Seq(col("price").desc, col("sales_count").desc,
        col("original_price").desc, col("discount_percent").desc)
      val root = s"$historyPath/_latest"
      // %012d, not Generations' %06d: companion generation NAMES carry the
      // batch id, and vacuum/latest resolution sort lexicographically — a
      // six-digit pad would misorder past batch 999999 (vacuum would then
      // drop the NEWEST generation). Twelve digits outlive any stream; the
      // layout is new in r7, so there is no narrower legacy data to match.
      val gen = new Path(new Path(root), f"gen_$batchId%012d")
      val fs = Partitions.fs(spark, gen)
      // a replayed batch rewrites its own generation (deterministic from
      // the strictly-earlier generations + the batch, so the rewrite is
      // byte-identical)
      fs.delete(gen, true)
      val eventDir = new Path(s"$historyPath/batch_id=$batchId")
      def writeEvents(): Unit = events.write.mode("overwrite").parquet(eventDir.toString)
      graft.Phase(spark, "cdc.write") {
        if (isFull) {
          // a collapse folds the WHOLE catalog — unpruned read — not just
          // the batch's buckets. Only COLLAPSES get the bucketed layout:
          // they are the catalog-sized relation the per-batch prune pays
          // for. Their count is sized from the bytes they fold — the
          // folded state plus this batch's event partition, written first
          // so that a first full, with nothing to fold, is sized too — and
          // recorded beside the data (`_NBKT_<n>`), so every future derive
          // prunes THIS generation under the modulus it was written with:
          // what makes a count change between collapses safe.
          writeEvents()
          val buckets = if (keyBuckets > 0) keyBuckets
            else cdcAutoKeyBuckets(foldedBytes.sum + bytesOf(eventDir))
          writeFull(Merge.latestPerKey(
            cdcStateFrom(spark, gens).getOrElse(delta.limit(0))
              .withColumn("__cur", lit(0)).unionByName(delta.withColumn("__cur", lit(1))),
            Seq("product_id"), "crawled_at", col("__cur").desc +: valueTieBreaks)
            .drop("__cur"), gen, buckets)
        } else {
          // A delta is O(batch) — its read costs nothing to leave whole,
          // and partitioning it would write up to a bucket count of tiny
          // files per micro-batch for no read saving (measured 3× on the
          // q76 gate). Deltas stay one flat file (repartition, never
          // coalesce — coalesce would single-thread the upstream derive);
          // cdcStateFrom row-filters them when pruning. The event write and
          // the delta write both derive from the checkpointed `events` and
          // land in disjoint trees, so they run concurrently (guide §2.6):
          // the companion's commit marker lands AFTER both (below), derives
          // read strictly-earlier generations only, and a replayed batch
          // rewrites both deterministically.
          graft.Par.run(
            () => writeEvents(),
            () => Merge.latestPerKey(delta, Seq("product_id"), "crawled_at", valueTieBreaks)
              .repartition(1).write.mode("overwrite").parquet(new Path(gen, "state").toString))
        }
      }
      Generations.commit(spark, gen)
      graft.Phase(spark, "cdc.vacuum")(cdcVacuum(spark, historyPath, batchId + 1))
    }
  }

  /** Write `state` as companion generation `gen`'s full collapse: one
    * `__kbkt=` dir per non-empty key bucket of `buckets`, then the `_FULL`
    * marker and the `_NBKT_<buckets>` marker every later read prunes this
    * generation under. The caller commits. */
  private def writeFull(state: DataFrame, gen: Path, buckets: Int): Unit = {
    state.withColumn("__kbkt", keyBucket(col("product_id"), buckets))
      .repartition(col("__kbkt"))
      .write.mode("overwrite").partitionBy("__kbkt").parquet(new Path(gen, "state").toString)
    val fs = Partitions.fs(state.sparkSession, gen)
    fs.create(new Path(gen, "_FULL"), false).close()
    fs.create(new Path(gen, s"_NBKT_$buckets"), false).close()
  }

  /** The latest-per-key CDC state batch `batchId` must derive against:
    * latestPerKey over the newest COMMITTED full collapse with id STRICTLY
    * below it plus the delta generations between the two (a replayed batch
    * never sees its own output). None before the first commit. Public
    * surface so specs can assert the derive input is the companion — a
    * bounded set of `_latest` generation directories, O(keys +
    * collapseEvery·batch) rows — and not the accumulated `batch_id=` event
    * partitions. The pruned read for a key set is [[cdcStateForKeys]]. */
  def cdcState(spark: SparkSession, historyPath: String, batchId: Long): Option[DataFrame] =
    cdcStateFrom(spark, cdcGensBelow(spark, historyPath, batchId))

  /** [[cdcState]] pruned for a specific KEY SET — exactly the read the
    * per-batch derive performs: each full collapse partition-prunes under
    * its own recorded bucket count (so the read stays O(touched buckets)
    * across a re-bucketing migration), flat deltas row-filter under
    * `flatModulus`. Correct for any observation whose key is in `keys`. */
  def cdcStateForKeys(spark: SparkSession, historyPath: String, batchId: Long,
      keys: DataFrame, flatModulus: Int = CdcKeyBuckets): Option[DataFrame] = {
    val gens = cdcGensBelow(spark, historyPath, batchId)
    cdcStateFrom(spark, gens, Some(bucketSetsFor(keys, gens, flatModulus)), flatModulus)
  }

  /** The batch's key-bucket sets, one per MODULUS in play — the ANCHOR
    * full collapse's recorded count plus `flatModulus` for the deltas; one
    * tiny distinct-collect per modulus (the derive passes the anchor's
    * count as `flatModulus`, so it has one). Only the newest full matters:
    * [[cdcStateFrom]] reads from the anchor onward, so pre-anchor fulls
    * retained by the vacuum window must not charge the batch an extra
    * collect for bucket sets that are never consulted. A modulus of 1 gets
    * no entry — every key is in bucket 0, so its filter would prune
    * nothing — and neither does anything when there is no generation. */
  private def bucketSetsFor(keys: DataFrame, gens: Seq[CdcGen],
      flatModulus: Int): Map[Int, Seq[Int]] = {
    val anchor = gens.lastIndexWhere(_.isFull)
    val moduli = if (gens.isEmpty) Nil
      else ((if (anchor >= 0) Seq(gens(anchor).buckets) else Nil) :+ flatModulus).distinct
        .filter(_ > 1)
    moduli.map { m =>
      m -> keys.select(keyBucket(col("product_id"), m).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }.toMap
  }

  /** `pruneTo` maps a bucket-count MODULUS to the batch's bucket set under
    * it: each full collapse prunes under its own recorded count, flat
    * deltas row-filter under `flatModulus`. A generation whose count has
    * no entry is read whole — pruning is an optimization, never a
    * correctness dependency. */
  private def cdcStateFrom(spark: SparkSession, gens: Seq[CdcGen],
      pruneTo: Option[Map[Int, Seq[Int]]] = None,
      flatModulus: Int = CdcKeyBuckets): Option[DataFrame] = {
    if (gens.isEmpty) None
    else {
      // the newest full collapse anchors the read; deltas after it overlay.
      // (A legacy pre-delta layout has no _FULL markers; each of its
      // generations is a full state, and latestPerKey over their union is
      // that state — the next processed batch then writes a marked full
      // and re-anchors.)
      val fromFull = {
        val i = gens.lastIndexWhere(_.isFull)
        if (i >= 0) gens.drop(i) else gens
      }
      // a batch whose rows all matched state writes an EMPTY delta — no
      // part files (bucketed layout: no __kbkt= dirs), so it must be
      // skipped, not schema-inferred over
      val dirs = fromFull.map(g => (new Path(g.path, "state"), g.buckets, g.id))
        .filter { case (d, _, _) =>
          val fs = Partitions.fs(spark, d)
          fs.exists(d) && fs.listStatus(d).exists { st =>
            val n = st.getPath.getName
            // data = __kbkt= partition dirs (bucketed layout; they DO start
            // with "_" — Spark's reader keeps underscore names containing
            // "=") or plain part files (legacy flat layout)
            (st.isDirectory && n.startsWith("__kbkt=")) ||
              (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          }
        }
      if (dirs.isEmpty) None
      else {
        // per-dir reads, then union: a flat delta generation and a bucketed
        // collapse cannot share a single multi-path read (conflicting
        // partition discovery); K ≤ collapseEvery dirs keeps this cheap.
        // `pruneTo` lands as a PartitionFilter on bucketed collapses — the
        // O(touched buckets) read of the catalog-sized relation, each under
        // ITS OWN recorded modulus — and as a row filter on flat
        // deltas/legacy gens (deltas are O(batch); a legacy full gen
        // re-anchors bucketed at its next collapse).
        val frames = dirs.map { case (d, nbkt, genId) =>
          val df = Partitions.read(spark, d.toString)
          val bucketed = df.columns.contains("__kbkt")
          val pruned = pruneTo.flatMap(_.get(if (bucketed) nbkt else flatModulus)) match {
            case Some(b) if bucketed => df.filter(col("__kbkt").isin(b: _*))
            case Some(b) => df.filter(keyBucket(col("product_id"), flatModulus).isin(b: _*))
            case None => df
          }
          (if (bucketed) pruned.drop("__kbkt") else pruned)
            .withColumn("__gen", lit(genId))
        }
        // GENERATION recency breaks crawled_at ties, making the collapse
        // total and faithful: a later batch's re-observation of a key at an
        // identical timestamp must supersede older state (the reference's
        // upsert is last-write-wins in batch order), not lose to it on an
        // arbitrary value-column comparison. Each generation holds at most
        // one row per key (every write collapses first), so (crawled_at,
        // __gen) is a TOTAL order per key — a replayed collapse is
        // deterministic even for same-timestamp cross-batch ties.
        Some(Merge.latestPerKey(frames.reduce(_ unionByName _),
          Seq("product_id"), "crawled_at", Seq(col("__gen").desc, col("price").desc))
          .drop("__gen"))
      }
    }
  }

  /** Drop companion generations no replay can need: everything strictly
    * older than the SECOND-newest full collapse below `batchId`. The newest
    * full + its trailing deltas serve every future derive; the one-older
    * full (and the deltas after it, which reconstruct the newest full's
    * state) survive for a replay of a batch whose own generation WAS the
    * newest full — it resolves strictly-earlier state, exactly the window
    * keep=2 protects in [[graft.store.Generations.vacuum]]. */
  private def cdcVacuum(spark: SparkSession, historyPath: String, batchId: Long): Unit = {
    val gens = cdcGensBelow(spark, historyPath, batchId)
    val fulls = gens.filter(_.isFull)
    if (fulls.size >= 2) {
      val floor = fulls(fulls.size - 2).id
      gens.filter(_.id < floor).foreach(g => Partitions.checked(
        Partitions.fs(spark, g.path).delete(g.path, true), s"cdcVacuum: delete(${g.path})"))
    }
  }

  /** DISASTER RECOVERY for the CDC companion: rebuild `historyPath/_latest`
    * from the event tree itself. The companion is DERIVED state — a
    * no_change row never enters any generation, so companion state's
    * per-key row is always the key's newest LOGGED event, and one
    * latest-per-key over the `batch_id < nextBatchId` event partitions
    * reconstructs it exactly (crawled_at included: the staleness horizon
    * measures the age of the last logged change on both paths). A lost or
    * corrupt `_latest` tree — the one piece of sink state that lives
    * outside the streaming checkpoint — therefore never strands the
    * stream: rebuild, then resume the sink; batch `nextBatchId` derives
    * against the rebuilt full exactly as it would have against the
    * original.
    *
    * CRASH-SAFE by staging + marker: a `_latest_REBUILDING` tombstone is
    * planted first (while it exists every companion read throws — an
    * interrupted recovery can never masquerade as a fresh stream), the
    * rebuilt state is written and COMMITTED under a staging root
    * (`_latest_rebuild/`) while the old tree — corrupt generations must
    * not survive to out-anchor the rebuilt one — is still intact, and only
    * then is the old tree deleted, the staged tree renamed in, and the
    * marker cleared. A crash anywhere leaves either the old tree untouched
    * or the marker in place; re-running this function completes recovery
    * idempotently (stale staging debris is wiped at entry). The rebuilt
    * state is a full collapse at generation `nextBatchId - 1` under the
    * CURRENT `keyBuckets` with the usual `_FULL`/`_NBKT` markers and
    * commit discipline. Cost is one read of the event log — an
    * explicitly exceptional full-log scan, the cost the sink's scale
    * contract forbids PER BATCH but accepts once for recovery. Requires
    * `nextBatchId >= 1` (before the first commit there is nothing to
    * rebuild — delete `_latest` and resume). CAVEAT: [[purgeArchive]] is
    * data destruction — a key whose every logged event was purged cannot
    * be recovered and will re-classify as a first sighting; a deployment
    * that wants full rebuildability sizes its purge horizon accordingly. */
  def cdcRebuildCompanion(spark: SparkSession, historyPath: String,
      nextBatchId: Long, keyBuckets: Int = CdcKeyBuckets): Unit = Scratch.scoped {
    require(nextBatchId >= 1, "nothing to rebuild before the first batch")
    val root = new Path(s"$historyPath/_latest")
    val fs = Partitions.fs(spark, root)
    // tombstone FIRST (overwrite-create: a re-run after a crash finds it
    // already planted and proceeds) — from here until the swap completes,
    // every companion read fails loudly instead of anchoring on a
    // half-recovered tree
    val marker = rebuildMarker(historyPath)
    fs.create(marker, true).close()
    // archived batches count: a key whose last logged event was moved
    // under _archive/ by archiveEventLog must not vanish from the rebuilt
    // state (the live tree alone under-represents exactly the stalest
    // keys). The live partitions are listed EXPLICITLY: in the documented
    // steady state sustained archival can have moved EVERY live partition
    // under _archive, and a bare read of the root (only underscore dirs
    // left — invisible to the reader) would die on schema inference with
    // the recovery marker already planted, wedging the companion.
    val liveParts = Partitions.list(spark, new Path(historyPath), "batch_id")
      .map(_._2.toString)
    val arch = new Path(s"$historyPath/_archive")
    val srcs =
      (if (liveParts.nonEmpty)
        Seq(spark.read.option("basePath", historyPath).parquet(liveParts: _*))
      else Nil) ++
        (if (fs.exists(arch)) Seq(Partitions.read(spark, arch.toString)) else Nil)
    require(srcs.nonEmpty,
      s"cdcRebuildCompanion: no event partitions under $historyPath (live or " +
        "archived) — there is nothing to rebuild the companion from")
    // batch_id rides through the collapse: on a crawled_at tie the LATER
    // batch's row wins (the incremental companion's last-write-wins order;
    // the raw log, unlike the per-generation states, can also hold several
    // same-key rows whose ties the value columns then totalize)
    val log = srcs
      .map(_.filter(col("batch_id") < nextBatchId)
        .select((CdcStateCols :+ "batch_id").map(col): _*))
      .reduce(_ unionByName _)
    val state = Merge.latestPerKey(
      log, Seq("product_id"), "crawled_at",
      col("batch_id").desc +: Seq(col("price").desc, col("sales_count").desc,
        col("original_price").desc, col("discount_percent").desc))
      .drop("batch_id")
    // stage the rebuilt generation fully — data, markers, commit — while
    // the old tree is still intact: the expensive write can crash at any
    // point without destroying state, and the swap below is two metadata
    // ops under the tombstone's protection. (The plan reads the event
    // partitions, never _latest, so no pin is needed before the delete —
    // the write has already executed.)
    val staging = new Path(s"$historyPath/_latest_rebuild")
    fs.delete(staging, true) // debris from a previous interrupted recovery
    val gen = new Path(staging, f"gen_${nextBatchId - 1}%012d")
    writeFull(state, gen, keyBuckets)
    Generations.commit(spark, gen)
    // the swap: drop the old tree, move the staged one in, clear the
    // tombstone — in that order, so a crash between any two steps leaves
    // the marker guarding the gap. The delete is checked too: on the local
    // filesystem a rename onto a surviving `_latest` copies the staged
    // tree INTO it and reports success, clearing the marker over the old
    // generations. (An absent `_latest` — the lost-tree case — has nothing
    // to delete.)
    Partitions.checked(!fs.exists(root) || fs.delete(root, true),
      s"cdcRebuildCompanion: delete($root)")
    Partitions.checked(fs.rename(staging, root), s"cdcRebuildCompanion: rename($staging -> $root)")
    fs.delete(marker, false)
  }

  /** Move a `batch_id=` partition dir under `destRoot`, resolving a
    * pre-existing destination — shared by [[archiveBatchOutputs]] and
    * [[archiveEventLog]] so the resolution rules cannot drift apart.
    *
    *  - dest absent (the normal sweep): one whole-directory rename.
    *  - dest present and src COMPLETE (`_SUCCESS` — the default committer
    *    writes it): a replayed batch rewrote a partition that was already
    *    archived (reachable for [[archiveEventLog]]: a backfill batch's old
    *    event times can expire the current partition, and a crash before
    *    the checkpoint commit replays it). The rewrite is the same logical
    *    content with NEW task-UUID file names, so a file-level merge would
    *    duplicate every row and collide on `_SUCCESS` (rename onto an
    *    existing path returns false) — the archived copy is REPLACED
    *    instead.
    *  - dest present and src INCOMPLETE: residue of an interrupted
    *    file-level merge (this branch's own crash window) —
    *    [[Partitions.mergeInto]] moves the remaining children; one that
    *    already made it across is dropped. Complete-partition replacement
    *    above never leaves this state (a whole-dir rename is atomic on
    *    HDFS-like filesystems), so the branch is a recovery path, not a
    *    steady state. */
  private def moveOrMergePartition(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, destRoot: Path, what: String): Unit = {
    val dest = new Path(destRoot, src.getName)
    if (!fs.exists(dest)) Partitions.checked(fs.rename(src, dest), s"$what: rename($src -> $dest)")
    else if (fs.exists(new Path(src, "_SUCCESS"))) {
      Partitions.checked(fs.delete(dest, true), s"$what: delete($dest)")
      Partitions.checked(fs.rename(src, dest), s"$what: rename($src -> $dest)")
    } else Partitions.mergeInto(fs, src, dest, what)
  }

  /** Continuous near-dup ingest — the streaming closure of the ingest loop
    * (dedup → append survivors → compact), one [[Dedup.ingestCycle]] per
    * micro-batch against a persisted MinHash index. Per-document verdicts
    * land under `verdictsPath/batch_id=N/`; the compaction maintenance
    * pass runs whenever the cycle's ledger reports more than `compactAt`
    * part files in either index relation, so sustained ingest never
    * degrades the index scan (the small-files failure `Compact`
    * documents).
    *
    * Delivery: `foreachBatch` is at-least-once — a batch that fails after
    * its survivor append but before the checkpoint commit is re-run. Two
    * guards make the re-run CONVERGE instead of corrupting state:
    * (1) the batch is anti-joined against ids already in the index, so a
    * survivor whose append landed is never appended twice (and never
    * violates [[Dedup.dedupAgainstIndex]]'s disjoint-ids contract, which a
    * self-match would — the replayed id would sit on BOTH sides of the
    * verify join's shingle union and distort every jaccard it touches);
    * (2) already-known ids get their by-construction verdict back
    * (`is_dup = false` — only non-dups are ever appended, and a non-dup
    * verdict carries null `dup_of`/`jaccard`), and the whole batch
    * OVERWRITES its own `batch_id=N` partition. Convergence guarantee:
    * same ids and `is_dup` flags as the original run. `dup_of`/`jaccard`
    * of a replayed DUP row may re-resolve — the index now contains the
    * batch's own survivors, so a dup can best-match a same-batch survivor
    * it could not see the first time (still a true near-dup at ≥
    * threshold, just a different witness). Cost of the guard: one narrow
    * scan of the id manifest per batch. */
  def ingestSink(docs: DataFrame, indexPath: String, verdictsPath: String,
      checkpointPath: String, idCol: String, textCol: String, threshold: Double,
      compactAt: Int = 64, shingleN: Int = 3, numHashes: Int = 12,
      bands: Int = 4): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Scratch.scoped {
          // the source is re-read per downstream action otherwise (the
          // guard uses the batch twice, ingestCycle twice more)
          val b = batch.scratchCheckpoint()
          // the compact id manifest, maintained at append time — never the
          // corpus-sized bands relation (the pre-r7 per-batch distinct scan)
          val known = Dedup.minhashIndexIds(spark, indexPath)
            .select(col("id").as(idCol))
          val fresh = b.join(known, Seq(idCol), "left_anti")
          // pinned BEFORE the cycle's append, like the ANN twin's guard
          // join: correctness of the lazy form rested on `known`'s file
          // listing being snapshotted at read time — one refactor away from
          // the semi-join seeing the batch's own just-appended ids and
          // re-emitting every survivor as a replayed row. Replays are rare,
          // so the pinned frame is usually empty and the materialization
          // costs one tiny job.
          val replayed = b.join(known, Seq(idCol), "left_semi")
            .select(col(idCol).as("id"), lit(false).as("is_dup"),
              lit(null).cast(b.schema(idCol).dataType).as("dup_of"),
              lit(null).cast("double").as("jaccard"))
            .scratchCheckpoint()
          val (verdicts, stats) = Dedup.ingestCycle(
            fresh, indexPath, idCol, textCol, threshold, shingleN, numHashes, bands)
          verdicts.unionByName(replayed)
            .write.mode("overwrite").parquet(s"$verdictsPath/batch_id=$batchId")
          val compacted = math.max(stats.bandsFiles, stats.shinglesFiles) > compactAt
          if (compacted) Dedup.compactMinhashIndex(spark, indexPath)
          // the §2.8 stats contract, streaming edition: one persisted
          // ledger row per micro-batch beside the verdicts (underscore
          // prefix keeps it invisible to verdict readers); a replayed
          // batch overwrites its own row, like its verdict partition
          import spark.implicits._
          Seq((stats.batchRows, stats.candidatePairs, stats.dups,
              stats.appendedRows, stats.bandsFiles, stats.shinglesFiles, compacted))
            .toDF("rows", "candidate_pairs", "dups", "appended",
              "bands_files", "shingles_files", "compacted")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$verdictsPath/_ledger/batch_id=$batchId")
        }
        ()
      }
      .start()

  /** The persisted per-batch ingest ledger a [[ingestSink]] run maintains
    * beside its verdicts: (batch_id, rows, candidate_pairs, dups, appended,
    * bands_files, shingles_files, compacted) — the operational record the
    * batch path's [[graft.operators.Dedup.IngestStats]] return value gives
    * callers directly, which a fire-and-forget streaming query cannot. */
  def ingestLedger(spark: SparkSession, verdictsPath: String): DataFrame =
    Partitions.read(spark, s"$verdictsPath/_ledger")

  /** Continuous corpus curation — the streaming closure of
    * [[graft.pipeline.Curation.curate]], against a PERSISTED cross-stream
    * MinHash index instead of a within-corpus pass. Per micro-batch:
    * language/quality gates (the batch pipeline's own
    * [[graft.pipeline.Curation.gateAndDedup]] stages — shared code, so the
    * paths cannot drift), exact dedup
    * WITHIN the batch (min-id wins), near-dup removal within the batch
    * (drop the larger id of each verified pair), then the full
    * [[graft.operators.Dedup.ingestCycle]] against the index — batch docs
    * near-dupping anything EVER kept are dropped, survivors join the
    * index so later batches dedup against them. Kept documents land under
    * `outPath/batch_id=N`; a per-reason drop ledger row (the §2.8 stats
    * contract, [[Curation.curate]]'s ledger shape plus a `replayed`
    * column) lands under `outPath/_ledger/batch_id=N`.
    *
    * Replay convergence (at-least-once `foreachBatch`): ids already in
    * the index manifest are split off FIRST — they were appended, which
    * means they were kept, so a replayed batch re-emits exactly them into
    * its kept partition (full rows, from the batch) and runs the pipeline
    * only on the remainder (empty on a pure replay). Gate and
    * exact-dedup decisions are deterministic, so a partial replay
    * re-drops identically; the near-dup convergence guarantee is
    * [[ingestSink]]'s (same flags, possibly different witnesses). The
    * replayed batch's ledger row records the replay (`replayed` = n,
    * pipeline counts near zero) — like every `_ledger` tree, the row is
    * the record of the LAST run of that batch.
    *
    * ID-UNIQUENESS CONTRACT (same as [[ingestSink]] and
    * [[graft.operators.Dedup.dedupAgainstIndex]]): document ids are
    * globally unique across the stream AND the index's seed corpus. The
    * replay guard reads the index manifest, which contains seed-corpus ids
    * too — a NEW document colliding with a seed id would be misread as a
    * previously-kept replay and re-emitted past every gate. Collisions
    * with previously-streamed ids are the intended replay path; collisions
    * with seed ids are a caller bug this sink cannot distinguish from it. */
  def curationSink(docs: DataFrame, indexPath: String, outPath: String,
      checkpointPath: String, idCol: String, textCol: String,
      allowedLangs: Seq[String] = Seq("en", "de", "es", "fr", "vi"),
      minQuality: Double = 0.5, nearDupThreshold: Double = 0.7,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      compactAt: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationProcessBatch(batch, indexPath, outPath, batchId, idCol, textCol,
          allowedLangs, minQuality, nearDupThreshold, shingleN, numHashes, bands,
          compactAt)
        ()
      }
      .start()

  /** One [[curationSink]] micro-batch, factored out so replays are
    * directly testable (the [[cdcProcessBatch]] pattern). */
  private[graft] def curationProcessBatch(batch: DataFrame, indexPath: String,
      outPath: String, batchId: Long, idCol: String, textCol: String,
      allowedLangs: Seq[String], minQuality: Double, nearDupThreshold: Double,
      shingleN: Int, numHashes: Int, bands: Int, compactAt: Int): Unit = {
    val spark = batch.sparkSession
    graft.Phase(spark, "cur.batch")(Scratch.scoped {
      val b = graft.Phase(spark, "cur.batchCkpt")(batch.scratchCheckpoint())
      val total = b.count()
      // replay guard: ids in the manifest were appended = kept — re-emit
      // them, pipeline the rest (same manifest-not-bands read as ingestSink)
      val known = Dedup.minhashIndexIds(spark, indexPath).select(col("id").as(idCol))
      val fresh = b.join(known, Seq(idCol), "left_anti")
      // pinned BEFORE the cycle's append (ingestSink's replay-guard rule):
      // evaluated lazily after it, one refactor of the manifest read away
      // from seeing the batch's own appended ids. Usually empty — replays
      // are rare — so the pin costs one tiny job.
      val replayedKept = graft.Phase(spark, "cur.replayPin")(
        b.join(known, Seq(idCol), "left_semi").scratchCheckpoint())
      // gates + exact dedup + within-batch near-dup: the SAME stage helper
      // the batch pipeline runs (graft.pipeline.Curation.gateAndDedup) —
      // shared code, not a "same pure expressions" promise kept by
      // copy-paste; a gate or drop-rule change lands on both paths at once
      val (internalKept, c, sketches) = graft.Phase(spark, "cur.gateAndDedup")(
        graft.pipeline.Curation.gateAndDedup(fresh, idCol,
          textCol, allowedLangs, minQuality, nearDupThreshold, shingleN, numHashes, bands))
      // cross-stream near-dup + survivor append, one ingest cycle — fed
      // the within-batch dedup's staged sketch relations so the cycle
      // never re-tokenizes or re-sketches the batch it was just handed
      val (verdicts, stats) = graft.Phase(spark, "cur.ingestCycle")(
        Dedup.ingestCycle(internalKept, indexPath,
          idCol, textCol, nearDupThreshold, shingleN, numHashes, bands,
          sketches = Some(sketches)))
      val kept = internalKept.join(
        verdicts.filter(!col("is_dup")).select(col("id").as(idCol)), Seq(idCol), "left_semi")
      graft.Phase(spark, "cur.keptWrite")(kept.unionByName(replayedKept)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId"))
      val compacted = math.max(stats.bandsFiles, stats.shinglesFiles) > compactAt
      if (compacted) Dedup.compactMinhashIndex(spark, indexPath)
      import spark.implicits._
      Seq((total, total - c.input, c.input - c.gated, c.gated - c.afterExact,
          c.afterExact - c.afterNearDup, stats.dups, stats.appendedRows, compacted))
        .toDF("input", "replayed", "dropped_lang_or_quality", "dropped_exact_dup",
          "dropped_near_dup_batch", "dropped_near_dup_corpus", "kept", "compacted")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outPath/_ledger/batch_id=$batchId")
    })
  }

  /** Operational progress ledger for ANY streaming query — the §2.8 stats
    * contract for queries that do not own a `foreachBatch` ledger
    * (statefulCdc, the windowed/session aggregations): a
    * `StreamingQueryListener` that persists each completed micro-batch's
    * full `StreamingQueryProgress` (input rows, per-stage durations, state
    * operator rows/memory, watermark) as one JSON file under
    * `path/<runId>/batch_<id>.json`. The Spark-native twin of the
    * reference's per-cycle elapsed/rate logging
    * (crawl_products.py:1111-1120, incremental_crawler.py:138-148) — a
    * queryable table instead of stdout lines.
    *
    * The write goes directly through the FileSystem — NO Spark job runs on
    * the listener-bus thread, so a slow ledger write can never back-pressure
    * the bus or deadlock a stopping query. One tiny file per micro-batch is
    * the same bounded-growth pattern as the `_ledger/batch_id=N` trees;
    * retention here is per RUN — each run's files live under its own
    * `<runId>/` directory, so expiring old runs is one directory delete,
    * no per-file sweep. Overwrites
    * are idempotent: a re-fired progress event for the same (runId, batch)
    * rewrites the same file. Detach with [[detachProgressLedger]]; the
    * listener is session-global, so progress of EVERY active query in the
    * session lands in the ledger while attached (rows carry query
    * id/runId/name for filtering).
    *
    * `onProgress` fires AFTER the ledger file for that batch is durably
    * written — the synchronization hook for callers that must wait for a
    * known number of batches to land (the bus is asynchronous): count /
    * signal in the callback instead of sleep-polling the ledger directory.
    * Keep it cheap and non-blocking — it runs on the listener-bus thread,
    * under the same no-Spark-job discipline as the write itself. */
  def attachProgressLedger(spark: SparkSession, path: String,
      onProgress: org.apache.spark.sql.streaming.StreamingQueryProgress => Unit = _ => ()):
      org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dir = new Path(path, p.runId.toString)
        val fs = dir.getFileSystem(hadoopConf)
        fs.mkdirs(dir)
        val out = fs.create(new Path(dir, f"batch_${p.batchId}%012d.json"), true)
        try out.write(p.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        onProgress(p)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    listener
  }

  /** Unregister a [[attachProgressLedger]] listener (already-written ledger
    * files stay). */
  def detachProgressLedger(spark: SparkSession,
      listener: org.apache.spark.sql.streaming.StreamingQueryListener): Unit =
    spark.streams.removeListener(listener)

  /** Read a progress ledger back as a DataFrame — one row per completed
    * micro-batch, schema inferred from the persisted
    * `StreamingQueryProgress` JSON (id/runId/name, batchId, timestamp,
    * numInputRows, durationMs.*, stateOperators, sources, sink). The
    * ledger is metadata-sized (one small file per micro-batch), so the
    * inference scan is not a data-scale concern. */
  def readProgressLedger(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").json(path)

  /** Continuous ANN ingest — [[ingestSink]]'s IVF twin: per micro-batch,
    * assign new vectors to the persisted layout's existing centroids and
    * append into its `list`-partitioned tree ([[graft.operators.Ann.appendToIvf]],
    * schema-validated, cost ∝ batch × nlist), then run the per-list
    * compaction pass whenever any list's data-file count crosses
    * `compactAt` (the [[graft.operators.Ann.ivfFileCounts]] ledger
    * signal). Probes see appended vectors immediately through the same
    * partition-pruned scan; centroid drift is the offline rebuild's job,
    * as documented on `appendToIvf`.
    *
    * Replay guard (at-least-once `foreachBatch`): ids already in the
    * layout's manifest are dropped before the append, so a redelivered
    * batch appends nothing. Unlike the MinHash sink there is no verdict
    * output to reconcile; convergence is just "no duplicate vectors".
    * Each batch writes its ledger row (rows, appended, max per-list file
    * count, compacted?) under `indexPath/_ledger/batch_id=N` —
    * [[annIngestLedger]] reads them; a replayed batch overwrites its own
    * row. */
  def annIngestSink(vectors: DataFrame, indexPath: String, checkpointPath: String,
      idCol: String, vecCol: String, compactAt: Int = 64): StreamingQuery = {
    import graft.operators.Ann
    vectors.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Scratch.scoped {
          // materialized once: the batch feeds the guard join and the append
          val b = batch.scratchCheckpoint()
          // id manifest, not a distinct over the whole assigned tree
          val known = Ann.ivfIds(spark, indexPath).select(col("id").as(idCol))
          // ONE ledger job, not two count()s: a left join against the
          // manifest counts total and fresh rows in the same pass (the
          // MinHash twin gets its counts free from IngestStats; this is
          // the IVF sink's equivalent)
          val agg = b.join(known.withColumn("__known", lit(1)), Seq(idCol), "left")
            .agg(count(lit(1)).as("rows"),
              count(when(col("__known").isNull, 1)).as("appended")).head
          val (rows, appended) = (agg.getLong(0), agg.getLong(1))
          // materialized BEFORE the append: appendToIvf writes the batch's
          // ids into the manifest first, and a lazily re-evaluated anti-join
          // against a refreshed manifest listing would then see the batch's
          // own ids and append zero vectors — the guard join must be
          // evaluated exactly once, against the pre-append manifest
          val fresh = b.join(known.drop("__known"), Seq(idCol), "left_anti")
            .scratchCheckpoint()
          Ann.appendToIvf(fresh, indexPath, idCol, vecCol)
          val counts = Ann.ivfFileCounts(spark, indexPath)
          val maxFiles = if (counts.isEmpty) 0 else counts.values.max
          val compacted = maxFiles > compactAt
          // the READER-ATOMIC compaction, not the in-place per-list pass:
          // this sink advertises "probes see appended vectors immediately",
          // i.e. concurrent probes are the normal case, and compactIvf's
          // per-dir swap is documented non-atomic for a concurrent reader
          // (a probe could list mid-swap and hit deleted part files). The
          // MinHash twin already compacts generationally; this matches it.
          if (compacted) Ann.compactIvfOnline(spark, indexPath)
          import spark.implicits._
          Seq((rows, appended, maxFiles, compacted))
            .toDF("rows", "appended", "max_list_files", "compacted")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$indexPath/_ledger/batch_id=$batchId")
        }
        ()
      }
      .start()
  }

  /** The persisted per-batch ledger an [[annIngestSink]] run maintains
    * under its index root — the IVF twin of [[ingestLedger]]. */
  def annIngestLedger(spark: SparkSession, indexPath: String): DataFrame =
    Partitions.read(spark, s"$indexPath/_ledger")

  /** Archive all but the newest `keepLatest` `batch_id=` partitions of a
    * per-batch output tree ([[ingestSink]] verdicts, [[annIngestSink]]
    * ledgers — trees whose rows carry no timestamp, so [[archiveEventLog]]'s
    * ts-range predicate cannot apply; batch ids are the stream's own
    * monotone clock). Same move discipline: whole-directory renames under
    * `<path>/_archive/`, no data read or copied, idempotent re-runs,
    * underscore prefix invisible to live readers. `keepLatest ≥ 1` keeps
    * the newest batches hot for operational queries; a replayed batch can
    * only be the CURRENT one, which is always retained. Returns the number
    * of partitions moved. */
  def archiveBatchOutputs(spark: SparkSession, path: String, keepLatest: Int): Long = {
    require(keepLatest >= 1, "keepLatest must be >= 1")
    val root = new Path(path)
    val expired = Partitions.list(spark, root, "batch_id")
      .sortBy(_._1.toLong).map(_._2).dropRight(keepLatest)
    if (expired.isEmpty) return 0L
    val fs = Partitions.fs(spark, root)
    val destRoot = new Path(root, "_archive")
    Partitions.checked(fs.mkdirs(destRoot), s"archiveBatchOutputs: mkdirs($destRoot)")
    expired.foreach(moveOrMergePartition(fs, _, destRoot, "archiveBatchOutputs"))
    expired.size.toLong
  }

  /** S9 archival for the STREAMING event tree — the lifecycle step that
    * keeps a long-running [[cdcSink]]'s `batch_id=` partitions from
    * accumulating forever (the batch path has [[graft.store.Store.archiveHistory]];
    * this is its ts-range twin over batch partitions, ref
    * postgres_storage.py:1825-1848). A partition is expired when its
    * NEWEST `tsCol` value is strictly below `cutoff` — every row older than
    * the horizon — and expired partitions are MOVED whole under
    * `historyPath/_archive/` with checked FileSystem renames: no data is
    * read, rewritten, or copied, and the underscore prefix keeps archived
    * partitions invisible to readers of the event tree (and to the
    * companion's generation machinery, which lives under `_latest/`).
    *
    * Cost: one directory listing, a scan of the LIVE partitions' `tsCol`
    * column for the per-partition max (parquet min/max page stats make
    * this column-pruned and cheap; sustained archival keeps the live tree
    * bounded, so the scan does not grow with stream age), one rename per
    * expired partition, and — for the return value — one parquet FOOTER
    * read per expired file (driver-side metadata, no Spark job, no data
    * pages). Re-runs are idempotent: an already-archived partition name is
    * resolved by [[moveOrMergePartition]] (a COMPLETE re-appearance — a
    * replayed batch whose partition this sweep had already expired —
    * REPLACES the archived copy; an interrupted sweep's residue merges).
    * Run from the stream owner between batches — maintenance under the
    * sink's single-writer discipline, like history compaction. */
  def archiveEventLog(spark: SparkSession, historyPath: String, cutoff: String,
      tsCol: String = "crawled_at"): Long = {
    val root = new Path(historyPath)
    val parts = Partitions.list(spark, root, "batch_id")
    if (parts.isEmpty) return 0L
    // per-partition max(ts): batch_id comes from the dir name via basePath
    val live = spark.read.option("basePath", historyPath)
      .parquet(parts.map(_._2.toString): _*)
    val expired = live.groupBy("batch_id")
      .agg(max(col(tsCol)).as("__max_ts"))
      .filter(col("__max_ts") < lit(cutoff).cast("timestamp"))
      .select(col("batch_id").cast("long")).collect().map(_.getLong(0)).toSet
    if (expired.isEmpty) return 0L
    val expiredDirs = parts.collect { case (id, p) if expired.contains(id.toLong) => p }
    // row count from parquet FOOTERS, not a scan: the return value must not
    // cost O(archived bytes) — a horizon sweep over months of partitions
    // would otherwise re-read everything it is about to rename away. One
    // driver-side footer open per expired file (bounded by the sweep's own
    // file count), no Spark job, no data pages touched.
    val n = graft.store.Compact.footerRowCount(spark, expiredDirs)
    val fs = Partitions.fs(spark, root)
    val destRoot = new Path(root, "_archive")
    Partitions.checked(fs.mkdirs(destRoot), s"archiveEventLog: mkdirs($destRoot)")
    expiredDirs.foreach(moveOrMergePartition(fs, _, destRoot, "archiveEventLog"))
    n
  }

  /** Compact a streaming `_archive/` tree's `batch_id=` partitions — the
    * retention tier [[archiveEventLog]] and [[archiveBatchOutputs]] move
    * expired partitions into. The moves are pure renames, so the archive
    * inherits every part file the live tree ever wrote: a batch partition
    * carries up to one file per write task (32 on the test rig, hundreds
    * on a cluster) plus whatever re-archival merges added — this pass
    * rewrites each oversized partition down to
    * ~[[graft.store.Compact.DefaultMaxFileBytes]] files, partition-local
    * (cost ∝ data in partitions over the threshold, each rewritten
    * independently; already-compact partitions are listed and skipped).
    * What it deliberately does NOT change: the partition COUNT — one dir
    * per archived batch is the layout readers address, and directory
    * growth is bounded by batch cadence, not data size (a year of
    * minute-level batches ≈ 500k dirs — a listing problem long after the
    * per-partition file explosion would have been one). Single-writer
    * discipline: run it from the archival owner — the archive has no
    * hot-path readers. Returns the number of partitions rewritten. */
  def compactArchive(spark: SparkSession, path: String): Int =
    graft.store.Compact.partitionedDir(spark, s"$path/_archive", "batch_id")

  /** Final retention tier: DELETE archived `batch_id=` partitions with id
    * strictly below `belowBatchId`. [[archiveEventLog]] /
    * [[archiveBatchOutputs]] move expired partitions out of the live tree
    * and [[compactArchive]] bounds their file counts, but nothing ever
    * frees the bytes — at 100 TB the archive eventually needs an expiry, as
    * the reference's own archive table would (its cleanup also deletes by
    * age, postgres_storage.py:1825-1848). Batch ids are the stream's
    * monotone clock (the same argument [[archiveBatchOutputs]] makes for
    * trees without a row timestamp): a caller with a time-based policy maps
    * its horizon to a batch-id floor from the trigger cadence, and every
    * row in an archived event partition is already below the ts cutoff that
    * expired it. Returns the number of rows deleted, counted from parquet
    * FOOTERS (driver-side metadata, no Spark job — the [[archiveEventLog]]
    * discipline); deletes are checked and idempotent (a re-run finds
    * nothing below the floor). This is data DESTRUCTION — the caller owns
    * the retention policy; nothing in the engine calls it implicitly. */
  def purgeArchive(spark: SparkSession, path: String, belowBatchId: Long): Long = {
    val root = new Path(s"$path/_archive")
    val expired = Partitions.list(spark, root, "batch_id")
      .collect { case (id, p) if id.toLong < belowBatchId => p }
    if (expired.isEmpty) return 0L
    val n = graft.store.Compact.footerRowCount(spark, expired)
    val fs = Partitions.fs(spark, root)
    expired.foreach(p => Partitions.checked(fs.delete(p, true), s"purgeArchive: delete($p)"))
    n
  }

  /** Shuffle-partition count for a KEYED STATEFUL streaming query, derived
    * from the stream's estimated live key count instead of hard-coded (the
    * r18 literal `8` was tuned to one catalog). The partition count is
    * pinned into the checkpoint at first start, and every restart re-opens
    * one state store per partition, so the rule sizes partitions to the
    * state they will hold:
    *
    *  - [[StateKeysPerPartition]] keys per partition (~tens of MB of
    *    per-key (double, long) state — big enough that a store's open/
    *    commit fixed cost amortizes, small enough that one store never
    *    concentrates a catalog);
    *  - floor 1 (a tiny catalog pays one store open per restart, not 8);
    *  - cap `maxPartitions` (default 4096 — past that, re-shard the stream
    *    itself; a 10⁹-key catalog lands at ~500 under the default target).
    *
    * `estimatedKeys` is an ESTIMATE (approx_count_distinct over the key
    * column, a catalog figure the operator owns, ...) — partitioning only
    * moves physical placement, never results, so a wrong estimate costs
    * performance, not correctness (the oracle gates q75/q81/q84 across the
    * sizes this rule produces). Size it to the LIVE catalog where a TTL
    * bounds state, the all-time catalog otherwise. */
  def stateShufflePartitions(estimatedKeys: Long, maxPartitions: Int = 4096): Int =
    math.max(1L, math.min(maxPartitions.toLong,
      (estimatedKeys + StateKeysPerPartition - 1) / StateKeysPerPartition)).toInt

  /** Target keys per state-store partition — see [[stateShufflePartitions]]. */
  val StateKeysPerPartition = 2000000L

  /** Switch stateful streaming to the RocksDB state store with changelog
    * checkpointing — the large-state configuration. The default
    * HDFS-backed provider keeps every key's state AS JVM OBJECTS on the
    * executor heap and uploads a full snapshot per batch: fine for
    * window/session aggregates bounded by a watermark horizon, a scale
    * ceiling for [[statefulCdc]]-style per-entity state, where the state is
    * bounded by CATALOG size (one entry per product/document) and a 100 TB
    * corpus's catalog does not fit a heap. RocksDB keeps state off-heap
    * with disk spill, and changelog checkpointing uploads per-batch DELTAS
    * instead of full snapshots — commit cost ∝ batch, not state size.
    *
    * Session-level because Spark resolves the provider from the session
    * conf when a query STARTS; queries already running are unaffected, and
    * a restarted query keeps the provider recorded in its checkpoint
    * (offsets/metadata), so flip this BEFORE the first start of a given
    * checkpoint. Output is provider-independent — StreamsSpec asserts
    * statefulCdc emits identical events under both providers. */
  def useRocksDbState(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  /** Revert [[useRocksDbState]] to the default heap-backed provider (for
    * sessions that interleave small-state and large-state queries). */
  def useDefaultState(spark: SparkSession): Unit = {
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
  }

  // --- custom state: flatMapGroupsWithState CDC -----------------------------

  /** One observation of a product (the post-transform streaming shape). */
  case class ProductObs(product_id: String, price: Double, sales_count: Long,
      crawled_at: java.sql.Timestamp)

  /** Per-key state: the last seen values. */
  case class PriceState(price: Double, sales: Long)

  /** A typed change event (X15 classification, streaming-native). */
  case class ChangeEvent(product_id: String, crawl_type: String,
      price: Double, previous_price: Option[Double], price_change: Option[Double],
      sales_change: Option[Long], crawled_at: java.sql.Timestamp)

  /** CDC with CUSTOM STATE: previous values live in the state store keyed by
    * product, so classification needs no storage read per batch (unlike
    * [[cdcSink]], whose foreachBatch re-reads the history snapshot). This is
    * the `flatMapGroupsWithState` form of the reference's change logger
    * (postgres_storage.py:1250-1478): a first sighting classifies as
    * price_change — the reference's "first crawl counts as change"
    * (postgres_storage.py:1322), the same rule [[graft.operators.History]]'s
    * batch form and `ColumnOps.crawlType` apply, so the streaming and batch
    * CDC surfaces agree — then price_change / sales_change; unchanged
    * observations emit nothing. A first sighting is distinguishable in the
    * output by its null `previous_price`.
    *
    * Scale: state is one (double, long) pair per product — bounded by
    * catalog size, not stream length; per-batch work is a hash shuffle on
    * the key, identical to any streaming agg.
    *
    * `ttl`: optional staleness horizon (e.g. `Some("30 days")`). Without
    * it, per-key state is catalog-bounded but NEVER evicted — delisted /
    * dead keys accumulate in the state store forever, the last
    * unbounded-growth path in a long-running deployment. With a TTL the
    * query runs under `ProcessingTimeTimeout`: a key whose horizon elapses
    * with no observation is REMOVED from the store (no event emitted —
    * expiry is an eviction, not a change), and its next observation
    * re-classifies as a first sighting, exactly like a key never seen.
    * This is the streaming twin of the reference's recency/staleness
    * cleanup policy (tasks/detail.py:196-216 skips products crawled
    * recently and ages the rest out; archive cycle
    * postgres_storage.py:1825-1848): state is bounded by the LIVE catalog
    * — keys observed within the horizon — not the all-time catalog.
    *
    * Operational note: under ProcessingTimeTimeout the state operator
    * reports it may need another batch at EVERY trigger (any trigger is a
    * potential timeout sweep), so a TTL'd query on the default
    * run-as-fast-as-possible trigger churns empty sweep batches
    * back-to-back, and `processAllAvailable()` never returns (the
    * no-new-data signal it waits for is never raised). Start TTL'd
    * queries through [[startTtlQuery]] (pins the required
    * `Trigger.ProcessingTime` interval) and wait with [[drainTtlQuery]]
    * (progress-based drain) — the pair wires this caveat as a contract so
    * callers cannot hit the hang; StreamsSpec's TTL case uses them. */
  def statefulCdc(obs: Dataset[ProductObs], ttl: Option[String] = None): Dataset[ChangeEvent] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.product_id)
      .flatMapGroupsWithState[PriceState, ChangeEvent](
        OutputMode.Append, timeoutConf(ttl))(cdcClassify(ttl))
  }

  /** ProcessingTimeTimeout iff a TTL is set: flatMapGroupsWithState pins
    * the timeout mode at query start, and setTimeoutDuration throws under
    * NoTimeout — the two must always travel together. */
  private def timeoutConf(ttl: Option[String]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Start a processing-time-TTL'd stateful query with the trigger
    * ceremony its timeout semantics REQUIRE — the operational helper that
    * closes [[statefulCdc]]'s sharp edge as a contract instead of a
    * scaladoc caveat. Under `ProcessingTimeTimeout` the state operator
    * reports it may need another batch at EVERY trigger (any trigger is a
    * potential timeout sweep), so on the default run-as-fast-as-possible
    * trigger the query churns empty sweep batches back-to-back and
    * `processAllAvailable()` hangs forever (the no-new-data signal it
    * waits for is never raised). This wrapper pins
    * `Trigger.ProcessingTime(sweepInterval)` — sweeps then cost one
    * checkpoint commit per interval — and callers wait with
    * [[drainTtlQuery]] instead of `processAllAvailable`. Size
    * `sweepInterval` to the horizon: eviction latency is at most one
    * interval past the TTL, so a fraction of the TTL (e.g. a "30 days"
    * horizon swept hourly) keeps eviction timely at negligible commit
    * cost. */
  def startTtlQuery[T](writer: org.apache.spark.sql.streaming.DataStreamWriter[T],
      sweepInterval: String): StreamingQuery =
    writer.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(sweepInterval))
      .start()

  /** Progress-based drain for TTL'd queries — the `processAllAvailable`
    * replacement that cannot hang: waits (listener-latched, no
    * sleep-polling) until the query completes a micro-batch that read ZERO
    * rows AND was TRIGGERED at or after this call. The trigger-time
    * condition matters: under a TTL, empty sweep batches churn
    * continuously, so an in-flight sweep that STARTED before the caller's
    * data was added can complete just after the call — a later batch-ID
    * alone would accept it and return with the data unprocessed (the spec
    * caught exactly that race). A batch triggered after the call reads the
    * source after every row added before the call, and batches are
    * sequential — so one such EMPTY batch proves everything available at
    * call time has been processed through the sink, which is all
    * `processAllAvailable` guarantees (no claim about sweep quiescence;
    * under a TTL there is none). Throws
    * [[java.util.concurrent.TimeoutException]] after `timeoutMs` (loud,
    * never a silent short wait) and [[IllegalStateException]] if the query
    * terminates first. */
  def drainTtlQuery(q: StreamingQuery, timeoutMs: Long = 60000L): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val spark = q.sparkSession
    val callMs = System.currentTimeMillis()
    def triggeredMs(ts: String): Long =
      try java.time.Instant.parse(ts).toEpochMilli catch { case _: Throwable => Long.MinValue }
    // STRICT >: progress timestamps are millisecond-truncated, so a sweep
    // triggered in the SAME millisecond as this call could have fired
    // before the caller's last addData completed — only a batch triggered
    // in a LATER millisecond provably read the source after the call
    def drained: Boolean =
      q.recentProgress.exists(p => triggeredMs(p.timestamp) > callMs && p.numInputRows == 0)
    val gate = new Object
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id) gate.synchronized { gate.notifyAll() }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        gate.synchronized { gate.notifyAll() }
    }
    spark.streams.addListener(listener)
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      gate.synchronized {
        // the re-check on each wakeup (bounded 1s) also covers progress
        // events that landed between the entry snapshot and addListener
        while (!drained && q.isActive && System.currentTimeMillis() < deadline)
          gate.wait(math.max(1, math.min(1000, deadline - System.currentTimeMillis())))
      }
      if (!drained && !q.isActive) throw new IllegalStateException(
        s"drainTtlQuery: query ${q.id} terminated before draining")
      if (!drained) throw new java.util.concurrent.TimeoutException(
        s"drainTtlQuery: query ${q.id} completed no post-call empty batch within ${timeoutMs}ms")
    } finally spark.streams.removeListener(listener)
  }

  /** [[statefulCdc]] BOOTSTRAPPED from a batch snapshot — the migration
    * path from the batch store's latest-per-key companion
    * ([[graft.store.Store.latest]]) into streaming CDC. Keys present in
    * `snapshot` (cols: product_id, price, sales_count) classify their
    * first streamed observation AGAINST the snapshot values instead of as
    * a first sighting, so switching a running catalog from batch to
    * streaming CDC does not emit a change event per catalog entry on the
    * first micro-batch (at a 10⁹-key catalog, a reclassification storm).
    *
    * Scale: the initial state is a distributed Dataset, hash-shuffled by
    * key ONCE when the query starts (Spark's native initial-state support)
    * — never collected, never broadcast. Use only on a FRESH checkpoint:
    * Spark applies initial state at first start; a restart restores from
    * the state store and ignores it.
    *
    * `ttl` as on [[statefulCdc]]; snapshot-seeded keys get their horizon
    * armed on the first batch (Spark invokes the function for every
    * initial-state key), so a bootstrapped catalog's dead keys age out on
    * the same clock as streamed ones.
    *
    * Deliberately NOT offered: bootstrap + EVENT-time TTL. The snapshot
    * carries no timestamps, so seeded keys could only be armed on their
    * first observation — and a dead key is never observed, which would
    * keep every dead bootstrapped key in the store forever, defeating the
    * TTL where it matters most. The operational path instead composes two
    * existing operators: run the batch staleness pass
    * ([[graft.operators.History.deriveEvents]] `staleHorizon`, or simply
    * filter the snapshot on its own recency column) to drop dead keys
    * BEFORE bootstrapping, then stream with [[statefulCdcEventTime]] for
    * keys that live on. */
  def statefulCdcFrom(obs: Dataset[ProductObs], snapshot: DataFrame,
      ttl: Option[String] = None): Dataset[ChangeEvent] = {
    import obs.sparkSession.implicits._
    val init = snapshot
      .select(col("product_id").cast("string").as("_1"),
        struct(col("price").cast("double").as("price"),
          col("sales_count").cast("long").as("sales")).as("_2"))
      .as[(String, PriceState)]
      .groupByKey(_._1).mapValues(_._2)
    obs.groupByKey(_.product_id)
      .flatMapGroupsWithState[PriceState, ChangeEvent](
        OutputMode.Append, timeoutConf(ttl), init)(cdcClassify(ttl))
  }

  /** [[statefulCdc]] with an EVENT-TIME staleness horizon — the
    * deterministic twin of the processing-time `ttl`. The query runs under
    * `EventTimeTimeout` with a watermark on `crawled_at`: a key is evicted
    * when the WATERMARK (max observed event time across the stream, minus
    * `watermarkDelay`) passes its last observation + `ttlMs`, and its next
    * observation re-classifies as a first sighting. Because eviction is
    * driven by the data's own clock, a replay or backfill of the same
    * batches reproduces identical events — which is what makes this form
    * ORACLE-GATEABLE (q81 models the watermark recursion relationally)
    * where the processing-time form can only be spec-driven with real
    * timeouts. Same per-key rule as the batch
    * `History.deriveEvents(staleHorizon=...)`, decided on the stream.
    *
    * Timeout semantics to know (all modeled by the q81 oracle): a timeout
    * fires only for keys with NO data in the firing batch (data takes
    * precedence and re-arms); after every batch that advances the
    * watermark Spark runs one NO-DATA sweep batch applying the new
    * watermark's timeouts (`processAllAvailable` drains it, so the sweep
    * deterministically lands between data batches); and the eviction
    * comparison is STRICT (`timeout < watermark`). Net effect: two
    * consecutive observations of a key evict between them iff they land in
    * different micro-batches and the max event time through the earlier
    * batches exceeds the previous observation + ttl; same-batch neighbors
    * never evict.
    *
    * Operationally this form needs none of the processing-time TTL's
    * trigger ceremony: timeouts fire on watermark advancement (data
    * arrival), so `processAllAvailable()` works as usual.
    *
    * Scale: identical to [[statefulCdc]] — one (double, long) per key,
    * state bounded by the catalog observed within the horizon; the
    * watermark is a tiny per-partition max, not a shuffle. */
  def statefulCdcEventTime(obs: Dataset[ProductObs], ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[ChangeEvent] = {
    import obs.sparkSession.implicits._
    obs.withWatermark("crawled_at", watermarkDelay)
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[PriceState, ChangeEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        cdcClassifyWith { (state, last) =>
          // re-arm on the observation's own clock; the max() guard keeps
          // the timestamp legal (Spark rejects timeouts at or below the
          // current watermark — unreachable for ts-ordered batches with a
          // positive ttl, but a very late row must not kill the query)
          last.foreach(o => state.setTimeoutTimestamp(
            math.max(o.crawled_at.getTime + ttlMs, state.getCurrentWatermarkMs + 1)))
        })
  }

  /** The per-key classification all stateful CDC forms share;
    * processing-time and event-time TTLs differ only in how they re-arm
    * the timeout after an update. */
  private def cdcClassify(ttl: Option[String]): (String, Iterator[ProductObs],
      GroupState[PriceState]) => Iterator[ChangeEvent] =
    cdcClassifyWith { (state, _) => ttl.foreach(state.setTimeoutDuration) } _

  private def cdcClassifyWith(
      arm: (GroupState[PriceState], Option[ProductObs]) => Unit)(
      id: String, rows: Iterator[ProductObs],
      state: GroupState[PriceState]): Iterator[ChangeEvent] = {
    // horizon elapsed with no observation: evict. No event is emitted —
    // expiry is state hygiene, not a data change — and the key's next
    // observation finds no state, re-classifying as a first sighting
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    // deterministic in-batch order regardless of shuffle arrival —
    // FULL timestamp precision ((millis, nanos) carries the
    // microseconds), matching the q75 oracle's ORDER BY crawled_at:
    // ordering by getTime alone would sequence two same-millisecond
    // observations differently from the oracle's µs-aware sort
    val ordered = rows.toSeq.sortBy(r =>
      (r.crawled_at.getTime, r.crawled_at.getNanos, r.price, r.sales_count))
    val out = Seq.newBuilder[ChangeEvent]
    var cur = state.getOption
    ordered.foreach { r =>
      cur match {
        case None =>
          out += ChangeEvent(id, "price_change", r.price, None, None, None, r.crawled_at)
        case Some(prev) if prev.price != r.price =>
          out += ChangeEvent(id, "price_change", r.price, Some(prev.price),
            Some(r.price - prev.price), None, r.crawled_at)
        case Some(prev) if prev.sales != r.sales_count =>
          out += ChangeEvent(id, "sales_change", r.price, Some(prev.price),
            None, Some(r.sales_count - prev.sales), r.crawled_at)
        case _ => // no_change: not logged (F7)
      }
      cur = Some(PriceState(r.price, r.sales_count))
    }
    // foreach, not .get: with bootstrapped initial state the first batch
    // invokes the function for initial keys that have no batch rows —
    // `cur` is the (unchanged) initial state there, but stay total anyway.
    // Every update re-arms the TTL clock (an observation refreshes the
    // key's horizon; the bootstrap pass arms snapshot-seeded keys too —
    // with no batch rows the arm closure sees None and the event-time
    // form leaves the previous timeout in place).
    cur.foreach { s =>
      state.update(s)
      arm(state, ordered.lastOption)
    }
    out.result().iterator
  }

}
