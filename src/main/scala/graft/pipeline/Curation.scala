package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Corpus, Dedup}
import graft.operators.Scratch.Ops

/** Corpus curation — the training-data pipeline composed end-to-end over a
  * documents table: language/quality gates (pure expressions), exact
  * dedup, MinHash near-dup removal, and a per-reason drop ledger.
  *
  * Near-dup resolution keeps the SMALLEST doc id of each verified pair and
  * drops the other side (single-link-lite: one pass over pairs, no
  * connected-components iteration — at 100 TB a full CC would be an
  * iterative join; one pass removes ≥ half of every duplicate cluster per
  * run and converges over recurring runs, which is the standard
  * curation-cadence trade-off).
  *
  * Every stage is one declarative plan over the previous stage's output;
  * `curate` returns the kept corpus plus a (reason, n) ledger derived
  * set-theoretically (counts of stage inputs/outputs — deterministic under
  * retries and partitioning).
  */
object Curation {

  case class CurationResult(kept: DataFrame, ledger: DataFrame)

  /** Per-stage survivor counts of [[gateAndDedup]] — the numbers both
    * callers' drop ledgers are derived from set-theoretically (stage
    * input/output counts: deterministic under retries and partitioning). */
  private[graft] case class StageCounts(
      input: Long, gated: Long, afterExact: Long, afterNearDup: Long)

  /** The within-corpus curation stages — language/quality gates, exact
    * dedup, near-dup removal — shared by [[curate]] and the streaming sink
    * ([[graft.streaming.Streams]]'s curation `foreachBatch`), in ONE place
    * so the two paths cannot silently diverge when a gate expression or a
    * drop rule changes. Returns the surviving frame, its [[StageCounts]]
    * and its [[Dedup.Sketches]].
    *
    * Stage 1: the gates are scored in a NARROW projection — (id, __lang,
    * __q) only — and THAT is what gets checkpointed: a full-width
    * checkpoint would hold a second copy of the corpus in executor-local
    * storage (at 100 TB, a non-fault-tolerant cluster-memory copy of
    * everything), while the narrow score relation is a few bytes per
    * document. Scoring in a projection (never a Filter) still pins the
    * gate expressions where codegen subexpression elimination applies —
    * pushing them into the Filter condition evaluates the raw duplicated
    * tree per row (measured ~6× slower). The gated corpus is then a
    * semi-join of the source against surviving ids: downstream stages
    * re-read the cheap columnar source scan instead of a corpus-wide
    * checkpoint, and callers keep all payload columns. (Docs are id-keyed —
    * one row per document id, the curation contract — so the ledger counts
    * read the materialized narrow checkpoint, never re-scan the source.)
    *
    * Stage 2: exact dedup (normalized-text fingerprint, min-id wins);
    * checkpointed for the same reason — near-dup pairing and the kept
    * anti-join both re-read it.
    *
    * Stage 3: near-dup removal — drop the larger id of each verified pair.
    * `losers` is checkpointed (tiny — one id per dropped doc) so the
    * ledger's count AND the caller's materialization of the result don't
    * each re-run the whole MinHash+verify pass. The pass stages the
    * exact-dedup survivors' [[Dedup.Sketches]] anyway (checkpointed, the
    * caller's scratch scope), so the kept subset's view of them — lazily
    * anti-joined down, a broadcast over the tiny loser set — is returned:
    * the streaming curation batch hands it to [[Dedup.ingestCycle]], which
    * then never re-tokenizes or re-sketches the batch. Valid under the
    * sketch parameters this call ran with. */
  private[graft] def gateAndDedup(
      docs: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String], minQuality: Double, nearDupThreshold: Double,
      shingleN: Int, numHashes: Int = 12, bands: Int = 4)
      : (DataFrame, StageCounts, Dedup.Sketches) = {
    val spark = docs.sparkSession
    val scored = graft.Phase(spark, "gate.score")(docs
      .select(col(idCol),
        TextAnalysis.langPredict(TextAnalysis.tokens(col(textCol))).as("__lang"),
        TextAnalysis.qualityScore(col(textCol)).as("__q"))
      .scratchCheckpoint())
    val keepIds = scored
      .filter(col("__lang").isin(allowedLangs: _*) && col("__q") >= minQuality)
      .select(idCol)
    val gated = docs.join(keepIds, Seq(idCol), "left_semi")
    val total = graft.Phase(spark, "gate.counts")(scored.count())
    val nGated = keepIds.count()

    val exact = graft.Phase(spark, "gate.exactDedup")(
      Dedup.exactDedup(gated, idCol, textCol).scratchCheckpoint())
    val nExact = graft.Phase(spark, "gate.exactCount")(exact.count())

    val unstaged = graft.Phase(spark, "gate.exactToks")(
      Dedup.sketchesOf(exact, idCol, textCol, shingleN, numHashes, bands))
    val exactSk = graft.Phase(spark, "gate.exactSketch")(unstaged.staged)
    val pairs = Dedup.minhashDedupPairs(exact, idCol, textCol, nearDupThreshold,
      shingleN, numHashes, bands, sketches = Some(exactSk))
    val losers = graft.Phase(spark, "gate.nearDupPairs")(
      pairs.select(col("id_b").as(idCol)).distinct().scratchCheckpoint())
    val kept = exact.join(losers, Seq(idCol), "left_anti")
    val nKept = graft.Phase(spark, "gate.keptCount")(kept.count())
    val loserIds = losers.select(col(idCol).as("id"))
    (kept, StageCounts(total, nGated, nExact, nKept),
      Dedup.Sketches(
        exactSk.bands.join(loserIds, Seq("id"), "left_anti"),
        exactSk.shingles.join(loserIds, Seq("id"), "left_anti")))
  }

  def curate(
      docs: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String] = Seq("en", "de", "es", "fr", "vi"),
      minQuality: Double = 0.5,
      nearDupThreshold: Double = 0.7,
      shingleN: Int = 3): CurationResult = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (kept, c, _) = gateAndDedup(
      docs, idCol, textCol, allowedLangs, minQuality, nearDupThreshold, shingleN)
    val ledger = Seq(
      ("input", c.input),
      ("dropped_lang_or_quality", c.input - c.gated),
      ("dropped_exact_dup", c.gated - c.afterExact),
      ("dropped_near_dup", c.afterExact - c.afterNearDup),
      ("kept", c.afterNearDup)
    ).toDF("reason", "n")
    CurationResult(kept, ledger)
  }

  /** Mixture-sample then split-assign a curated corpus with ONE experiment
    * salt threaded through both decisions. The two hashes are
    * domain-separated inside [[Corpus]] ("mix|salt|id" vs "split|salt|id"),
    * so sharing the salt keeps the decisions independent while a new salt
    * re-rolls the whole experiment (sample AND splits) atomically — the
    * property you want when ablating a training mix. Stateless filter +
    * projection: no shuffle, composes with [[curate]]'s output directly. */
  def mixAndSplit(docs: DataFrame, groupCol: String, idCol: String,
      weights: Map[String, Double], splits: Seq[(String, Double)],
      splitCol: String = "split", salt: String = ""): DataFrame =
    Corpus.assignSplits(
      Corpus.mixtureSample(docs, groupCol, idCol, weights, salt),
      idCol, splits, splitCol, salt)
}
