package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, n-gram shingling, language-ID scoring, quality scoring and
  * document fingerprinting. Pure `functions._` compositions (codegen'd, no
  * UDFs) so they run at full scan speed over 100 TB of documents.
  */
object TextAnalysis {

  /** Lowercase + collapse whitespace + strip leading/trailing space. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Lowercase whitespace tokens — the single hottest text kernel
    * (everything tokenizes first), routed through the native
    * [[graft.expressions.TokenizeExpr]]. The
    * `filter(split(normText(c), " "), _ =!= "")` chain it replaces is
    * result-identical — ExpressionsSpec pins the full corpus, adversarial
    * unicode edges, and a seeded 500-string fuzz, which CAUGHT the one
    * real semantic trap: Spark 4's `lower()` is ICU-backed
    * (`CollationSupport.Lower`), whose Greek final-sigma rule differs
    * from `UTF8String.toLowerCase`; the kernel calls the same ICU
    * primitive — but pays five passes (lower, regex collapse, trim,
    * split, interpreted filter lambda) with three intermediate string
    * materializations where the kernel makes one scan (1.0 s → 0.32 s
    * per 100k documents, docs/SCALE.md "Native one-pass tokenizer"). */
  def tokens(c: Column): Column = graft.expressions.VectorExpressions.tokenize(c)

  /** Token count, whitespace definition. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs + digit runs + single punctuation,
    * the usual regex-pretokenizer approximation (≈ GPT-2 pretokenizer
    * classes). RE2-compatible (no lookarounds) so the same pattern runs in
    * any engine. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** DISTINCT shingles from a pre-materialized token array column (prefer
    * staging `tokens(c)` into its own projection first). Routed through
    * the native [[graft.expressions.WordNgramsExpr]]: the
    * `array_distinct(transform(sequence(...), i => array_join(slice(...))))`
    * formulation is result-identical (ExpressionsSpec pins it, and 0
    * mismatches over 100k real documents) but its lambda is interpreted
    * per POSITION per document, re-slicing the array each time — 3.6 s
    * vs 0.9 s native for 100k docs (docs/SCALE.md "Native word-n-gram
    * shingling"). This kernel sits under every MinHash/Jaccard operator. */
  def shinglesFromTokens(ts: Column, n: Int): Column =
    graft.expressions.VectorExpressions.wordNgrams(ts, n, distinct = true)

  /** Word n-gram shingles (distinct), the dedup unit for MinHash/Jaccard. */
  def wordShingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** MinHash signature of `numHashes` values. Each hash family member is
    * md5(i || "|" || shingle); the min is taken lexicographically over hex
    * strings — deterministic, engine-portable (DuckDB md5 produces identical
    * hex), no seed tables to ship. Map-side only: no shuffle.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingles, s => md5(concat(i.cast(StringType), lit("|"), s)))))

  /** Per-token hash array for SimHash: leading 8 md5 hex chars as a long.
    * Materialize this as its own column before calling
    * [[simhashFromHashes]] — the fingerprint references the array `bits`
    * times and Catalyst re-evaluates nested higher-order arguments. */
  def tokenHashes(tokenArr: Column): Column =
    transform(tokenArr, t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType))

  /** SimHash fingerprint from a pre-materialized hash array: bit j of each
    * hash votes ±1; the sign of the vote sum is bit j of the fingerprint. */
  def simhashFromHashes(hashes: Column, bits: Int = 16): Column = {
    val bitCols = (0 until bits).map { j =>
      val votes = aggregate(
        hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** SimHash of a token array (convenience; prefer materializing
    * [[tokenHashes]] first in multi-reference plans). */
  def simhash(tokenArr: Column, bits: Int = 16): Column =
    simhashFromHashes(tokenHashes(tokenArr), bits)

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Document fingerprint: md5 of normalized text — the exact-dup key. */
  def fingerprint(c: Column): Column = md5(normText(c))

  // --- Language ID (n-gram/stopword heuristic) -----------------------------

  /** Tiny per-language stopword lists. A real system ships fastText; the
    * heuristic contract here is: score(lang) = |tokens ∩ stopwords(lang)| /
    * |tokens|, predict argmax with deterministic alphabetic tie-break. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "pour", "dans", "que"),
    "vi" -> Seq("và", "của", "là", "có", "không", "được", "cho", "với", "này", "các"))

  /** score(lang) via the native [[graft.expressions.StopwordHitsExpr]] —
    * the `size(filter(tokenArr, 10-way-OR))` formulation it replaces is
    * result-identical (binary string equality both ways; ExpressionsSpec
    * pins it) but interprets its lambda per token per LANGUAGE per
    * document — 50 interpreted comparisons/token under [[langPredict]]'s
    * five-language argmax, on a full-corpus scan path (curation gates). */
  def langScore(tokenArr: Column, lang: String): Column = {
    val hits = graft.expressions.VectorExpressions.stopwordHits(tokenArr, stopwords(lang))
    when(size(tokenArr) > 0, round(hits.cast(DoubleType) / size(tokenArr), 6)).otherwise(0.0)
  }

  /** Predicted language: argmax score, alphabetic tie-break.
    *
    * LINEAR-size expression tree: one struct per language inside a single
    * `array_max`. (A foldLeft of `when(cand > acc, cand).otherwise(acc)`
    * duplicates the accumulated subtree at every level — exponential tree
    * size. Projections survive that via codegen subexpression elimination,
    * but when the optimizer pushes this predicate into a Filter — e.g.
    * `filter(langPredict(...).isin(...))` — FilterExec evaluates the raw
    * tree and a 5-language fold costs ~20× the linear form; measured on
    * the curation gate.) Struct comparison is (s, inv): max score first,
    * then max inv = EARLIEST alphabetical language; the label field is
    * never compared because inv is unique. */
  def langPredict(tokenArr: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.zipWithIndex.map { case (l, i) =>
      struct(langScore(tokenArr, l).as("s"),
        lit(langs.size - 1 - i).as("inv"), lit(l).as("l"))
    }
    array_max(array(scored: _*)).getField("l")
  }

  // --- Quality scoring ------------------------------------------------------

  /** Heuristic document-quality score in [0,1]: mixes length sanity, mean
    * word length sanity, alpha ratio, and punctuation/symbol ratio — the
    * standard C4/Gopher-rule flavor, expression-only. */
  def qualityScore(c: Column): Column = {
    val t       = normText(c)
    val n       = length(t)
    val toks    = tokens(c)
    val nTok    = size(toks)
    val meanLen = when(nTok > 0, n.cast(DoubleType) / nTok.cast(DoubleType)).otherwise(0.0)
    val alpha   = when(n > 0, length(regexp_replace(t, "[^\\p{L} ]", "")).cast(DoubleType) / n.cast(DoubleType)).otherwise(0.0)
    val lenOk   = when(n >= 50 && n <= 100000, 1.0).otherwise(when(n > 0, 0.5).otherwise(0.0))
    val wordOk  = when(meanLen >= 3 && meanLen <= 12, 1.0).otherwise(0.5)
    round(lenOk * 0.3 + wordOk * 0.2 + alpha * 0.5, 6)
  }

  /** Word n-grams WITHOUT distinct — the unit for repetition measurement
    * (distinct shingles would hide exactly what repetition scoring looks
    * for). Documents shorter than `n` tokens yield a single n-gram. */
  def rawNgrams(ts: Column, n: Int): Column =
    graft.expressions.VectorExpressions.wordNgrams(ts, n, distinct = false)

  /** Fraction of duplicated n-grams: 1 − distinct/total (0 for empty docs).
    * The Gopher/C4-style repetition signal — high values mean boilerplate
    * or looped text. Pure expression over a staged token array. */
  def dupNgramFraction(ts: Column, n: Int): Column = {
    val grams = rawNgrams(ts, n)
    when(size(grams) > 0,
      round(lit(1.0) - size(array_distinct(grams)).cast(DoubleType) /
        size(grams).cast(DoubleType), 6))
      .otherwise(0.0)
  }

  /** Stopword ratio (any language) — a classic quality signal. Native
    * kernel, same rationale as [[langScore]]. */
  def stopwordRatio(tokenArr: Column): Column = {
    val all = stopwords.values.flatten.toSeq.distinct
    when(size(tokenArr) > 0,
      round(graft.expressions.VectorExpressions.stopwordHits(tokenArr, all).cast(DoubleType)
        / size(tokenArr), 6)).otherwise(0.0)
  }
}
