package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.functions.TextAnalysis._
import graft.operators.Scratch.Ops
import graft.store.Partitions

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup (builder-prompt
  * first-class extensions; SURVEY.md §7.1 #10).
  *
  * Scale notes (the whole point of these shapes):
  *  - exact dedup: one hash-partitioned shuffle on the fingerprint.
  *  - MinHash/SimHash signatures are native Catalyst expressions
  *    ([[graft.expressions.HashExpressions]]) — one codegen'd call per
  *    document, no Generate/shuffle on the signature path. Token arrays are
  *    staged through their own projection first: expressions nested inside
  *    higher-order-function lambdas are re-evaluated per element (Catalyst
  *    does no subexpression elimination inside lambdas), so
  *    shingles(tokens(text)) would re-tokenize the document once per
  *    shingle (measured 25×). Deeply nested HOF trees under a Generate are
  *    also super-linear in OPTIMIZER time — both forbidden shapes here.
  *  - the sketch path's shuffles are the hash-by-id repartition of the
  *    token rows and the band-key join, whose fan-out is controlled by
  *    (numHashes, bands). Never O(n²). Shingle sets are one map-side
  *    array per document, and the Jaccard verify meets each candidate
  *    pair's two sets by id.
  *  - n-gram Jaccard joins the inverted index with a length filter in the
  *    join condition so size-incompatible pairs never reach the aggregate.
  *  - embedding near-dup goes through sign-LSH buckets first.
  */
object Dedup {

  /** True when two independent executions of `plan` can produce DIFFERENT
    * row sets — the shape that makes a complementary-filter split unsound:
    * a row can land in both branches or neither, duplicating or dropping
    * it in normal operation (no task retry needed). Flags any
    * nondeterministic expression (rand(), uuid(), ...) plus the operators
    * whose row SELECTION is execution-dependent even with deterministic
    * expressions: Sample (seeded per plan but partition-layout-sensitive),
    * un-ordered Limit/Offset/Tail (arbitrary rows win), and Deduplicate
    * (dropDuplicates keeps an arbitrary row's NON-key columns). Joins,
    * aggregates, unions, sorts, and windows over deterministic expressions
    * re-produce the same row set and are NOT flagged — re-executing them
    * is a cost question, not a correctness one (see [[exactDedup]]).
    *
    * Subquery plans are scanned too (r16 advice): `plan.exists` does not
    * traverse SubqueryExpression plans, so instability hidden inside an
    * IN/EXISTS/scalar subquery — `WHERE id IN (SELECT ... TABLESAMPLE)`,
    * reachable via the SQL surface — would otherwise escape the freeze
    * and split through complementary filters with unstable routing,
    * exactly the duplicate/drop hazard the freeze exists to prevent.
    * `subqueriesAll` already recurses into nested subqueries. */
  private[graft] def rowSetUnstable(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def unstableNode(n: LogicalPlan): Boolean = n match {
      case _: Sample | _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail |
          _: Deduplicate => true
      case _ => !n.expressions.forall(_.deterministic)
    }
    plan.exists(unstableNode) ||
      plan.subqueriesAll.exists(_.exists(unstableNode))
  }

  /** Exact dedup on normalized-text fingerprint, keep min(id) — deterministic
    * first-wins (D1's order-stable analogue).
    *
    * The keyed/anon split below evaluates `docs` TWICE through
    * complementary filters. A [[rowSetUnstable]] input — sample(), a
    * rand() column, an un-ordered limit — could route a row into both
    * branches or neither across the two evaluations, so such inputs are
    * localCheckpointed ONCE here: both branches then read materialized
    * blocks, one upstream execution, frozen routing. DETERMINISTIC inputs
    * are split as-is, including derived ones (Curation hands this a
    * semi-joined frame): both evaluations produce the same row set, and
    * the double execution is bounded — shuffle-bearing lineage reuses its
    * exchanges (map sides run once; both branches re-read the same
    * shuffle files), and freeze-first measured LOSING to the double
    * evaluation on exactly the Curation shape (2M-row heavy-projection +
    * semi-join: split 6.5 s vs freeze-first 8.3 s, floor 2.9 s —
    * materializing the full corpus costs more than re-running the
    * post-shuffle work; docs/SCALE.md "exactDedup derived-input lineage,
    * measured (r16)"). On a
    * source-shaped input each branch is one scan and the anon branch's
    * IS NULL predicates prune to parquet footers (see the anon-tier
    * comment below).
    *
    * SCRATCH-LIFETIME CONTRACT (r16 advice): when the freeze fires, the
    * frozen corpus registers with the innermost [[Scratch.scoped]] block
    * active on the calling thread, and the RETURNED FRAME is lazy over
    * those blocks — a caller that wraps this call in its own scoped block
    * must MATERIALIZE the result (count/checkpoint/write) before that
    * block exits, or the frozen blocks are unpersisted under a live plan
    * (localCheckpoint lineage is truncated: consumption then fails loudly
    * with a lost-block error, never silently mis-routes). Registering
    * with the caller's CALLER instead ([[Scratch.checkpointEscaping]])
    * was considered and rejected: the dominant scoped caller is the
    * continuous-curation stream, whose per-batch scope both consumes the
    * result and must free the freeze — escaping would leak one frozen
    * corpus per micro-batch for the stream's lifetime. Outside any scope
    * the freeze behaves like a plain localCheckpoint: it lives until the
    * session's ContextCleaner reaps it (acceptable for the one-shot CLI
    * shapes that call this bare; long-lived sessions should scope). */
  def exactDedup(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs =
      if (rowSetUnstable(docs0.queryExecution.analyzed)) docs0.scratchCheckpoint()
      else docs0
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    // a NULL text has no content to be equal to: fingerprint(NULL) = NULL,
    // and PARTITION BY groups every NULL into ONE partition — all null-text
    // documents but one would be silently deleted as "duplicates" of
    // unrelated rows. Each null-text row gets a per-id sentinel fingerprint
    // instead (the \u0000 prefix cannot collide with md5 hex), so they all
    // pass through — and, at scale, they spread across the window's hash
    // partitioning instead of piling into one all-NULLs task.
    //
    // ANON rows — NULL id AND NULL text, contract-violating garbage with no
    // identity at all — are ALL kept, and they never enter the window
    // shuffle: they are filtered out before it and unioned back from a
    // second branch. Any key a row's own content can produce co-locates
    // identical rows (that is what a shuffle key does), so N identical anon
    // rows under ANY deterministic keying collapse into one window task —
    // the exact skew pileup the sentinel design avoids — while a
    // nondeterministic spreader (the pre-r14 monotonically_increasing_id,
    // or rand()) can emit different keys on a fetch-failure recompute of
    // the window's shuffle, dropping or duplicating rows between the
    // original and retried partial stages. Keeping anon rows out of the
    // shuffle entirely is the only shape that is deterministic AND
    // skew-free. It also needs no whole-row hash, so frames carrying
    // MapType payload columns — which Spark 4's hash expressions reject at
    // analysis time (DATATYPE_MISMATCH.HASH_MAP_TYPE), and which the r14
    // xxhash64 anon tier therefore crashed on even when no anon row
    // existed — dedup fine. The anon branch's IS NULL predicates push down
    // to the scan, and on a realistic corpus (id mostly non-null) parquet
    // null-count stats prune every row group: the "second scan" reads
    // footers, not data.
    val anonPred = col(idCol).isNull && col(textCol).isNull
    val keyed = docs.filter(!anonPred)
      .withColumn("__fp", coalesce(fingerprint(col(textCol)),
        concat(lit("\u0000null:"), col(idCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
    keyed.unionByName(docs.filter(anonPred))
  }

  /** One (id, __toks) row per document, hash-partitioned by id — the shared
    * TOKENIZE pass both sketch relations derive from. The repartition does
    * NOT spread the tokenize work: tokenize is a projection below the
    * exchange, so it runs map-side, one task per input split, and AQE
    * coalesces a small batch's post-shuffle partitions (measured on a
    * 1,200-document batch, 4 cores: 4 map tasks, then 1 post-shuffle task
    * and a 1-task signature job). What the exchange buys is the hash-by-id
    * layout downstream id-keyed joins and aggregates reuse. Callers that
    * need both sketch relations stage this frame once through
    * [[sketchesOf]]. */
  private[graft] def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .repartition(col("id"))

  /** The two sketch relations of one document set under one
    * (shingleN, numHashes, bands) sketch: the (id, bandkey) banding that
    * candidate generation joins on, and the (id, s) shingle sets that the
    * Jaccard verify and the index append read. Built by [[sketchesOf]];
    * a value handed to [[minhashDedupPairs]], [[appendToMinhashIndex]] or
    * [[ingestCycle]] must cover the same rows as that call's documents,
    * under the same sketch parameters (the caller's contract). */
  final case class Sketches(bands: DataFrame, shingles: DataFrame) {
    /** Both relations materialized concurrently ([[Scratch.checkpointPar]]:
      * two narrow derivations over one token checkpoint back-fill each
      * other's stage tails, guide §2.6), registered with the calling
      * thread's scratch scope. */
    def staged: Sketches = {
      val (b, s) = Scratch.checkpointPar(bands, shingles)
      Sketches(b, s)
    }
  }

  /** The one place a document set is tokenized for sketching: [[tokenRows]]
    * is checkpointed ONCE and both relations derive lazily from that
    * checkpoint ([[bandKeysFromTokens]], [[shinglesFromTokenRows]]).
    * Tokenization is the sketch path's dominant per-document cost, so one
    * tokenize+shuffle pass feeds both relations and every consumer
    * (guide §2.3/§2.4). The derivations are narrow map-side projections,
    * so a caller that reads the relations more than once materializes
    * them with [[Sketches.staged]]; one that reads each once (an append's
    * write) keeps them lazy. The checkpoint is eager and registers with
    * the calling thread's scratch scope, so call this on the caller's
    * thread, never inside a [[graft.Par]] thunk. */
  private[graft] def sketchesOf(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): Sketches = {
    val toks = tokenRows(docs, idCol, textCol).scratchCheckpoint()
    Sketches(bandKeysFromTokens(toks, shingleN, numHashes, bands),
      shinglesFromTokenRows(toks, shingleN))
  }

  /** One row per document, (id, s: array<bigint>): the document's shingle
    * SET, the working relation for the Jaccard verify. `s` holds the
    * DISTINCT xxhash64 fingerprints of its word n-grams (guide §2.3 —
    * narrower types: every consumer compares shingles for EQUALITY only,
    * so an 8-byte long does the job of a multi-tens-of-bytes n-gram string
    * in the persisted index and the verify — the standard
    * shingle-fingerprint trade: a 64-bit collision inside one verified
    * pair's shingle union is the only way a result could move, and every
    * oracle run re-proves the corpus collision-free. The MinHash SIGNATURE
    * path is untouched — its md5-over-string hash family is
    * oracle-pinned.) A null text has a null set; an empty text, or one
    * shorter than `shingleN`, has the one n-gram of its whole token run.
    *
    * The set is one map-side projection of the token array: no explode
    * and no (id, s) distinct shuffle (the row-per-shingle relation needed
    * both). The dedup runs over the 8-byte hashes, one hash-set pass per
    * document, not over the n-gram strings. A committed document's set
    * never changes, so the persisted index stores it in exactly the form
    * [[verifyJaccard]] reads. */
  private[graft] def shingleRows(docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    shinglesFromTokenRows(tokenRows(docs, idCol, textCol), shingleN)

  /** [[shingleRows]] over a [[tokenRows]] relation — same expressions, so
    * [[sketchesOf]]' checkpointed token frame yields the identical rows
    * without re-tokenizing. The n-grams are staged as the HOF's argument,
    * not inside its lambda (the lambda only hashes). */
  private[graft] def shinglesFromTokenRows(toks: DataFrame, shingleN: Int): DataFrame =
    toks.select(col("id"),
      array_distinct(transform(rawNgrams(col("__toks"), shingleN), xxhash64(_))).as("s"))

  /** A generation's shingles relation as one (id, s: array<bigint>) row per
    * document. Generations written before the set layout hold one
    * (id, s: bigint) row per shingle — the relation's own footer schema
    * ([[Partitions.read]]) says which — and are grouped into sets here.
    * [[appendToMinhashIndex]] and [[compactMinhashIndex]] rewrite such a
    * generation in the set layout before anything is added to it, so no
    * generation ever holds both. */
  private def shingleSets(raw: DataFrame): DataFrame =
    if (rowPerShingle(raw)) raw.groupBy("id").agg(collect_list(col("s")).as("s"))
    else raw

  /** True for the pre-set layout, one (id, s: bigint) row per shingle. */
  private def rowPerShingle(raw: DataFrame): Boolean =
    raw.schema("s").dataType == org.apache.spark.sql.types.LongType

  /** One row per (id, bandkey): the LSH banding relation. The signature is
    * the native [[graft.expressions.MinHashSignatureExpr]] — one codegen'd
    * call per document, NO explode and NO shuffle on the signature path
    * (the hash family — lexicographic-min md5(i || "|" || shingle) hex —
    * is unchanged and oracle-identical). Band key b = md5 of the band's
    * hashes joined with "," prefixed with the band index. Not checkpointed
    * — callers decide (self-joins must, a one-pass write needn't). */
  def minhashBandKeys(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame =
    bandKeysFromTokens(tokenRows(docs, idCol, textCol), shingleN, numHashes, bands)

  /** [[minhashBandKeys]] over a [[tokenRows]] relation — same expressions
    * over the same rows, so [[sketchesOf]] derives this AND the shingle
    * relation from one token checkpoint. */
  private[graft] def bandKeysFromTokens(
      toks: DataFrame, shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    // bands > numHashes would make rows = 0, every band key the constant
    // md5("") — degenerating the LSH self-join into a full cross join; a
    // non-dividing bands would silently ignore the trailing hashes
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rows = numHashes / bands
    val sig = toks.select(col("id"), graft.expressions.HashExpressions.minhashSignature(
      shinglesFromTokens(col("__toks"), shingleN), numHashes).as("sig"))
    bandRows(sig, (0 until bands).map { b =>
      md5(concat_ws(",", (b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1)): _*))
    })
  }

  /** The banding shape every LSH scheme here shares: band b's key
    * `keys(b)` gets the prefix `b:` (equal raw keys in different bands
    * must not collide) and the bands explode into one `bandkey` column —
    * one row per (id, band), carrying `id` and `keep`. [[bandedPairs]]
    * self-joins the result. The MinHash keys ARE the persisted index's
    * bands relation (its `__bkt` prune hashes them): their bytes are
    * pinned by an OperatorsSpec golden. */
  private def bandRows(df: DataFrame, keys: Seq[Column], keep: Column*): DataFrame = {
    val prefixed = keys.zipWithIndex.map { case (k, b) => concat(lit(s"$b:"), k) }
    df.select((col("id") +: keep :+ explode(array(prefixed: _*)).as("bandkey")): _*)
  }

  /** Candidate near-dup pairs via MinHash + LSH banding (self-join form of
    * [[minhashBandKeys]]). Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * The degenerate-PARAMETER shapes are rejected by [[minhashBandKeys]]'
    * require, but saturation is also a property of the CORPUS: identical
    * documents produce identical signatures, so a duplicate-heavy corpus
    * piles into few band keys no matter how the sketch is parameterized.
    * Guarded and EAGER as [[bandedPairs]] describes. */
  def minhashLshCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame =
    candidatesFromBands(
      minhashBandKeys(docs, idCol, textCol, shingleN, numHashes, bands)
        .scratchCheckpoint(),
      numHashes, bands, maxCandidatePairs)

  /** [[minhashLshCandidates]] over an already-CHECKPOINTED banding
    * relation: [[bandedPairs]] with the MinHash sizing guidance. */
  private def candidatesFromBands(withBands: DataFrame, numHashes: Int, bands: Int,
      maxCandidatePairs: Long): DataFrame =
    bandedPairs(withBands, maxCandidatePairs, "minhashLshCandidates",
      "run exactDedup first (identical documents share every band key), or " +
        s"raise numHashes/bands rows per band (currently ${numHashes / bands} " +
        "— more rows per band = more selective keys, at some recall cost)")

  /** Verified near-dup pairs: LSH candidates filtered by true shingle-set
    * Jaccard ≥ threshold. Each candidate pair meets its two stored shingle
    * sets by id and scores their intersection in one expression
    * ([[verifyJaccard]]): |candidates| × set-size work, with no exploded
    * per-shingle relation and no shingle-keyed shuffle. (An earlier form
    * counted intersections with an equi-join on exploded (id, s) rows so
    * as never to re-materialize per-document arrays; stored as one set row
    * per document, the arrays are built once, map-side, and the verify
    * reads them as stored — docs/SCALE.md "Measured scaling".)
    *
    * `sketches`: the docs' [[Sketches.staged]] relations, when the caller
    * already has them (the curation stage shares them with the
    * cross-stream ingest cycle); otherwise they are staged here. Both are
    * read more than once — the self-join and guard read the banding, the
    * verify reads the shingle sets on both sides of the pair — so they
    * must be checkpoint-backed. */
  def minhashDedupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs,
      sketches: Option[Sketches] = None): DataFrame = {
    val sk = sketches.getOrElse(
      sketchesOf(docs, idCol, textCol, shingleN, numHashes, bands).staged)
    verifyJaccard(candidatesFromBands(sk.bands, numHashes, bands, maxCandidatePairs),
      sk.shingles, sk.shingles, threshold)
  }

  /** A reusable MinHash corpus index: the banding relation (id, bandkey)
    * for candidate generation and the shingle-set relation (id, s) for
    * exact-Jaccard verification ([[shingleRows]]). At corpus scale both
    * are computed ONCE per
    * corpus generation and persisted ([[writeMinhashIndex]]); every incoming
    * batch then dedups against the index ([[dedupAgainstIndex]]) without
    * ever re-reading, re-tokenizing, or re-sketching the corpus — the
    * incremental shape that makes near-dup dedup tractable at 100 TB
    * (re-running the all-pairs form per ingest batch is quadratic in
    * ingest count). */
  /** `bandBuckets` is the `__bkt` modulus of a PERSISTED bands layout —
    * read back from the generation's `_NBKT_<n>` marker so the probe's
    * partition-prune always agrees with the layout it scans (a prober
    * whose modulus disagreed with the writer's would silently drop true
    * candidates). In-memory indexes never consult it. */
  /** `bandsRowBound`: an UPPER BOUND on the bands relation's row count,
    * when one is cheaply known (persisted layouts: id-manifest footer rows
    * × bands-per-doc — every doc emits exactly `bands` band keys, and the
    * raw manifest never undercounts the tombstone-filtered relation). The
    * probe guard's free tier uses it instead of paying a count() scan of
    * the index per batch; None falls back to the scan. A larger bound is
    * always safe — it can only make the guard more conservative. */
  final case class MinhashIndex(bands: DataFrame, shingles: DataFrame,
      bandBuckets: Int = BandBuckets,
      sketch: Option[(Int, Int, Int)] = None,
      bandsRowBound: Option[Long] = None)

  /** Build the in-memory index relations for a corpus (no persistence —
    * see [[writeMinhashIndex]] for the production artifact). The sketch
    * parameters ride in the struct so the persisted layout can record
    * them (see the `_SKETCH` marker) and probes/appends can be checked. */
  def buildMinhashIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4): MinhashIndex =
    MinhashIndex(
      minhashBandKeys(corpus, idCol, textCol, shingleN, numHashes, bands),
      shingleRows(corpus, idCol, textCol, shingleN),
      sketch = Some((shingleN, numHashes, bands)))

  /** DEFAULT number of `__bkt=` partition dirs the PERSISTED bands
    * relation is hashed into. A batch probe's band keys map to a subset of
    * buckets, so the candidate join's index scan partition-prunes to that
    * subset instead of reading the whole relation per batch — the
    * difference between O(batch) and O(corpus) candidate generation in a
    * sustained ingest loop. 64 keeps the per-batch bucket list a bounded
    * driver-side literal while still skipping ~all of the index for
    * micro-batches. Each generation RECORDS its own count (`_NBKT_<n>`
    * marker): when a corpus outgrows 64 buckets (per-bucket bytes is the
    * probe's scan unit), [[compactMinhashIndex]]'s `targetBuckets`
    * re-buckets the layout in one reader-atomic generation swap and every
    * probe/append follows the recorded count automatically. */
  val BandBuckets = 64

  /** The bucket a band key lands in under an `n`-way layout — Spark's
    * Murmur3 `hash`, stable across JVMs/sessions, so writer and probe
    * always agree on the SAME generation's recorded modulus. */
  private def bandBucket(c: Column, n: Int) = pmod(hash(c), lit(n))

  /** Marker metadata of a COMMITTED generation — (bands bucket modulus,
    * sketch parameters) — resolved from ONE directory listing. A
    * generation's markers are created before its `_COMMITTED` lands and
    * never change after, so they are memoized per generation
    * ([[graft.store.Generations.memo]]). */
  private def genMarkers(spark: org.apache.spark.sql.SparkSession,
      gen: String): (Int, Option[(Int, Int, Int)]) = {
    val p = new org.apache.hadoop.fs.Path(gen)
    val fs = Partitions.fs(spark, p)
    graft.store.Generations.memo(spark, p, "minhash markers") {
      val names = fs.listStatus(p).map(_.getPath.getName)
      val nbkt = names.collectFirst {
        case n if n.startsWith("_NBKT_") => n.drop("_NBKT_".length).toInt
      }.getOrElse(BandBuckets)
      val sketch = names.collectFirst {
        case n if n.startsWith("_SKETCH_") =>
          // defensive parse: a malformed or foreign marker must produce a
          // clear error naming the file, not a MatchError from deep inside
          // a directory listing — and it must NOT be treated as "legacy,
          // accept anything" (that would silently disable the parameter
          // gate on a layout that clearly tried to record its parameters)
          val parsed = n.drop("_SKETCH_".length).split("_") match {
            case Array(sn, nh, nb) =>
              scala.util.Try((sn.toInt, nh.toInt, nb.toInt)).toOption
            case _ => None
          }
          parsed.getOrElse(throw new IllegalArgumentException(
            s"malformed sketch marker '$n' under $gen — expected " +
              "_SKETCH_<shingleN>_<numHashes>_<bands>; refusing to guess " +
              "(probing with wrong parameters silently declares every " +
              "document unique)"))
      }
      (nbkt, sketch)
    }
  }

  /** The `__bkt` modulus a generation's bands layout was written with —
    * its `_NBKT_<n>` marker, or [[BandBuckets]] for legacy layouts that
    * predate per-generation counts (written when it was a constant). */
  private def genBandBuckets(spark: org.apache.spark.sql.SparkSession, gen: String): Int =
    genMarkers(spark, gen)._1

  /** The sketch parameters a generation was written with, from its
    * `_SKETCH_<shingleN>_<numHashes>_<bands>` marker (None for layouts
    * written before the marker existed). The same self-describing
    * discipline as `_NBKT`: band keys are md5s over (shingleN, numHashes,
    * bands)-determined hash ranges, so a probe or append running with
    * DIFFERENT parameters produces disjoint keys — zero candidates, every
    * batch doc declared unique, duplicates silently flooding the corpus.
    * The layout must carry what it was built with. */
  private def genSketch(spark: org.apache.spark.sql.SparkSession,
      gen: String): Option[(Int, Int, Int)] = genMarkers(spark, gen)._2

  /** Fail loudly when a probe/append's sketch parameters disagree with the
    * layout's recorded ones. A None (in-memory index or legacy layout)
    * accepts anything — the marker is evidence, not a gate on old data. */
  private def requireSketch(recorded: Option[(Int, Int, Int)],
      shingleN: Int, numHashes: Int, bands: Int, what: String): Unit =
    recorded.foreach { case rec @ (sn, nh, nb) =>
      require(rec == ((shingleN, numHashes, bands)),
        s"$what: sketch parameters (shingleN=$shingleN, numHashes=$numHashes, " +
          s"bands=$bands) disagree with the index layout's recorded " +
          s"(shingleN=$sn, numHashes=$nh, bands=$nb) — band keys would be " +
          "disjoint and every batch document silently declared unique")
    }

  /** Persist an index under `path`: a fresh
    * `gen_NNNNNN/{bands,shingles,ids}` generation committed by a
    * `_COMMITTED` marker created LAST (the same [[graft.store.Generations]]
    * discipline as the IVF tree), so a rebuild or an online compaction
    * never races a concurrent reader into a half-written layout. All
    * relations are narrow (id + at most one string column); the corpus
    * text itself is NOT stored. The bands relation is laid out partitioned
    * by `__bkt = hash(bandkey) % BandBuckets` (one extra narrow shuffle at
    * build time) so per-batch probes partition-prune; `filesPerBucket`
    * (default 1) salts that shuffle when a bucket's data exceeds one
    * healthy parquet file — [[compactMinhashIndex]] auto-sizes it from
    * measured bytes. `ids` is the compact id manifest the streaming replay
    * guard reads ([[minhashIndexIds]]) — derived by re-reading the written
    * bands files (a pruned id-column scan), not by re-running the sketch;
    * a caller that already HAS the manifest passes it via `idsFrom` and
    * skips the distinct (compaction does: its id set is unchanged by
    * construction). `bandsBytesHint`: a caller that knows the bands
    * relation's byte size (compaction measured it for auto-sizing) lets a
    * small index skip the 64-way bucket shuffle — one task writes the same
    * ≤1-file-per-bucket layout. The single-writer shortcut compares the
    * hint against the CALLER's `maxFileBytes` (compaction threads its own
    * budget through), not the global default — a caller with a smaller
    * file-size budget keeps the bucket shuffle for relations above it.
    * Returns the committed generation path. */
  def writeMinhashIndex(idx: MinhashIndex, path: String, filesPerBucket: Int = 1,
      idsFrom: Option[DataFrame] = None, bandsBytesHint: Long = -1L,
      maxFileBytes: Long = graft.store.Compact.DefaultMaxFileBytes): String =
      graft.Phase(idx.bands.sparkSession, "index.write") {
    val spark = idx.bands.sparkSession
    val gen = graft.store.Generations.claimNextGen(spark, path)
    // the layout's modulus is the index's bandBuckets — recorded as an
    // _NBKT_<n> marker so probes and appends of this generation always
    // bucket under the count it was actually written with
    val withBkt = idx.bands.drop("__bkt")
      .withColumn("__bkt", bandBucket(col("bandkey"), idx.bandBuckets))
    val re =
      if (bandsBytesHint >= 0 && bandsBytesHint <= maxFileBytes &&
          filesPerBucket <= 1) withBkt.repartition(1) // parallel scan, single writer
      else if (filesPerBucket <= 1) withBkt.repartition(col("__bkt"))
      else withBkt.repartition(col("__bkt"), pmod(hash(col("id")), lit(filesPerBucket)))
    // the three relations land in DISJOINT dirs of an UNCOMMITTED
    // generation (readers resolve nothing until the _COMMITTED marker
    // lands below), so they write concurrently (guide §2.6) — the ids
    // manifest derives from the WRITTEN bands files when no manifest was
    // handed in, so that leg stays sequential within its thread
    val writeBands = () =>
      re.write.mode("overwrite").partitionBy("__bkt").parquet(s"$gen/bands")
    val writeShingles = () =>
      idx.shingles.write.mode("overwrite").parquet(s"$gen/shingles")
    idsFrom match {
      case Some(df) =>
        val writeIds = () => df.select("id")
          .write.mode("overwrite").parquet(s"$gen/ids")
        graft.Par.run(writeBands, writeShingles, writeIds)
      case None =>
        graft.Par.run(
          () => {
            writeBands()
            Partitions.read(spark, s"$gen/bands").select("id").distinct()
              .write.mode("overwrite").parquet(s"$gen/ids")
          },
          writeShingles)
    }
    val genPath = new org.apache.hadoop.fs.Path(gen.toString)
    val genFs = Partitions.fs(spark, genPath)
    genFs.create(new org.apache.hadoop.fs.Path(genPath, s"_NBKT_${idx.bandBuckets}"), false).close()
    // the sketch marker (see genSketch) — carried through compaction via
    // readMinhashIndex's populated struct
    idx.sketch.foreach { case (sn, nh, nb) =>
      genFs.create(new org.apache.hadoop.fs.Path(genPath, s"_SKETCH_${sn}_${nh}_$nb"), false).close()
    }
    graft.store.Generations.commit(spark, gen)
    gen.toString
  }

  /** Load the latest committed generation (lazy scans). The bands relation
    * carries the `__bkt` partition column when read from a bucketed
    * layout; [[dedupAgainstIndex]] prunes on it. Tombstoned documents
    * ([[deleteFromMinhashIndex]]) are anti-joined OUT of both relations —
    * a deleted document can never surface as a match witness or
    * contribute shingles to a verify join. */
  /** The bands relation of a generation: the bucketed BASE layout plus the
    * flat append DELTA tier, when batches appended since the base was
    * written. [[appendToMinhashIndex]] writes each batch's banding as ONE
    * flat part-file set under `bands_delta/` (`__bkt` carried as a data
    * column) instead of scattering ≤ bandBuckets near-empty files through
    * the partitioned tree: a partitioned append pays per-partition-dir
    * writer + commit overhead LINEAR in the touched-bucket count (measured
    * 1.2–1.7 s for a 4k-row 64-bucket append vs 0.25 s flat —
    * docs/SCALE.md "Retired probes"; commit-algorithm and codec variants
    * don't move it), and at corpus scale it is also the small-files shape
    * the compactor exists to fight — one file per batch beats 64. Probes
    * partition-prune the base and row-filter the delta on the same `__bkt`
    * predicate (the union pushes the filter into both children);
    * compaction reads through this union and folds the delta back into the
    * next generation's bucketed base. Same base-plus-flat-delta discipline
    * as the CDC companion's collapse-vs-delta generations. */
  private def bandsOf(spark: org.apache.spark.sql.SparkSession, gen: String): DataFrame = {
    val base = Partitions.read(spark, s"$gen/bands")
    val delta = new org.apache.hadoop.fs.Path(s"$gen/bands_delta")
    if (Partitions.fs(spark, delta).exists(delta))
      base.unionByName(Partitions.read(spark, delta.toString))
    else base
  }

  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex =
      graft.Phase(spark, "index.read") {
    val gen = graft.store.Generations.requireCommitted(spark, path)
    val ts = graft.store.Tombstones.of(spark, gen.toString)
    val bands = graft.store.Tombstones.minus(bandsOf(spark, gen.toString), ts, "id")
    val shingles = shingleSets(
      graft.store.Tombstones.minus(Partitions.read(spark, s"$gen/shingles"), ts, "id"))
    val sketch = genSketch(spark, gen.toString)
    // bands-row upper bound from the id manifest's parquet FOOTERS (docs ×
    // bands-per-doc): driver-side metadata, no Spark job — but only while
    // the manifest's file count is modest (each append adds one; compaction
    // re-coalesces), so a long-uncompacted index falls back to the count()
    // scan rather than paying thousands of sequential footer opens
    val bound = sketch.flatMap { case (_, _, nb) =>
      val ids = new org.apache.hadoop.fs.Path(s"$gen/ids")
      val fs = Partitions.fs(spark, ids)
      if (!fs.exists(ids)) None
      else {
        val files = graft.store.Compact.dataFiles(spark, ids.toString)
        if (files.isEmpty || files.size > 64) None
        else Some(graft.store.Compact.footerRowCount(spark, Seq(ids)) * nb)
      }
    }
    MinhashIndex(bands, shingles, genBandBuckets(spark, gen.toString),
      sketch, bound)
  }

  /** DELETION TIER for a persisted index — the takedown path (PII removal,
    * retention-expired corpus slices) that previously needed a full
    * rebuild, O(corpus) per takedown. `deleteFromMinhashIndex` appends the
    * ids to a tombstone relation INSIDE the live generation; every reader
    * ([[readMinhashIndex]], [[minhashIndexIds]]) anti-joins it out, so the
    * documents stop matching and stop being listed IMMEDIATELY at
    * O(tombstones) per probe (the relation broadcasts — it is at most
    * manifest-sized). The next [[compactMinhashIndex]] run drops the
    * tombstoned rows PHYSICALLY (its rewrite reads through the filtered
    * relations) and clears the tombstones with them — a generation with
    * live tombstones always compacts, thresholds or not. Cost model:
    * takedown itself is O(ids) — one tiny parquet append — and the
    * O(corpus) rewrite is deferred into the compaction the index was
    * already paying.
    *
    * RE-INGEST: delete-then-re-add WORKS — the contract is enforced in
    * code, not on the caller. [[appendToMinhashIndex]] semi-joins the
    * batch's ids against live tombstones; on a hit it runs the forced
    * physical compaction FIRST (the same reader-atomic rewrite that was
    * already scheduled — live tombstones force it regardless of file
    * thresholds), which purges every tombstoned id's rows and clears the
    * tombstones, and only then appends. The re-added document is live
    * immediately and its old rows are GONE — they can never double-count
    * a shingle intersection or resurface stale content. The streaming
    * sinks' replay guards read the filtered manifest, so they treat a
    * deleted id as new — replaying a batch containing one re-ingests it
    * through the same purge-then-append path (the reference's
    * cleanup→re-crawl cycle, `tasks/detail.py:194-216`). Idempotent:
    * re-deleting an id writes a duplicate tombstone row that changes
    * nothing and is cleared by the same compaction. The tombstone
    * relation itself is kept at a bounded file count: a call that pushes
    * it to [[TombstoneCompactFiles]] files (each call writes one) runs
    * the forced compaction immediately — reader-atomic, never an
    * in-place rewrite (see the constant's scaladoc for why). Returns the
    * count of distinct ids tombstoned in this call. */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    val gen = graft.store.Generations.requireCommitted(spark, path)
    graft.store.Tombstones.delete(spark, gen.toString, ids)(
      () => compactMinhashIndex(spark, path)) // forced by live tombstones
  }

  /** File-count bound on a generation's tombstone relation — see
    * [[graft.store.Tombstones.CompactFiles]], the shared home of the bound
    * and its no-in-place-rewrite rationale. */
  val TombstoneCompactFiles: Int = graft.store.Tombstones.CompactFiles

  /** The id manifest of the latest committed generation: one narrow row
    * per indexed document id. This is what per-batch replay guards read —
    * O(corpus ids), a fraction of the bands relation, and never the
    * corpus-sized `distinct` scan the pre-r7 guard paid per micro-batch.
    * Falls back to a bands-derived distinct for legacy layouts written
    * before the manifest existed. */
  def minhashIndexIds(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val gen = graft.store.Generations.requireCommitted(spark, path)
    val ids = new org.apache.hadoop.fs.Path(s"$gen/ids")
    val fs = Partitions.fs(spark, ids)
    val base =
      if (fs.exists(ids)) Partitions.read(spark, ids.toString)
      else bandsOf(spark, gen.toString).select("id").distinct()
    // a tombstoned id is no longer IN the index — the manifest view agrees
    // with the probe view ([[deleteFromMinhashIndex]]'s contract)
    graft.store.Tombstones.of(spark, gen.toString) match {
      case None => base
      case Some(ts) => base.join(broadcast(ts), Seq("id"), "left_anti")
    }
  }

  /** Data-file counts of the latest committed generation — the
    * [[compactMinhashIndex]] trigger signal, recorded per batch in
    * [[IngestStats]]. The bands count is the MAX per-`__bkt` file count of
    * the bucketed base PLUS the flat delta tier's file count ([[bandsOf]]):
    * the probe's cost driver is files per scanned bucket, and every delta
    * file is read by EVERY probe (row-filtered, not dir-pruned), so each
    * append adds one to the figure — the same one-per-append growth the
    * pre-delta partitioned appends had. Shingles is the flat dir count.
    * Directory metadata only. */
  def minhashFileCounts(spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int) = {
    val gen = graft.store.Generations.requireCommitted(spark, path)
    val bandsDir = new org.apache.hadoop.fs.Path(s"$gen/bands")
    val fs = Partitions.fs(spark, bandsDir)
    // the bucketed base is immutable after commit (appends land in
    // `bands_delta/`, compactions write a NEW generation), so its up-to-65
    // directory listings are paid once per generation; the append-mutable
    // delta/shingles listings below stay fresh on every call
    val baseFiles = graft.store.Generations.memo(spark, gen, "minhash base files") {
      val perBucket = Partitions.list(spark, bandsDir, "__bkt")
        .map { case (_, bkt) => graft.store.Compact.dataFileCount(spark, bkt.toString) }
      if (perBucket.nonEmpty) perBucket.max
      else graft.store.Compact.dataFileCount(spark, bandsDir.toString) // legacy flat layout
    }
    val deltaDir = new org.apache.hadoop.fs.Path(s"$gen/bands_delta")
    val deltaFiles =
      if (fs.exists(deltaDir)) graft.store.Compact.dataFileCount(spark, deltaDir.toString)
      else 0
    (baseFiles + deltaFiles, graft.store.Compact.dataFileCount(spark, s"$gen/shingles"))
  }

  /** Append a batch's relations to a persisted index — the ingest loop's
    * closing step: after [[dedupAgainstIndex]] marks duplicates, the
    * SURVIVING documents are appended so the next batch dedups against
    * corpus ∪ batch. Cost ∝ batch size (linear batch scans); the corpus
    * is never re-read or rewritten, and parquet part-file names carry
    * task UUIDs so appends never collide. Callers must filter the batch
    * to survivors first — appending dropped dups would make them future
    * match targets.
    *
    * The id manifest is appended FIRST, deliberately: the three appends
    * are not atomic as a group, and the failure modes differ. Manifest
    * landed but bands/shingles did not → a replayed batch's guard drops
    * those ids, they are simply never banded (a missed future match
    * target, soft). Bands landed but the manifest did not → the replay
    * re-runs the batch through the candidate probe with its own ids
    * already on the index side, and the resulting self-pairs would make
    * each document its own best match — corruption, not degradation.
    *
    * `idsFrom`: a caller that already materialized the batch's DISTINCT
    * ids (e.g. [[ingestCycle]]'s checkpointed verdicts) passes them here
    * and skips a re-scan + distinct of the batch. (When a tombstone HIT
    * forces the heal path, ids are re-derived from the checkpointed batch
    * instead — identical for conforming callers, and it keeps the manifest
    * and data writes provably in agreement; see
    * [[TombstoneHeal.resolve]].) `docsHint` (batch doc
    * count, when the caller knows it): a small append's banding relation
    * is written by ONE task (`coalesce(1)` — still at most one file per
    * touched bucket, which is all `repartition(__bkt)` achieves) instead
    * of paying a 64-way shuffle whose every task writes a near-empty
    * file; large appends keep the shuffle for write parallelism.
    *
    * `sketches`: the batch's [[Sketches]] (expert plumbing, like
    * `idsFrom` — [[ingestCycle]] stages them once and reuses them here,
    * sparing the append its own tokenize + sketch passes over the batch).
    * Row-set equality with `batch` is the caller's contract; they stay
    * valid across the heal path because the heal's checkpoint preserves
    * the batch's row set. Without them the append derives both from one
    * lazy [[sketchesOf]]: each relation is read once, by its write.
    *
    * RE-INGEST of a tombstoned id ([[deleteFromMinhashIndex]]'s contract):
    * when the generation carries live tombstones, the batch's ids are
    * semi-joined against them first (zero cost on the tombstone-free fast
    * path — one driver-side existence check). A hit means a deleted
    * document is coming back (the reference's cleanup→re-crawl cycle), so
    * the forced physical compaction the live tombstones had ALREADY
    * scheduled is run inline — purging the old rows and clearing the
    * tombstones — and the append lands in the fresh generation. Without
    * the purge the anti-join would hide the new rows, and clearing the
    * tombstone alone would resurface the OLD rows beside them (duplicate
    * shingles corrupt every future Jaccard the id participates in). Cost:
    * O(batch) always; plus the index rewrite that was already owed, only
    * in the rare re-ingest-under-tombstone event. */
  def appendToMinhashIndex(
      batch: DataFrame, path: String, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      idsFrom: Option[DataFrame] = None, docsHint: Long = -1L,
      sketches: Option[Sketches] = None): Unit = {
    val spark = batch.sparkSession
    val cur = graft.store.Generations.requireCommitted(spark, path)
    requireSketch(genSketch(spark, cur.toString), shingleN, numHashes, bands,
      "appendToMinhashIndex")
    // set rows never land beside row-per-shingle rows: an old-layout
    // generation is rewritten in the set layout first ([[shingleSets]])
    if (rowPerShingle(Partitions.read(spark, s"$cur/shingles"))) compactMinhashIndex(spark, path)
    val gen0 = graft.store.Generations.requireCommitted(spark, path)
    // .distinct() on idsFrom too: callers pass verdict rows (one per batch
    // row by contract), but a batch that violates ids-uniqueness would
    // otherwise write duplicate manifest entries that inflate every future
    // replay guard's id relation — survivor sets are small, the distinct
    // is cheap insurance
    val ids0 = idsFrom.map(_.toDF("id").distinct())
      .getOrElse(batch.select(col(idCol).as("id")).distinct())
    // the heal check, the manifest write, and the data writes must not
    // disagree on the batch's ids — [[TombstoneHeal.resolve]] decides what
    // each write derives from (and what to checkpoint) per tombstone state
    val (src, ids, pinned) = TombstoneHeal.resolve(batch, ids0, idCol,
      graft.store.Tombstones.of(spark, gen0.toString))(
      () => compactMinhashIndex(spark, path)) // forced by live tombstones: purge + clear
    // re-resolve: the inline compaction (if any) committed a new generation
    val gen = graft.store.Generations.requireCommitted(spark, path)
    try {
      // manifest FIRST and ALONE (the ordering rationale above is
      // load-bearing); the two DATA writes after it have symmetric soft
      // failure modes and disjoint output dirs, so they run concurrently
      // (guide §2.6) — each is a small job whose tail previously left the
      // cluster idle while the other waited
      graft.Phase(spark, "append.ids")(ids.coalesce(1)
        .write.mode("append").parquet(s"$gen/ids"))
      // created on THIS thread — the Par thunks below only consume it
      // (Par's no-Scratch-inside-thunks contract)
      val sk = sketches.getOrElse(
        sketchesOf(src, idCol, textCol, shingleN, numHashes, bands))
      val banded = sk.bands
        .withColumn("__bkt",
          bandBucket(col("bandkey"), genBandBuckets(spark, gen.toString)))
      // repartition(1), NOT coalesce(1): coalesce collapses the UPSTREAM
      // tokenize+sketch stage to one core (measured q71 6.3 → 10.1 s);
      // repartition keeps the compute 32-way and funnels only the tiny
      // banding relation through one writer task. Large appends shuffle by
      // __bkt instead — parallel writers, files clustered by bucket.
      val laid =
        if (docsHint >= 0 && docsHint <= SmallAppendDocs) banded.repartition(1)
        else banded.repartition(col("__bkt"))
      graft.Par.run(
        () => graft.Phase(spark, "append.bands")(
          // FLAT delta write, __bkt as a data column — see [[bandsOf]] for
          // why appends never write through the partitioned tree
          laid.write.mode("append").parquet(s"$gen/bands_delta")),
        () => graft.Phase(spark, "append.shingles")(
          sk.shingles.write.mode("append").parquet(s"$gen/shingles")))
    } finally pinned.foreach(Bridge.unpersistCheckpoint)
  }

  /** Batch-size cutoff below which an append's banding relation skips the
    * bucket shuffle ([[appendToMinhashIndex]]'s `docsHint`): 64k docs ×
    * `bands` band keys is a few tens of MB — one write task handles it,
    * and the resulting layout (≤1 file per touched bucket) is identical. */
  val SmallAppendDocs = 65536L

  /** Incremental near-dup dedup: annotate each document of a NEW batch with
    * its best near-dup match in an already-indexed corpus. Returns one row
    * per batch document: (id, is_dup, dup_of, jaccard) where `dup_of` is
    * the corpus document with the highest verified Jaccard (ties broken by
    * min corpus id), null when no corpus match reaches `threshold`.
    *
    * Contract: batch ids and corpus ids are globally distinct (batch rows
    * are new documents). Batch-internal duplicates are a separate concern —
    * run [[minhashDedupPairs]]/[[exactDedup]] within the batch first.
    *
    * Scale shape: the batch is assumed ≪ corpus, so the batch's banding
    * relation BROADCASTS against the corpus index — candidate generation is
    * a map-side probe of the index scan, no shuffle of corpus data; the
    * verify join then touches only candidate documents' shingle sets (the
    * index's sets are semi-joined down to the candidate ids first). Cost
    * per ingest is ∝ batch size + candidate fan-out, independent of corpus
    * size beyond the one linear index scan. */
  def dedupAgainstIndex(
      batch: DataFrame, idx: MinhashIndex, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame =
      graft.Phase(batch.sparkSession, "index.probe") {
    requireSketch(idx.sketch, shingleN, numHashes, bands, "dedupAgainstIndex")
    // only the banding is checkpointed — the candidate probe and the guard
    // both read it; the verify join reads the batch shingles once
    val sk = sketchesOf(batch, idCol, textCol, shingleN, numHashes, bands)
    val bBands = sk.bands.scratchCheckpoint()
    verdictsFromCandidates(batch,
      bandCandidatesFrom(bBands, idx, maxCandidatePairs),
      idx, idCol, threshold, sk.shingles)
  }

  /** Candidate (batch id, corpus id) pairs from the banded broadcast probe —
    * [[dedupAgainstIndex]]'s first stage, split out so [[ingestCycle]] can
    * count candidates for its ledger row without running banding twice.
    *
    * Against a [[writeMinhashIndex]] layout the index side carries the
    * `__bkt` partition column: the batch's bucket set (≤ [[BandBuckets]]
    * small ints — a deliberate capped driver-side collect, same exception
    * as Ann's probe lists) is applied as a literal filter BEFORE the join,
    * so the scan partition-prunes to the batch's buckets instead of
    * reading the whole bands relation per batch. Any bandkey equal across
    * the join hashes to the same bucket, so the filter can never drop a
    * true candidate. In-memory indexes (no `__bkt`) skip the prune.
    *
    * The batch side bounds one join input, but a HOT index band key (a
    * duplicate-heavy corpus slice that was never exact-deduped, or one
    * boilerplate band shared corpus-wide) still multiplies every batch
    * document that shares it: fan-out is Σ_key |batch_k|·|index_k|,
    * corpus-dependent, so it is MEASURED before the join and the probe
    * refuses past `maxCandidatePairs` with sizing guidance instead of
    * running a silent hot-bucket N² job inside an ingest loop. The
    * measurement is tiered ([[guardJoinFanout]]): two column-pruned
    * counts bound the fan-out for free, and only a probe whose
    * |batch bands|·|index bands| product could exceed the cap pays the
    * exact histogram pass (probe cost only; append tiers untouched). */
  /** Candidate pairs given the batch's ALREADY-CHECKPOINTED banding
    * relation — [[ingestCycle]] and [[dedupAgainstIndex]] stage the batch
    * sketch ONCE and reuse it for candidate generation AND the survivor
    * append (the append previously re-tokenized + re-sketched the whole
    * batch, the single largest job of a measured ingest cycle). */
  private def bandCandidatesFrom(
      bBands: DataFrame, idx: MinhashIndex,
      maxCandidatePairs: Long): DataFrame = {
    val (idxBands, batchRows) =
      if (!idx.bands.columns.contains("__bkt"))
        // an IN-MEMORY index ([[dedupAgainstCorpus]]' one-shot small-corpus
        // route, by contract): its bands relation is a lazy sketch
        // projection, so the guard's count and the candidate join would
        // each re-sketch the corpus — checkpoint it once. The persisted
        // layout (the 100 TB path) stays scan-based: its count is a
        // pruned parquet job, and checkpointing a corpus-scale relation
        // is exactly what the bucketed on-disk layout exists to avoid.
        (idx.bands.scratchCheckpoint(), None)
      else {
        // the prune's modulus is the INDEX's recorded count, so it always
        // matches the layout being scanned, whatever count it was written
        // at. ONE aggregate job yields the batch's bucket set AND its band
        // row count — the guard's free tier previously paid a separate
        // count() scan of the same checkpointed relation per probe (guide
        // §1.2: two jobs' worth of information from one).
        val perBucket = bBands
          .groupBy(bandBucket(col("bandkey"), idx.bandBuckets).as("b"))
          .agg(count(lit(1)).as("c"))
          .collect()
        val bkts = perBucket.map(_.getInt(0)).toSeq
        (idx.bands.filter(col("__bkt").isin(bkts: _*)).drop("__bkt"),
          Some(perBucket.map(_.getLong(1)).sum))
      }
    guardJoinFanout(bBands, idxBands, "bandkey", maxCandidatePairs,
      "dedupAgainstIndex",
      "exactDedup the corpus before indexing and the batch before probing " +
        "(identical documents share every band key), compact the index, or " +
        "raise numHashes/bands rows per band at the next rebuild",
      rightBound = idx.bandsRowBound, leftCount = batchRows)
    broadcast(bBands.as("x")).join(idxBands.as("y"), Seq("bandkey"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
  }

  /** Verify + best-match + left-join back to the batch — the tail of
    * [[dedupAgainstIndex]] given an already-built candidate relation and
    * the batch's shingle relation ([[Sketches.shingles]]). */
  private def verdictsFromCandidates(
      batch: DataFrame, cands: DataFrame, idx: MinhashIndex,
      idCol: String, threshold: Double, batchSh: DataFrame): DataFrame = {
    // a candidate pair is (batch id, index id), so each side's sets come
    // from its own relation. The batch is small by contract: its sets
    // broadcast, as its bands did for the candidate join. The index's sets
    // are semi-joined down to the candidate ids first — the id list
    // broadcasts, so the corpus-scale scan is filtered map-side and never
    // shuffled, and only candidate documents' sets reach the pair join
    val idxSets = idx.shingles.join(
      broadcast(cands.select(col("id_b").as("id"))), Seq("id"), "left_semi")
    val verified = verifyJaccard(cands, broadcast(batchSh), idxSets, threshold)
    val w = Window.partitionBy(col("id_a")).orderBy(col("jaccard").desc, col("id_b").asc)
    val best = verified.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id_a").as("id"), col("id_b").as("dup_of"), col("jaccard"))
    batch.select(col(idCol).as("id")).join(best, Seq("id"), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
      .select("id", "is_dup", "dup_of", "jaccard")
  }

  /** One ledger row per ingest batch — the §2.8 stats contract extended to
    * the ingest loop. `bandsFiles` (max per-bucket) / `shinglesFiles` (flat
    * dir) are the persisted index's data-file counts AFTER the append: each
    * batch adds roughly one file per touched bands bucket and one part-file
    * set to shingles, so they are the [[compactMinhashIndex]] trigger
    * signal (compact when they exceed your file budget). */
  final case class IngestStats(
      batchRows: Long, candidatePairs: Long, dups: Long, appendedRows: Long,
      bandsFiles: Int, shinglesFiles: Int)

  /** The full incremental-dedup ingest cycle against a persisted index,
    * with its ledger row: read index → dedup the batch → append SURVIVORS
    * ([[appendToMinhashIndex]]) → report stats. Returns the per-document
    * verdicts (same shape as [[dedupAgainstIndex]]) plus [[IngestStats]].
    * The verdicts are localCheckpointed — they gate the append, so they are
    * materialized exactly once and the returned frame never re-runs the
    * probe. Cost ∝ batch size + candidate fan-out (one linear index scan),
    * the incremental shape q71 oracle-gates. */
  def ingestCycle(
      batch: DataFrame, path: String, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 12,
      bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs,
      sketches: Option[Sketches] = None): (DataFrame, IngestStats) =
      graft.Phase(batch.sparkSession, "ingest.cycle")(Scratch.scoped {
    // the cycle's OWN scope: every internal scratch checkpoint (band keys
    // inside bandCandidates, the candidate relation, the verify join's
    // pruned shingles, the heal path's frames) is released when the cycle
    // returns — a sustained ingest loop accumulates nothing, scoped caller
    // or not. Only the returned verdicts escape, to the CALLER's scope
    // (the streaming sinks free them per batch; a bare batch caller
    // manages them like any checkpoint it is handed).
    val spark = batch.sparkSession
    val idx = graft.Phase(spark, "ingest.readIndex")(readMinhashIndex(spark, path))
    requireSketch(idx.sketch, shingleN, numHashes, bands, "ingestCycle")
    // the batch's [[Sketches]] are staged ONCE per cycle: the banding feeds
    // candidate generation AND the survivor append, the shingles feed the
    // verify join AND the survivor append, so neither re-tokenizes the
    // batch (a re-sketch in the append was once the cycle's largest job).
    // Both frames are cycle-scoped scratch — unless the CALLER already
    // staged them (`sketches`: the curation batch derives them from its
    // within-batch dedup's relations and the cycle skips both passes).
    val sk = sketches.getOrElse {
      val unstaged = graft.Phase(spark, "ingest.batchToks")(
        sketchesOf(batch, idCol, textCol, shingleN, numHashes, bands))
      graft.Phase(spark, "ingest.batchSketch")(unstaged.staged)
    }
    // the ledger's counts ride on the checkpoints that materialize the
    // frames anyway (`observe`: the localCheckpoint action completes the
    // Observation), so no count job re-reads them
    val candObs, verdictObs = new org.apache.spark.sql.Observation()
    val cands = graft.Phase(spark, "ingest.bandCandidates")(
      bandCandidatesFrom(sk.bands, idx, maxCandidatePairs)
      .observe(candObs, count(lit(1)).as("n"))
      .scratchCheckpoint())
    val verdicts = graft.Phase(spark, "ingest.verdicts")(
      Scratch.checkpointEscaping(verdictsFromCandidates(
        batch, cands, idx, idCol, threshold, sk.shingles)
        .observe(verdictObs, count(lit(1)).as("n"), count(when(col("is_dup"), 1)).as("d"))))
    val candidatePairs = candObs.get("n").asInstanceOf[Long]
    val (total, dups) = (verdictObs.get("n").asInstanceOf[Long],
      verdictObs.get("d").asInstanceOf[Long])
    val survivorIds = verdicts.filter(!col("is_dup")).select(col("id"))
    val survivors = batch.join(
      survivorIds.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    // the survivor ids already sit in the checkpointed verdicts — hand them
    // to the append (skips a batch re-scan + distinct for the manifest) along
    // with the known survivor count (lets a small append skip the bucket
    // shuffle) — the q71/q73 fixed-job-overhead trim. The staged sketches,
    // semi-joined down to survivors, spare the append its own tokenize +
    // sketch passes over the batch.
    graft.Phase(spark, "ingest.append")(
      appendToMinhashIndex(survivors, path, idCol, textCol, shingleN, numHashes, bands,
        idsFrom = Some(survivorIds),
        docsHint = total - dups,
        sketches = Some(Sketches(
          sk.bands.join(survivorIds, Seq("id"), "left_semi"),
          sk.shingles.join(survivorIds, Seq("id"), "left_semi")))))
    val (bandsFiles, shinglesFiles) = graft.Phase(spark, "ingest.fileCounts")(
      minhashFileCounts(spark, path))
    (verdicts, IngestStats(
      batchRows = total, candidatePairs = candidatePairs, dups = dups,
      appendedRows = total - dups,
      bandsFiles = bandsFiles, shinglesFiles = shinglesFiles))
  })

  /** Compact a persisted MinHash index — the maintenance pass for
    * sustained [[appendToMinhashIndex]] ingest (one part-file set per
    * batch forever, the small-files failure the reference's Postgres heap
    * absorbs invisibly). READER-ATOMIC: the compacted relations are
    * written as a NEW committed generation (both relations are
    * unpartitioned, so compaction is a whole-index rewrite either way —
    * the generation swap costs nothing extra), then superseded
    * generations are vacuumed (`keep ≥ 2` protects an in-flight reader).
    * Concurrent probes keep resolving the old generation until the commit
    * marker lands. Cost is one linear read + write of the index (narrow
    * id+string rows, a fraction of corpus text size); trigger it from
    * [[IngestStats]] file counts, not per batch. Result-identical — q73
    * oracle-gates an ingest run with a compaction after each append;
    * CompactSpec asserts rows and the file-count drop. Live tombstones and
    * the row-per-shingle shingles layout ([[shingleSets]]) force the
    * rewrite whatever the file counts. Returns 1 if a new generation was
    * written, 0 if the index was under the threshold. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String, keep: Int = 2,
      maxFileBytes: Long = graft.store.Compact.DefaultMaxFileBytes,
      targetBuckets: Int = 0): Int = graft.Phase(spark, "index.compact") {
    import graft.store.Compact
    val gen = graft.store.Generations.requireCommitted(spark, path)
    val (bandsFiles, shinglesFiles) = minhashFileCounts(spark, path)
    // targetBuckets > 0 re-buckets the bands layout to that count — the
    // LIVE MIGRATION path for a corpus whose per-bucket bytes (the probe's
    // scan unit) outgrew the current count. Same reader-atomic generation
    // swap as a plain compaction; the new generation records its count and
    // every probe/append follows it. 0 keeps the recorded count.
    val curBuckets = genBandBuckets(spark, gen.toString)
    // each relation sizes from its bytes by Compact's one rule (files come
    // out ≈ maxFileBytes and the write keeps one task per output file — a
    // fixed small target would cap the whole rewrite stage's parallelism,
    // see Compact's scaladoc). Bands sizing is PER BUCKET: the layout's
    // bytes spread over the TARGET count's dirs, and writeMinhashIndex
    // salts the bucket shuffle when one bucket's share exceeds a healthy
    // file.
    val bandsPath = new org.apache.hadoop.fs.Path(s"$gen/bands")
    val bandsFs = Partitions.fs(spark, bandsPath)
    val deltaPath = new org.apache.hadoop.fs.Path(s"$gen/bands_delta")
    // the rewrite reads base ∪ delta ([[bandsOf]] via readMinhashIndex),
    // so the sizing/ hint bytes must cover both tiers
    val bandsBytes = bandsFs.getContentSummary(bandsPath).getLength +
      (if (bandsFs.exists(deltaPath)) bandsFs.getContentSummary(deltaPath).getLength else 0L)
    // SCALE-ADAPTIVE bucket count (guide §2: partitioning derived from
    // input size, not a constant tuned for one scale): when a rewrite is
    // happening anyway, the new layout's modulus sizes each bucket to ≈
    // one healthy file — a small index collapses to few partition dirs
    // (each `__bkt=` dir costs writer + commit overhead per rewrite AND
    // an open per probe — dir count is the partitioned write's cost
    // driver, docs/SCALE.md "Retired probes"), a corpus-scale index keeps the recorded
    // count (the clamp: auto never grows the modulus — outgrowing it is
    // the explicit `targetBuckets` migration path). The no-op trigger
    // below deliberately ignores the auto count: an under-threshold index
    // is never rewritten JUST to shrink its bucket count.
    val autoBuckets = math.min(curBuckets, Compact.resolveTarget(bandsBytes, maxFileBytes))
    val newBuckets = if (targetBuckets > 0) targetBuckets else autoBuckets
    val filesPerBucket = Compact.resolveTarget(bandsBytes / newBuckets, maxFileBytes)
    val shinglesTarget = Compact.resolveTarget(
      Compact.dataSizeBytes(spark, s"$gen/shingles"), maxFileBytes)
    // pending tombstones force the rewrite regardless of file thresholds:
    // "the next compaction drops deleted rows physically" is the deletion
    // tier's contract, and the filtered read below is what enforces it
    val hasTombstones = graft.store.Tombstones.of(spark, gen.toString).isDefined
    // so does the row-per-shingle layout: the rewrite reads it as sets
    // ([[shingleSets]]), so the next generation is in the set layout
    val oldLayout = rowPerShingle(Partitions.read(spark, s"$gen/shingles"))
    // the no-op comparison uses the RECORDED count (`targetBuckets == 0`
    // keeps the layout "as is" for trigger purposes): only an explicit
    // migration target forces a rewrite by itself
    if (!hasTombstones && !oldLayout && (targetBuckets == 0 || targetBuckets == curBuckets) &&
        bandsFiles <= filesPerBucket && shinglesFiles <= shinglesTarget) 0
    else {
      val idx = readMinhashIndex(spark, path)
      // compaction never changes the id set — carry the manifest over
      // (coalesced from its accumulated append files) instead of paying a
      // fresh distinct over the whole bands relation
      val idsTarget = Compact.resolveTarget(
        Compact.dataSizeBytes(spark, s"$gen/ids"), maxFileBytes)
      writeMinhashIndex(MinhashIndex(
        idx.bands, idx.shingles.coalesce(shinglesTarget), newBuckets), path, filesPerBucket,
        idsFrom = Some(minhashIndexIds(spark, path).coalesce(idsTarget)),
        bandsBytesHint = bandsBytes, maxFileBytes = maxFileBytes)
      graft.store.Generations.vacuum(spark, path, keep)
      1
    }
  }

  /** [[dedupAgainstIndex]] with the index built inline from `corpus` —
    * the one-shot form for corpora not worth persisting an index for. */
  def dedupAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    // the corpus is SMALL by this form's contract ("not worth persisting an
    // index for"), so both in-memory index relations derive from one token
    // checkpoint — the lazy buildMinhashIndex form tokenized the corpus
    // twice (bands checkpoint + verify-join shingles). The corpus-scale
    // path (writeMinhashIndex) deliberately keeps the lazy relations
    // instead: a corpus-wide token checkpoint is a cluster-sized extra
    // copy, worse than the second tokenize pass it would save.
    val sk = sketchesOf(corpus, idCol, textCol, shingleN, numHashes, bands)
    dedupAgainstIndex(batch,
      MinhashIndex(sk.bands, sk.shingles, sketch = Some((shingleN, numHashes, bands))),
      idCol, textCol, threshold, shingleN, numHashes, bands, maxCandidatePairs)
  }

  /** Score candidate (id_a, id_b) pairs by the Jaccard of their stored
    * shingle sets — `id_a`'s from `shA`, `id_b`'s from `shB` — and keep
    * those at or above `threshold` (6-dp rounded).
    *
    * Verify by id: each pair joins its two sets on `id_a` and `id_b`, and
    * one codegen'd `array_intersect` counts the overlap; the inner joins
    * keep only candidate documents' sets. The exploded form this replaces
    * semi-joined a row-per-shingle relation down to the candidates,
    * checkpointed it, and needed a per-id sizes aggregate, an (id_b, s)
    * join, an intersection groupBy and two joins back to the sizes. A
    * 1,200-document ingest cycle's verify fell from 14 jobs / 0.83 s to
    * 7 / 0.2 s, and [[minhashDedupPairs]] over 320 k documents (4 cores)
    * from 64–67 s to 32 s (docs/SCALE.md "Measured scaling").
    *
    * A pair is kept only when its sets share a shingle (`inter >= 1`),
    * the only pairs the join-based count could ever emit. The guard also
    * keeps null sets (null text) out: two such documents share every
    * MinHash band key, and their score would otherwise be null or, where
    * `size(null)` is −1 (ANSI mode off), a spurious 1.0. */
  private def verifyJaccard(cands: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(shA.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(col("sa")).as("n_a"), size(col("sb")).as("n_b"))
      .filter(col("inter") >= 1)
      .withColumn("jaccard", jaccard6(col("inter"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Jaccard from an intersection count and the two set sizes, rounded to
    * 6 dp: every `>= threshold` decision compares this score, so boundary
    * pairs decide identically across engines and across the verify,
    * inverted and dense routes. */
  private def jaccard6(inter: Column, nA: Column, nB: Column): Column =
    round(inter.cast("double") / (nA + nB - inter).cast("double"), 6)

  /** All-pairs n-gram Jaccard ≥ threshold, exact, via an inverted-index
    * join with a **length filter**: one row per (doc, shingle), self-joined
    * on the shingle with `t·max(|A|,|B|) ≤ min(|A|,|B|)` enforced IN the
    * join condition (J(A,B) ≥ t forces it, so no false negatives), then a
    * single groupBy counting the intersection — exactly one wide shuffle of
    * narrow (id_a, id_b) rows, no per-pair array re-materialization.
    *
    * Scale: the join fan-out is Σ_s df(s)² over the shingle vocabulary.
    * With a realistic vocabulary this is near-linear; for low-diversity
    * corpora cap the damage by raising `shingleN` (bigger n ⇒ rarer
    * shingles) — a PPJoin prefix filter does NOT help there because at
    * threshold t every prefix is (1−t) of the document and tiny vocabularies
    * make everything collide anyway (measured: prefix filtering left 7.9M of
    * 12.5M possible pairs on the synthetic corpus while doubling the joins).
    *
    * The dense-vs-inverted route is decided by a vocabulary probe —
    * `distinct().limit(bits+1)` over the shingle relation — which shuffles
    * the whole shingle vocabulary before the limit applies. At audit scale
    * (this operator's contract, docs/SCALE.md) that is noise; corpus-scale
    * near-dup work routes to [[minhashDedupPairs]]. `denseVocabBits = 0`
    * routes every non-empty corpus inverted. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double,
      denseVocabBits: Int = DenseVocabBits,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    // ONE corpus scan materializes the exploded shingle relation — RAW
    // (id, shingle) rows, duplicates included: the dense path's bit_or is
    // idempotent and derives set sizes from the bitmap popcount, so only
    // the inverted path pays the per-doc-distinct shuffle (it counts
    // intersections row-by-row and would overcount duplicates).
    // `s` is the shingle's xxhash64, not the string — the [[shingleRows]]
    // narrower-type trade, identical rationale: every consumer (vocab
    // distinct, inverted equi-join, dense vocab join) compares shingles
    // for equality only, so 8-byte longs flow through the checkpoint, the
    // probe's distinct shuffle, and both routes' joins.
    val sh = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .repartition(col("id"))
      .select(col("id"), explode(rawNgrams(col("__toks"), shingleN)).as("__sraw"))
      .select(col("id"), xxhash64(col("__sraw")).as("s"))
      .scratchCheckpoint()
    // Size probe AND dense vocab in one pass: distinct().limit(bits + 1)
    // stops the limit at denseVocabBits + 1 rows, so a big vocabulary
    // collects at most bits+1 hashes (route decision), a small one
    // collects exactly the vocab the dense path needs — the former
    // count_distinct + second distinct scan paid two aggregate passes
    // over the shingle relation for the same information. No global sort,
    // no id assignment: at corpus scale the vocabulary is billions of
    // shingles, and dense ids exist only below, where vocab fits bits.
    val probe = sh.select("s").distinct().limit(denseVocabBits + 1)
      .collect().map(_.getLong(0))
    if (probe.isEmpty) {
      // no shingles at all (empty corpus / all-empty docs) -> no pairs; the
      // dense path would otherwise build a zero-word bitmap (empty reduce)
      sh.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("jaccard")).limit(0)
    } else if (probe.length <= denseVocabBits) {
      val spark = sh.sparkSession
      import spark.implicits._
      val vocab = probe.sorted.zipWithIndex.toSeq.toDF("s", "v")
      ngramJaccardDense(sh, vocab, threshold, probe.length, maxCandidatePairs)
    } else ngramJaccardInverted(sh.distinct(), threshold, maxCandidatePairs)
  }

  /** Vocabulary-size cutoff for the dense bitmap strategy (16 longs/doc). */
  val DenseVocabBits = 1024

  /** Docs cutoff for the dense bitmap strategy: the per-doc bitmap relation
    * is BROADCAST to the block join's build side — that is what keeps the
    * all-pairs enumeration entirely map-side (shuffling the block-replicated
    * probe side instead would materialize ~n·blocks/2 rows) — so it must fit
    * comfortably in every executor: ~150 B/doc x 2M ≈ 300 MB. The vocabulary
    * gate alone does not bound rows (a huge low-diversity corpus still
    * routes dense); past this cutoff the inverted path takes over — possibly
    * slower on a tiny vocabulary, but it degrades by shuffling instead of
    * failing on the broadcast ceiling. */
  val DenseMaxDocs = 2000000L

  /** General path: inverted-index self-join on the shingle with the length
    * filter in the join condition, one groupBy counting intersections.
    * Join fan-out is Σ_s df(s)² — near-linear for realistic vocabularies,
    * but CORPUS-dependent exactly like a band key's: a boilerplate shingle
    * present in every similar-length document makes one shingle key emit
    * nC2 rows (the length filter cannot save same-length piles), so this
    * keyed candidate join MEASURES its fan-out like every banded sibling —
    * Σ nC2 over shingle keys is the join's pre-length-filter emit count,
    * an upper bound, which is all the guard needs. The distinct shingle
    * relation is checkpointed first so the guard's aggregate (and the two
    * join sides) read materialized blocks instead of re-running the
    * distinct's shuffle per consumer; tiered via [[guardSelfJoinFanout]]
    * so small corpora pay a count, not the histogram. */
  private def ngramJaccardInverted(sh0: DataFrame, threshold: Double,
      maxCandidatePairs: Long): DataFrame = {
    val sh = sh0.scratchCheckpoint()
    guardSelfJoinFanout(sh, "s", maxCandidatePairs, "ngramJaccardPairs(inverted)",
      "raise shingleN (bigger n ⇒ rarer shingles), drop boilerplate " +
        "documents first, or run " +
        "exactDedup — a shingle shared by every same-length document emits " +
        "nC2 rows from one key")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inv = sh.join(broadcast(sizes), Seq("id"))
    // the length filter uses the dense path's RELAXED t: the contract
    // compares the 6-dp-ROUNDED jaccard, so a boundary pair whose raw J
    // rounds up across t must survive the join for the exact post-filter
    // to see it — an unrelaxed filter here made the two routes disagree at
    // the boundary, breaking their documented result-identity
    val tr = threshold - 1e-6
    inv.as("x").join(inv.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id") &&
        col("x.n") >= col("y.n") * tr && col("y.n") >= col("x.n") * tr)
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", jaccard6(col("inter"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Low-diversity path: when the shingle vocabulary fits `DenseVocabBits`
    * bits, encode each document's shingle set as an array of longs (bit v
    * set ⇔ vocab item v present) and evaluate ALL length-compatible pairs
    * with AND+popcount in a broadcast nested-loop — no wide shuffle, no
    * Σ_s df(s)² blow-up (which IS quadratic on tiny vocabularies where every
    * inverted list is a constant fraction of the corpus). Cost is
    * n²·(bits/64) map-only work; exact same output as the inverted path.
    *
    * The all-pairs loop is expressed as EQUI-joins through a (block, block)
    * pairs relation — docs are bucketed into `PairBlocks` blocks and each
    * unordered block pair is enumerated once — because BroadcastHashJoin
    * participates in whole-stage codegen while a broadcast nested-loop join
    * evaluates its condition interpreted (measured 2× slower end-to-end). */
  private def ngramJaccardDense(sh: DataFrame, vocab: DataFrame, threshold: Double,
      vocabSize: Int, maxCandidatePairs: Long): DataFrame = {
    // the docs gate runs BEFORE the bitmap relation exists: the old
    // post-build check paid the full dense aggregation (and leaked its
    // checkpoint blocks outside any Scratch scope) only to discard the
    // result on an over-limit corpus. One narrow distinct-count over the
    // already-checkpointed shingle relation, and the count is needed on
    // the happy path anyway (it sizes the block grid below).
    val nDocs = sh.select("id").distinct().count()
    if (nDocs > DenseMaxDocs) // see DenseMaxDocs: the bitmap relation must broadcast
      return ngramJaccardInverted(sh.distinct(), threshold, maxCandidatePairs)
    val words = (vocabSize + 63) / 64
    val bitAggs = (0 until words).map { w =>
      expr(s"bit_or(if(v div 64 = $w, shiftleft(cast(1 as bigint), cast(v % 64 as int)), 0L))").as(s"w$w")
    }
    // one tiny row per doc (n + `words` longs); localCheckpoint so the two
    // join sides don't each re-scan + re-aggregate the corpus. `sh` may
    // carry duplicate (id, s) rows — bit_or is idempotent, and the DISTINCT
    // set size comes from the bitmap's own popcount, which is what lets the
    // caller skip the corpus-wide distinct shuffle on this path.
    val nCol = (0 until words).map(w => bit_count(col(s"w$w")).cast("long")).reduce(_ + _)
    val unblocked = sh.join(broadcast(vocab), Seq("s"))
      .groupBy("id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("n", nCol)
      .scratchCheckpoint()
    // Block count scales with the corpus: total pair work is ~n²/2 no matter
    // the blocking, but blocks bound rows-per-task (≈ n/blocks per side) so
    // per-task compare count stays ~PairBlockRows² and parallelism grows
    // with n instead of being pinned at 16 tasks.
    val blocks = math.max(PairBlocks, math.ceil(nDocs.toDouble / PairBlockRows).toInt)
    val vecs = unblocked.withColumn("b", pmod(hash(col("id")), lit(blocks)))
    val spark = vecs.sparkSession
    val blockPairs = spark.range(blocks.toLong * blocks)
      .select((col("id") / blocks).cast("int").as("b1"),
        pmod(col("id"), lit(blocks)).cast("int").as("b2"))
      .filter(col("b1") <= col("b2"))
    // flat bit_count chain — stays inside whole-stage codegen, unlike a
    // zip_with/aggregate lambda which is interpreted per pair
    val interCol = (0 until words).map { w =>
      bit_count(col(s"x.w$w").bitwiseAND(col(s"y.w$w"))).cast("long")
    }.reduce(_ + _)
    val jaccardCol = jaccard6(interCol, col("x.n"), col("y.n"))
    // The hot-loop threshold is the INTEGER-relaxed form: J = I/(n_a+n_b−I)
    // ≥ t ⟺ I·(1+t) ≥ t·(n_a+n_b), evaluated with ONE pass over the
    // popcount chain and no division/round per pair (jaccardCol references
    // interCol twice and codegen does not CSE join conditions — the exact
    // form doubled the per-pair bit_count work, the dominant dense-path
    // cost). t is relaxed by 1e-6 because the CONTRACT compares the
    // 6-dp-rounded jaccard: a pair whose raw J rounds UP across t (J ≥
    // t − 5e-7) must survive the join for the exact post-filter to see it.
    // The length filter uses the same relaxed t for the same reason.
    val tr = threshold - 1e-6
    // cross-block pairs appear once by construction; same-block pairs are
    // ordered by id. Output ids are normalized with least/greatest.
    // The (relaxed) threshold sits IN the join condition: the hash join
    // emits only near-matches instead of materializing every candidate
    // pair's row for a downstream filter (n² candidates, ~n survivors);
    // the exact 6-dp filter then runs over survivors only.
    vecs.as("x").join(broadcast(blockPairs), col("x.b") === col("b1"))
      .join(broadcast(vecs.as("y")),
        col("y.b") === col("b2") &&
        (col("b1") < col("b2") || col("x.id") < col("y.id")) &&
        col("x.n") >= col("y.n") * tr && col("y.n") >= col("x.n") * tr &&
        interCol.cast("double") * (1.0 + tr) >= (col("x.n") + col("y.n")).cast("double") * tr)
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"),
        jaccardCol.as("jaccard"))
      // materialize the ~n survivors BEFORE the exact filter: without the
      // barrier Catalyst pushes `jaccard >= t` back into the join condition,
      // re-evaluating the popcount chain two more times per CANDIDATE pair
      // (measured 4.8 → 7.1 s — worse than the exact-in-join form it was
      // meant to replace)
      .scratchCheckpoint()
      .filter(col("jaccard") >= threshold)
  }

  /** Minimum block count for the dense all-pairs equi-join plan. */
  val PairBlocks = 16

  /** Target rows per block on the dense path — bounds per-task compare work
    * at ~PairBlockRows² ≈ 16M popcount chains per block pair. */
  val PairBlockRows = 4096

  /** Connected components over near-dup pairs: assign every document in
    * `pairs` the MINIMUM doc id of its component — the cluster id and
    * canonical-representative choice in one. Min-label propagation: each
    * round every node takes the min of its own and its neighbors' labels;
    * converges in O(component diameter) rounds (near-dup clusters are
    * shallow — chains longer than `maxIter` hops would mean the threshold
    * is effectively zero). Each round is one equi-join + groupBy on ids —
    * no GraphX, no driver-side adjacency; the edge list is checkpointed
    * once and labels stay narrow (id, label).
    *
    * Checkpoint hygiene: every round supersedes the previous label table —
    * its storage blocks are unpersisted immediately (via
    * [[org.apache.spark.sql.graftx.Bridge.unpersistCheckpoint]]), so at most
    * TWO label generations are ever live regardless of iteration count.
    * Convergence is checked every `convEvery` rounds against the last
    * CHECKED generation (labels are monotone non-increasing, so equality
    * over k rounds ⇔ a fixed point after each of them) — halving the
    * action count vs a per-round check. */
  def clusterNearDups(pairs: DataFrame, maxIter: Int = 20, convEvery: Int = 2): DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .distinct().scratchCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .scratchCheckpoint()
    var lastChecked = labels
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("minNbr"))
      val next = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("minNbr"), col("label"))).as("label"))
        .scratchCheckpoint()
      if (labels ne lastChecked) Bridge.unpersistCheckpoint(labels)
      labels = next
      i += 1
      if (i % convEvery == 0 || i == maxIter) {
        converged = next
          .join(lastChecked.select(col("id"), col("label").as("old")), Seq("id"))
          .filter(col("label") =!= col("old")).isEmpty
        if (lastChecked ne next) Bridge.unpersistCheckpoint(lastChecked)
        lastChecked = next
      }
    }
    // labels is materialized (localCheckpoint is eager) — the edge list is
    // no longer needed by anything downstream
    Bridge.unpersistCheckpoint(edges)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** SimHash near-dup candidates: the native
    * [[graft.expressions.SimHashExpr]] fingerprint (bit j of the
    * md5-derived token hash votes ±1; sign of the vote sum is bit j) —
    * one codegen'd call per document, no explode/shuffle — banded into
    * `maxDist + 1` contiguous bit chunks, hamming-verified ≤ maxDist.
    * Zero-token docs get fingerprint 0.
    *
    * The chunk count is the pigeonhole bound: two fingerprints within
    * hamming d can differ in at most d chunks, so with d + 1 chunks they
    * SHARE at least one — the candidate set is COMPLETE for the verified
    * distance. (A fixed two-half banding only guarantees completeness for
    * d ≤ 1; at the old default maxDist = 2 roughly half of all hamming-2
    * pairs — one flipped bit in each half — were silently never returned.)
    * Selectivity trades off directly: more chunks means narrower keys and
    * bigger candidate sets, which is inherent to simhash banding — size
    * `bits`/`maxDist` accordingly. The default is the full 64-bit
    * fingerprint: at maxDist = 2 that is 3 chunks of ~21 bits ≈ 2M keys
    * per band, selective far past 10⁸ documents, where 16 bits (3 chunks
    * of ~5 bits ≈ 32 keys per band) saturates its keyspace around 10⁴
    * docs and the "banded" self-join is a cross join in disguise
    * (both measured in docs/SCALE.md "SimHash fan-out, measured (r13)").
    * A dup-heavy corpus piles into few keys at any width, so the join is
    * guarded and EAGER as [[bandedPairs]] describes; there is no
    * alternative route to degrade to, so over the cap it stops with
    * sizing guidance. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, maxDist: Int = 2,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame =
    // the hamming filter over the distinct's grouping column is pushed
    // through it into the join condition: only near pairs reach the distinct
    bandedPairs(simhashBanded(docs, idCol, textCol, bits, maxDist),
      maxCandidatePairs, "simhashPairs",
      s"raise bits (currently $bits; 64 is the max and the default), lower " +
        "maxDist, run exactDedup first if the corpus is duplicate-heavy",
      hammingDistance(col("x.fp"), col("y.fp")).as("hamming"))
      .filter(col("hamming") <= maxDist)

  /** The banding relation [[simhashPairs]] self-joins — one row per
    * (id, fp, bandkey), checkpointed. */
  private def simhashBanded(docs: DataFrame, idCol: String, textCol: String,
      bits: Int, maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in 1..64, got $bits")
    require(maxDist >= 0 && maxDist + 1 <= bits,
      s"maxDist ($maxDist) needs maxDist + 1 chunks out of $bits bits")
    val fp = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .repartition(col("id"))
      .select(col("id"),
        graft.expressions.HashExpressions.simhash64(col("__toks"), bits).as("fp"))
    val nb = maxDist + 1
    val bounds = (0 to nb).map(i => i * bits / nb)
    bandRows(fp, (0 until nb).map { b =>
      val lo = bounds(b); val width = bounds(b + 1) - lo
      // (1L << 64) wraps to 1L, so a single full-width chunk (bits = 64,
      // maxDist = 0) would mask every fingerprint to 0 — one constant band
      val mask = if (width >= 64) -1L else (1L << width) - 1
      shiftright(col("fp"), lo).bitwiseAND(lit(mask)).cast("string")
    }, col("fp")).scratchCheckpoint()
  }

  /** Candidate fan-out of a banding relation: Σ over band keys of nC2 —
    * EXACTLY the row count the banded self-join will emit (double: counts
    * past ~4B docs per key would overflow c², and the gate only needs
    * magnitude). One cheap aggregate over the already-materialized
    * banding. */
  final case class BandFanoutStats(candidatePairs: Double, maxBucket: Long, distinctBands: Long)

  /** [[BandFanoutStats]] of a SELF-join keyed on `keyCol` ([[bandedPairs]]'
    * `bandkey`, the inverted n-gram route's shingle). */
  private[graft] def bandFanoutStats(banded: DataFrame, keyCol: String): BandFanoutStats = {
    val r = banded.groupBy(keyCol)
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("double") * (col("c") - 1) / 2).as("pairs"),
        max(col("c")).as("maxc"), count(lit(1)).as("keys")).head
    BandFanoutStats(
      if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      r.getLong(2))
  }

  /** Candidate fan-out of a TWO-SIDED band join (probe relation × index
    * relation on `keyCol`): Σ over keys of |left_k|·|right_k| — exactly the
    * pre-distinct row count the join will emit. `maxBucket` is the hottest
    * key's pair count (not a doc count — a 1×10⁶ key and a 10³×10³ key are
    * the same hazard). Costs one aggregate scan per side; the left side is
    * expected to be the small, already-checkpointed probe relation. */
  private[graft] def joinFanoutStats(
      left: DataFrame, right: DataFrame, keyCol: String): BandFanoutStats = {
    val lc = left.groupBy(keyCol).agg(count(lit(1)).as("__lc"))
    val rc = right.groupBy(keyCol).agg(count(lit(1)).as("__rc"))
    val r = lc.join(rc, keyCol)
      .select((col("__lc").cast("double") * col("__rc")).as("p"))
      .agg(sum(col("p")).as("pairs"), max(col("p")).as("maxp"), count(lit(1)).as("keys")).head
    BandFanoutStats(
      if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0L else r.getDouble(1).toLong,
      r.getLong(2))
  }

  /** Two-sided guard with a free pre-check: |left|·|right| bounds the
    * worst-case key fan-out from above (every row on one key), so when
    * that product already clears the cap the exact histogram pass — an
    * extra scan of each side — is skipped entirely. Ingest-batch probes
    * and small query sets pay two column-pruned counts and nothing else
    * (measured: the unconditional histogram added ~0.6 s to every
    * sub-second lshTopK/probe call at bench scale); the exact aggregate
    * runs only where the bound cannot rule out saturation — corpus-scale
    * joins, where its one extra scan amortizes against the join itself. */
  private[graft] def guardJoinFanout(left: DataFrame, right: DataFrame, keyCol: String,
      maxCandidatePairs: Long, what: String, guidance: String,
      rightBound: Option[Long] = None, leftCount: Option[Long] = None): Unit = {
    // `rightBound`: a caller-known UPPER bound on the right side's rows
    // (e.g. a persisted index's manifest-derived figure) spares the free
    // tier its count() scan of the right relation; a larger bound can only
    // make the tier more conservative — the exact histogram still
    // adjudicates wherever the product cannot rule the cap out.
    // `leftCount`: the left side's EXACT row count when the caller already
    // paid a job that knows it (the probe's bucket-set aggregate) — spares
    // the free tier its left count() the same way.
    val bound = leftCount.getOrElse(left.count()).toDouble *
      rightBound.getOrElse(right.count()).toDouble
    if (bound > maxCandidatePairs.toDouble)
      requireBandedJoinFanout(joinFanoutStats(left, right, keyCol),
        maxCandidatePairs, what, guidance)
  }

  /** SELF-join guard with the same free pre-check as [[guardJoinFanout]]:
    * a banding of N rows emits at most C(N,2) pairs (every row on one
    * key), so when N(N−1)/2 already clears the cap the per-key histogram
    * — a real extra shuffle job per call, which the r14 bench A/B measured
    * at 0.3–1.2 canary-units on the small-corpus queries — is skipped. The
    * count is near-free: every caller checkpoints the banding first, and
    * the bound is ≥ the exact Σ nC2, so skipping never skips a trip (the
    * exact histogram still runs, and still refuses, wherever the bound
    * cannot rule saturation out — exactly the corpus-scale joins where its
    * one aggregate amortizes against the join itself). */
  private[graft] def guardSelfJoinFanout(banded: DataFrame, keyCol: String,
      maxCandidatePairs: Long, what: String, guidance: String): Unit = {
    val n = banded.count().toDouble
    if (n * (n - 1) / 2 > maxCandidatePairs.toDouble)
      requireBandedJoinFanout(bandFanoutStats(banded, keyCol),
        maxCandidatePairs, what, guidance)
  }

  /** THE banded self-join of the near-dup operators ([[minhashLshCandidates]]
    * and [[minhashDedupPairs]], [[simhashPairs]], [[embeddingNearDupPairs]]):
    * distinct (id_a, id_b, pairCols...) over every two rows of `banded`
    * ([[bandRows]]' shape) sharing a `bandkey`, id_a < id_b. `pairCols`
    * may read `x.<col>` / `y.<col>`; a caller's filter on one is pushed
    * through the distinct into the join condition. `banded` must be
    * CHECKPOINTED: the guard and both join sides read it, and a
    * shuffle-free self-join reuses no exchange.
    *
    * MEASURED: saturation is a property of the CORPUS (duplicate-heavy
    * data piles into few keys at any parameterization), so the join runs
    * only under `maxCandidatePairs` ([[guardSelfJoinFanout]]); past it the
    * call fails naming `what` and the scheme's sizing `guidance`.
    *
    * EAGER: constructing the returned DataFrame already runs the caller's
    * banding checkpoint and the guard — the cost of refusing the N² join
    * before it exists rather than after. The two-sided index probe
    * ([[dedupAgainstIndex]]) keeps the same contract via [[guardJoinFanout]]. */
  private def bandedPairs(banded: DataFrame, maxCandidatePairs: Long, what: String,
      guidance: String, pairCols: Column*): DataFrame = {
    guardSelfJoinFanout(banded, "bandkey", maxCandidatePairs, what, guidance)
    banded.as("x").join(banded.as("y"),
        col("x.bandkey") === col("y.bandkey") && col("x.id") < col("y.id"))
      .select((col("x.id").as("id_a") +: col("y.id").as("id_b") +: pairCols): _*)
      .distinct()
  }

  /** Shared guard body: every banded candidate join measures its exact
    * fan-out first and refuses to run past the cap with route-specific
    * sizing guidance — the alternative is a silent N² job for days. */
  private[operators] def requireBandedJoinFanout(
      st: BandFanoutStats, maxCandidatePairs: Long, what: String, guidance: String): Unit =
    require(st.candidatePairs <= maxCandidatePairs.toDouble,
      f"$what: the banded join would emit ~${st.candidatePairs}%.3g " +
        f"candidate pairs (hottest band key: ${st.maxBucket}%d, " +
        f"${st.distinctBands}%d distinct band keys), over maxCandidatePairs " +
        s"= $maxCandidatePairs. The band keyspace is saturated for this " +
        s"corpus: $guidance, or raise maxCandidatePairs if this fan-out is " +
        "intended")

  /** Fan-out cap shared by every banded candidate join (simhash, MinHash
    * LSH, sign-LSH, persisted-index probe): 2e9 candidate pairs ≈ a few
    * hundred GB of narrow shuffle — the edge of what a real cluster absorbs
    * for one dedup pass. Beyond it the banding is not doing its job
    * (keyspace saturated or corpus dup-heavy) and running anyway is a
    * silent N² job; the guard names the fix instead. */
  val DefaultMaxCandidatePairs = 2000000000L

  /** Embedding-cosine near-dup pairs: multi-band sign-LSH candidates, then
    * exact cosine per distinct candidate pair.
    *
    * Band b buckets on the signs of components [b·planes, (b+1)·planes) —
    * `bands` independent OR'd bands. A single wide bucket (small `planes`)
    * is quadratic inside each bucket (Σ_b n_b² ≈ n²/2^planes blows up with
    * corpus size); multiple narrow-population bands keep per-bucket counts
    * bounded while the OR preserves recall for high-cosine pairs. Candidates
    * are distinct'd on narrow (id_a, id_b) BEFORE the vectors are joined
    * back, so each pair pays exactly one dot product and the banded relation
    * that self-joins carries no vector payload.
    *
    * Like every banded self-join here it is guarded and EAGER as
    * [[bandedPairs]] describes: a corpus of identical or co-directional
    * vectors piles into one bucket per band at any `planes`. */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, bands: Int = 4,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    val cand = bandedPairs(embeddingBanded(emb, idCol, vecCol, planes, bands),
      maxCandidatePairs, "embeddingNearDupPairs",
      s"raise planes (currently $planes — each extra plane roughly halves " +
        "bucket occupancy), or drop exact-duplicate vectors first (identical " +
        "vectors share every bucket)")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        Similarity.scoredCosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** The sign-LSH banding relation [[embeddingNearDupPairs]] self-joins —
    * one (id, bandkey) row per document per band, checkpointed. */
  private def embeddingBanded(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, bands: Int): DataFrame = {
    // the bands read DISJOINT component ranges, so they must fit the vector:
    // past the end, element_at throws INVALID_ARRAY_INDEX from deep inside
    // the plan under ANSI mode (on by default in Spark 4) with no hint at
    // the real problem — fail at the API surface instead. One-row probe.
    emb.select(size(col(vecCol)).as("d")).limit(1).collect().headOption.foreach { r =>
      require(bands * planes <= r.getInt(0),
        s"bands ($bands) x planes ($planes) = ${bands * planes} components, " +
          s"but the embedding has only ${r.getInt(0)} dimensions")
    }
    bandRows(emb.select(col(idCol).as("id"), col(vecCol)), (0 until bands).map { b =>
      Similarity.signBucketAt(col(vecCol), b * planes, planes).cast("string")
    }).scratchCheckpoint()
  }
}
