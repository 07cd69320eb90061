package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — embarrassingly parallel, the right answer up to ~10⁹
  * corpus rows × small query sets).
  * Scale path: sign-LSH bucketing (random-hyperplane family degenerated to
  * coordinate hyperplanes for determinism) — queries only probe their own
  * bucket, turning the scan into a hash-partitioned join.
  */
object Similarity {

  /** Dot product of two float/double vectors — the native codegen'd
    * [[graft.expressions.DotProductExpr]]. The original
    * `aggregate(zip_with(...))` formulation is arithmetic-identical (same
    * index-order double accumulation — ExpressionsSpec pins bit-identical
    * doubles) but INTERPRETED: Spark's higher-order functions evaluate
    * their lambdas per element outside codegen. At the gated sf0.1 scale
    * the difference is invisible (few scored pairs, dim 64 — A/B probed,
    * no delta), which is exactly why it needed its own measurement: at
    * corpus shape the HOF form is the dominant per-pair cost — 2M pairs
    * take 1.5 s (dim 64) to 7–23 s (dim 256–768) interpreted vs
    * 0.26–0.41 s native (docs/SCALE.md "Native dot product for the
    * similarity family (r10)"). Every cosine in the similarity family
    * (brute-force/LSH/IVF scoring, embedding near-dup verify) rides this.
    * The HOF form survives in ExpressionsSpec as the reference
    * implementation. */
  def dot(x: Column, y: Column): Column =
    graft.expressions.VectorExpressions.dot(x, y)

  /** L2 norm. Materialize per row before pairwise joins — computing it
    * inside `cosine` would redo the self-dot once per pair. */
  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine from a precomputed dot product and norms, ZERO-NORM-SAFE: a
    * zero vector (a real artifact of failed/padded embedding calls) has no
    * direction, so its similarity to anything is NULL — never a crash.
    * Spark 4's default ANSI mode throws DIVIDE_BY_ZERO even for double
    * division (probe-verified), so one zero-norm row would otherwise kill
    * every probe/verify job whose plan touches it. NULL ranks LAST under
    * the desc orderings and fails every `>= threshold` filter — the
    * intended semantics for a direction-less vector. */
  def cosineFromNorms(dotAB: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, dotAB / (na * nb))

  /** Cosine similarity. Assumes equal lengths; NULL for a zero-norm side
    * (see [[cosineFromNorms]]). Prefer the precomputed-norms form in
    * pairwise plans. */
  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(dot(a, b), norm(a), norm(b))

  /** The cosine every pairwise plan ranks and thresholds on: rounded to
    * 6 dp, so boundary decisions match across engines whatever the
    * floating-point summation order. */
  private[graft] def scoredCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(cosineFromNorms(dot(a, b), na, nb), 6)

  /** Sign-LSH bucket id from the signs of the first `planes` components.
    * Deterministic and portable (no random hyperplane matrix to ship);
    * components of learned embeddings are near-orthogonal enough for
    * recall-oriented bucketing. */
  def signBucket(v: Column, planes: Int): Column = signBucketAt(v, 0, planes)

  /** Sign bucket over components [offset, offset+planes) — the per-band
    * variant: independent bands read disjoint component ranges.
    *
    * Component access is `get` (NULL out of bounds), not `element_at`
    * (which THROWS INVALID_ARRAY_INDEX under ANSI): a single truncated
    * vector — the same failed-embedding-call artifact as the zero-norm
    * case — would otherwise kill the whole job from inside the bucketing
    * scan with no hint at the bad row. A missing component votes 0, same
    * as the DuckDB oracle's out-of-bounds NULL; if the short vector is
    * then actually PAIRED, the dot kernel still fails loudly with its
    * named length-mismatch error. */
  def signBucketAt(v: Column, offset: Int, planes: Int): Column =
    (0 until planes).map { i =>
      when(get(v, lit(offset + i)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a + b)

  /** Brute-force cosine top-k: for every query row, the k nearest corpus
    * rows (excluding self-matches by id). Query side is broadcast.
    * Ranking is on the [[scoredCosine]] (ties → neighbor_id), so the
    * ordering is deterministic. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    topKByCosine(q.join(c, col("query_id") =!= col("neighbor_id")), k)
  }

  /** The ranking every top-k search shares: each candidate pair of
    * `pairs` (`query_id`, `qv`, `qn`, `neighbor_id`, `cv`, `cn`) scored by
    * [[scoredCosine]], the k best per query kept, ties broken by
    * `neighbor_id`. Returns (query_id, rank, neighbor_id, cosine). */
  private[operators] def topKByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("cosine", scoredCosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** LSH-bucketed ANN top-k: probe only the query's sign bucket. Trades
    * recall for a corpus-partition-local search; at 100 TB the corpus is
    * hash-partitioned by bucket so each probe touches one partition set.
    *
    * Like the banded dedup joins ([[Dedup.simhashPairs]] et al.) the bucket
    * fan-out is corpus-dependent — identical or co-directional vectors pile
    * into one bucket at any `planes`, and a large query set piles the OTHER
    * side too (Σ_b |q_b|·|c_b| pairs) — so it is MEASURED before the join
    * (EAGER at construction) and the call refuses past `maxCandidatePairs`
    * with sizing guidance instead of quietly scoring a near-cross-join.
    * Tiered ([[Dedup.guardJoinFanout]]): a small query set whose
    * |queries|·|corpus| product cannot reach the cap pays two column-pruned
    * counts and no histogram pass. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 8,
      maxCandidatePairs: Long = Dedup.DefaultMaxCandidatePairs): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signBucket(col(vecCol), planes).as("bucket"), norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      signBucket(col(vecCol), planes).as("bucket"), norm(col(vecCol)).as("cn"))
    Dedup.guardJoinFanout(q.select("bucket"), c.select("bucket"), "bucket",
      maxCandidatePairs, "lshTopK",
      s"raise planes (currently $planes — each extra plane roughly halves " +
        "bucket occupancy), split the query set, or use the IVF index " +
        "(Ann.ivfTopK) for corpus-scale query sets")
    topKByCosine(q.join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id")), k)
  }
}
