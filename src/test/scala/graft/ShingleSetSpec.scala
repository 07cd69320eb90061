package graft

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Scratch}
import graft.store.Generations

/** The Jaccard verify over one shingle-set row per document, against the
  * exploded row-per-shingle join chain it replaced, kept here as the
  * reference; and the persisted index's row-per-shingle layout, which is
  * still read and is rewritten before anything is added to it. */
class ShingleSetSpec extends SparkSpec {
  import spark.implicits._

  /** The row-per-shingle relation: one (id, s) row per distinct shingle
    * fingerprint of a document; a null text has no rows. */
  private def exploded(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      explode(TextAnalysis.rawNgrams(TextAnalysis.tokens(col("text")), 3)).as("r"))
      .select(col("id"), xxhash64(col("r")).as("s"))
      .distinct()

  /** The pre-set verify: intersections counted by a join on `s`, sizes by
    * an aggregate, both joined back to the pairs. */
  private def explodedVerify(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    cands
      .join(sh.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** `dedupAgainstIndex`'s verdicts with the reference verify: banded
    * candidates of batch × corpus, best match per batch document. */
  private def explodedVerdicts(batch: DataFrame, corpus: DataFrame, threshold: Double)
      : (DataFrame, Long) = {
    val cands = Dedup.minhashBandKeys(batch, "doc_id", "text").as("x")
      .join(Dedup.minhashBandKeys(corpus, "doc_id", "text").as("y"), Seq("bandkey"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val verified = explodedVerify(cands, exploded(batch.unionByName(corpus)), threshold)
    val w = Window.partitionBy(col("id_a")).orderBy(col("jaccard").desc, col("id_b").asc)
    val best = verified.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id_a").as("id"), col("id_b").as("dup_of"), col("jaccard"))
    (batch.select(col("doc_id").as("id")).join(best, Seq("id"), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
      .select("id", "is_dup", "dup_of", "jaccard"), cands.count())
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def sameFrame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    assert(rows(got) === rows(want), s"$what: rows")
  }

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  /** Documents with ids from `base`: null and empty texts, texts shorter
    * than the 3-word shingle, random texts over a small vocabulary, and
    * exact copies and one-word edits of `pool` or of earlier documents. */
  private def docs(rnd: Random, base: Long, n: Int, pool: Seq[String]): Seq[(Long, Option[String])] = {
    val made = scala.collection.mutable.ArrayBuffer.empty[String]
    def text(k: Int) = Seq.fill(k)(words(rnd.nextInt(words.size))).mkString(" ")
    (0 until n).map { i =>
      val src = pool ++ made
      val t = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some(if (rnd.nextBoolean()) "" else "   ")
        case 2 => Some(text(1 + rnd.nextInt(2)))
        case 3 | 4 if src.nonEmpty => Some(src(rnd.nextInt(src.size)))
        case 5 | 6 if src.nonEmpty =>
          val ws = src(rnd.nextInt(src.size)).split(' ')
          if (ws.length < 2) Some(text(6))
          else Some(ws.updated(rnd.nextInt(ws.length), words(rnd.nextInt(words.size))).mkString(" "))
        case _ => Some(text(4 + rnd.nextInt(9)))
      }
      t.foreach(made += _)
      (base + i, t)
    }
  }

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  /** Run `body` with ANSI mode set as given (it decides whether `size` of
    * a null set is null or -1), restoring the session's setting. */
  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  /** Two `ingestCycle`s on a copy of the index at `built` (over `corpus`)
    * against the reference verdicts; the second cycle verifies against the
    * sets the first appended. */
  private def checkCycles(corpus: DataFrame, built: String, batch: DataFrame,
      batch2: DataFrame, t: Double, what: String): Unit = {
    val path = tmp("shset_cycle")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(built), new java.io.File(path))
    val (want, wantCands) = explodedVerdicts(batch, corpus, t)
    val (v1, s1) = Dedup.ingestCycle(batch, path, "doc_id", "text", t)
    sameFrame(v1, want, s"ingestCycle 1, $what")
    val dups = want.filter(col("is_dup")).count()
    val n = batch.count()
    assert((s1.batchRows, s1.candidatePairs, s1.dups, s1.appendedRows) ===
      ((n, wantCands, dups, n - dups)), s"ingestCycle 1 stats, $what")
    val grown = corpus.unionByName(batch.join(
      want.filter(!col("is_dup")).select(col("id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val (want2, wantCands2) = explodedVerdicts(batch2, grown, t)
    val (v2, s2) = Dedup.ingestCycle(batch2, path, "doc_id", "text", t)
    sameFrame(v2, want2, s"ingestCycle 2, $what")
    assert(s2.candidatePairs === wantCands2, s"ingestCycle 2 candidates, $what")
  }

  test("verify by id equals the exploded join chain: minhashDedupPairs, dedupAgainstIndex, ingestCycle") {
    for ((seed, ansi) <- Seq((1L, true), (2L, false))) withAnsi(ansi) {
      val rnd = new Random(seed)
      val corpusRows = docs(rnd, 1L, 60, Nil)
      val corpus = corpusRows.toDF("doc_id", "text")
      val pool = corpusRows.flatMap(_._2)
      val batch = docs(rnd, 1000L, 30, pool).toDF("doc_id", "text")
      val batch2 = docs(rnd, 2000L, 20, pool).toDF("doc_id", "text")
      val built = tmp("shset_idx")
      Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), built)
      for (t <- Seq(0.0, 0.5, 1.0)) {
        val what = s"seed $seed, ansi $ansi, threshold $t"
        sameFrame(Dedup.minhashDedupPairs(corpus, "doc_id", "text", t),
          explodedVerify(Dedup.minhashLshCandidates(corpus, "doc_id", "text"), exploded(corpus), t),
          s"minhashDedupPairs, $what")
        sameFrame(Dedup.dedupAgainstIndex(batch, Dedup.readMinhashIndex(spark, built),
          "doc_id", "text", t), explodedVerdicts(batch, corpus, t)._1, s"dedupAgainstIndex, $what")
        // the cycles run under the session's own (ANSI) setting only: the
        // two calls above already verify with `size(null) = -1`
        if (ansi) checkCycles(corpus, built, batch, batch2, t, what)
      }
    }
  }

  /** The shingles layout of every data file of every committed generation
    * under `path`, one set per generation. */
  private def layouts(path: String): Seq[Set[String]] =
    Generations.genDirs(spark, path).filter(g => Generations.isCommitted(spark, g)).map { g =>
      val dir = new Path(g, "shingles")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map(f => spark.read.parquet(f.toString).schema("s").dataType.simpleString).toSet
    }

  test("a row-per-shingle index generation reads, probes and ingests like the set layout, and is rewritten before it grows") {
    val rnd = new Random(7L)
    val corpusRows = docs(rnd, 1L, 60, Nil)
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = docs(rnd, 1000L, 30, corpusRows.flatMap(_._2)).toDF("doc_id", "text")
    val setPath = tmp("shset_new")
    Dedup.writeMinhashIndex(Dedup.buildMinhashIndex(corpus, "doc_id", "text"), setPath)
    // the old layout by hand: the same generation with its shingles
    // relation rewritten as (id, s: bigint) rows
    def oldLayout(): String = {
      val p = tmp("shset_old")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(setPath), new java.io.File(p))
      val gen = Generations.requireCommitted(spark, p).toString
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(new Path(gen, "shingles").toUri))
      exploded(corpus).coalesce(2).write.parquet(s"$gen/shingles")
      assert(layouts(p) === Seq(Set("bigint")))
      p
    }
    def sets(df: DataFrame) = df.as[(Long, Seq[Long])].collect()
      .map { case (id, s) => id -> s.sorted }.sortBy(_._1).toSeq
    val old = oldLayout()
    val (oldIdx, setIdx) = (Dedup.readMinhashIndex(spark, old), Dedup.readMinhashIndex(spark, setPath))
    assert(oldIdx.shingles.schema("s").dataType.isInstanceOf[ArrayType])
    // the set layout also holds a null-text document's (null) set
    assert(sets(oldIdx.shingles) === sets(setIdx.shingles.filter(col("s").isNotNull)))
    sameFrame(Dedup.dedupAgainstIndex(batch, oldIdx, "doc_id", "text", 0.5),
      Dedup.dedupAgainstIndex(batch, setIdx, "doc_id", "text", 0.5), "dedupAgainstIndex")
    // the first append: the cycle probes the old layout, then compacts it
    // into a set-layout generation and appends there
    val (vOld, sOld) = Dedup.ingestCycle(batch, old, "doc_id", "text", 0.5)
    val (vSet, sSet) = Dedup.ingestCycle(batch, setPath, "doc_id", "text", 0.5)
    sameFrame(vOld, vSet, "ingestCycle")
    assert((sOld.batchRows, sOld.candidatePairs, sOld.dups, sOld.appendedRows) ===
      ((sSet.batchRows, sSet.candidatePairs, sSet.dups, sSet.appendedRows)))
    assert(layouts(old) === Seq(Set("bigint"), Set("array<bigint>")),
      "the append must land in a new all-set generation")
    def liveSets(p: String) = sets(Dedup.readMinhashIndex(spark, p).shingles.filter(col("s").isNotNull))
    assert(liveSets(old) === liveSets(setPath))
    // a compaction rewrites an old-layout generation even below thresholds
    val old2 = oldLayout()
    assert(Dedup.compactMinhashIndex(spark, old2) === 1)
    assert(layouts(old2) === Seq(Set("bigint"), Set("array<bigint>")))
    assert(Dedup.compactMinhashIndex(spark, old2) === 0)
    assert(Dedup.readMinhashIndex(spark, old2).shingles.schema("s").dataType ===
      ArrayType(LongType, containsNull = true))
  }

  test("an Observation on a frame completes when the frame is localCheckpointed") {
    // ingestCycle's ledger counts ride on its checkpoints; they must not
    // need a second action over the checkpointed frame
    def observed(ck: DataFrame => DataFrame): Long = Scratch.scoped {
      val obs = new Observation()
      val df = ck(spark.range(250).toDF("id").filter(col("id") % 5 =!= 0)
        .observe(obs, count(lit(1)).as("n")))
      // awaited BEFORE any other action: only the checkpoint can complete it
      val n = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "s")).getLong(0)
      assert(df.count() === n)
      n
    }
    assert(observed(_.localCheckpoint()) === 200L)
    assert(observed(Scratch.checkpoint) === 200L)
    assert(observed(Scratch.checkpointEscaping) === 200L)
  }
}
