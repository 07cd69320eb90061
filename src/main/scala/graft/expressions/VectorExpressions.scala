package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native centroid-ranking kernel for the IVF index
  * ([[graft.operators.Ann]]) — the scale path past literal expression
  * trees.
  *
  * The small-`nlist` formulation builds nlist × dim expression nodes
  * (one `(element_at(v,j) − c_j)²` chain per centroid) and lets Catalyst
  * sort the resulting structs. That is the right plan while the tree is
  * small — everything folds into one codegen'd projection the optimizer
  * can see through — but it has a CLIFF, not a slowdown, at production
  * shape: at nlist ≈ 10⁴–10⁵ and dim 768 the generated method blows the
  * JVM's 64 KB bytecode limit (whole-stage codegen silently falls back to
  * interpreted evaluation) and optimizer/planning time goes super-linear
  * in the tree size. [[NearestCentroidsExpr]] is the same arithmetic as
  * ONE expression node: the centroid matrix rides along as a codegen
  * reference object (`references[n]`, no code size proportional to nlist),
  * the per-row work is a tight `double[][]` loop in ONE static call, and
  * the surrounding projection stays inside whole-stage codegen at any
  * nlist. Plan size, optimizer time, and generated-code size are all O(1)
  * in nlist; per-row arithmetic is the same nlist × dim FLOPs both
  * formulations pay.
  *
  * Semantics are IDENTICAL to the literal tree (AnnSpec gates equality,
  * ties included): squared-L2 accumulated in ascending dimension order
  * (same double-rounding), ranking ascending by (dist, list id) — the
  * `array_sort(struct(dist, list))` order. Vectors must have at least
  * `dim` non-null elements and finite distances (NaN ordering is
  * unspecified; corpus contracts exclude NaN embeddings).
  */
object VectorFns {

  /** Dot product of two equal-length vectors, accumulated in ascending
    * index order with double adds — bit-identical to the
    * `aggregate(zip_with(x, y, p·q), 0.0, acc + v)` formulation it
    * replaces (same fold order, same double rounding; ExpressionsSpec
    * pins the equality), but codegen'd: higher-order-function lambdas are
    * interpreted per ELEMENT per row, which made the old form the
    * dominant per-pair cost of every cosine in the similarity family.
    * Length mismatch throws (the HOF form returned a silent null).
    * Elements must be non-null. */
  def dotProduct(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vector_dot: length mismatch ($n vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** The `k` nearest rows of `cents` to `vec` by squared L2, ascending
    * (dist, list) — list ids are centroid array indices. `isFloat` picks
    * the element reader (`array<float>` corpus vs `array<double>`). */
  def nearestCentroids(vec: ArrayData, cents: Array[Array[Double]], k: Int,
      isFloat: Boolean): ArrayData = {
    val n = cents.length
    val kk = math.min(k, n)
    val bestD = new Array[Double](kk)
    val bestL = new Array[Int](kk)
    var filled = 0
    var c = 0
    while (c < n) {
      val cent = cents(c)
      val dim = cent.length
      if (vec.numElements() < dim)
        throw new IllegalArgumentException(
          s"nearestCentroids: vector has ${vec.numElements()} elements, centroid $c has $dim")
      var s = 0.0
      var j = 0
      while (j < dim) {
        val v = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        val d = v - cent(j)
        s += d * d
        j += 1
      }
      // insertion into the sorted top-k. Ties resolve to the LOWER list id
      // automatically: centroids are scanned in ascending id order and
      // both shifts are STRICT on distance, so an equal-distance later id
      // never displaces or passes an earlier one — exactly array_sort's
      // (dist asc, list asc) struct order.
      if (filled < kk) {
        var i = filled
        while (i > 0 && bestD(i - 1) > s) {
          bestD(i) = bestD(i - 1); bestL(i) = bestL(i - 1); i -= 1
        }
        bestD(i) = s; bestL(i) = c; filled += 1
      } else if (s < bestD(kk - 1)) {
        var i = kk - 1
        while (i > 0 && bestD(i - 1) > s) {
          bestD(i) = bestD(i - 1); bestL(i) = bestL(i - 1); i -= 1
        }
        bestD(i) = s; bestL(i) = c
      }
      c += 1
    }
    val rows = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      rows(i) = InternalRow(bestD(i), bestL(i))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** Shared shape of the two centroid-ranking formulations: result schema,
  * analysis-time type gate, element-reader dispatch. The subclasses
  * differ ONLY in how the matrix travels (reference object vs Broadcast
  * handle) — everything the AnnSpec bit-identity pin depends on lives
  * here once. */
abstract class NearestCentroidsBase extends UnaryExpression {
  def k: Int

  override final def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("dist", DoubleType, nullable = false),
      StructField("list", IntegerType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  // analysis-time type gate: a caller passing array<int> (the old HOF
  // formulation casted silently) fails at analysis with a clear message,
  // not mid-query from the kernel
  override final def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float> or array<double> input, got ${other.simpleString}")
    }

  protected final def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false // array<double>; anything else failed checkInputDataTypes
  }
}

/** `nearest_centroids(vec)` — array<struct<dist:double,list:int>> of the
  * `k` nearest centroids, ascending (dist, list). The centroid matrix is
  * expression STATE (a codegen reference object), not expression TREE —
  * see [[VectorFns]] for why that distinction is the scale cliff. */
case class NearestCentroidsExpr(child: Expression,
    centroids: Array[Array[Double]], k: Int) extends NearestCentroidsBase {

  override def prettyName: String = "nearest_centroids"

  override protected def nullSafeEval(input: Any): Any =
    VectorFns.nearestCentroids(input.asInstanceOf[ArrayData], centroids, k, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the whole matrix is ONE references[] slot — generated code size does
    // not grow with nlist × dim, which is the entire point
    val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorFns.nearestCentroids($c, $cents, $k, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

/** [[NearestCentroidsExpr]] with the centroid matrix behind a Spark
  * `Broadcast` — the plan-WEIGHT scale path past the reference-object
  * form.
  *
  * A reference object serializes INSIDE the expression tree: every stage
  * that evaluates the expression ships the whole matrix in its task
  * binary, and every TASK deserializes it again (the dim-768 leg in
  * docs/SCALE.md "Centroid-matrix plan weight (r11)" measures the knee —
  * per-stage cost grows linearly in nlist × dim once the matrix is tens
  * of MB). Behind a Broadcast the tree carries
  * only the handle: the matrix crosses the wire once per executor
  * (torrent blocks), is deserialized once per executor JVM, and is
  * REUSED across every stage and query that probes the same index —
  * exactly the long-lived-index access pattern. Same kernel
  * ([[VectorFns.nearestCentroids]]), bit-identical results (AnnSpec pins
  * equality against the literal tree, ties included); the generated code
  * unwraps the broadcast once into per-partition mutable state, so the
  * per-row call is identical to the reference-object form. */
case class NearestCentroidsBcastExpr(child: Expression,
    centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]], k: Int)
    extends NearestCentroidsBase {

  override def prettyName: String = "nearest_centroids_bcast"

  override protected def nullSafeEval(input: Any): Any =
    VectorFns.nearestCentroids(input.asInstanceOf[ArrayData], centroids.value, k, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // only the HANDLE is a reference object; the matrix is unwrapped once
    // per generated-class instance into mutable state (one executor-local
    // broadcast fetch), keeping the per-row call a plain array access
    val bc = ctx.addReferenceObj("centroidsBc", centroids,
      "org.apache.spark.broadcast.Broadcast")
    val mat = ctx.addMutableState("double[][]", "centroidsMat",
      v => s"$v = (double[][]) $bc.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.VectorFns.nearestCentroids($c, $mat, $k, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsBcastExpr =
    copy(child = newChild)
}

/** Word-n-gram kernel for the shingling hot path — see
  * [[WordNgramsExpr]]. */
object TextFns {

  /** One-pass whitespace tokenizer — see [[TokenizeExpr]]. Splits on the
    * six Java-regex `\s` bytes (safe on raw UTF-8: multibyte sequences
    * never contain ASCII bytes) and lowercases per token with THE SAME
    * primitive Spark's `lower()` resolves under the default UTF8_BINARY
    * collation (`CollationSupport.Lower`, ICU-backed — NOT
    * `UTF8String.toLowerCase`, whose Greek final-sigma context rule
    * differs; the fuzz differential caught exactly that, e.g.
    * "tΣߋq" → "tςߋq" under Spark's lower vs "tσߋq" under UTF8String).
    * Per-token lowercasing equals whole-string lowercasing: case
    * mappings never produce or consume whitespace, and the one
    * context-sensitive mapping (final sigma) keys on word boundaries —
    * which are exactly the split points. */
  def tokenize(text: UTF8String, useICU: Boolean): ArrayData = {
    val b = text.getBytes
    val n = b.length
    def isWs(c: Byte): Boolean =
      c == 0x20 || (c >= 0x09 && c <= 0x0D)
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < n) {
      if (isWs(b(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(b(i))) i += 1
        // collation 0 = UTF8_BINARY; useICU is the CALLER's resolution of
        // ICU_CASE_MAPPINGS_ENABLED — exactly the two args Spark's Lower
        // passes, so tokenize lowercases identically to lower() under
        // whichever case-mapping backend the session runs
        out.add(org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(
          UTF8String.fromBytes(b, start, i - start), 0, useICU))
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Tokens contained in `words` — see [[StopwordHitsExpr]]. */
  def stopwordHits(tokens: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    val len = tokens.numElements()
    var n = 0
    var i = 0
    while (i < len) {
      if (words.contains(tokens.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  /** N-gram strings over a token array, single-space joined — exactly
    * `when(size < n, array(array_join(ts, " "))).otherwise(transform(
    * sequence(...), i => array_join(slice(ts, i, n), " ")))`, the HOF
    * formulation it replaces (which interprets its lambda per POSITION
    * per document and re-slices the array each time). `distinct = true`
    * folds `array_distinct` in (first-occurrence order, same as the
    * built-in). Tokens must be non-null (the tokenizer filters empties). */
  def wordNgrams(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = tokens.numElements()
    if (len < n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i).toString)
        i += 1
      }
      return new GenericArrayData(Array[Any](UTF8String.fromString(sb.toString)))
    }
    val count = len - n + 1
    val toks = new Array[String](len)
    var i = 0
    while (i < len) { toks(i) = tokens.getUTF8String(i).toString; i += 1 }
    if (!distinct) {
      val out = new Array[Any](count)
      i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[String](count * 2)
      i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
      new GenericArrayData(out)
    }
  }
}

/** `tokenize(text)` — lowercase whitespace tokens in ONE string scan,
  * exactly `filter(split(trim(regexp_replace(lower(c), "\\s+", " ")),
  * " "), t => t =!= "")`: maximal runs of non-`\s` bytes, lowercased
  * (both formulations split on Java-regex ASCII `\s`; Unicode spaces
  * like NBSP stay inside tokens in both). The chained form materializes
  * the lowered string, runs the regex engine over it, materializes the
  * collapsed string, splits, then filters through an interpreted
  * lambda — five passes with three intermediate allocations for the
  * single hottest text kernel (everything tokenizes first). Gated by a
  * full-corpus differential, a unicode fuzz property, and the oracle
  * (every MinHash hash rides on these exact token strings). */
case class TokenizeExpr(child: Expression, useICU: Boolean) extends UnaryExpression {

  override def prettyName: String = "tokenize"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextFns.tokenize(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextFns.tokenize($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

object TokenizeExpr {
  /** Resolve `useICU` from the active SQLConf at CONSTRUCTION — the same
    * conf Spark's `lower()` resolves (a session that disables
    * spark.sql.icu.caseMappings.enabled gets the same non-ICU
    * lowercasing from both, so they can never silently diverge). A
    * CONSTRUCTOR PARAMETER, not a body val: body vals are excluded from
    * case-class equality and re-computed by every `copy()`, so the plan
    * cache could match two tokenize plans built under different
    * case-mapping backends, and an optimizer transform could silently
    * re-resolve the conf mid-plan. As a field it participates in
    * equality/canonicalization and survives `withNewChildInternal`. */
  def apply(child: Expression): TokenizeExpr =
    TokenizeExpr(child,
      org.apache.spark.sql.internal.SQLConf.get.getConf(
        org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED))
}

/** `stopword_hits(tokens)` — the number of tokens contained in a fixed
  * word set, exactly `size(filter(tokenArr, t => words.map(w => t === w)
  * .reduce(_ || _)))` (binary string equality both ways), the
  * language-ID / stopword-ratio kernel. The HOF form interprets its
  * lambda per token — and language ID evaluates it once per LANGUAGE per
  * document; this is one hashed containment check per token per call. */
case class StopwordHitsExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def prettyName: String = "stopword_hits"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  // rebuilt lazily wherever the expression deserializes (executors)
  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    TextFns.stopwordHits(input.asInstanceOf[ArrayData], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("stopwords", wordSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextFns.stopwordHits($c, $set)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHitsExpr =
    copy(child = newChild)
}

/** `word_ngrams(tokens)` — codegen'd n-gram shingling; the per-document
  * kernel under every MinHash/Jaccard operator. */
case class WordNgramsExpr(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextFns.wordNgrams(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextFns.wordNgrams($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** `vector_dot(a, b)` — codegen'd double dot product; see
  * [[VectorFns.dotProduct]] for the arithmetic contract. */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "vector_dot"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // analysis-time type gate (see NearestCentroidsExpr's): each side must
  // be array<float> or array<double>; the runtime keeps only the
  // length-mismatch throw, which is data- not type-dependent
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects array<float> or array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false // array<double>; anything else failed checkInputDataTypes
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorFns.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorFns.dotProduct($a, $b, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface. */
object VectorExpressions {
  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], k: Int): Column =
    Bridge.column(NearestCentroidsExpr(Bridge.expression(vec), centroids, k))

  def nearestCentroidsBcast(vec: Column,
      centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]], k: Int): Column =
    Bridge.column(NearestCentroidsBcastExpr(Bridge.expression(vec), centroids, k))

  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))

  def wordNgrams(tokens: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(WordNgramsExpr(Bridge.expression(tokens), n, distinct))

  def stopwordHits(tokens: Column, words: Seq[String]): Column =
    Bridge.column(StopwordHitsExpr(Bridge.expression(tokens), words))

  def tokenize(text: Column): Column =
    Bridge.column(TokenizeExpr(Bridge.expression(text)))
}
