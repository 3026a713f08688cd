package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** Bridge into Spark's `private[sql]` Column↔Expression converters and
  * type-coercion traits, so graft can ship native Catalyst expressions
  * (the sanctioned extension-library pattern: one shim file inside the
  * sql package namespace).
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame (the checkpointed RDD lives in the plan's LogicalRDD
    * leaves — `private[sql]`, hence this shim). For driver-side
    * iterative loops that re-checkpoint per iteration: without this,
    * every superseded iteration's blocks linger until the driver GCs
    * the DataFrame and ContextCleaner catches up. No-op on frames that
    * are not local checkpoints: only RDDs that really are local
    * checkpoints are unpersisted, so a LogicalRDD over a USER-persisted
    * RDD keeps its cache. */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.filter(_.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      .foreach(_.unpersist(blocking = false))

  /** Assert that every local-checkpoint RDD in `df`'s plan is already
    * MATERIALIZED (checkpointData.isCheckpointed). Guards the release
    * pattern `releaseLocalCheckpoint(prev)` in iterative loops: prev's
    * blocks are unrecoverable once dropped, so the successor frame must
    * have finished checkpointing (its lineage no longer reaches prev)
    * BEFORE the release — i.e. some action must already have computed
    * it. Fails fast at the release site instead of as a
    * "checkpoint block not found" job failure later. */
  def assertLocallyCheckpointed(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.filter(_.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      .foreach { r =>
        require(r.isCheckpointed,
          s"RDD ${r.id} is a lazy local checkpoint that has NOT " +
            "materialized yet — releasing its predecessor now would " +
            "drop blocks its lineage still needs")
      }
}

/** The native text expressions' shared front end. `normalize` is the
  * EXACT pipeline of `TextOps.normalize`,
  * `lower(trim(regexp_replace(text, "\s+", " ")))`, replayed operator by
  * operator with Spark's own machinery: java.util.regex over the decoded
  * string (what RegExpReplace runs, pattern compiled ONCE here, not per
  * row), `UTF8String.trim()` (space-only, exactly StringTrim — Java's
  * String.trim strips every control character ≤ U+0020), and
  * `CollationSupport.Lower.exec` with the session ICU flag (exactly the
  * Lower expression, whichever case mapping the session uses —
  * String.toLowerCase is a different function that happens to agree
  * only on some inputs and locales). Values therefore match the Column
  * form under ANY JVM default locale. */
object TextNorm {
  import org.apache.spark.unsafe.types.UTF8String

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def normalize(input: UTF8String, collationId: Int, useICU: Boolean)
      : UTF8String = {
    val replaced = Ws.matcher(input.toString).replaceAll(" ")
    org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(
      UTF8String.fromString(replaced).trim(), collationId, useICU)
  }

  /** Every word n-gram of `norm` in order, duplicates kept: for each
    * start i, `array_join(slice(split(norm, ' '), i + 1, n), ' ')`; the
    * whole text when it has fewer than n words. */
  def shingles(norm: UTF8String, n: Int): Array[UTF8String] =
    ngrams(norm, n, stride = 1)

  /** The non-overlapping n-word segments of `norm` in order: segment j
    * is `array_join(slice(split(norm, ' '), j * n + 1, n), ' ')`, so the
    * last one is shorter when n does not divide the word count. */
  def segments(norm: UTF8String, n: Int): Array[UTF8String] =
    ngrams(norm, n, stride = n)

  /** Windows of n words starting every `stride` words: stride 1 stops
    * at the last full window, stride n keeps a short last window; the
    * whole text when it has fewer than n words. Words are the pieces
    * between single spaces, so each window is one contiguous byte range
    * of `norm` — views over its bytes, found in one scan, with no string
    * building. */
  private def ngrams(norm: UTF8String, n: Int, stride: Int)
      : Array[UTF8String] = {
    val b = norm.getBytes
    var words = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') words += 1; i += 1 }
    if (words < n) return Array(norm)
    // start(w) = first byte of word w; start(words) = b.length + 1, as if
    // a space followed the last word
    val start = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { start(w) = i + 1; w += 1 }
      i += 1
    }
    start(words) = b.length + 1
    val count =
      if (stride == 1) words - n + 1 else (words + stride - 1) / stride
    Array.tabulate(count) { j =>
      val s = j * stride
      val e = math.min(s + n, words)
      UTF8String.fromBytes(b, start(s), start(e) - 1 - start(s))
    }
  }

  /** First occurrences of `all`, in order (`array_distinct`). */
  def distinct(all: Array[UTF8String]): Array[UTF8String] = {
    val seen = new java.util.LinkedHashSet[UTF8String](all.length * 2)
    all.foreach(seen.add)
    seen.toArray(new Array[UTF8String](0))
  }

  /** The SQL `xxhash64` (seed 42) of a string. */
  def xxhash(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
}

/** A native expression over one STRING column that reads it through
  * [[TextNorm.normalize]], with Lower's collation dispatch inputs. They
  * are lazy: the child is unresolved at construction during analysis
  * rewrites, and is resolved by the first dataType/eval/codegen access. */
trait NormalizesText extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  private lazy val collationId = child.dataType match {
    case st: StringType => st.collationId
    case _ => 0
  }
  private lazy val icu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  protected def normalized(input: Any): UTF8String =
    TextNorm.normalize(input.asInstanceOf[UTF8String], collationId, icu)
}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns — the hot
  * inner loop of every cosine-similarity operator
  * (graft.functions.SimilarityOps). The higher-order-function equivalent
  * (`aggregate(zip_with(...))`) runs interpreted with per-element lambda
  * dispatch: ~20× slower on brute-force pair scoring. Identical result
  * semantics: sequential left-to-right summation. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-pass MinHash signature: ARRAY<STRING> shingles → ARRAY<LONG>
  * of k permutation minima. One xxhash64 (seed 42 — identical to the SQL
  * `xxhash64` function) per shingle, then k linear permutations
  * `(a_i·h + b_i) mod (2³¹−1)` in a tight JVM loop — replaces an
  * explode + k-column partial-aggregate shape: same math and identical
  * output values, but zero row blowup and zero shuffle. Interpreted eval
  * (CodegenFallback): one virtual call per ROW, with the k×|shingles|
  * inner work in primitive loops.
  */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

  private val (as, bs) = MinHashMd5SigExpr.perms(k)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(MinHashSigExpr.minima(
      Array.tabulate(arr.numElements())(arr.getUTF8String), as, bs))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSigExpr = copy(child = newChild)
}

object MinHashSigExpr {
  import MinHashMd5SigExpr.P

  /** The permutation minima over the shingles' xxhash64 (seed 42). */
  def minima(shingles: Array[org.apache.spark.unsafe.types.UTF8String],
      as: Array[Long], bs: Array[Long]): Array[Long] = {
    val mins = Array.fill(as.length)(Long.MaxValue)
    var j = 0
    while (j < shingles.length) {
      val h0 = TextNorm.xxhash(shingles(j))
      val h = ((h0 % P) + P) % P
      var i = 0
      while (i < as.length) {
        val v = (h * as(i) + bs(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    mins
  }
}

/** MinHash signature straight from raw TEXT: normalization
  * (trim/whitespace-collapse/lowercase), word n-gram shingling, hashing
  * and the k permutation minima all in one per-row pass — the fully
  * fused form of MinHashSigExpr that also skips the interpreted
  * higher-order split/slice/array_join shingle pipeline. Shingle strings
  * and the permutation family are identical to the compositional path
  * (DedupOps.shingleList + MinHashSigExpr). */
case class MinHashTextSigExpr(child: Expression, n: Int, k: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, LongType}

  private val (as, bs) = MinHashMd5SigExpr.perms(k)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_text_sig"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHashSigExpr.minima(
      TextNorm.shingles(normalized(input), n), as, bs))

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashTextSigExpr = copy(child = newChild)
}

/** All hyperplane-LSH band values in ONE per-row pass: `bands` packed
  * longs, bit j of band b = sign of ⟨v, plane(b·planesPerBand+j)⟩. The
  * Column-composed equivalent (bands×planesPerBand separate DotProductExpr
  * trees over literal plane arrays) grows a codegen unit past the JVM
  * method limit, knocking the WHOLE stage (including downstream cosine
  * scoring) back to interpreted eval. Planes are derived from the same
  * deterministic splitmix64 family as SimilarityOps.planeVector, and the
  * dot is the same sequential left-to-right sum as DotProductExpr, so the
  * band values are bit-identical to the compositional form. */
case class HyperplaneBandsExpr(child: Expression, dim: Int,
    planesPerBand: Int, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private val planes: Array[Array[Double]] =
    Array.tabulate(planesPerBand * bands) { p =>
      Array.tabulate(dim) { i =>
        var z = p.toLong * 0x9E3779B97F4A7C15L +
          i.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z % 1000000L).toDouble / 2000000.0
      }
    }

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var packed = 0L
      var j = 0
      while (j < planesPerBand) {
        val plane = planes(b * planesPerBand + j)
        val n = math.min(v.length, plane.length)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v(i) * plane(i); i += 1 }
        if (acc >= 0) packed |= (1L << j)
        j += 1
      }
      out(b) = packed
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneBandsExpr = copy(child = newChild)
}

/** First index at which two ARRAY<LONG> band sketches are equal (-1 if
  * none). Lets a banded-LSH self-join score each candidate pair exactly
  * once — keep the (band, pair) row only when band == first matching
  * band — turning the post-join pair dedup (a full shuffle of every
  * bucket collision) into a codegen'd per-row filter. */
case class BandsFirstMatchExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bands_first_match"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BandsFirstMatchExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct word n-gram shingle set straight from raw TEXT, one per-row
  * pass: normalization, n-gram shingling and first-occurrence dedup
  * fused ([[TextNorm]]) — the value of
  * `array_distinct(transform(sequence(..), i => array_join(slice(words,
  * ..))))` over `words = split(TextOps.normalize(text), ' ')`. That
  * higher-order form runs interpreted, and Spark evaluates the outer
  * `words` again for every element, so it costs O(words²) per document.
  * Shingle strings match MinHashTextSigExpr's exactly, so estimates
  * computed from signatures and exact Jaccard computed from these sets
  * agree on the same underlying set family. */
case class ShingleSetExpr(child: Expression, n: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextNorm.distinct(TextNorm.shingles(normalized(input), n)))

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleSetExpr = copy(child = newChild)
}

/** The MULTISET sibling of [[ShingleSetExpr]]: every word n-gram of the
  * normalized text in order, duplicates preserved. Hot path for n-gram
  * counting pipelines (LM cross-entropy), where the corpus explode
  * dominates wall-time. */
case class ShingleListExpr(child: Expression, n: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_list"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextNorm.shingles(normalized(input), n))

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleListExpr = copy(child = newChild)
}

/** The non-overlapping n-word segments of the normalized text, in
  * order ([[TextNorm.segments]]): the p08 segmentation, shared with the
  * bloom decontamination. */
case class WordSegmentsExpr(child: Expression, n: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_segments"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextNorm.segments(normalized(input), n))

  override protected def withNewChildInternal(newChild: Expression)
      : WordSegmentsExpr = copy(child = newChild)
}

/** Duplicated word n-gram share of the normalized text as an exact
  * integer of 1e-4 units, floor((1 − distinct/total)·10⁴), with the
  * distinct count and the total taken from ONE shingle pass (the
  * composed form built the shingle array twice). Same double arithmetic
  * as the composed form, so the value is bit-identical. */
case class DupNgramMilliExpr(child: Expression, n: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "dup_ngram_milli"

  override protected def nullSafeEval(input: Any): Any = {
    val all = TextNorm.shingles(normalized(input), n)
    val distinct = TextNorm.distinct(all).length
    math.floor((1.0 - distinct.toDouble / all.length.toDouble) * 10000)
      .toLong
  }

  override protected def withNewChildInternal(newChild: Expression)
      : DupNgramMilliExpr = copy(child = newChild)
}

/** Fraction of positions at which two ARRAY<LONG> MinHash signatures
  * agree — an unbiased estimator of the Jaccard similarity of the
  * underlying shingle sets (P[minima equal] = J per permutation; with
  * k=64, σ ≈ √(J(1−J)/64) ≤ 0.063). Codegen'd: used as a cheap
  * candidate pre-filter BEFORE the exact set-intersection verify, so the
  * expensive text joins touch only pairs whose estimate clears
  * `threshold − margin`. */
case class SigEqFracExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_eq_frac"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val eq = ctx.freshName("eq")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $eq = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $eq++;
         |}
         |${ev.value} = ($n == 0) ? 0.0 : ((double) $eq) / $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigEqFracExpr =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd popcount(a ^ b) — see graft.functions.HammingDistance
  * for the public API and rationale. Lives here because ImplicitCastInputTypes
  * / AbstractDataType are private[sql]. */
/** Bloom-filter membership probe: STRING → BOOLEAN against a fixed
  * `org.apache.spark.util.sketch.BloomFilter` (serialized into the task
  * closure — at cluster scale the same bits ride a broadcast variable).
  * Spark's own `Column.mightContain` route requires the internal
  * BloomFilterMightContain + a binary aggregate plan; this shim keeps
  * the established expression-with-constant pattern. NO false
  * negatives is the bloom theorem the decontamination gate certifies. */
case class MightContainExpr(child: Expression,
    bf: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{BooleanType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain"

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainString(input.toString)

  override protected def withNewChildInternal(newChild: Expression)
      : MightContainExpr = copy(child = newChild)
}

/** Product-quantization encoder: ARRAY<DOUBLE> vector → ARRAY<INT> of m
  * subspace code assignments against a fixed codebook (m × ksub × dsub).
  * Same assignment rule as the composed Column form it replaces —
  * d = ‖c‖² − 2⟨v_sub,c⟩ per code, ties to the lower code id, with the
  * same left-to-right summation — but in tight primitive loops: the
  * composed form expands to m·ksub struct builds + an array_sort per
  * row, whose generated code dwarfs the JIT budget at ksub ≥ 32.
  * Interpreted eval (CodegenFallback): one virtual call per row, all
  * m·ksub·dsub multiply-adds primitive. */
case class PqEncodeExpr(child: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

  private val m = codebooks.length
  private val dsub = codebooks(0)(0).length
  // ‖c‖² per (sub, code), precomputed once per operator instance with
  // the same ascending-index summation as the Column form's
  // cvec.map(x*x).sum
  private val c2: Array[Array[Double]] = codebooks.map(_.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  })

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val book = codebooks(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var code = 0
      while (code < book.length) {
        val cvec = book(code)
        var dotAcc = 0.0
        var i = 0
        val n = math.min(dsub, math.max(v.length - off, 0))
        while (i < n) { dotAcc += v(off + i) * cvec(i); i += 1 }
        val d = c2(s)(code) - 2.0d * dotAcc
        if (d < bestD) { bestD = d; best = code }
        code += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncodeExpr = copy(child = newChild)
}

/** Element-wise vector difference over two ARRAY<DOUBLE> columns (the
  * IVF-PQ residual v − c): the zip_with(-) lambda equivalent, but
  * codegen-eligible primitive loops instead of interpreted per-element
  * dispatch — this runs once per corpus row at encode time. Lengths
  * must match; the shorter bound is used defensively. */
case class VecSubExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_sub"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x(i) - y(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubExpr =
    copy(left = newLeft, right = newRight)
}

case class HammingDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
      .toLong

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistanceExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-pass hashing-trick featurization: NORMALIZED text (the caller
  * applies TextOps.normalize, keeping lower/trim/whitespace semantics in
  * Spark's own functions) → ARRAY<LONG> of `dim` bucket counts. Each
  * space-separated word buckets by the house cross-engine hash — the
  * first 4 md5 bytes as an unsigned int, mod dim, identical to
  * SamplingOps.shardKey and the DuckDB
  * `('0x' || substr(md5(w), 1, 8))::BIGINT % dim` oracle form — and the
  * counts accumulate in ONE primitive loop. Replaces a dim× interpreted
  * filter() sweep (O(dim·words) lambda dispatches per row) with
  * O(words) digest work; same per-row CodegenFallback stance as
  * MinHashSigExpr. */
case class HashingFeaturesExpr(child: Expression, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  require(dim > 0, "dim must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashing_features"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Long](dim)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val bucket = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % dim
      counts(bucket.toInt) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashingFeaturesExpr = copy(child = newChild)
}

/** Cross-engine 64-bit SimHash: NORMALIZED text (caller applies
  * TextOps.normalize semantics; this expression repeats them like
  * MinHashTextSigExpr so it works straight off the raw column) →
  * per-word 64-bit hash = first 8 md5 bytes big-endian (identical to
  * DuckDB's `('0x' || substr(md5(w), 1, 16))::UBIGINT`), each bit votes
  * ±1 per occurrence, output bit j set iff the vote sum is > 0. The
  * production near-dup path keeps the faster xxhash64 family
  * (DedupOps.simhash); this md5 family exists so the signature itself
  * is reproducible by an independent engine (gate d04). */
case class SimHashMd5Expr(child: Expression)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override protected def nullSafeEval(input: Any): Any = {
    val words = TextNorm.shingles(normalized(input), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 64) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SimHashMd5Expr = copy(child = newChild)
}

object MinHashMd5SigExpr {
  /** The k linear-permutation constants (a_i odd, b_i) — the splitmix
    * family every MinHash signature here uses; public so the DuckDB
    * oracle SQL can embed the identical literals. */
  def perms(k: Int): (Array[Long], Array[Long]) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (Array.tabulate(k)(i => (mix(2L * i) & 0x7FFFFFFFL) | 1L),
      Array.tabulate(k)(i => mix(2L * i + 1) & 0x7FFFFFFFL))
  }
  val P = 2147483647L // 2^31 - 1
}

/** Cross-engine MinHash signature: shingle ARRAY<STRING> → k permutation
  * minima, base hash = first 4 md5 bytes as an unsigned int mod 2³¹−1
  * (identical to DuckDB's `('0x' || substr(md5(sh), 1, 8))::BIGINT %
  * 2147483647`), permutations `(a_i·h + b_i) mod (2³¹−1)` with the same
  * splitmix constants as MinHashSigExpr. The production dedup path keeps
  * the faster xxhash64 base (one hash vs one md5 digest per shingle);
  * this family exists so the signature is reproducible by an independent
  * engine (gate d03). */
case class MinHashMd5SigExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import MinHashMd5SigExpr.P

  private val (as, bs) = MinHashMd5SigExpr.perms(k)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_md5_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(j).getBytes)
      val h = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % P
      var i = 0
      while (i < k) {
        val v = (h * as(i) + bs(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashMd5SigExpr = copy(child = newChild)
}

/** Sorted-ascending DISTINCT xxhash64 values of the word n-gram
  * shingles of the normalized text — the candidate-generation key
  * domain for set-similarity joins. Hash keys keep the inverted-index
  * shuffles/joins/windows on fixed-width longs instead of ~25-byte
  * shingle strings (the sf1 rehearsal measured the string form
  * GC-bound: 110 s+ of GC per stage). Exactness contract: equal strings
  * always hash equal, so candidate joins on hashes yield a SUPERSET of
  * string-equal matches per shared shingle — but in-doc collisions
  * SHRINK the hash set (hsz ≤ sz), and a prefix length derived from hsz
  * would be too short by ≈ (1−t)·(sz−hsz) under the PPJoin theorem.
  * Consumers must derive prefix lengths from the STRING-set size
  * (p = sz − ⌈t·sz⌉ + 1, as DedupOps.containmentPairs does), which is
  * sound unconditionally; the exact intersection is always recomputed
  * on the string arrays ([[SortedIntersectCountExpr]]). Same
  * normalization/shingling as [[ShingleSetExpr]]. */
case class HashedShingleSetExpr(child: Expression, n: Int)
    extends NormalizesText
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingle_set"

  override protected def nullSafeEval(input: Any): Any = {
    val raw = TextNorm.shingles(normalized(input), n).map(TextNorm.xxhash)
    java.util.Arrays.sort(raw)
    // in-place dedup of the sorted hashes (set semantics, like
    // ShingleSetExpr's LinkedHashSet — collisions also dedup, which the
    // prefix-length soundness argument requires)
    var w = 0
    var r = 0
    while (r < raw.length) {
      if (r == 0 || raw(r) != raw(r - 1)) { raw(w) = raw(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(raw, w))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashedShingleSetExpr = copy(child = newChild)
}

/** |A ∩ B| for two SORTED-ascending ARRAY<STRING> columns via a single
  * zero-allocation linear merge over the UTF8String binary order (the
  * order `array_sort` produces). The built-in `array_intersect` builds
  * a boxed hash set plus a result array per row — on a 250k-pair ×
  * 200-element containment join that allocation churn was the dominant
  * GC source at sf1. Both inputs MUST be sorted ascending and
  * duplicate-free (sets) — on duplicate runs the merge counts
  * min(run lengths), not distinct matches. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two SORTED-ascending ARRAY<INT> columns — the
  * dictionary-encoded sibling of [[SortedIntersectCountExpr]]: when set
  * elements have been mapped through an injective dictionary (string
  * shingle → dense int id), intersection counts are IDENTICAL to the
  * string-set counts, and the merge compares 4-byte ints instead of
  * variable-length UTF8 — the verify join of the containment-dedup
  * operator shuffles ~6× fewer bytes per candidate pair this way. */
case class SortedIntersectCountIntExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count_int"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xi = x.getInt(i)
      val yj = y.getInt(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountIntExpr =
    copy(left = newLeft, right = newRight)
}

/** Shared core of the fused stopword expressions, over the exact
  * [[TextNorm]] normalize. Occurrence counting walks the padded UTF-8
  * bytes advancing by needle length — the same non-overlapping match
  * sequence as `replace()` (UTF-8 is self-synchronizing, so byte
  * matches sit on char boundaries) — so scores stay bit-identical to
  * the compositional form and the DuckDB oracle under ANY JVM default
  * locale. */
object StopwordScore {
  import org.apache.spark.unsafe.types.UTF8String

  def needles(words: Seq[String]): Array[Array[Byte]] =
    words.map(w => (" " + w + " ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  /** `' ' || norm || ' '` as UTF-8 bytes. */
  def paddedBytes(norm: UTF8String): Array[Byte] = {
    val b = norm.getBytes
    val out = new Array[Byte](b.length + 2)
    out(0) = ' '.toByte
    out(out.length - 1) = ' '.toByte
    System.arraycopy(b, 0, out, 1, b.length)
    out
  }

  /** Σ non-overlapping occurrences of every needle over the padded
    * bytes (left-to-right, advance by needle length — `replace()`'s
    * counting). */
  def countAll(pad: Array[Byte], needles: Array[Array[Byte]]): Long = {
    var total = 0L
    var i = 0
    while (i < needles.length) {
      val nd = needles(i)
      var p = indexOf(pad, nd, 0)
      while (p >= 0) { total += 1; p = indexOf(pad, nd, p + nd.length) }
      i += 1
    }
    total
  }

  private def indexOf(hay: Array[Byte], nd: Array[Byte], from: Int)
      : Int = {
    val last = hay.length - nd.length
    var p = if (from < 0) 0 else from
    while (p <= last) {
      var j = 0
      while (j < nd.length && hay(p + j) == nd(j)) j += 1
      if (j == nd.length) return p
      p += 1
    }
    -1
  }
}

/** Σ non-overlapping occurrences of ` word ` over space-padded
  * normalized text, for a whole stopword list in ONE per-row pass —
  * the fused form of TextOps.stopwordCount. The compositional Column
  * form evaluates `concat(" ", normalize(text), " ")` once per word
  * per occurrence-count — and the n_tokens/score filter the curation
  * gates apply is pushed below the projection by substitution, so the
  * p01/p11 plans evaluated 20 regexp_replace + 20 full-string replace
  * per ROW in a single-task scan stage (r13 plan audit). Normalize +
  * counting semantics: [[StopwordScore]]. Codegen'd (r14): the call
  * sits inside the surrounding WholeStageCodegen span instead of
  * breaking it as a CodegenFallback island. */
case class StopwordCountExpr(child: Expression, words: Seq[String])
    extends NormalizesText {
  import org.apache.spark.unsafe.types.UTF8String

  private val needles = StopwordScore.needles(words)

  override def dataType: DataType = LongType
  override def prettyName: String = "stopword_count"

  def count(input: UTF8String): Long =
    StopwordScore.countAll(
      StopwordScore.paddedBytes(normalized(input)), needles)

  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordCount", this,
      classOf[StopwordCountExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StopwordCountExpr = copy(child = newChild)
}

/** Fused curation-gate predicate: `stopwordCount(a) > stopwordCount(b)`
  * evaluated from ONE normalize and one walk over the padded bytes.
  * The p01/p11 language gate (`en_score > fr_score`) is pushed into
  * the scan-stage Filter by alias substitution, and FilterExec does no
  * common-subexpression elimination — as two score expressions the
  * filter normalized the text TWICE per row. Bit-equivalent to the
  * compositional comparison: both sides are the exact
  * [[StopwordScore]] counts. */
case class StopwordPreferExpr(child: Expression, a: Seq[String],
    b: Seq[String])
    extends NormalizesText {
  import org.apache.spark.sql.types.BooleanType
  import org.apache.spark.unsafe.types.UTF8String

  private val needlesA = StopwordScore.needles(a)
  private val needlesB = StopwordScore.needles(b)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "stopword_prefer"

  def prefer(input: UTF8String): Boolean = {
    val pad = StopwordScore.paddedBytes(normalized(input))
    StopwordScore.countAll(pad, needlesA) >
      StopwordScore.countAll(pad, needlesB)
  }

  override protected def nullSafeEval(input: Any): Any =
    prefer(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordPrefer", this,
      classOf[StopwordPreferExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.prefer($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StopwordPreferExpr = copy(child = newChild)
}
