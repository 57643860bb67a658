package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Cosine similarity between two float-vector columns as a native Catalyst
  * expression with whole-stage codegen — single fused loop over both arrays,
  * no intermediate zip array allocation (vs composing zip_with + aggregate),
  * no UDF serialization boundary. This is the hot inner op of the similarity
  * and near-dup queries, executed O(n_pairs) times at 100 TB scale.
  *
  * Numeric contract (kept bit-identical with the DuckDB oracle SQL): each
  * product is computed in float32 then widened to double and accumulated in
  * index order; result = dot / (sqrt(norm_a) * sqrt(norm_b)). NULL on NULL
  * input, mismatched lengths, or zero norm.
  */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += (x * y).toDouble
      na += (x * x).toDouble
      nb += (y * y).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            final float $x = $a.getFloat($i);
            final float $y = $b.getFloat($i);
            $dot += (double) ($x * $y);
            $na += (double) ($x * $x);
            $nb += (double) ($y * $y);
          }
          if ($na == 0.0 || $nb == 0.0) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          }
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosine =
    copy(left = newLeft, right = newRight)
}

/** Exact squared L2 distance between two array<bigint> columns as a native
  * codegen expression — the k-means training/probing kernel of the IVF
  * family, evaluated O(N x k) times per pass. Replaces the interpreted
  * `aggregate(zip_with(...))` composition (which allocates the zipped array
  * and evaluates two lambdas per element) with one fused primitive loop.
  * Arithmetic is bit-identical: per-dim (a-b)^2 summed in index order as
  * long — exact for the quantized-embedding domain (|v| <= 1e6 per the
  * ScaleQ bound, 64-dim sum <= 2.6e14 < 2^63), so the DuckDB oracle's
  * integer sums still reproduce it. NULL on NULL input or length mismatch.
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "long_sq_dist"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            final long $d = $a.getLong($i) - $b.getLong($i);
            $acc += $d * $d;
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongSqDist =
    copy(left = newLeft, right = newRight)
}

/** Exact dot product of two array<bigint> columns — the int8-code scoring
  * kernel of the rescore ANN (per-dim products <= 127^2, 64-dim sum well
  * under 2^63). Same fused-loop/codegen rationale and NULL contract as
  * [[LongSqDist]]; self-dot (squared norm) is `LongDot(x, x)`. */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "long_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $acc += $a.getLong($i) * $b.getLong($i);
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** Fixed-point quantization of an array<float> column — sarr[i] =
  * floor((double) arr[i] * scale + 0.5) as bigint — the O(N) scaling pass
  * that feeds every integer-exact vector kernel above (IVF train/probe,
  * JL projection, int8 rescore norms). Replaces the interpreted
  * `transform(embedding, x -> ...)` lambda, which the round-11 sampling
  * profile showed paying an ArrayTransform.nullSafeEval interpretation
  * per ELEMENT (~30% of a pure-map query's CPU at 30x vectors).
  * Arithmetic is token-identical to the lambda it replaces: widen float
  * to double, multiply by the LITERAL scale, floor, narrow — per-row
  * scales (the int8 q8 path) stay on the lambda because x*c/m and
  * x*(c/m) round differently and that path's oracle pins the former.
  * NULL on NULL input; elements are non-null by the embeddings schema. */
case class FloatQuantize(child: Expression, scale: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // Analysis-time contract: applied to anything but array<float> (say an
  // array<double> embedding), getFloat would silently misread 4 of the 8
  // bytes — fail in the analyzer, not with garbage at runtime.
  // (ExpectsInputTypes needs AbstractDataType, which is private[sql], so
  // the check is spelled directly.)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"float_quantize requires array<float> input, got ${other.catalogString}")
    }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_quantize"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(a.getFloat(i).toDouble * scale + 0.5).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
        final int $n = $a.numElements();
        final long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          $out[$i] = (long) java.lang.Math.floor(
            (double) $a.getFloat($i) * ${scale}D + 0.5D);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): FloatQuantize =
    copy(child = newChild)
}

/** Per-row-scaled int8 quantization of an array<float> column in ONE fused
  * codegen pass — the compressed-first-pass representation of
  * [[graft.llm.Similarity.annIvfRescore]]. Replaces the interpreted
  * two-HOF composition (an `aggregate(..., greatest(m, abs(x)))` max-abs
  * fold feeding a `transform(..., greatest(-127, least(127, floor(...))))`
  * lambda) whose per-element ArrayAggregate/Greatest eval owned the
  * round-17 sampling profile of q_ann_ivf_rescore. Arithmetic is
  * token-identical to the lambdas it replaces, including evaluation order
  * (`x * 127.0 / max_abs` — NOT x * (127.0/max_abs), which rounds
  * differently) and Spark's Least/Greatest NaN-is-greatest ordering, so
  * the DuckDB oracle reproduces it bit-for-bit. One deliberate totality
  * upgrade: on an all-zero vector (max_abs = 0) the HOF's x*127.0/0 threw
  * DIVIDE_BY_ZERO under ANSI — this kernel stays total and clamps the
  * resulting NaN to 127 via the same NaN-is-greatest least() semantics
  * (FloatCosineSpec pins it; no shipped query can have depended on the
  * crash). NULL on NULL input. */
case class Int8Quantize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_quantize requires array<float> input, got ${other.catalogString}")
    }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      // greatest(m, v) under Spark ordering: NaN beats everything.
      if (java.lang.Double.isNaN(v) || v > m) m = v
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val f = math.floor(a.getFloat(i).toDouble * 127.0 / m + 0.5)
      // least(127, f) then greatest(-127, ·), NaN-is-greatest ordering.
      val lo = if (java.lang.Double.isNaN(f) || f > 127.0) 127.0 else f
      val g = if (lo < -127.0) -127.0 else lo
      out(i) = g.toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val f = ctx.freshName("f")
      val lo = ctx.freshName("lo")
      val out = ctx.freshName("out")
      s"""
        final int $n = $a.numElements();
        double $m = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          final double $v = java.lang.Math.abs((double) $a.getFloat($i));
          if (java.lang.Double.isNaN($v) || $v > $m) $m = $v;
        }
        final long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          final double $f = java.lang.Math.floor(
            (double) $a.getFloat($i) * 127.0D / $m + 0.5D);
          final double $lo = (java.lang.Double.isNaN($f) || $f > 127.0D)
            ? 127.0D : $f;
          $out[$i] = (long) (($lo < -127.0D) ? -127.0D : $lo);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Quantize =
    copy(child = newChild)
}

/** The per-pair BM25 micro-unit sum of [[graft.llm.Retrieval.scoreCandidatesQd]]
  * as one fused merge: both inputs are term-ASCENDING sorted struct arrays
  * (doc side (term, tf) from the forward index's `sort_array`, query side
  * (term, df) from the qd aggregate), so the matched-term set is a single
  * two-pointer merge on UTF8String binary order — the same order
  * `sort_array` sorts by — instead of the interpreted
  * `aggregate(filter(terms, ...))` composition, whose per-ELEMENT cost
  * (UnsafeArrayData.get + a linear qmap probe per lambda eval, ~3 probes
  * per kept element) owned the round-16 sampling profile of the decontam
  * gate family. Per-match arithmetic delegates to
  * [[graft.llm.Retrieval.impMicrosLocal]] — the verified local mirror of
  * the Catalyst fold (StrictMath.log, identical promotion points), so each
  * contribution is bit-identical to the fold's CAST(floor(...) AS BIGINT)
  * and the BIGINT sum is order-independent. NULL on NULL input (never
  * reached: all three columns come from inner joins over aggregates). */
object Bm25Fold {
  def microSum(dt: ArrayData, qt: ArrayData, len: Long,
      n: Long, avgLen: Double): Long = {
    val nd = dt.numElements(); val nq = qt.numElements()
    var i = 0; var j = 0; var acc = 0L
    while (i < nd && j < nq) {
      val drow = dt.getStruct(i, 2)
      val qrow = qt.getStruct(j, 2)
      val c = drow.getUTF8String(0).compareTo(qrow.getUTF8String(0))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        acc += graft.llm.Retrieval.impMicrosLocal(
          n, avgLen, drow.getLong(1), qrow.getLong(1), len)
        i += 1; j += 1
      }
    }
    acc
  }
}

/** Column form of [[Bm25Fold.microSum]]; `n`/`avgLen` are per-call
  * constants that the generated code takes as references, not as source
  * text, so every corpus size shares one compiled class. */
case class Bm25FoldMicros(first: Expression, second: Expression,
    third: Expression, n: Long, avgLen: Double)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  // A non-finite avgLen is an empty index's 0/0, which has no BM25 score.
  require(java.lang.Double.isFinite(avgLen),
    s"bm25_fold_micros: avgLen must be finite, got $avgLen " +
      "(empty index? build stats before scoring)")

  // Analysis-time shape check (the FloatQuantize rationale: a mistyped
  // input must fail in the analyzer, not misread bytes at runtime):
  // two array<struct<string, bigint>> sides and a bigint length.
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def sideOk(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(fs), _) =>
        fs.length == 2 && fs(0).dataType == org.apache.spark.sql.types.StringType &&
          fs(1).dataType == LongType
      case _ => false
    }
    if (sideOk(first.dataType) && sideOk(second.dataType) &&
        third.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "bm25_fold_micros requires (array<struct<string,bigint>>, " +
          s"array<struct<string,bigint>>, bigint), got (${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, ${third.dataType.catalogString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bm25_fold_micros"

  override def nullSafeEval(d: Any, q: Any, l: Any): Any =
    java.lang.Long.valueOf(Bm25Fold.microSum(d.asInstanceOf[ArrayData],
      q.asInstanceOf[ArrayData], l.asInstanceOf[Long], n, avgLen))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("n", Long.box(n), "java.lang.Long")
    val avgRef = ctx.addReferenceObj("avgLen", Double.box(avgLen), "java.lang.Double")
    nullSafeCodeGen(ctx, ev, (d, q, l) =>
      s"${ev.value} = graft.functions.Bm25Fold.microSum($d, $q, $l, " +
        s"$nRef.longValue(), $avgRef.doubleValue());")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Bm25FoldMicros =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorFunctions {
  /** Column-API entry point: cosine similarity of two array<float> columns. */
  def floatCosine(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(FloatCosine(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  /** Exact squared L2 distance of two array<bigint> columns. */
  def longSqDist(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(LongSqDist(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  /** Exact dot product of two array<bigint> columns. */
  def longDot(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(LongDot(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  /** Fixed-point quantization of an array<float> column by a literal scale. */
  def floatQuantize(a: Column, scale: Double): Column =
    GraftColumnBridge.toColumn(FloatQuantize(
      GraftColumnBridge.toExpression(a), scale))

  /** Fused per-row-scaled int8 quantization of an array<float> column. */
  def int8Quantize(a: Column): Column =
    GraftColumnBridge.toColumn(Int8Quantize(
      GraftColumnBridge.toExpression(a)))

  /** Fused BM25 micro-unit merge of two term-sorted struct arrays. */
  def bm25FoldMicros(docTerms: Column, qTerms: Column, len: Column,
      n: Long, avgLen: Double): Column =
    GraftColumnBridge.toColumn(Bm25FoldMicros(
      GraftColumnBridge.toExpression(docTerms),
      GraftColumnBridge.toExpression(qTerms),
      GraftColumnBridge.toExpression(len), n, avgLen))
}
