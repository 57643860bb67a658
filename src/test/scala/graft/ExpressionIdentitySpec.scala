package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bm25FoldMicros, LongIn}

/** How the custom expressions look to Catalyst: equal predicates compare
  * equal (plan comparison, exchange reuse and cache lookup go by it), and
  * a per-call constant does not compile a new class. */
class ExpressionIdentitySpec extends SparkSpec {

  test("LongIn predicates over equal keys are equal and semanticEquals") {
    val e = BoundReference(0, LongType, nullable = true)
    val a = LongIn.of(e, Seq(3L, 1L, 2L, 3L))
    val b = LongIn.of(e, Seq(1L, 2L, 3L))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    assert(a != LongIn.of(e, Seq(1L, 2L)))
    assert(a != LongIn.of(BoundReference(1, LongType, nullable = true), Seq(1L, 2L, 3L)))
  }

  test("Bm25FoldMicros compiles one class for every (n, avgLen)") {
    val side = ArrayType(StructType(Seq(
      StructField("term", StringType), StructField("tf", LongType))))
    def terms(ts: (String, Long)*) = new GenericArrayData(ts.map { case (t, f) =>
      InternalRow(UTF8String.fromString(t), f) }.toArray[Any])
    val row = InternalRow(terms("a" -> 2L, "b" -> 1L, "c" -> 4L),
      terms("a" -> 3L, "c" -> 1L), 7L)
    def fold(n: Long, avgLen: Double) = Bm25FoldMicros(BoundReference(0, side, true),
      BoundReference(1, side, true), BoundReference(2, LongType, true), n, avgLen)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val got = Seq(1000L -> 6.5, 2048L -> 9.25).map { case (n, avgLen) =>
      val e = fold(n, avgLen)
      val out = UnsafeProjection.create(Seq(e)).apply(row).getLong(0)
      assert(out == e.eval(row), s"codegen and nullSafeEval disagree at n=$n avgLen=$avgLen")
      out
    }
    assert(compiles.getCount - before == 1,
      s"${compiles.getCount - before} compiles for two (n, avgLen) pairs")
    assert(got.distinct.size == 2, s"the constants did not reach the kernel: $got")
  }
}
