package graft

import graft.functions.SelfCosine
import org.apache.spark.sql.functions._

/** SparkSessionExtensions: SQL function registration + optimizer rule, on
  * the factory session that installs them. */
class ExtensionsSpec extends SparkSpec {

  test("float_cosine is callable from SQL") {
    val r = spark.sql(
      """SELECT float_cosine(array(cast(1.0 as float), cast(2.0 as float)),
                             array(cast(1.0 as float), cast(2.0 as float))) AS c""")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("optimizer rewrites cos(x, x) to SelfCosine") {
    // Parquet-backed plan: with a LocalRelation, constant folding evaluates
    // the (deterministic) expression away before we can observe the rewrite.
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(graft.functions.VectorFunctions
        .floatCosine(col("embedding"), col("embedding")).as("c"))
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = optimized.expressions.exists(_.exists(_.isInstanceOf[SelfCosine]))
    assert(rewritten, s"SelfCosine not found in: $optimized")
    assert(df.filter(col("c") =!= 1.0).count() == 0)
  }

  test("SelfCosine preserves null on zero-norm input") {
    import spark.implicits._
    val rows = Seq(Tuple1(Seq(1f, 2f)), Tuple1(Seq(0f, 0f))).toDF("v")
      .select(graft.functions.VectorFunctions.floatCosine(col("v"), col("v")).as("c"))
      .collect()
    // On a LocalRelation, constant folding may evaluate raw FloatCosine
    // before the rewrite batch runs — either path must keep the semantics.
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0), "zero-norm must stay NULL")
  }

  test("SelfCosine matches FloatCosine's NaN semantics on non-finite input") {
    import spark.implicits._
    val rows = Seq(
        Tuple1(Seq(1f, Float.NaN)),
        Tuple1(Seq(1f, Float.PositiveInfinity)),
        Tuple1(Seq(1f, 2f)))
      .toDF("v")
      .select(graft.functions.VectorFunctions.floatCosine(col("v"), col("v")).as("c"))
      .collect()
    // Whichever path runs (constant-folded FloatCosine or the SelfCosine
    // rewrite), a non-finite element must yield NaN, not 1.0.
    assert(rows(0).getDouble(0).isNaN, "NaN element must propagate")
    assert(rows(1).getDouble(0).isNaN, "inf element must yield NaN (inf/inf)")
    assert(math.abs(rows(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("shipped query q_vec_quantize reaches the SelfCosine rewrite") {
    // The rule must not be demonstration-only surface: the quantizer's
    // self_cos sanity column is written as FloatCosine(x, x) and must be
    // strength-reduced in the optimized plan of the session Verify/Bench run
    // (the factory session they all build).
    val df = graft.llm.Similarity.quantizeVectors(spark, "/root/testdata/sf0.001")
    val optimized = df.queryExecution.optimizedPlan
    // Traverse the WHOLE plan: the query ends in orderBy, so the expression
    // lives in a Project below the root Sort.
    val rewritten = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[SelfCosine])) => p
    }.nonEmpty
    assert(rewritten, s"SelfCosine not reached by q_vec_quantize: $optimized")
    assert(df.filter(col("self_cos") =!= 1.0).count() == 0,
      "every corpus embedding is finite and non-zero, so self_cos must be 1.0")
  }

  test("rule preserves results vs unrewritten session on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    val viaRule = emb.select(
      graft.functions.VectorFunctions.floatCosine(col("embedding"), col("embedding")).as("c"))
      .agg(sum("c")).head().getDouble(0)
    assert(viaRule == 20.0)
  }
}
