package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** cos(x, x) strength-reduced: 1.0 unless the vector is NULL, zero-norm, or
  * contains a non-finite element — one pass over one array instead of three
  * accumulators over two. Produced by [[CosineSelfRule]], never written by
  * hand.
  *
  * Semantics vs the unrewritten FloatCosine(x, x):
  *  - NaN/Infinity elements: FloatCosine yields NaN (inf/inf or NaN
  *    propagation); SelfCosine detects them and returns NaN — exact match.
  *  - finite vectors: FloatCosine computes dot/(sqrt(n)*sqrt(n)), which can
  *    land within 1 ulp of 1.0 rather than exactly on it; SelfCosine returns
  *    exactly 1.0. This is the declared contract of the rule (fast-math-style
  *    strength reduction); every shipped query rounds cosine scores before
  *    use, so the ulp never surfaces. */
case class SelfCosine(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "self_cosine"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var i = 0
    var nonzero = false
    while (i < a.numElements()) {
      val f = a.getFloat(i)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
        return java.lang.Double.valueOf(Double.NaN)
      if (f != 0.0f) nonzero = true
      i += 1
    }
    if (nonzero) java.lang.Double.valueOf(1.0) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val nz = ctx.freshName("nonzero")
      val bad = ctx.freshName("nonfinite")
      val f = ctx.freshName("f")
      s"""
        boolean $nz = false;
        boolean $bad = false;
        for (int $i = 0; $i < $a.numElements() && !$bad; $i++) {
          float $f = $a.getFloat($i);
          if (Float.isNaN($f) || Float.isInfinite($f)) $bad = true;
          else if ($f != 0.0f) $nz = true;
        }
        if ($bad) { ${ev.value} = Double.NaN; }
        else if ($nz) { ${ev.value} = 1.0; }
        else { ${ev.isNull} = true; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SelfCosine =
    copy(child = newChild)
}

/** Optimizer rule: FloatCosine(x, x) == 1.0 for any non-null, non-zero-norm,
  * all-finite x — rewrite to the cheaper single-array [[SelfCosine]] when
  * both sides are semantically the same deterministic expression. NaN/inf
  * inputs still yield NaN after the rewrite (see SelfCosine scaladoc); the
  * only observable divergence is SelfCosine returning an exact 1.0 where the
  * float kernel could be 1 ulp off. */
object CosineSelfRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case FloatCosine(l, r) if l.deterministic && l.semanticEquals(r) =>
        SelfCosine(l)
    }
}

/** Session extensions: SQL-registered float_cosine + the self-cosine
  * optimization. Installed by [[graft.GraftSession.build]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("float_cosine"),
      new ExpressionInfo(classOf[FloatCosine].getName, "float_cosine"),
      (children: Seq[Expression]) => FloatCosine(children(0), children(1))))
    e.injectOptimizerRule(_ => CosineSelfRule)
  }
}
