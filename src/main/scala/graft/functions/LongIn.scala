package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** `child IN keys` for a long `child` over a key set collected on the
  * driver: a binary search of one sorted primitive array, where Catalyst's
  * InSet boxes every key into a hash set, ships that set inside each
  * stage's task binary and prints every member, sorted, each time the plan
  * is described (every adaptive re-plan posts a description). Here a plan
  * string shows only the key count, so a batch vocabulary of any size
  * costs the driver nothing per description. Equality and hash compare
  * the keys' contents, so plan comparison sees equal predicates as equal. */
case class LongIn(child: Expression, keys: Array[Long])
    extends UnaryExpression with Predicate {

  override def equals(o: Any): Boolean = o match {
    case that: LongIn => child == that.child && java.util.Arrays.equals(keys, that.keys)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode + java.util.Arrays.hashCode(keys)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(keys, v.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keys", keys, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = java.util.Arrays.binarySearch($ref, $v) >= 0;")
  }

  override def toString: String = s"$child IN (${keys.length} keys)"

  override def sql: String = s"(${child.sql} IN (${keys.length} keys))"

  override protected def withNewChildInternal(newChild: Expression): LongIn =
    copy(child = newChild)
}

object LongIn {
  /** The predicate over `keys`, sorted and deduplicated here. */
  def of(child: Expression, keys: Iterable[Long]): LongIn =
    LongIn(child, keys.toArray.distinct.sorted)
}
