package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Order-insensitive digest of a frame: row count plus the wrapping sum of
  * each row's XXH64 over its UnsafeRow bytes. It is computed by running the
  * frame's own physical plan (sort included) and hashing rows as they come
  * out, so as a sink it costs about what the `noop` sink costs. Doubles are
  * narrowed to float first: a different summation order can move the last
  * bits of a double between runs, never a float rounding. */
object Digest {
  private def narrowed(t: DataType): Option[DataType] = t match {
    case DoubleType => Some(FloatType)
    case ArrayType(DoubleType, n) => Some(ArrayType(FloatType, n))
    case _ => None
  }

  def of(df: DataFrame, label: String): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(names: _*)
    val norm = renamed.select(renamed.schema.fields.toSeq.map { f =>
      narrowed(f.dataType).fold(col(f.name))(t => col(f.name).cast(t).as(f.name))
    }: _*)
    val qe = norm.queryExecution
    val schema = norm.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some(s"digest $label")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var rows = 0L
        var hash = 0L
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => proj(other)
          }
          hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          rows += 1
        }
        Iterator.single((rows, hash))
      }.collect()
    }
    f"${parts.map(_._1).sum}%d:${parts.map(_._2).sum}%016x"
  }
}
