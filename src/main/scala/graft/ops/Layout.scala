package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-dimensional data layout — the lakehouse OPTIMIZE ZORDER shape.
  *
  * A 100 TB fact table is usually filtered on more than one dimension
  * (user AND time); sorting by either one leaves the other's min/max
  * stats useless, so every row group survives pruning on the second
  * predicate. Interleaving the bits of both columns into a z-value and
  * range-partitioning + sorting by it gives every written file a compact
  * rectangle in (user, time) space — parquet row-group stats then prune
  * on BOTH predicates. LayoutSpec measures exactly that: the same 2-D
  * filter scans several-fold fewer rows from the z-ordered files than
  * from time-sorted or unsorted copies of the same data.
  */
object Layout {

  /** Epoch hour of 2024-01-01T00:00Z, the corpus's first event hour. */
  private val HourZero = 1704067200L / 3600L

  /** The original z-value formulation: a 16-round higher-order fold over
    * the bit positions. Kept (unused by the query path) as the reference
    * the closed form below is spec-pinned against (LayoutSpec), exactly
    * like the retrieval family keeps its replaced formulations. */
  private[graft] val ZExprFold =
    """aggregate(sequence(0, 15), cast(0 as bigint), (acc, i) ->
         acc + shiftleft(shiftright(user_id, i) & 1, 2 * i)
             + shiftleft(shiftright(hour_idx, i) & 1, 2 * i + 1))"""

  /** Morton spread of a column's low 16 bits into the even bit positions —
    * the branchless shift-or-mask ladder (public-domain "Bit Twiddling
    * Hacks" interleave), all builtin codegen bitwise ops. The round-16
    * sampling profile showed the fold formulation above evaluated
    * INTERPRETED per row (ArrayAggregate.eval + per-step
    * BinaryArithmetic.eval frames — higher-order functions do not
    * participate in whole-stage codegen), 16 rounds x ~6 interpreted node
    * evals per event; this closed form is 8 codegen ops total. */
  private def spread16(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Bit-interleave of the low 16 bits of user_id and hour_idx. Bit-
    * identical to [[ZExprFold]]: the fold SUMS terms that live in disjoint
    * bit positions (user bits at even, hour bits at odd), so the sum IS
    * the OR of the two spreads — LayoutSpec asserts equality row-for-row
    * on the live events table. */
  private def zValue: Column =
    spread16(col("user_id"))
      .bitwiseOR(shiftleft(spread16(col("hour_idx")), 1))

  /** Events projected to the layout columns + hour index + z-value. */
  private[graft] def zEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast(LongType).as("cents"), col("ts"))
      .withColumn("hour_idx",
        expr(s"unix_micros(ts) div 3600000000") - HourZero)
      .withColumn("z", zValue)

  /** Write events under `layout` ("z" | "ts" | "none") as ~64 parquet
    * files and return the directory: one fixed directory per layout under
    * `java.io.tmpdir`, overwritten by each call. Range partitioning by the
    * sort key makes each file a contiguous key slice, so its row-group
    * min/max stats are tight in that key. */
  private[graft] def writeLayout(s: SparkSession, d: String,
      layout: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_$layout"
    val ev = zEvents(s, d).drop("hour_idx", "z")
    // Partitioning by a BIT-ALIGNED z prefix (not raw z quantiles) makes
    // every file a complete grid cell — a 32-user x 32-hour rectangle.
    // Quantile cuts that straddle a high z bit would cover enormous
    // rectangles and gut the pruning; aligned cells keep every file's
    // (user, ts) bounding box tight.
    val arranged = layout match {
      case "z" => zEvents(s, d).withColumn("zb", expr("z div 1024"))
        .repartitionByRange(128, col("zb"))
        .sortWithinPartitions("z").drop("hour_idx", "z", "zb")
      case "ts" => ev.repartitionByRange(128, col("ts"))
        .sortWithinPartitions("ts")
      case _ => ev.repartition(128) // round-robin: stats span everything
    }
    // Spark's default parquet timestamp encoding is INT96, which carries NO
    // row-group min/max stats — a time predicate can never prune it. INT64
    // micros is what every stats-aware layout needs. The conf is session
    // scoped, so restore it after the write: leaking it changes how every
    // LATER query in the session serializes timestamps (a leaked
    // TIMESTAMP_MICROS turned six unrelated verify dumps into
    // timestamptz and failed the type gate).
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try arranged.write.mode("overwrite").parquet(base)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    base
  }

  /** The 2-D slice every ops dashboard runs: one user cohort, one ten-day
    * window. Selective on BOTH dimensions, so only a multi-dimensional
    * layout prunes it well. */
  private[graft] def slice2d(df: DataFrame): DataFrame =
    df.filter(col("user_id").between(4, 13)
        && col("ts") >= lit("2024-01-10 00:00:00").cast(TimestampType)
        && col("ts") < lit("2024-01-20 00:00:00").cast(TimestampType))

  /** Z-ORDER layout + read-back: write events z-ordered on
    * (user_id, hour), then answer the 2-D slice from the z-ordered files.
    * The oracle computes the same slice over the original table, so the
    * hash gate proves the layout rewrite lost nothing; the pruning payoff
    * is gated separately in LayoutSpec (scan-row metrics vs other
    * layouts). */
  def zOrderLayout(s: SparkSession, d: String): DataFrame = {
    val dir = writeLayout(s, d, "z")
    slice2d(s.read.parquet(dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"),
        min("user_id").as("min_user"), max("user_id").as("max_user"))
      .orderBy("event_type")
  }

  val zOrderLayoutSql: String =
    """SELECT event_type, count(*) AS cnt,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              min(user_id) AS min_user, max(user_id) AS max_user
       FROM events
       WHERE user_id BETWEEN 4 AND 13
         AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         AND ts < TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY event_type ORDER BY event_type"""

  /** Dynamic partition pruning end-to-end: the fact table staged
    * hive-partitioned by event date, joined to a calendar dimension whose
    * FILTER (Mondays only) is on a dim attribute — so which partitions
    * survive is only known at runtime, after the dim is evaluated. Spark's
    * DPP injects the dim's surviving keys as a runtime IN-subquery into the
    * fact scan's partition filters: 5 of the 30 date directories are read,
    * the other 25 never open a file. The per-date aggregate then runs on
    * the pruned scan.
    *
    * This is THE mechanism that makes star-schema queries feasible on a
    * date-partitioned 100 TB fact table — static pruning can't help when
    * the predicate lives on the dimension ("holiday weeks", "campaign
    * days"), and without DPP the scan reads three years of history to
    * serve a 5-day filter. LayoutSpec gates the mechanism itself: the
    * executed fact scan must carry a DynamicPruningExpression partition
    * filter and list exactly the 5 surviving directories.
    *
    * The staged write repartitions by the partition column first (the
    * [[graft.ops.Relational.partitionedParquetRoundtrip]] small-files
    * discipline). The calendar dim is date-arity — dimension scale — and
    * broadcasts, which is also what makes it eligible to feed DPP's
    * reused-broadcast subquery. */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_pq_dpp"
    Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val fact = s.read.parquet(out)
    // Calendar dim: one row per date with a day-of-week attribute. Built
    // from the source table (not the staged fact) so the optimizer cannot
    // statically fold the filter into the scan — pruning must be dynamic.
    val calendar = Tables.events(s, d)
      .select(to_date(col("ts")).as("cal_date"),
        dayofweek(col("ts")).as("dow"))
      .distinct()
    fact
      .join(broadcast(calendar.filter(col("dow") === 2)), // Mondays
        col("event_date") === col("cal_date"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100, 0).cast(LongType)).as("sum_cents"))
      .orderBy("event_date")
  }

  val dppJoinSql: String =
    """SELECT CAST(ts AS DATE) AS event_date,
         count(*) AS cnt,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_cents
       FROM events
       WHERE dayofweek(ts) = 1
       GROUP BY 1 ORDER BY event_date"""
}
