package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Execution-control surface (SURVEY.md §2.11: cache / storage-level
  * introspection / driver collect), surrogate-id generation (§2.5 W1), and
  * the custom typed Aggregator showpiece (§2.10 extension), plus pivot and
  * explode coverage.
  */
object Execution {

  /** C1/C2/C3 analog: cache a filtered intermediate, fan out into two
    * aggregate branches (each reads the cached blocks, not the source), and
    * report both branch cardinalities plus the observed storage level. The
    * reference does exactly this shape for its cleaned logs (T:235-248). */
  def cachedFanout(s: SparkSession, d: String): DataFrame = {
    val cleaned = Tables.events(s, d).filter(col("user_id") =!= 0).cache()
    val byUser = cleaned.groupBy("user_id").count()
    val byType = cleaned.groupBy("event_type").count()
    val nUsers = byUser.count() // materializes the cache
    val nTypes = byType.count()
    val useMemory = cleaned.storageLevel.useMemory // C2 introspection
    cleaned.unpersist()
    import s.implicits._
    Seq(("by_user", nUsers, useMemory), ("by_type", nTypes, useMemory))
      .toDF("branch", "n_rows", "cache_in_memory")
      .orderBy("branch")
  }

  val cachedFanoutSql: String =
    """SELECT 'by_type' AS branch,
              (SELECT count(DISTINCT event_type) FROM events WHERE user_id <> 0) AS n_rows,
              true AS cache_in_memory
       UNION ALL
       SELECT 'by_user',
              (SELECT count(DISTINCT user_id) FROM events WHERE user_id <> 0),
              true
       ORDER BY branch"""

  /** W1 + the scalable row-number fix: monotonically_increasing_id for a
    * partition-unique surrogate, Analytics.scalableRowNumber for a dense
    * sequential one. Raw ids are partitioning-dependent, so the query outputs
    * partitioning-INdependent invariants (checked exactly by the oracle):
    * distinct counts and the dense-id span.
    *
    * Cost note (the r7 bench doubling, 0.47 -> 1.00 s): an isolated
    * best-of-2 at low ambient load reproduced ~1.3 s wall / 5.1 s cpu —
    * real work, not starvation. The spend is the RDD boundary inside
    * scalableRowNumber (Tungsten -> Row deserialization, persist, Row
    * re-allocation per row) times the carried row width; pruning the unused
    * columns below cut it to ~0.9 s / 3.2 s cpu. The remaining floor is
    * structural: the range-partitioner's sampling scan, the persisted sort,
    * two RDD passes (counts + numbering), and the multi-DISTINCT Expand in
    * the final aggregate (3x rows through one agg) — each inherent to
    * producing a dense global sequence plus its uniqueness proof. */
  def surrogateIds(s: SparkSession, d: String): DataFrame = {
    // Prune to the columns the aggregate actually reads BEFORE numbering:
    // scalableRowNumber crosses the RDD boundary (Tungsten rows deserialize
    // to Row objects for the persisted sort), and that boundary blocks
    // Catalyst's automatic column pruning — every byte carried across it is
    // paid three times (deserialize, persist, re-materialize). Measured on
    // this query: dropping the unused ts/user_id cut wall ~25%.
    val ev = Tables.events(s, d).select("event_id")
      .withColumn("mono_id", monotonically_increasing_id())
    val numbered = Analytics.scalableRowNumber(ev, "event_id")
    numbered.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("mono_id")).as("n_mono"),
      countDistinct(col("num")).as("n_seq"),
      min(col("num")).as("seq_min"),
      max(col("num")).as("seq_max"))
  }

  val surrogateIdsSql: String =
    """SELECT count(*) AS n_rows, count(*) AS n_mono, count(*) AS n_seq,
              CAST(1 AS BIGINT) AS seq_min, count(*) AS seq_max
       FROM events"""

  /** Pivot: per-user event-type count matrix. */
  def pivotCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "view", "signup", "error"))
      .count()
      .na.fill(0)
      .orderBy("user_id")

  val pivotCountsSql: String =
    """SELECT user_id,
              count(*) FILTER (WHERE event_type = 'click') AS click,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'view') AS view,
              count(*) FILTER (WHERE event_type = 'signup') AS signup,
              count(*) FILTER (WHERE event_type = 'error') AS error
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Explode (generator/UDTF surface): token frequency top-20. */
  def explodeTopWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  val explodeTopWordsSql: String =
    """SELECT word, count(*) AS n
       FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       GROUP BY word ORDER BY n DESC, word LIMIT 20"""

  // =========================================================================
  // Custom typed Aggregator (§2.10): exact per-group variance via integer
  // cent-sums — deterministic under any partitioning/merge order, unlike
  // naive double var_samp. IN = cents (long), BUF = (sum, sumsq, n), OUT =
  // variance in dollars^2. The finish() arithmetic is mirrored operation-for-
  // operation in the oracle so doubles match bit-exactly.
  // =========================================================================
  object CentsVariance extends Aggregator[Long, (Long, Long, Long), Double] {
    override def zero: (Long, Long, Long) = (0L, 0L, 0L)
    override def reduce(b: (Long, Long, Long), cents: Long): (Long, Long, Long) =
      (b._1 + cents, b._2 + cents * cents, b._3 + 1)
    override def merge(x: (Long, Long, Long), y: (Long, Long, Long)): (Long, Long, Long) =
      (x._1 + y._1, x._2 + y._2, x._3 + y._3)
    override def finish(b: (Long, Long, Long)): Double = {
      val n = b._3.toDouble
      if (b._3 < 2) Double.NaN
      else (b._2.toDouble - b._1.toDouble * b._1.toDouble / n) / (n - 1.0) / 10000.0
    }
    override def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Per-nation exact balance variance through the typed Aggregator (UDAF
    * registered via functions.udaf). */
  def varianceAgg(s: SparkSession, d: String): DataFrame = {
    val centsVar = udaf(CentsVariance)
    Tables.customer(s, d)
      .withColumn("cents", round(col("c_acctbal") * 100, 0).cast(LongType))
      .groupBy("c_nationkey")
      .agg(centsVar(col("cents")).as("bal_variance"), count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  val varianceAggSql: String =
    """WITH c AS (SELECT c_nationkey,
                    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
                  FROM customer),
        a AS (SELECT c_nationkey,
                CAST(sum(cents) AS BIGINT) AS s,
                CAST(sum(cents * cents) AS BIGINT) AS sq,
                count(*) AS n
              FROM c GROUP BY c_nationkey)
       SELECT c_nationkey,
              (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS bal_variance,
              n
       FROM a ORDER BY c_nationkey"""

  /** Small-file COMPACTION — the lakehouse OPTIMIZE shape. A deliberately
    * fragmented copy of events (64-way repartition → 64 tiny parquet files,
    * the classic streaming-ingest pathology) is compacted by a plain
    * repartition-to-target write; a require() gates the ≥8× file-count
    * reduction, and the RESULT is aggregated from the COMPACTED files, so
    * the oracle hash gate proves the rewrite lost nothing. At 100 TB the
    * same two knobs (repartition width, maxRecordsPerFile) size output
    * files to the table's read pattern; the rewrite is one shuffle-free
    * coalescing pass per partition of the fragmented input. Each call
    * overwrites one fixed directory under `java.io.tmpdir`. */
  def compaction(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact"
    def nFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100, 0).cast(LongType).as("cents"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$base/frag")
    val frag = nFiles(s"$base/frag")
    s.read.parquet(s"$base/frag")
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$base/opt")
    val opt = nFiles(s"$base/opt")
    require(frag >= 32 && opt * 8 <= frag,
      s"compaction must cut the file count >= 8x, got $frag -> $opt")
    s.read.parquet(s"$base/opt")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }

  val compactionSql: String =
    """SELECT event_type, count(*) AS cnt,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                AS sum_cents
       FROM events GROUP BY event_type ORDER BY event_type"""
}
