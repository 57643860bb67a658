package graft

import graft.ops.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Z-order layout: the oracle gate already proves the rewrite preserves
  * the data; this spec gates the REASON the layout exists — parquet
  * row-group pruning under a 2-D predicate must scan materially fewer
  * rows from the z-ordered files than from time-sorted or unsorted copies
  * of the same events. */
class LayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Dir = "/root/testdata/sf0.01" // 10k events: 64 real files

  /** Rows the parquet scan actually surfaced (post row-group pruning). */
  private def scannedRows(df: DataFrame): Long = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metrics("numOutputRows").value
    }.sum
  }

  test("dppJoin: fact scan carries a runtime pruning filter and reads only Monday partitions") {
    val df = Layout.dppJoin(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val factScans = collectWithSubqueries(plan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }
    assert(factScans.nonEmpty, s"expected a hive-partitioned fact scan in:\n$plan")
    val dpp = factScans.filter(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])))
    assert(dpp.nonEmpty,
      s"fact scan must be pruned by a DYNAMIC (runtime) partition filter:\n$plan")
    // The runtime filter must have actually shrunk the read: 5 Monday
    // directories out of 30 dates (metric is post-pruning selected count).
    dpp.foreach { f =>
      val selected = f.metrics.get("numPartitions").map(_.value)
      assert(selected.contains(5L),
        s"expected 5 surviving Monday partitions, got $selected")
    }
  }

  test("closed-form Morton z-value equals the 16-round fold row-for-row") {
    // Round 16 replaced the interpreted higher-order fold with the
    // branchless shift-or-mask spread (the fold's summed terms occupy
    // disjoint bit positions, so the sum IS the OR of the spreads); the
    // replaced formulation stays here verbatim and the live events table
    // must agree bit-for-bit, or the written z layout silently moves.
    import org.apache.spark.sql.functions.{col, expr}
    val diverged = Layout.zEvents(spark, Dir)
      .withColumn("z_fold", expr(Layout.ZExprFold))
      .filter(col("z") =!= col("z_fold")).count()
    assert(diverged == 0, s"$diverged events diverge between the closed-form" +
      " Morton z and the fold formulation")
  }

  test("z-order prunes the 2-D slice several-fold better than 1-D layouts") {
    val layouts = Seq("z", "ts", "none").map { l =>
      l -> Layout.writeLayout(spark, Dir, l)
    }.toMap
    val rows = layouts.map { case (l, dir) =>
      l -> scannedRows(Layout.slice2d(spark.read.parquet(dir)))
    }
    val results = layouts.map { case (l, dir) =>
      l -> Layout.slice2d(spark.read.parquet(dir)).count()
    }
    // same answer from every layout
    assert(results.values.toSet.size == 1,
      s"layouts disagree on the slice: $results")
    val total = spark.read.parquet(layouts("none")).count()
    info(s"scanned rows by layout (of $total total): $rows")
    // unsorted: stats span everything, nothing prunes
    assert(rows("none") == total,
      "unsorted baseline unexpectedly pruned — selectivity assumptions off")
    // time-sorted prunes the ten-day window but not the user cohort
    assert(rows("ts") * 2 <= total, s"time-sort pruned nothing: $rows")
    // z-order prunes both dimensions: at least 2x better than time-sort
    assert(rows("z") * 2 <= rows("ts"),
      s"z-order not materially better than time-sort: $rows")
  }

  test("q_compaction and q_zorder_layout rewrite one fixed dir each, " +
      "so a second call adds no temp dir") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def dirs(): Set[String] = {
      val st = java.nio.file.Files.list(tmp)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(n => n.startsWith("graft_compact") || n.startsWith("graft_zorder_")).toSet
      finally st.close()
    }
    def run(): Unit = {
      graft.ops.Execution.compaction(spark, Dir).collect()
      Layout.zOrderLayout(spark, Dir).collect()
      ()
    }
    run()
    val first = dirs()
    run()
    assert((dirs() -- first).isEmpty, s"new temp dirs: ${dirs() -- first}")
  }
}
