package graft

import graft.ops.Quality
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The DQ audit must be ONE lazy plan, not a sequence of driver actions:
  * at 100 TB, seven .count() calls are seven full-table jobs where one
  * union-of-aggregates pass per table suffices. */
class QualitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("dqReport builds lazily — no jobs beyond bare table-read metadata") {
    // spark.read.parquet itself runs tiny schema-inference jobs; measure that
    // floor first, then assert the report build adds NOTHING on top (i.e. no
    // .count()-style actions hidden in the builder).
    // Same table-read sequence the two builders perform (report: 4 tables,
    // detect: lineitem + orders again).
    val (metadataFloor, _) = metered(
      Seq("lineitem", "orders", "customer", "nation", "lineitem", "orders")
        .foreach(t => Tables.load(spark, Sf, t)))
    lazy val df = Quality.dqReport(spark, Sf)
    lazy val detect = Quality.dqDetect(spark, Sf)
    val (buildJobs, _) = metered { df; detect }
    assert(buildJobs <= metadataFloor,
      s"dqReport+dqDetect build ran $buildJobs jobs vs read floor " +
        s"$metadataFloor — driver-side actions crept back in")
    assert(df.columns.toSeq == Seq("check_name", "violations"))
    assert(detect.columns.toSeq == Seq("check_name", "violations"))
  }

  test("dqReport scans each table a bounded number of times") {
    val df = Quality.dqReport(spark, Sf)
    df.collect() // finalize AQE on this queryExecution
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.mkString
    }
    def n(t: String) = scans.count(_.contains(t + ".parquet"))
    // liChecks + fk anti-join = 2; fk left/right + dup groupBy = 3.
    assert(n("lineitem") <= 2, s"lineitem scanned ${n("lineitem")}x: $scans")
    assert(n("orders") <= 3, s"orders scanned ${n("orders")}x: $scans")
    assert(n("customer") <= 2 && n("nation") <= 1, s"dims over-scanned: $scans")
  }

  test("snapshot diff change counts obey the synthetic edit moduli") {
    import org.apache.spark.sql.functions.col
    val diff = graft.ops.Quality.snapshotDiff(spark, Sf).collect()
    val ids = Tables.events(spark, Sf).select("event_id").collect()
      .map(_.getLong(0))
    val byType = diff.groupBy(_.getString(1)).map { case (t, rs) => t -> rs.length }
    assert(byType("D") == ids.count(_ % 97 == 0))
    assert(byType("I") == ids.count(_ % 101 == 0))
    // updates exclude ids the delete already removed
    assert(byType("U") == ids.count(i => i % 89 == 0 && i % 97 != 0))
    // every U row moved by exactly the planted +100 cents
    diff.filter(_.getString(1) == "U").foreach { r =>
      assert(r.getLong(3) - r.getLong(2) == 100L)
    }
    // inserts carry the clone offset and a real payload
    diff.filter(_.getString(1) == "I").foreach { r =>
      assert(r.getLong(0) >= 10000000L && r.getLong(2) == -1L && r.getLong(3) >= 0L)
    }
  }

  test("schema-merge read null-fills exactly the pre-evolution batch") {
    val rows = graft.ops.Relational.schemaMergeRoundtrip(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = Tables.nation(spark, Sf).count()
    assert(rows("a")._1 == n && rows("b")._1 == n)
    assert(rows("a")._2 == n, "every pre-evolution row must null-fill n_pop")
    assert(rows("b")._2 == 0L, "no post-evolution row may null-fill")
    assert(rows("a")._3 == 0L && rows("b")._3 > 0L)
  }

  test("dqReport violation counts match independently computed checks") {
    val li = Tables.lineitem(spark, Sf)
    val o = Tables.orders(spark, Sf)
    val c = Tables.customer(spark, Sf)
    val n = Tables.nation(spark, Sf)
    val expected = Map(
      "fk_lineitem_orders_orphans" ->
        li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count(),
      "fk_orders_customer_orphans" ->
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count(),
      "fk_customer_nation_orphans" ->
        c.join(n, c("c_nationkey") === n("n_nationkey"), "left_anti").count(),
      "domain_discount_out_of_range" ->
        li.filter(col("l_discount") < 0 || col("l_discount") > 1).count(),
      "domain_quantity_nonpositive" -> li.filter(col("l_quantity") <= 0).count(),
      "unique_orderkey_duplicates" ->
        o.groupBy("o_orderkey").count().filter(col("count") > 1).count(),
      "null_lineitem_keys" ->
        li.filter(col("l_orderkey").isNull || col("l_partkey").isNull).count())
    val got = Quality.dqReport(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("incrAgg: base ⊕ delta equals the full recompute, with both sides live") {
    val o = Tables.orders(spark, Sf)
    val cutoff = lit(Quality.IncrCutoff).cast("timestamp")
    val nBase = o.filter(col("o_orderdate") < cutoff).count()
    val nDelta = o.filter(col("o_orderdate") >= cutoff).count()
    assert(nBase > 0 && nDelta > 0,
      s"cutoff must split the corpus (base=$nBase delta=$nDelta) or the merge is vacuous")
    val full = o.groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"),
        max("o_orderdate").as("last_order"))
      .orderBy("custkey").collect()
    val incr = Quality.incrAgg(spark, Sf).collect()
    assert(incr.length == full.length)
    incr.zip(full).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq, s"incremental row $a != recompute $b")
    }
  }
}
