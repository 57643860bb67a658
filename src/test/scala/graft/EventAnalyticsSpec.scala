package graft

import java.sql.Timestamp

import graft.ops.EventAnalytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-analytics family: the oracle gate hash-checks end results at
  * sf0.01; these specs gate the semantic guarantees the oracle can't see —
  * funnel ordering strictness, grid contiguity, forward-fill carry, the
  * MAD=0 edge, and quartile-score bounds. */
class EventAnalyticsSpec extends SparkSpec {

  /** Run `body` on a crafted events table (full corpus schema) in a temp
    * sf-dir, so Tables.events reads it through the normal path; the dir is
    * deleted afterwards. */
  private def craftEvents[A](rows: Seq[(Long, String, Long, String, Double)])(
      body: String => A): A = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_spec")
    try {
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit("""{"k": 1}""").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      body(dir.toString)
    } finally Fs.deleteRec(dir)
  }

  test("funnel: step counts are monotone non-increasing, base converts at 1.0") {
    val rows = EventAnalytics.eventFunnel(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"funnel grew: ${counts.toSeq}")
    assert(rows.head.getDouble(3) == 1.0)
  }

  test("funnel: an out-of-order step does not convert; a later one does") {
    val got = craftEvents(Seq(
      // user 1 converts signup -> view -> click -> purchase in order
      (1L, "2024-01-01 10:00:00", 1L, "signup", 1.0),
      (2L, "2024-01-01 11:00:00", 1L, "view", 1.0),
      (3L, "2024-01-01 12:00:00", 1L, "click", 1.0),
      (4L, "2024-01-01 13:00:00", 1L, "purchase", 1.0),
      // user 2's only view precedes their signup -> stops after step 1,
      // and their purchase (later) cannot skip the missing view/click
      (5L, "2024-01-01 09:00:00", 2L, "view", 1.0),
      (6L, "2024-01-01 10:00:00", 2L, "signup", 1.0),
      (7L, "2024-01-01 13:00:00", 2L, "purchase", 1.0)))(
      EventAnalytics.eventFunnel(spark, _).collect())
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("signup" -> 2L, "view" -> 1L, "click" -> 1L, "purchase" -> 1L))
  }

  test("cohort retention: offset 0 is the cohort size at retention 1.0") {
    val rows = EventAnalytics.cohortRetention(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getInt(1) == 0).foreach { r =>
      assert(r.getDouble(3) == 1.0, s"offset-0 retention != 1: $r")
    }
    assert(rows.forall(_.getInt(1) >= 0), "negative week offset")
    // every cell's n_users is bounded by its cohort size (offset-0 cell)
    val sizes = rows.filter(_.getInt(1) == 0)
      .map(r => r.getTimestamp(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(r.getLong(2) <= sizes(r.getTimestamp(0))))
  }

  test("transitions: rows normalize to ~1 per source state, counts conserve") {
    val rows = EventAnalytics.eventTransitions(spark, Sf).collect()
    val bySrc = rows.groupBy(_.getString(0))
    bySrc.foreach { case (src, rs) =>
      val p = rs.map(_.getDouble(3)).sum
      // probs are rounded to 4dp, so the row sum is 1 within rounding slack
      assert(math.abs(p - 1.0) <= rs.length * 5e-5, s"$src prob sum $p")
    }
    val total = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, Sf)
    val users = ev.select("user_id").distinct().count()
    assert(total == ev.count() - users,
      "transition count != events - one-per-user (first events have no prev)")
  }

  test("gap fill: hourly grid is contiguous and forward fill carries") {
    val rows = EventAnalytics.gapFill(spark, Sf).collect()
    assert(rows.nonEmpty, "no sampled users in the gap-fill grid")
    val byUser = rows.groupBy(_.getLong(0)).values
    byUser.foreach { rs =>
      val hours = rs.map(_.getTimestamp(1).getTime).sorted
      hours.zip(hours.tail).foreach { case (a, b) =>
        assert(b - a == 3600000L, "grid gap != 1 hour")
      }
      // first grid row is the user's first active hour -> observed
      val inOrder = rs.sortBy(_.getTimestamp(1).getTime)
      assert(inOrder.head.getBoolean(3), "first grid hour not observed")
      // replay the forward fill
      var carry = Double.NaN
      inOrder.foreach { r =>
        if (r.getBoolean(3)) carry = r.getDouble(2)
        else assert(r.getDouble(2) == carry, "ffill broke the carry")
      }
    }
  }

  test("anomaly MAD: a lone spike is flagged; zero-MAD users flag only movers") {
    val base = (1L to 9L).map(i =>
      (i, f"2024-01-01 10:0$i%01d:00", 1L, "click", 10.0))
    val got = craftEvents(base :+
      (10L, "2024-01-01 11:00:00", 1L, "click", 1000.0))(
      EventAnalytics.anomalyMad(spark, _).collect())
    // median 10.00 (m2=2000 cents-doubled), MAD 0 -> only the spike moves
    assert(got.map(_.getLong(1)).toSeq == Seq(10L))
    assert(got.head.getLong(4) == 2000L, "doubled median cents")
    assert(got.head.getLong(5) == 0L, "doubled MAD")
  }

  test("funnel latency covers each step pair; users match the funnel counts") {
    val lat = EventAnalytics.funnelLatency(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val funnel = EventAnalytics.eventFunnel(spark, Sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val pairs = EventAnalytics.FunnelSteps.zip(EventAnalytics.FunnelSteps.tail)
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val (n, med) = lat(s"$a->$b")
      assert(n == funnel(i + 2), s"$a->$b users != step ${i + 2} converts")
      assert(med > 0.0, "strict min-after chaining forces positive gaps")
    }
  }

  test("attribution: purchases conserve across channels; crafted last-touch") {
    val attr = EventAnalytics.lastTouchAttribution(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val purchases = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase").count()
    assert(attr.values.sum == purchases,
      "every purchase must land in exactly one channel")
    val got = craftEvents(Seq(
      (1L, "2024-01-01 08:00:00", 1L, "purchase", 10.0), // nothing before -> none
      (2L, "2024-01-01 09:00:00", 2L, "click", 0.0),
      (3L, "2024-01-01 09:30:00", 2L, "view", 0.0),
      (4L, "2024-01-01 10:00:00", 2L, "purchase", 25.0), // last touch = view
      (5L, "2024-01-01 11:00:00", 2L, "purchase", 5.0)))( // last non-purchase = view
      EventAnalytics.lastTouchAttribution(spark, _).collect())
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("none" -> ((1L, 1000L)), "view" -> ((2L, 3000L))),
      s"unexpected attribution: $got")
  }

  test("cusum flags a sustained shift but not the noisy baseline") {
    // days 1-10 alternate 9.00/11.00 (noisy flat baseline), days 11-15 jump
    // to 30.00: D=15, doubled-MAD 800, threshold 48000 -> the CUSUM path
    // crosses on day 12 and stays up; no baseline day may flag.
    val rows = (1 to 15).map { day =>
      val v = if (day <= 10) { if (day % 2 == 1) 9.00 else 11.00 } else 30.00
      (day.toLong, f"2024-01-$day%02d 12:00:00", 1L, "purchase", v)
    }
    val got = craftEvents(rows)(EventAnalytics.cusumShift(spark, _).collect())
      .map(r => r.getTimestamp(1).toString.take(10))
    assert(got.toSeq == Seq("2024-01-12", "2024-01-13", "2024-01-14", "2024-01-15"),
      s"unexpected flagged days: ${got.toSeq}")
  }

  test("rfm: scores bound to quartile range and cents are exact") {
    val rows = EventAnalytics.rfmSegments(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getInt(4), r.getInt(5), r.getInt(6))
      assert(rs >= 1 && rs <= 4 && fs >= 1 && fs <= 4 && ms >= 1 && ms <= 4)
      assert(r.getString(7) == s"$rs$fs$ms")
    }
    // the most recent purchaser always lands in the top recency quartile
    val minRec = rows.map(_.getLong(1)).min
    rows.filter(_.getLong(1) == minRec).foreach(r => assert(r.getInt(4) == 4))
    // exact integer monetary: recompute one user's cents from the raw table
    val u = rows.head.getLong(0)
    val cents = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase" && col("user_id") === u)
      .agg(sum(round(col("value") * 100, 0).cast("long"))).head().getLong(0)
    assert(rows.head.getLong(3) == cents)
  }

  test("windowed funnel is a per-step tightening of the unbounded funnel") {
    val unbounded = EventAnalytics.eventFunnel(spark, Sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val windowed = EventAnalytics.funnelWindowed(spark, Sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    // step 1 has no window to apply; later steps can only lose users
    assert(windowed(1) == unbounded(1))
    (2 to 4).foreach { k =>
      assert(windowed(k) <= unbounded(k),
        s"step $k: windowed ${windowed(k)} > unbounded ${unbounded(k)}")
    }
    // Replay the min-after chaining per user in the driver, with and
    // without the 24h bound, and demand EXACT per-step equality with both
    // queries — this also settles "does the window bite" from the data
    // itself (the replay says where bounded < unbounded), so the spec
    // holds on any regenerated corpus instead of hard-coding that this
    // one has a window-violating user.
    val steps = EventAnalytics.FunnelSteps
    val winUs = EventAnalytics.ConvWindowHours.toLong * 3600L * 1000000L
    val byUser = Tables.events(spark, Sf)
      .filter(col("event_type").isin(steps: _*))
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime * 1000 +
          r.getTimestamp(2).getNanos / 1000 % 1000))
      .groupBy(_._1)
    def replay(bounded: Boolean): Map[Int, Long] = {
      val counts = Array.fill(steps.size)(0L)
      byUser.values.foreach { rows =>
        val byType = rows.groupBy(_._2).view.mapValues(_.map(_._3).sorted).toMap
        var prev = byType.get(steps.head).map(_.min)
        if (prev.isDefined) {
          counts(0) += 1
          var k = 1
          while (k < steps.size && prev.isDefined) {
            val next = byType.getOrElse(steps(k), Array.empty[Long])
              .find(t => t > prev.get && (!bounded || t <= prev.get + winUs))
            if (next.isDefined) counts(k) += 1
            prev = next
            k += 1
          }
        }
      }
      counts.zipWithIndex.map { case (n, i) => (i + 1) -> n }.toMap
    }
    assert(replay(bounded = false) == unbounded,
      "unbounded funnel must equal the driver replay")
    assert(replay(bounded = true) == windowed,
      "windowed funnel must equal the bounded driver replay")
  }

  test("event paths match an in-memory trigram replay of the per-user timelines") {
    val got = EventAnalytics.eventPaths(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val ev = Tables.events(spark, Sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getLong(3)))
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    ev.groupBy(_._1).values.foreach { rows =>
      val types = rows.sortBy(r => (r._3, r._4)).map(_._2)
      types.sliding(EventAnalytics.PathLen).filter(_.size == EventAnalytics.PathLen)
        .foreach(tri => counts(tri.mkString(">")) += 1)
    }
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(EventAnalytics.PathTopK)
    assert(got == expect, s"paths diverge: got ${got.take(3)} vs ${expect.take(3)}")
  }

  test("A/B readout: integer components replay exactly and t has the analytic sign") {
    val r = EventAnalytics.abTest(spark, Sf).head()
    val (nA, sumA, nB, sumB, t) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    // arm assignment is ~balanced (md5 parity over the user dimension)
    assert(math.abs(nA - nB) <= (nA + nB) / 3, s"arms badly unbalanced: $nA vs $nB")
    // components replay from the raw table
    val perUser = Tables.events(spark, Sf).groupBy("user_id")
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1))
    def arm(u: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "A" else "B"
    }
    val byArm = perUser.groupBy(p => arm(p._1))
    assert(byArm("A").length == nA && byArm("B").length == nB)
    assert(byArm("A").map(_._2).sum == sumA && byArm("B").map(_._2).sum == sumB)
    // the statistic's sign must match the mean difference
    val meanDiff = sumA.toDouble / nA - sumB.toDouble / nB
    assert(t == 0.0 || t.sign == meanDiff.sign, s"t=$t vs meanDiff=$meanDiff")
  }

  test("A/B readout guards degenerate arms: null t, never NaN/Infinity") {
    import spark.implicits._
    // Welch's t divides by (n-1), n, and the pooled standard error: a
    // 1-user arm or two zero-variance arms has no defined statistic. The
    // guard must emit a NULL t_stat (components still reported), not the
    // NaN/Infinity the raw formula produces.
    def t(rows: Seq[(Long, String)]): org.apache.spark.sql.Row =
      EventAnalytics.abTestOf(rows.toDF("cents", "arm")).head()
    // one-user arm
    val single = t(Seq((100L, "A"), (200L, "B"), (300L, "B")))
    assert(single.isNullAt(4), s"1-user arm must yield null t, got $single")
    assert(single.getLong(0) == 1 && single.getLong(1) == 100L)
    // both arms constant -> zero pooled variance
    val flat = t(Seq((5L, "A"), (5L, "A"), (7L, "B"), (7L, "B")))
    assert(flat.isNullAt(4), s"zero-variance arms must yield null t, got $flat")
    // healthy arms still produce a finite statistic
    val ok = t(Seq((1L, "A"), (3L, "A"), (10L, "B"), (20L, "B")))
    assert(!ok.isNullAt(4) && !ok.getDouble(4).isNaN && !ok.getDouble(4).isInfinite)
    assert(ok.getDouble(4) < 0, "mean(A) < mean(B) must give negative t")
  }
}
