package graft.perfbench

object Stats {
  /** Linearly interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.floor((1.0 - 10.0 / xs.size) * 1000) / 1000
      Some((p * 100, quantile(xs, p)))
    }
}

/** Turns the recorded spans and traced counters into the reported metrics.
  * End-to-end figures come from untraced passes only. A workload figure is
  * the sum over its steps of each step's median across passes, so one slow
  * pass moves it by no more than its share of steps. */
final class Metrics(rec: Recorder, wl: Workload, untraced: Seq[Int], traced: Seq[Int]) {
  import Stats.quantile

  private def stepSpans(passes: Seq[Int]): Seq[Span] =
    passes.flatMap(p => rec.ofPass(p, "step"))

  private def perStepMedian(passes: Seq[Int], f: Span => Double): Double =
    stepSpans(passes).groupBy(_.name).values.map(ss => quantile(ss.map(f), 0.5)).sum

  def wallS(passes: Seq[Int]): Double = perStepMedian(passes, _.wallMs) / 1000
  def cpuS(passes: Seq[Int]): Double = perStepMedian(passes, _.cpuMs) / 1000

  private val calls = wl.steps.filter(_.call).map(_.name).toSet
  private def callMs: Seq[Double] = stepSpans(untraced).filter(s => calls(s.name)).map(_.wallMs)
  def callPct(q: Double): Double = quantile(callMs, q)
  /** Geometric mean call latency: every call counts alike, however long,
    * so a gain on a short call moves it as much as one on a long call. */
  def callGeomean: Double =
    if (callMs.isEmpty) Double.NaN else math.exp(callMs.map(math.log).sum / callMs.size)

  private def opMs(kinds: Set[String], passes: Seq[Int], ingest: IngestStream): Seq[Double] =
    ingest.ops.collect { case (p, k, _, ms) if kinds(k) && passes.contains(p) => ms }.toSeq

  /** The workload's own latency figures, printed beside the contract metrics. */
  def workloadMetrics(stream: StreamClock, ingest: Option[IngestStream]): Seq[(String, (Double, String))] = {
    val t = Stats.tail(callMs)
    val base = Seq(
      "call_count" -> (callMs.size.toDouble, "count"),
      "call_ms_p50" -> (callPct(0.5), "ms"),
      "call_ms_tail" -> (t.map(_._2).getOrElse(Double.NaN), "ms"),
      "call_ms_tail_pct" -> (t.map(_._1).getOrElse(Double.NaN), "percentile"))
    base ++ ingest.toSeq.flatMap { in =>
      val mb = stream.all.map(_.durations("triggerExecution").toDouble)
      Seq(
        "cycle_ms_p50" -> (callPct(0.5), "ms"),
        "cycle_ms_tail" -> (t.map(_._2).getOrElse(Double.NaN), "ms"),
        "probe_ms_p50" -> (quantile(opMs(Set("probe"), untraced, in), 0.5), "ms"),
        "commit_ms_p50" -> (quantile(opMs(Set("commit", "append"), untraced, in), 0.5), "ms"),
        "delete_ms_p50" -> (quantile(opMs(Set("delete"), untraced, in), 0.5), "ms"),
        "compact_ms_p50" -> (quantile(opMs(Set("compact"), untraced, in), 0.5), "ms"),
        "microbatch_ms_p50" -> (quantile(mb, 0.5), "ms"))
    }
  }

  /** Per-layer ledger, averaged over the traced passes. */
  def perLayer(traces: Seq[PassTrace], stats: Seq[Map[String, Double]], stream: StreamClock,
      ingest: Option[IngestStream]): Seq[(String, (Double, String))] = {
    val n = math.max(1, traces.size).toDouble
    def total(f: StepTrace => Double): Double = traces.flatMap(_.steps).map(f).sum / n
    def layer(l: String)(f: StepTrace => Double): Double =
      traces.flatMap(_.steps).filter(_.layer == l).map(f).sum / n
    val ops = traces.flatMap(_.steps).map(_.operators).sum.toDouble
    val layers = Seq("ops", "llm", "index", "streaming").flatMap { l =>
      Seq(s"$l.wall_ms" -> (layer(l)(_.wallMs), "ms"),
        s"$l.executor_cpu_ms" -> (layer(l)(_.executorCpuMs), "ms"),
        s"$l.driver_self_ms" -> (layer(l)(_.driverSelfMs), "ms"))
    }
    val families = Seq("shingle", "ivf", "bm25")
    val opKinds = Seq("probe" -> families, "commit" -> Seq("shingle"), "append" -> Seq("ivf"),
      "delete" -> families, "compact" -> families)
    val index = opKinds.flatMap { case (k, fs) =>
      fs.map { f =>
        s"index.$k.${f}_ms" -> (ingest.map(_.ops.collect {
          case (p, kk, ff, ms) if kk == k && ff == f && traced.contains(p) => ms
        }.sum / n).getOrElse(0.0), "ms")
      }
    } ++ Seq("commit", "append", "delete", "compact").map { k =>
      (if (k == "compact") "index.compact.bytes_rewritten" else s"index.$k.bytes_written") ->
        (ingest.map(_.opBytes.collect { case (p, kk, b) if kk == k && traced.contains(p) => b.toDouble }
          .sum / n).getOrElse(0.0), "bytes")
    } ++ Seq(
      "index.probe_ms_p50" -> ingest.map(in => quantile(opMs(Set("probe"), traced, in), 0.5)).getOrElse(0.0),
      "index.commit_ms_p50" -> ingest.map(in => quantile(opMs(Set("commit", "append"), traced, in), 0.5))
        .getOrElse(0.0)).map { case (k, v) => k -> (v, "ms") } ++
      Seq("index.files" -> "count", "index.tombstone_rows" -> "count", "index.space_amp" -> "ratio")
        .map { case (k, u) => k -> (stats.flatMap(_.get(k)).sum / n, u) }
    val mbs = traces.flatMap(_.microbatches)
    def mbSum(k: String): Double = mbs.map(_.getOrElse(k, 0L).toDouble).sum / n
    val streamM = Seq(
      "stream.add_batch_ms" -> (mbSum("addBatch"), "ms"),
      "stream.wal_commit_ms" -> (mbSum("walCommit"), "ms"),
      "stream.query_planning_ms" -> (mbSum("queryPlanning"), "ms"),
      "stream.latest_offset_ms" -> (mbSum("latestOffset"), "ms"),
      "stream.trigger_ms" -> (mbSum("triggerExecution"), "ms"),
      "stream.batches" -> (mbs.size / n, "count"),
      "stream.input_rows" -> (traces.map(_.streamRows).sum / n, "count"),
      "stream.microbatch_ms_p50" ->
        (if (mbs.isEmpty) 0.0 else quantile(mbs.map(_("triggerExecution").toDouble), 0.5), "ms"))
    // The first pass runs every plan for the first time: no baseline.
    val warmUntraced = untraced.filter(_ != 0)
    val untracedWall = wallS(if (warmUntraced.isEmpty) untraced else warmUntraced)
    val tracedWall = wallS(traced)
    Seq(
      "functions.interpreted_exprs" -> (total(_.interpreted.toDouble), "count"),
      "functions.wscg_share" ->
        (if (ops == 0) 0.0 else traces.flatMap(_.steps).map(_.fused).sum / ops, "ratio"),
      "codegen.compile_ms" -> (traces.map(_.compileMs).sum / n, "ms"),
      "llm.result_bytes" -> (layer("llm")(_.resultBytes.toDouble), "bytes"),
      "driver.self_ms" -> (total(_.driverSelfMs), "ms"),
      "spark.jobs" -> (total(_.jobs.toDouble), "count"),
      "spark.stages" -> (total(_.stages.toDouble), "count"),
      "spark.tasks" -> (total(_.tasks.toDouble), "count"),
      "spark.failed_tasks" -> (total(_.failedTasks.toDouble), "count"),
      "spark.sched_delay_ms" -> (total(_.schedDelayMs), "ms"),
      "spark.executor_run_ms" -> (total(_.executorRunMs), "ms"),
      "spark.executor_cpu_ms" -> (total(_.executorCpuMs), "ms"),
      "spark.gc_ms" -> (total(_.gcMs), "ms"),
      "spark.shuffle_write_bytes" -> (total(_.shuffleWrite.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> (total(_.shuffleRead.toDouble), "bytes"),
      "spark.spill_bytes" -> (total(_.spill.toDouble), "bytes"),
      "spark.result_bytes" -> (total(_.resultBytes.toDouble), "bytes"),
      "planner.queries" -> (total(_.queries.toDouble), "count"),
      "planner.analysis_ms" -> (total(_.analysisMs), "ms"),
      "planner.optimization_ms" -> (total(_.optimizationMs), "ms"),
      "planner.planning_ms" -> (total(_.planningMs), "ms")) ++
      layers ++ index ++ streamM ++ Seq(
        "trace.untraced_wall_s" -> (untracedWall, "s"),
        "trace.traced_wall_s" -> (tracedWall, "s"),
        "trace.overhead_s" -> (tracedWall - untracedWall, "s"))
  }

  /** One row per step: untraced medians, plus the traced ledger's means. */
  def stepTable(traces: Seq[PassTrace]): String = {
    val n = math.max(1, traces.size).toDouble
    val traced = traces.flatMap(_.steps).groupBy(_.name)
    Json.obj(wl.steps.map { st =>
      val ss = stepSpans(untraced).filter(_.name == st.name)
      val t = traced.getOrElse(st.name, Nil)
      def m(f: StepTrace => Double) = Json.num(t.map(f).sum / n)
      st.name -> Json.obj(Seq(
        "layer" -> Json.str(st.layer),
        "wall_ms" -> Json.num(quantile(ss.map(_.wallMs), 0.5)),
        "cpu_ms" -> Json.num(quantile(ss.map(_.cpuMs), 0.5))) ++ (if (t.isEmpty) Nil else Seq(
        "traced_wall_ms" -> m(_.wallMs),
        "executor_cpu_ms" -> m(_.executorCpuMs),
        "driver_self_ms" -> m(_.driverSelfMs),
        "jobs" -> m(_.jobs.toDouble),
        "stages" -> m(_.stages.toDouble),
        "tasks" -> m(_.tasks.toDouble),
        "shuffle_write_bytes" -> m(_.shuffleWrite.toDouble),
        "planning_ms" -> m(x => x.analysisMs + x.optimizationMs + x.planningMs),
        "interpreted_exprs" -> m(_.interpreted.toDouble))))
    })
  }
}
