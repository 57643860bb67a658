package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Fs, ShuffleDir}

/** Benchmark runner: one workload, one process, one closed-loop caller.
  *
  *   --workload <name> --data <dir> --tiny <dir> --tmp <dir> --seconds <n>
  *   --trace <0|1> --check-dir <dir> --expect <file> --result <file> --spans <file>
  *
  * Set-up, timed from JVM start, builds the session as `graft.Bench` does
  * and warms it on the tiny input; the workload's full-size preparation
  * (pristine indexes) follows. Timed passes run until `--seconds` have
  * elapsed. Each call's output digest must equal the checked digest of its
  * step in `--expect` (a JSON object, step to digest), or, for a step it
  * does not name, the first pass's; after timing, the workload checks what
  * the last pass wrote. With `--trace 1` a traced pass sits between untraced
  * ones, so the per-layer ledger comes with its own overhead figure. Results
  * go to `--result` as one JSON object, spans to `--spans`. */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private[perfbench] def session(cpus: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", ShuffleDir.path)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def wchar(): Long =
    try {
      val io = new String(Files.readAllBytes(Paths.get("/proc/self/io")), "UTF-8")
      io.linesIterator.find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong).getOrElse(-1L)
    } catch { case _: Exception => -1L }

  private def peakRssMb(): Double =
    try {
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
      st.linesIterator.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val tiny = arg(args, "tiny")
    val tmp = arg(args, "tmp")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val checkDir = arg(args, "check-dir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ── set-up: JVM start → session built and warmed on the tiny input ──
    // It pays for class loading and the first code generation; the
    // full-size preparation (pristine indexes) is added to it.
    Fs.deleteRec(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    val spark = session(cpus, tmp)
    val warm = Workload(workload, spark, tiny, s"$tmp/tiny", s"$tmp/tiny/check")
    warm.warmupSteps.foreach { st => st.digest(st.run()); Workload.release(spark) }
    val warmS = (System.currentTimeMillis() - jvmStart) / 1000.0
    log(f"set-up: $warmS%.2f s")
    Fs.deleteRec(Paths.get(checkDir))
    Files.createDirectories(Paths.get(checkDir))
    val tp = System.nanoTime()
    val wl = Workload(workload, spark, data, tmp, checkDir)
    wl.prepare()
    val prepareS = (System.nanoTime() - tp) / 1e9
    log(f"prepare: $prepareS%.2f s")

    val rec = new Recorder(workload)
    val ingest = wl match { case in: IngestStream => in.rec = rec; Some(in); case _ => None }

    // Digest each step must reproduce: the checked one when an earlier run
    // on these inputs passed the oracle, else the first timed pass's, which
    // the checks after timing verify.
    val expected: Map[String, String] = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(arg(args, "expect"))).fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val reference = mutable.Map.empty[String, String] ++= expected

    // ── timed passes ───────────────────────────────────────────────────
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val stream = new StreamClock(spark)
    val layerOf = wl.steps.map(st => st.name -> st.layer).toMap
    val traces = mutable.ArrayBuffer.empty[PassTrace]
    val stats = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedPasses = mutable.ArrayBuffer.empty[Int]
    val tracedPasses = mutable.ArrayBuffer.empty[Int]
    val writeAmp = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val inputBytes = wl.inputBytes.toDouble
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // A traced run alternates untraced and traced passes. The first pass is
    // also the first execution of its plans, so the overhead comparison
    // leaves it out: traced pass 1 against untraced pass 2.
    val minPasses = if (trace) 3 else 1
    while (pass < minPasses || elapsed < seconds) {
      rec.pass = pass
      val traced = trace && pass % 2 == 1
      if (traced) { tracer.get.attach(); ingest.foreach(_.measureBytes = true) }
      val w0 = wchar()
      var aborted = false
      wl.steps.foreach { st =>
        if (!aborted) {
          attempted += 1
          try {
            var handle: Any = null
            rec.span(st.name, "step") { handle = st.run() }
            val got = st.digest(handle)
            val want = reference.getOrElseUpdate(st.name, got)
            if (got != want) {
              failed += 1
              val of = if (expected.contains(st.name)) "checked" else "first pass"
              failures += s"pass $pass ${st.name}: digest $got != $of $want"
            }
          } catch {
            case e: Exception =>
              failed += 1
              failures += s"pass $pass ${st.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
              // Later ingest steps depend on this one's index state.
              aborted = ingest.isDefined
          }
          Workload.release(spark)
        }
      }
      val w1 = wchar()
      if (w0 >= 0 && w1 >= 0) writeAmp += (w1 - w0) / inputBytes
      if (traced) {
        traces += tracer.get.detach(rec, rec.ofPass(pass, "step"), layerOf, stream)
        ingest.foreach(_.measureBytes = false)
        stats += wl.passStats()
        tracedPasses += pass
      } else untracedPasses += pass
      log(s"pass $pass done (traced=$traced)")
      pass += 1
    }
    val timedS = elapsed
    val peakRss = peakRssMb()
    stream.close()

    // ── check after timing: verify what the timed passes wrote ──────────
    val tc = System.nanoTime()
    val checked = {
      val c = wl.check(checkDir)
      val drift = c.digests.collect {
        case (k, d) if reference.get(k).exists(_ != d) => s"$k: timed digest ${reference(k)} != checked $d"
      }
      c.copy(errors = c.errors ++ drift)
    }
    val checkS = (System.nanoTime() - tc) / 1e9
    log(f"check: $checkS%.2f s, ${checked.errors.size} errors")
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"), Json.obj(checked.oracleSteps.map(q =>
      q -> Json.str(graft.SparkEntry.oracleSql(q)))).getBytes("UTF-8"))

    // ── metrics ────────────────────────────────────────────────────────
    val m = new Metrics(rec, wl, untracedPasses.toSeq, tracedPasses.toSeq)
    val e2e = Seq(
      "setup_s" -> (warmS + prepareS, "s"),
      "wall_s" -> (m.wallS(untracedPasses.toSeq), "s"),
      "cpu_s" -> (m.cpuS(untracedPasses.toSeq), "s"),
      "peak_rss_mb" -> (peakRss, "MB"),
      "call_ms_gmean" -> (m.callGeomean, "ms"),
      "write_amp" -> (median(writeAmp.toSeq), "ratio"))
    val perLayer = if (trace) m.perLayer(traces.toSeq, stats.toSeq, stream, ingest) else Nil

    def metricJson(xs: Seq[(String, (Double, String))]): String =
      Json.obj(xs.map { case (k, (v, u)) => k -> s"""{"value":${Json.num(v)},"unit":"$u"}""" })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "spark_version" -> Json.str(spark.version),
      "nproc" -> cpus.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "warm_s" -> Json.num(warmS),
      "prepare_s" -> Json.num(prepareS),
      "check_s" -> Json.num(checkS),
      "timed_s" -> Json.num(timedS),
      "passes" -> pass.toString,
      "untraced_passes" -> untracedPasses.size.toString,
      "input_bytes" -> Json.num(inputBytes),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "check_errors" -> checked.errors.map(Json.str).mkString("[", ",", "]"),
      "oracle_steps" -> checked.oracleSteps.map(Json.str).mkString("[", ",", "]"),
      "digests" -> Json.obj(reference.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "end_to_end" -> metricJson(e2e),
      "workload_metrics" -> metricJson(m.workloadMetrics(stream, ingest)),
      "per_layer" -> metricJson(perLayer),
      "steps" -> m.stepTable(traces.toSeq)))
    Files.write(Paths.get(arg(args, "result")), result.getBytes("UTF-8"))
    if (trace)
      Files.write(Paths.get(arg(args, "spans")),
        rec.spans.sortBy(_.startMs).map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
