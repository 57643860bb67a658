package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a workload step, an index operation inside a step, or
  * a streaming micro-batch. Times are epoch milliseconds; `cpuMs` is process
  * CPU spent inside the interval (-1 where it is not measured). */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    workload: String, pass: Int, startMs: Double, endMs: Double, cpuMs: Double) {
  def wallMs: Double = endMs - startMs
  def json: String =
    s"""{"id":$id,"name":"${Json.esc(name)}","kind":"$kind","parent":$parent,""" +
      s""""workload":"$workload","pass":$pass,"start_ms":${Json.num(startMs)},""" +
      s""""end_ms":${Json.num(endMs)},"wall_ms":${Json.num(wallMs)},"cpu_ms":${Json.num(cpuMs)}}"""
}

/** Always-on timeline: the benchmark's own spans around calls into the
  * library, kept in memory. Cheap enough for untraced runs. */
final class Recorder(workload: String) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 1L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  var pass = -1

  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  def span[T](name: String, kind: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    val c0 = cpuMs(); val t0 = nowMs()
    try body
    finally {
      val t1 = nowMs(); val c1 = cpuMs()
      stack.pop()
      spans += Span(id, name, kind, parent, workload, pass, t0, t1, c1 - c0)
    }
  }

  def add(name: String, kind: String, parent: Long, startMs: Double, endMs: Double): Unit = {
    spans += Span(nextId, name, kind, parent, workload, pass, startMs, endMs, -1)
    nextId += 1
  }

  def ofPass(p: Int, kind: String): Seq[Span] = spans.filter(s => s.pass == p && s.kind == kind).toSeq
}

/** Per-plan census of the `functions` layer: expressions that run
  * interpreted (higher-order functions, codegen fallbacks) and the share of
  * physical operators fused into whole-stage codegen. */
object PlanCensus {
  final case class Counts(interpreted: Long, fused: Long, operators: Long)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def fusedIds(p: SparkPlan): Set[Int] = nodes(p).collect {
    case w: WholeStageCodegenExec =>
      def inside(x: SparkPlan): Seq[SparkPlan] = x match {
        case _: InputAdapter => Nil
        case _ => x +: x.children.flatMap(inside)
      }
      inside(w.child).map(System.identityHashCode)
  }.flatten.toSet

  def of(plan: SparkPlan): Counts = {
    val all = nodes(plan).filterNot(n =>
      n.isInstanceOf[WholeStageCodegenExec] || n.isInstanceOf[InputAdapter])
    val fused = fusedIds(plan)
    val interpreted = all.map(_.expressions.map(_.collect {
      case e: HigherOrderFunction => e
      case e: CodegenFallback => e
    }.size).sum.toLong).sum
    Counts(interpreted, all.count(n => fused.contains(System.identityHashCode(n))).toLong,
      all.size.toLong)
  }
}

/** Listener-based tracer for traced passes. Events are buffered as they
  * arrive and attributed to the step whose interval holds their timestamp
  * after the pass, once the listener bus has drained: the loop is a single
  * closed-loop caller, so steps never overlap. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val sqls = new ConcurrentLinkedQueue[Sql]()
  private var compile0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.add((e.jobId, e.time)); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.add(e.stageInfo.stageId); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        tasks.add(Task(e.stageId, i.failed, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize, sched))
      } else tasks.add(Task(e.stageId, i.failed, 0, 0, 0, 0, 0, 0, 0, 0))
      ()
    }
  }

  // Every SQL execution, attributed by when its physical planning ended
  // (the moment it started running).
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val census = try PlanCensus.of(qe.executedPlan)
        catch { case _: Exception => PlanCensus.Counts(0, 0, 0) }
      val at = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      sqls.add(Sql(at, ms("analysis"), ms("optimization"), ms("planning"), census))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    compile0 = CodeGenerator.compileTime
  }

  /** Detach, drain, and attribute everything the pass produced to its step
    * spans. Returns the pass's per-step and per-layer counters. */
  def detach(rec: Recorder, steps: Seq[Span], layerOf: String => String,
      stream: StreamClock): PassTrace = {
    val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
    org.apache.spark.perfbench.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    def drainQ[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val b = mutable.ArrayBuffer.empty[A]
      var x = q.poll(); while (x != null) { b += x; x = q.poll() }
      b.toSeq
    }
    val js = drainQ(jobs); val ends = drainQ(jobEnds).toMap
    js.foreach(j => j.endMs = ends.getOrElse(j.id, j.submitMs))
    val done = drainQ(stagesDone); val ts = drainQ(tasks); val qs = drainQ(sqls)
    val ordered = steps.sortBy(_.startMs)
    def stepAt(t: Double): Option[Span] = ordered.takeWhile(_.startMs <= t + 1).lastOption
      .filter(s => t <= s.endMs + 1)
    val jobStep = js.flatMap(j => stepAt(j.submitMs.toDouble).map(s => j -> s))
    val stageStep = mutable.Map.empty[Int, Span]
    jobStep.foreach { case (j, s) => j.stages.foreach(st => stageStep.getOrElseUpdate(st, s)) }
    val perStep = ordered.map { s =>
      val sj = jobStep.collect { case (j, x) if x.id == s.id => j }
      val st = ts.filter(t => stageStep.get(t.stage).exists(_.id == s.id))
      val sq = qs.filter(q => stepAt(q.endMs.toDouble).exists(_.id == s.id))
      // Union of the step's job intervals, clipped to the step.
      val busy = sj.map(j => (math.max(j.submitMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
        }._1
      StepTrace(s.name, layerOf(s.name), s.wallMs, st.map(_.cpuNs).sum / 1e6,
        math.max(0.0, s.wallMs - busy), sj.size, done.count(d => stageStep.get(d).exists(_.id == s.id)),
        st.size, st.count(_.failed), st.map(_.schedMs).sum.toDouble, st.map(_.runMs).sum.toDouble,
        st.map(_.gcMs).sum.toDouble, st.map(_.shufW).sum, st.map(_.shufR).sum, st.map(_.spill).sum,
        st.map(_.resultBytes).sum, sq.map(_.analysisMs).sum, sq.map(_.optimizationMs).sum,
        sq.map(_.planningMs).sum, sq.size, sq.map(_.census.interpreted).sum,
        sq.map(_.census.fused).sum, sq.map(_.census.operators).sum)
    }
    // Micro-batch spans, parented to the step that ran the stream.
    val ps = stream.within(ordered.head.startMs, ordered.last.endMs)
    ps.foreach { p =>
      val parent = stepAt(p.startMs).map(_.id).getOrElse(0L)
      rec.add("microbatch", "microbatch", parent, p.startMs, p.startMs + p.durations("triggerExecution"))
    }
    PassTrace(perStep, compileMs, ps.map(_.durations), ps.map(_.rows).sum)
  }
}

/** Always-on streaming progress: one entry per micro-batch, with the
  * trigger's phase durations. A cheap counter, so untraced runs keep it. */
final class StreamClock(spark: SparkSession) {
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("triggerExecution")) {
        progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
      ()
    }
  }
  spark.streams.addListener(listener)

  def all: Seq[Progress] = progress.asScala.toSeq.sortBy(_.startMs)
  def within(fromMs: Double, toMs: Double): Seq[Progress] =
    all.filter(p => p.startMs >= fromMs - 1 && p.startMs <= toMs + 1)
  def close(): Unit = {
    org.apache.spark.perfbench.ListenerBusBridge.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
  }
}

object Tracer {
  final case class Job(id: Int, submitMs: Long, stages: Seq[Int], var endMs: Long = -1)
  final case class Task(stage: Int, failed: Boolean, cpuNs: Long, runMs: Long,
      gcMs: Long, shufW: Long, shufR: Long, spill: Long, resultBytes: Long, schedMs: Long)
  final case class Sql(endMs: Long, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, census: PlanCensus.Counts)
}

final case class Progress(startMs: Double, durations: Map[String, Long], rows: Long)

final case class StepTrace(name: String, layer: String, wallMs: Double, executorCpuMs: Double,
    driverSelfMs: Double, jobs: Int, stages: Int, tasks: Int, failedTasks: Int, schedDelayMs: Double,
    executorRunMs: Double, gcMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    resultBytes: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double,
    queries: Int, interpreted: Long, fused: Long, operators: Long)

final case class PassTrace(steps: Seq[StepTrace], compileMs: Double,
    microbatches: Seq[Map[String, Long]], streamRows: Long)

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
