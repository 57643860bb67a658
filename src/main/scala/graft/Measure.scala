package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measurement main. Every subcommand runs on the factory session
  * ([[GraftSession.build]], the plan Bench and Verify run) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *   - `plan <query…>`: the `.explain("formatted")` physical plan;
  *   - `time <query…>`: a warm pass (JIT, codegen, class loading), then
  *     three timed noop writes;
  *   - `profile <query…>`: the same timed passes under a ~100 Hz stack
  *     sampler, then the 30 hottest RUNNABLE frames;
  *   - `decompose <query…>`: the timing discipline applied to each prefix
  *     of the operator's own pipeline (the `*Stages` helpers beside each
  *     operator), so `delta` = prefix(i) − prefix(i−1) ≈ the cost of the
  *     stage the prefix adds.
  *
  * Every write goes to the `noop` sink, so each output column is
  * materialized; builder caches and the catalog cache are released after
  * each pass.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<corpus> runMain graft.Measure time q_bm25_topk
  */
object Measure {
  private val Usage = "usage: graft.Measure plan|time|profile|decompose <query…>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    try args.tail.foreach { q =>
      args(0) match {
        case "plan" => plan(spark, sf, q)
        case "time" =>
          val walls = timed(spark, write(SparkEntry.queries(q)(spark, sf)))
          println(f"[measure] time $q ${walls.map(w => f"$w%.2f").mkString(" ")} s" +
            f" (median ${median(walls)}%.2f)")
        case "profile" => profile(spark, sf, q)
        case "decompose" => decompose(spark, sf, q)
        case _ => throw new IllegalArgumentException(Usage)
      }
    } finally spark.stop()
  }

  private def plan(spark: SparkSession, sf: String, q: String): Unit = {
    println(s"########## $q")
    println(SparkEntry.queries(q)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
  }

  /** The one timing discipline: a warm pass, then three timed passes,
    * caches released after each. `afterWarm` runs between the warm pass and
    * the timed ones. Returns the three walls in seconds. */
  private def timed(spark: SparkSession, run: () => Unit,
      afterWarm: () => Unit = () => ()): Seq[Double] = {
    def once(): Double = {
      val t0 = System.nanoTime()
      run()
      val dt = (System.nanoTime() - t0) / 1e9
      TrackedCaches.release(); spark.catalog.clearCache()
      dt
    }
    once()
    afterWarm()
    Seq.fill(3)(once())
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def write(df: => DataFrame): () => Unit =
    () => df.write.format("noop").mode("overwrite").save()

  /** Samples every live thread's stack at ~100 Hz over the timed passes
    * and prints the hottest top frames (self-sample counts, RUNNABLE
    * threads only), so a regression's CPU owner is attributable to an
    * operator or codegen path. A diagnosis harness, not a cluster
    * profiler. */
  private def profile(spark: SparkSession, sf: String, name: String): Unit = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var on = true
    val sampler = new Thread(() => {
      while (on) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
              t.getName != "graft-profiler") {
            // A thread whose TOP frame is an I/O-poll/park primitive is
            // idle despite reporting RUNNABLE (epoll waiters do) — drop
            // the sample entirely. Skipping just the frame and counting
            // the first application caller below it would credit an idle
            // Netty/shuffle event loop with ~100 samples/s and let it
            // outrank the real CPU owner.
            // contains-matching, NOT startsWith: StackTraceElement
            // .toString prefixes frames with the classloader/module
            // ("app//io.netty...", "java.base@17.0.20/java.net..."),
            // which silently defeated the original prefix guards — the
            // round-11 profile of a map-only query showed an idle epoll
            // waiter as the "hottest frame" with 98% of samples.
            val frames = st.iterator.map(_.toString).toSeq
            val idle = frames.headOption.exists(f =>
              f.contains("java.net.") || f.contains("sun.nio") ||
                f.contains("java.io.FileDescriptor") ||
                f.contains("Unsafe.park") || f.contains("epollWait") ||
                f.contains("Reference.waitForReferencePendingList") ||
                f.contains("Object.wait"))
            val top = if (idle) None else frames.headOption
            top.foreach(f => counts.merge(f, 1, (a, b) => a + b))
            // Optional caller attribution: when the top frame matches
            // GRAFT_PROFILE_CALLER_OF, also count the nearest enclosing
            // spark/graft frame so "who calls the hot leaf" is answerable.
            sys.env.get("GRAFT_PROFILE_CALLER_OF").foreach { pat =>
              if (top.exists(_.contains(pat))) {
                frames.filter(f => f.contains("spark") || f.contains("graft"))
                  .take(4).zipWithIndex.foreach { case (f, i) =>
                    counts.merge(s"CALLER[$i] $f", 1, (a, b) => a + b)
                  }
              }
            }
          }
        }
        Thread.sleep(10)
      }
    }, "graft-profiler")
    sampler.setDaemon(true)
    val walls = timed(spark, write(SparkEntry.queries(name)(spark, sf)),
      () => sampler.start())
    on = false
    sampler.join()
    println(f"[measure] profile $name 3 timed runs in ${walls.sum}%.2f s; hottest frames:")
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.sortBy(-_._2.intValue()).take(30).foreach {
      case (f, c) => println(f"[measure]   $c%6d  $f")
    }
  }

  /** The operator's pipeline prefixes as named runs; queries without a
    * `*Stages` helper decompose to their single "full" stage. */
  private def stagesOf(s: SparkSession, d: String,
      name: String): Seq[(String, () => Unit)] = {
    def written(stages: Seq[(String, DataFrame)]) =
      stages.map { case (n, df) => n -> write(df) }
    name match {
      case "q_dedup_incremental" => written(llm.Dedup.incrementalDedupStages(s, d))
      case "q_dup_ngram_fraction" => written(llm.Dedup.dupNgramFractionStages(s, d))
      case "q_containment" => written(llm.Dedup.containmentPairsStages(s, d))
      case "q_rand_projection" => written(llm.Similarity.randProjectionStages(s, d))
      case "q_bm25_topk" =>
        // buildIndex is eager (stats collect + cache counts), so its stage
        // is the call itself; the scatter stage is the flat postings-join
        // scorer the routed planner falls back to (its dominant-cost twin).
        def index() = llm.Retrieval.buildIndex(
          Tables.documents(s, d).select("doc_id", "text"), cache = true)
        Seq(
          "index_build" -> (() => { index(); () }),
          "flat_scatter" -> (() => {
            val ix = index()
            val qt = ix.tf.filter(col("doc_id") < llm.Retrieval.NumQueries)
              .select(col("doc_id").as("query_id"), col("term"))
            write(llm.Retrieval.scoreAgainst(ix, qt))()
          }),
          "full" -> write(SparkEntry.queries(name)(s, d)))
      case other => Seq("full" -> write(SparkEntry.queries(other)(s, d)))
    }
  }

  private def decompose(spark: SparkSession, sf: String, name: String): Unit = {
    println(s"[measure] decompose $name @ $sf  (prefix median wall s, delta s)")
    var prev = 0.0
    stagesOf(spark, sf, name).foreach { case (stage, run) =>
      val dt = median(timed(spark, run))
      println(f"[measure]   $stage%-18s ${dt}%8.2f  ${dt - prev}%+8.2f")
      prev = dt
    }
  }
}
