package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Fs

/** Two back-to-back passes of a workload in one process must run the same
  * number of Spark jobs in every step. A step whose second pass runs fewer
  * jobs serves state the first pass left behind (a marker-cached standing
  * row, a staged landing zone), and a benchmark pass would then time that
  * cache instead of the work. Inputs come from the benchmark's own
  * generator at a small scale.
  *
  * Adaptive execution is off here: it picks joins and reuses exchanges as
  * map stages finish, so its job count varies with thread timing from one
  * pass to the next even when nothing is carried over.
  *
  *   cd perfbench && sbt test
  */
class RepeatabilitySpec extends AnyFunSuite {
  private val checkout = sys.props.getOrElse("perfbench.checkout", "..")
  private val root = Paths.get(checkout, ".bench_build", "test").toAbsolutePath.toString

  private def generate(workload: String, out: String): Unit = {
    val p = new ProcessBuilder("python3", "perfbench/gen.py", workload, "7", "0.02", out)
      .directory(new java.io.File(checkout)).inheritIO().start()
    assert(p.waitFor() == 0, s"input generation failed for $workload")
  }

  for (workload <- Seq("etl_star", "curate_batch", "ingest_stream"))
    test(s"$workload: two passes in one process run the same jobs per step") {
      val base = s"$root/$workload"
      Fs.deleteRec(Paths.get(base))
      Files.createDirectories(Paths.get(s"$base/tmp"))
      generate(workload, s"$base/data")
      val spark = Main.session(Runtime.getRuntime.availableProcessors(), s"$base/tmp")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val wl = Workload(workload, spark, s"$base/data", s"$base/tmp", s"$base/check")
        val rec = new Recorder(workload)
        wl match { case in: IngestStream => in.rec = rec; case _ => () }
        wl.prepare()
        val stream = new StreamClock(spark)
        val tracer = new Tracer(spark)
        val layerOf = wl.steps.map(st => st.name -> st.layer).toMap
        val jobs = (0 until 2).map { pass =>
          rec.pass = pass
          tracer.attach()
          wl.steps.foreach { st =>
            rec.span(st.name, "step")(st.run())
            Workload.release(spark)
          }
          tracer.detach(rec, rec.ofPass(pass, "step"), layerOf, stream)
            .steps.map(t => t.name -> t.jobs).toMap
        }
        stream.close()
        val differ = wl.steps.map(_.name).filter(n => jobs(0)(n) != jobs(1)(n))
          .map(n => s"$n: ${jobs(0)(n)} then ${jobs(1)(n)} jobs")
        assert(differ.isEmpty, differ.mkString("; "))
        assert(wl.steps.filter(_.call).forall(st => jobs(1)(st.name) > 0), "a call ran no job")
      } finally spark.stop()
    }
}
