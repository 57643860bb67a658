package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite: the factory session ([[GraftSession.build]])
  * at 4 cores, so specs exercise the same optimizer surface Bench and
  * Verify run (CosineSelfRule, SQL-registered float_cosine). */
trait SparkSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"
  val Cpus = 4
  lazy val spark: SparkSession = GraftSession.build(Cpus)

  /** Spark jobs started and shuffle bytes written by `body`: the listener
    * bus is drained before the listener attaches and again before the
    * counters are read, so the counts hold exactly the work `body` ran. */
  def metered(body: => Unit): (Int, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), bytes.get())
  }
}
