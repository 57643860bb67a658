package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Registry for caches created inside query builders, so a long-lived
  * session running the full suite does not accumulate storage until the
  * GC-driven ContextCleaner fires. Builders whose RESULT still depends
  * lazily on a cached frame cannot unpersist before the caller's final
  * action, so they register here instead and the harness (Verify, Bench,
  * Measure) calls [[release]] once per query, after that action.
  * Thread-safe; releasing is async (non-blocking unpersist). */
object TrackedCaches {
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()
  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()
  private val bcasts =
    new ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()

  /** Track an already-cached Dataset for later release; returns it. */
  def track[T](ds: Dataset[T]): Dataset[T] = { frames.add(ds); ds }

  /** Track an already-persisted RDD for later release; returns it. */
  def trackRdd[T](rdd: RDD[T]): RDD[T] = { rdds.add(rdd); rdd }

  /** Track an explicit broadcast (the streaming gates' index snapshots)
    * for later release. unpersist, not destroy: release() runs after the
    * query's final action, but a caller that lazily re-executes a plan
    * holding the handle (the gates' empty-arrival fallback) must still be
    * able to re-broadcast on demand. */
  def trackBroadcast[T](b: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = { bcasts.add(b); b }

  /** Unpersist everything tracked since the last release. Safe to call on
    * frames whose session is already stopped. */
  def release(): Unit = {
    var d = frames.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Exception => () }
      d = frames.poll()
    }
    var r = rdds.poll()
    while (r != null) {
      try r.unpersist(blocking = false) catch { case _: Exception => () }
      r = rdds.poll()
    }
    var b = bcasts.poll()
    while (b != null) {
      try b.unpersist(blocking = false) catch { case _: Exception => () }
      b = bcasts.poll()
    }
  }
}
