package org.apache.spark

/** Test access to the listener bus's drain: a spec that counts jobs or
  * sums task metrics with a `SparkListener` waits for the events of the
  * work it measured before reading its counters. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
