package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark drains it so a traced
  * pass reads every event its own jobs posted. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
