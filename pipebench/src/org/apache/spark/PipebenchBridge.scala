package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * counters read right after an action are complete. */
object PipebenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
