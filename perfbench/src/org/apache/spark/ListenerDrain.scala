package org.apache.spark

/** Waits until every queued listener event has been delivered, so stage
  * metrics are complete before they are read (the bus is package-private). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
