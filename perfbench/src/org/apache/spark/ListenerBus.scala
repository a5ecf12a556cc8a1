package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counters a listener sums are complete when the benchmark reads them.
  * Lives in this package because the wait is `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
