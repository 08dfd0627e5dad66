package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete before they are read. The bus is
  * `private[spark]`; this is the one call the harness needs from it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
