package org.apache.spark

/** Waits until every queued listener event is delivered, so a window's
  * totals are read only after its last task has been counted. The bus is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
