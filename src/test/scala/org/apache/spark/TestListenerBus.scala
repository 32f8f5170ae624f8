package org.apache.spark

/** Delivers every queued listener event, so a listener's counts are read
  * only after the last job of a call has been posted. The bus is
  * `private[spark]`, hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
