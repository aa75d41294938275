package org.apache.spark

/** Waits until every posted listener event has been delivered
  * (`listenerBus` is private[spark], hence this package). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
