package org.apache.spark

/** The listener bus is package-private; the traced run must see every
  * job and task event before it reads its totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
