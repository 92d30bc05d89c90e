package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's counters are complete when they are read. The bus is
  * `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
