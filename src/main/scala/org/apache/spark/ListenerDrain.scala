package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counters a `SparkListener` keeps are complete when they are read. The
  * bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
