package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's records are complete when they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
