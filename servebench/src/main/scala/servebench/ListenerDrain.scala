package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener totals are complete when it reads them.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
