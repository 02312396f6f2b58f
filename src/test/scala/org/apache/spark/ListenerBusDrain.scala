package org.apache.spark

/** Test-side bridge to the `private[spark]` listener bus: listener
  * events arrive asynchronously, so a spec that counts them waits for
  * the bus to drain before reading its counter.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
