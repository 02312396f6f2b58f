package org.apache.spark

/** Listener events reach listeners asynchronously; the benchmark reads
  * its counters only after every event posted so far was delivered.
  * `listenerBus` is package-private, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
