package org.apache.spark

/** Reaches the scheduler's listener bus, which is package-private, so the
  * benchmark can read its listener counters only after every event that
  * was posted has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
