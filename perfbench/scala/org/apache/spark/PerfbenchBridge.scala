package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener totals are complete before they are read. The
  * bus is package-private to Spark; this one-method shim is the benchmark's
  * only access to it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
