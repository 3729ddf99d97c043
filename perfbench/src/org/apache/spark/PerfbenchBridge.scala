package org.apache.spark

/** Access to the listener bus, which is private to Spark. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
