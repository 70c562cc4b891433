package org.apache.spark

/** Access to the listener bus for the benchmark's counters: a traced span
  * is read only after every event it caused has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
