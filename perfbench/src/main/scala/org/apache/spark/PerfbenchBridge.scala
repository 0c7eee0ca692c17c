package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * every event of a run is recorded before the trace is written. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
