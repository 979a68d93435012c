package org.apache.spark

/** The one listener-bus call the benchmark's tracer needs that Spark
  * keeps package-private: block until every posted event has reached
  * the listeners, so per-span Spark metrics are complete when read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
