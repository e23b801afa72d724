package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer waits for every posted event before attributing jobs. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
