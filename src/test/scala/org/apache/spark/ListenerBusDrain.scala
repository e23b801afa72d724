package org.apache.spark

/** The listener bus is package-private: specs that count jobs wait for
  * every posted event before reading their listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
