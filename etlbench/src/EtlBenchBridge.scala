package org.apache.spark

/** The listener bus is delivered asynchronously; per-operation counts are
  * read only after every event posted so far has reached the listener. */
object EtlBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
