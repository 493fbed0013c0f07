package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package
  * private: per-layer figures are read only after every event of the
  * traced phase has been delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
