package org.apache.spark

/** The one Spark-internal call the benchmark needs: the listener bus is
  * asynchronous, so per-layer task metrics are read only after every event
  * posted so far has been delivered. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
