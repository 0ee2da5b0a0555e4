package org.apache.spark

/** The one Spark-internal call the benchmark needs: the listener bus is
  * asynchronous, so per-op counters are read only after it has drained.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
