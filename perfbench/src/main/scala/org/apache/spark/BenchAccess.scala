package org.apache.spark

/** The one Spark-internal the benchmark needs: listener events arrive
  * asynchronously, so per-op counters are read only after the bus has
  * delivered everything the op posted. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
