package org.apache.spark

/** Spark delivers listener events asynchronously; the benchmark reads its
  * per-job counters only after the bus has caught up. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
