package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-span counters
  * are complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
