package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec's listener counts are complete before it reads them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
