package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it so per-span metrics are complete when read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
