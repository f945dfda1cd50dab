package org.apache.spark

/** Waits until every posted listener event has been delivered. The bus is
  * package-private in Spark; this one accessor lives in Spark's package so
  * the benchmark can detach its recorder without losing tail events. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
