package org.apache.spark

/** The listener bus is asynchronous; the bench reads its listener's
  * totals only after every posted event was delivered. `waitUntilEmpty`
  * is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
