package org.apache.spark

/** Blocks until every event posted to the context's listener bus has
  * been delivered, so a test's listener counts are complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
