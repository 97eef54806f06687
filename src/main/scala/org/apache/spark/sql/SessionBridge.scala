package org.apache.spark.sql

import java.util.concurrent.TimeoutException

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.util.ExecutionListenerBus

/** The package-private session hooks [[graft.Sessions.scoped]] is built
  * on: cloning a session, re-binding a frame's analyzed plan to another
  * session (the plan is unchanged; only the session that plans and runs
  * it is), listing the listeners on the context's bus, and removing the
  * per-session buses a clone added to it. */
object SessionBridge {
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Every listener on the context's `LiveListenerBus`. */
  def listeners(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq

  /** Remove the stream and execution-listener buses that are on the
    * context's bus now but not in `before`. The bus is drained first,
    * so the events already posted (a clone's last query ends) still
    * reach the session listeners behind them. A drain that times out
    * leaves those events undelivered but still removes the buses. */
  def removeSessionBuses(spark: SparkSession,
                         before: Set[SparkListenerInterface]): Unit = {
    val added = listeners(spark).filter {
      case b @ (_: StreamingQueryListenerBus | _: ExecutionListenerBus) => !before(b)
      case _ => false
    }
    if (added.nonEmpty) {
      val bus = spark.sparkContext.listenerBus
      try bus.waitUntilEmpty() catch { case _: TimeoutException => }
      added.foreach(bus.removeListener)
    }
  }
}
