package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The package-private session hooks [[graft.Sessions.scoped]] is built
  * on: cloning a session, re-binding a frame's analyzed plan to another
  * session (the plan is unchanged; only the session that plans and runs
  * it is), and listing the listeners on the context's bus. */
object SessionBridge {
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Every listener on the context's `LiveListenerBus`. */
  def listeners(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
}
