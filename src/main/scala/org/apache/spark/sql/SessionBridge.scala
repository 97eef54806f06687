package org.apache.spark.sql

/** The two package-private session hooks [[graft.Sessions.scoped]] is
  * built on: cloning a session, and re-binding a frame's analyzed plan
  * to another session (the plan is unchanged; only the session that
  * plans and runs it is). */
object SessionBridge {
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
