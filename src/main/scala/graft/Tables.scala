package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver testdata star schema (TESTDATA.md).
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file each under the sf dir.
  *
  * Scale notes: every loader is a plain parquet scan, so Catalyst pushes
  * filters/projections into the vectorized reader. At cluster scale these
  * would be partitioned/bucketed tables; nothing here assumes a single
  * file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS), which Spark reads only as a long
    // (spark.sql.legacy.parquet.nanosAsLong) — surface it as a proper
    // microsecond timestamp, matching DuckDB's CAST(ts AS TIMESTAMP).
    // Integer `div`, not `/`: ts is ~1.7e18 ns and double division loses
    // precision past 2^53 (caught by the ev_session oracle: ±1 µs drift).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // Belt to the Sessions.local braces: if a session without
    // inferTimestampNTZ=false read a non-UTC-adjusted parquet timestamp
    // as NTZ, re-type it — in a UTC session the cast preserves the
    // wall-clock, i.e. the same values DuckDB's naive read sees. NTZ
    // breaks unix_micros() and streaming watermarks downstream.
    else if (name == "events" &&
      df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Run `sqlText` over the named tables of `sfDir`. The tables are
    * registered as temp views in a scoped session
    * ([[Sessions.scoped]]), so the caller's session gains no view and
    * only the tables the statement reads are loaded. */
  def sql(spark: SparkSession, sfDir: String, tables: String*)(
      sqlText: String): DataFrame =
    Sessions.scoped(spark) { s =>
      tables.foreach(n => load(s, sfDir, n).createOrReplaceTempView(n))
      s.sql(sqlText)
    }
}
