package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
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
    val df = parquet(spark, s"$sfDir/$name.parquet")
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

  /** The one parquet reader for tables, index artifacts and sink
    * read-backs: a parquet file, or a non-partitioned dir of parts, read
    * with the schema Spark would infer but without the job it infers it
    * in. `spark.read.parquet` with no schema runs one Spark job per call
    * to read a single footer (15 of a warm `feature_adhoc` pass's 21
    * build jobs); here the driver reads it.
    *
    * The footer is the one Spark's inference reads with `mergeSchema`
    * off: the file itself, or the first data part by path of a dir.
    * `readSchemaFromFooter` prefers the Spark schema a Spark writer
    * stored in the row metadata, and the converter takes the session's
    * `nanosAsLong` and `inferTimestampNTZ`, so the schema equals the
    * inferring read's (TablesSpec). The footer is read through an input
    * file that carries the session's Hadoop conf: a bare
    * `ParquetFileReader.open(inputFile)` builds a fresh Hadoop
    * Configuration per call, which re-parses core-default.xml off the
    * classpath (about 50 ms per warm pass, measured with JFR).
    *
    * Not for partition-discovered dirs (a part's footer lacks the
    * partition columns) nor for a `mergeSchema` read; those keep
    * `spark.read.parquet`. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val state = castToImpl(spark).sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getPath.toString).getOrElse(
        throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(state.conf))
    spark.read.schema(schema).parquet(path)
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
