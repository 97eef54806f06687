package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Law for the one parquet loader ([[Tables.parquet]]): a load submits
  * no Spark job, and its schema is the one the inferring read
  * (`spark.read.parquet` with no schema) resolves — field order,
  * nullability and metadata included — for every testdata table and for
  * a Spark-written dir of parts. */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** `load`'s result and the number of jobs submitted while it ran. */
  private def jobsOf(load: => DataFrame): (DataFrame, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(counter)
    try {
      val df = load
      ListenerDrain(sc)
      (df, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  for (n <- Tables.names)
    test(s"$n loads with no job and the inferring read's schema") {
      val path = s"$sf/$n.parquet"
      val (_, jobs) = jobsOf(Tables.load(spark, sf, n))
      assert(jobs == 0, s"loading $n submitted $jobs job(s)")
      // the raw read: `load` re-types events.ts after it
      assert(Tables.parquet(spark, path).schema == inferred(path))
    }

  test("events.ts loads as TimestampType") {
    assert(Tables.load(spark, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("a Spark-written dir of parts loads with no job and the inferring read's schema") {
    val d = Files.createTempDirectory("graft-tables-parts")
    try {
      val path = s"$d/orders"
      Tables.load(spark, sf, "orders").repartition(3).write.parquet(path)
      val (df, jobs) = jobsOf(Tables.parquet(spark, path))
      assert(jobs == 0, s"loading a dir of parts submitted $jobs job(s)")
      assert(df.schema == inferred(path))
      assert(df.count() == Tables.load(spark, sf, "orders").count())
    } finally graft.util.Scratch.deleteRecursively(d)
  }
}
