package graft.io

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed-layout story from ChurnAdapter's Scaladoc, made
  * concrete: co-bucketed fact tables join WITHOUT any shuffle exchange.
  * This is the production layout for the orders⋈lineitem sales join at
  * warehouse scale. */
class BucketingSpec extends SparkSpec {

  test("saveAsTable round-trips through the session's external catalog") {
    // K1/J4 persist managed tables through the catalog (reference RF:225
    // writes a warehouse table and RF:20-21 reads it back); whichever
    // catalog implementation serves them, the table must be registered
    // there with its provider.
    spark.range(1).write.mode("overwrite").saveAsTable("catalog_probe")
    val t = spark.sessionState.catalog.externalCatalog
      .getTable("default", "catalog_probe")
    assert(t.provider.contains("parquet"))
  }

  test("co-bucketed tables join with zero shuffle exchanges") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    graft.Tables.load(spark, sf, "orders")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bkt")
    graft.Tables.load(spark, sf, "lineitem")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bkt")

    val joined = spark.table("orders_bkt")
      .join(spark.table("lineitem_bkt"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority").agg(sum($"l_quantity").as("q"))

    val n = joined.count() // execute so AQE finalizes the plan
    assert(n > 0)
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // the only allowed exchange is for the final groupBy — the JOIN
    // itself must read co-located buckets
    assert(shuffles.size <= 1,
      s"expected at most the aggregation exchange, got ${shuffles.size}")

    // sanity: same result as the unbucketed join
    val plain = graft.Tables.load(spark, sf, "orders")
      .join(graft.Tables.load(spark, sf, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority").agg(sum($"l_quantity").as("q"))
    val a = joined.orderBy($"o_orderpriority").as[(String, Double)].collect().toSeq
    val b = plain.orderBy($"o_orderpriority").as[(String, Double)].collect().toSeq
    assert(a == b)
  }

  test("partitioned layout prunes: the status filter becomes a PartitionFilter") {
    // s9_partition_pruning's scale claim, pinned on the physical plan:
    // the o_orderstatus predicate must land in PartitionFilters (directory
    // pruning — only the matching partition is listed/read), NOT in
    // PushedFilters/data filters over a full scan.
    val df = graft.SparkEntry.queries("s9_partition_pruning")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters"))
      .getOrElse(fail(s"no PartitionFilters in scan node:\n$plan"))
    assert(scanLine.contains("o_orderstatus"),
      s"status predicate did not become a partition filter:\n$scanLine")
    assert(!scanLine.matches(".*PartitionFilters: \\[\\].*"),
      s"PartitionFilters is empty — scan reads every partition:\n$scanLine")
  }
}
