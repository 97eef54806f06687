package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{SessionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.llm.Dedup
import graft.queries.Analytics

/** Law: a query leaves the session it was handed as it found it — same
  * SQL conf, same tables and temp views, same context checkpoint dir,
  * same number of listeners on the context's bus — so no result or
  * timing depends on what ran earlier in the JVM. Each
  * call gets its own `newSession()` of the shared context, so a view or
  * conf left behind by another suite cannot mask a leak here. That
  * session runs at 16 shuffle partitions, above the stateful drains'
  * 8-partition floor at sf0.001, so a drain's state-partition count
  * differs from the session's on any host.
  *
  * Covered: the two SQL-text queries (they register their tables as
  * temp views), every stateful drain (their state-partition count and
  * memory-sink views), the iterative dedup in both checkpoint modes,
  * scoped calls under a caller with a QueryExecutionListener (the
  * clone's listener bus), and the keyed branch of `pinKeyed` (its
  * AQE-off checkpoint), which only runs above 64 MB of lineitem and so
  * is called directly.
  */
class SessionHygieneSpec extends SparkSpec {
  import SessionHygieneSpec.State

  private val sf = "/root/testdata/sf0.001"

  private val statefulDrains = Seq(
    "st_running_counts", "st_sliding", "st_sessionize", "st_latest_state",
    "st_tumbling", "st_range_join", "st_left_join", "st_dedup")

  private def state(s: SparkSession): State = State(
    s.conf.getAll,
    s.catalog.listTables().collect().map(t => (t.name, t.isTemporary)).toSet,
    s.sparkContext.getCheckpointDir,
    SessionBridge.listeners(s).size)

  private def assertLeavesSessionAsFound(label: String)(
      run: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val before = state(s)
    run(s)
    val after = state(s)
    val confDiff = (before.conf.toSet diff after.conf.toSet) ++
      (after.conf.toSet diff before.conf.toSet)
    assert(confDiff.isEmpty, s"$label changed the session conf: $confDiff")
    assert(after.tables == before.tables,
      s"$label changed the tables/views: ${after.tables diff before.tables} " +
        s"added, ${before.tables diff after.tables} removed")
    assert(after.checkpointDir == before.checkpointDir,
      s"$label moved the checkpoint dir: ${before.checkpointDir} → " +
        s"${after.checkpointDir}")
    assert(after.listeners == before.listeners,
      s"$label left ${after.listeners - before.listeners} listener(s) on the " +
        "context's bus")
  }

  for (name <- Seq("j1_sql_left_join", "a14_grouping_sets", "dedup_clusters") ++
      statefulDrains)
    test(s"$name leaves its session's conf, views and checkpoint dir as found") {
      assertLeavesSessionAsFound(name)(s =>
        assert(SparkEntry.queries(name)(s, sf).collect().nonEmpty))
    }

  test("scoped calls leave no bus behind for the caller's QueryExecutionListener") {
    // The clone copies the caller's listener and starts its own
    // ExecutionListenerBus for it, which only a GC used to remove.
    val s = spark.newSession()
    val ends = new AtomicInteger
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ends.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    try {
      val before = state(s).listeners
      Sessions.scoped(s) { c => c.range(5).collect(); c.range(3).toDF() }.collect()
      assert(ends.get >= 1, "the clone's query end must reach the listener")
      Tables.sql(s, sf, "region")("SELECT count(*) FROM region").collect()
      assert(state(s).listeners == before,
        s"scoped calls left ${state(s).listeners - before} listener(s) on the " +
          "context's bus")
    } finally s.listenerManager.unregister(l)
  }

  test("Dedup's reliable mode checkpoints without moving the checkpoint dir") {
    assertLeavesSessionAsFound("reliable nearDupClusters")(s =>
      assert(Dedup.nearDupClusters(s, sf, reliable = true).collect().nonEmpty))
  }

  test("pinByKey keeps hash partitioning + key order; the caller's AQE stays on") {
    assertLeavesSessionAsFound("pinByKey") { s =>
      import s.implicits._
      val df = s.range(0, 2000).select(($"id" % 37).as("k"), $"id".as("v"))
      val pinned = Analytics.pinByKey(df, "k", Seq("k", "v"),
        StorageLevel.MEMORY_AND_DISK)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(pinned.sparkSession eq s, "the pinned frame left the caller's session")
      val rdd = pinned.queryExecution.analyzed.collectFirst {
        case r: LogicalRDD => r
      }.getOrElse(fail("pinByKey did not checkpoint"))
      rdd.outputPartitioning match {
        case HashPartitioning(Seq(a: AttributeReference), n) =>
          assert(a.name == "k")
          assert(n == s.sessionState.conf.numShufflePartitions)
        case other => fail(s"checkpoint lost its key partitioning: $other")
      }
      assert(rdd.outputOrdering.map(o =>
        (o.child.asInstanceOf[AttributeReference].name, o.direction)) ==
        Seq(("k", Ascending)))
      // the caller's key-clustered aggregate reads the pin exchange-free
      val agg = pinned.groupBy($"k").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.count() == 37)
    }
  }
}

object SessionHygieneSpec {
  final case class State(conf: Map[String, String],
                         tables: Set[(String, Boolean)],
                         checkpointDir: Option[String],
                         listeners: Int)
}
