package graft

import org.apache.spark.sql.{DataFrame, SessionBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** The ONE SparkSession builder for every graft main (Verify, Bench) and
  * test suite: a main or suite with its own builder drifts from this
  * config (a missing `nanosAsLong` crashes every events query at bench
  * time while Verify stays green).
  *
  * Config rationale:
  *  - shuffle.partitions = cpus: local[N] has N slots; 200 partitions on a
  *    laptop-scale run just adds scheduling overhead. On a real cluster
  *    this would be sized to ~2-3× total cores (or left to AQE coalescing).
  *  - ansi=false: reference semantics are pre-ANSI Spark 2.x (SURVEY §2
  *    F7) — div-by-zero/overflow yield null, matching the DuckDB oracle
  *    wrappers.
  *  - UTC: deterministic date arithmetic across engines (SURVEY §5).
  *  - AQE on: runtime coalescing + skew-join handling — the 100 TB story.
  *  - nanosAsLong: events.ts is TIMESTAMP(NANOS); Spark reads it as long
  *    and Tables.load converts to a microsecond timestamp.
  */
object Sessions {
  def local(appName: String = "graft"): SparkSession = {
    // Default to every available core (the driver environment is
    // local[32]); SPARK_GRAFT_CPUS overrides for small dev runs.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // Custom optimizer rule: window+distinct idiom → single aggregate
      // (graft.plans.WindowDistinctToAggregate; SURVEY §7.8 stretch).
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE sizes every shuffle from a FINE-GRAINED start: shuffles
      // begin at 8× cores partitions and coalesce by size
      // (parallelismFirst keeps ≥ cores-many partitions on small
      // data, so bench-scale plans are unchanged), while large inputs
      // keep enough partitions that a single task never materializes
      // a multi-hundred-MB block. Found by the g1_pagerank sf10
      // probe: at 32 static partitions its cached edge list put ~10M
      // rows per partition and 32 concurrent serialized cache writes
      // OOM'd the 8 GB heap inside MemoryStore.putIteratorAsBytes.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The testdata's timestamp physical type varies by generator
      // (TIMESTAMP(NANOS), or TIMESTAMP(MICROS, isAdjustedToUTC=false)).
      // Non-UTC-adjusted micros default to TIMESTAMP_NTZ under Spark 4's
      // inference, and NTZ is rejected by unix_micros() and streaming
      // watermarks. Inference OFF reads them as TimestampType whose UTC
      // wall-clock equals the stored naive value — exactly what DuckDB's
      // naive read sees, so oracles are unaffected. (Tables.load also
      // casts any NTZ column defensively, for sessions built elsewhere.)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // RocksDB state store: the default HDFS-backed provider keeps every
      // stateful operator's state as an on-heap map and re-snapshots it
      // wholesale per batch — an OOM by design at large state, and
      // measurable even at bench scale (st_dedup: 6.9-7.5 s with the
      // default provider, 2.3-3.0 s with RocksDB's incremental commit).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Reliable checkpoints (Dedup's `reliable` mode, MLlib's periodic
      // checkpointer) are only deleted by the context cleaner when this
      // is on (default false); without it every round of an iterative
      // job leaks a full snapshot into the checkpoint dir.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // saveAsTable (K1, J4) writes managed tables through the in-memory
      // catalog into a FRESH tmp warehouse per JVM: a fixed path fails
      // on the next run with LOCATION_ALREADY_EXISTS (the catalog is
      // per-JVM, the dir isn't). Scratch.dir is pid-scoped, stale-cleaned
      // and deleted at exit. A cluster that wants a shared metastore
      // picks it at submit time (spark.sql.catalogImplementation=hive);
      // nothing here depends on which catalog serves the tables.
      .config("spark.sql.warehouse.dir", graft.util.Scratch.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ALWAYS have a checkpoint dir: MLlib's iterative fitters
    // (GBTClassifier et al.) only truncate their per-iteration RDD
    // lineage via PeriodicRDDCheckpointer when one is set — without it
    // a 200-round boost builds a ~200-deep zipPartitions lineage and
    // dies of StackOverflowError (observed at maxIter=200, sf0.001).
    // Dedup's reliable mode checkpoints here too. The only
    // setCheckpointDir in the engine: a cluster sets spark.checkpoint.dir
    // (HDFS/S3) at submit time and this leaves it alone.
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(graft.util.Scratch.dir("ckpt"))
    spark
  }

  /** Run `f` in a session scoped to one query and re-bind its result to
    * `spark`. The scoped session is a clone of `spark` — same
    * SparkContext, cache and SQL conf — with `conf` set on top; its
    * conf changes and temp views die with it, so the caller's session
    * is left as it was found. A clone, not `newSession()`: a new
    * session starts from the context's conf and would drop every
    * runtime setting of the caller, so the query would stop being a
    * function of the caller's config. `conf` governs the work `f` does
    * eagerly (stream drains, checkpoints); the returned frame plans and
    * runs under the caller's conf, like any other query's.
    *
    * A clone that starts a stream adds a StreamingQueryListenerBus to
    * the context's listener bus, and Spark never removes it (the context
    * cleaner drops only ExecutionListenerBuses), so it would receive
    * every later event for the life of the JVM. The stream buses added
    * while `f` ran are removed once it returns, when its streams have
    * stopped. That diff would also remove the bus of a concurrent scoped
    * stream on the same context. */
  def scoped(spark: SparkSession, conf: (String, String)*)(
      f: SparkSession => DataFrame): DataFrame = {
    val before = SessionBridge.listeners(spark).toSet
    val s = SessionBridge.cloneOf(spark)
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try SessionBridge.bind(f(s), spark)
    finally SessionBridge.listeners(spark).foreach {
      case b: StreamingQueryListenerBus if !before(b) =>
        spark.sparkContext.removeSparkListener(b)
      case _ =>
    }
  }
}
