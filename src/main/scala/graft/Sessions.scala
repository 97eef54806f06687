package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession builder for every graft main (Verify, Bench) and
  * test suite. Round-1 lesson (VERDICT r01 §wrong-1): Bench had its own
  * builder missing `nanosAsLong`, so every query touching events.parquet
  * (TIMESTAMP_NANOS) crashed at bench time while Verify stayed green.
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
      // The driver regenerates testdata between rounds and its timestamp
      // physical type has CHANGED once already (r7: TIMESTAMP(NANOS);
      // r8: TIMESTAMP(MICROS, isAdjustedToUTC=false)). Non-UTC-adjusted
      // micros default to TIMESTAMP_NTZ under Spark 4's inference, and
      // NTZ is rejected by unix_micros() and streaming watermarks.
      // Inference OFF reads them as TimestampType whose UTC wall-clock
      // equals the stored naive value — exactly what DuckDB's naive read
      // sees, so oracles are unaffected. (Tables.load also casts any NTZ
      // column defensively, for sessions built elsewhere.)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // RocksDB state store (r11, VERDICT r10 #5): the default HDFS-
      // backed provider keeps every stateful operator's state as an
      // on-heap map and re-snapshots it wholesale per batch — at 100 TB
      // state scale that's an OOM by design, and even at bench scale the
      // per-batch full-map commit is measurable: a per-batch progress
      // split measured st_dedup (largest per-key state in the family) at
      // 6.9-7.5 s wall with addBatch dominating; RocksDB's incremental
      // commit cuts it to 2.3-3.0 s with every other st_* entry equal or
      // better. State lives off-heap with changelog-style checkpoints —
      // the production provider for large state.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Reliable checkpoints (Dedup's checkpointDir mode) are only
      // deleted by the context cleaner when this is on (default false);
      // without it every round of an iterative job leaks a full
      // snapshot into the checkpoint dir.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // saveAsTable (K1) writes through the in-memory catalog; use a
      // FRESH tmp warehouse per JVM — a fixed path fails on the next run
      // with LOCATION_ALREADY_EXISTS (catalog is per-session, dir isn't).
      // Scratch.dir is pid-scoped + stale-cleaned + deleted at exit, so
      // per-JVM freshness holds without leaking a dir per run.
      .config("spark.sql.warehouse.dir", graft.util.Scratch.dir("warehouse"))
      // REAL metastore-backed catalog (r8, VERDICT r7 Next #4): K1's
      // saveAsTable and J4's bucketed tables persist through the Hive
      // external catalog — the reference's RF:225 semantics — backed by
      // an embedded Derby metastore in a per-JVM temp dir (same jars a
      // cluster deployment ships; on a real cluster only the JDO URL
      // changes to the shared metastore service).
      .enableHiveSupport()
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${graft.util.Scratch.dir("metastore")}" +
          "/metastore_db;create=true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ALWAYS have a checkpoint dir: MLlib's iterative fitters
    // (GBTClassifier et al.) only truncate their per-iteration RDD
    // lineage via PeriodicRDDCheckpointer when one is set — without it
    // a 200-round boost builds a ~200-deep zipPartitions lineage and
    // dies of StackOverflowError (observed at maxIter=200, sf0.001).
    // Graft callers that pass an explicit reliable dir (Dedup's
    // checkpointDir mode) override this per-application default.
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(graft.util.Scratch.dir("ckpt"))
    spark
  }
}
