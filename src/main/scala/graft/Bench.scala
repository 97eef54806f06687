package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Contract:
  *  - SAME session config as Verify ([[Sessions.local]]);
  *  - per-query failures are RECORDED (errors map) and fail the run
  *    (nonzero exit), never silently timed as successes;
  *  - the FULL metric JSON (metric/value/unit/queries/errors/sf/diag) is
  *    written to bench_result_c<cpus>.json, one record per core count,
  *    so a lower-core scaling run never clobbers the main run's record;
  *  - stdout's FINAL line is a COMPACT (≤200 B) summary JSON naming that
  *    file: the full record is ~30 KB on one line (227 timings + per-entry
  *    gc/steal diags), too long for a bounded stdout tail to keep.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")

    // Untimed warmup: absorb JVM/codegen/parquet-footer startup so the
    // first alphabetical timed entry stops carrying ~6 s of one-time
    // cost and round-over-round comparisons stay honest. Two entries —
    // one per fact family: the TPC-H side (a3) AND the documents side
    // (d_token_counts), so the first d_* query stops paying the
    // documents.parquet footer + text-codegen cost (the r3 d_fingerprint
    // "+46%" was partly this: isolated it times 2.1 s, in-sequence 2.5).
    for (w <- Seq("a3_group_count", "d_token_counts")) {
      try SparkEntry.queries(w)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case scala.util.control.NonFatal(e) =>
        // a broken warmup re-skews the first timed query — say so loudly
        System.err.println(s"[bench] WARMUP ($w) FAILED (timings of the " +
          s"first query will absorb startup cost): ${e.getMessage}")
      }
    }

    // Dev-only isolation filter (SPARK_GRAFT_BENCH_ONLY=q1,q2): lets a
    // single query be timed without its alphabetical neighbors' cache /
    // JIT side effects (used to chase the r3 d_fingerprint drift). The
    // driver never sets it — the contract run times everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Fail fast on unknown names: a typo would otherwise time an empty
    // selection and overwrite the bench record with a 0-query "success".
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.mkString(", "))
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors  = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-entry diagnostics (VERDICT r10 #1b): the driver's r10 run showed
    // g1/g2 at ~3× their local numbers with identical plans — a contended
    // run must be DIAGNOSABLE FROM THE RECORD, so each entry reports its
    // own GC wall, heap high-water, and storage-pool occupancy before the
    // timed region / after the last pass. High gc_ms + high heap peak with
    // storage_pre ≈ 0 reads "external memory pressure, not leaked pins".
    val diags = scala.collection.mutable.LinkedHashMap.empty[String, String]
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    // Whole-stage codegen compiles (the JVM-wide count): an entry whose
    // classes were evicted from the codegen cache recompiles them on
    // every pass, which shows here without a profiler.
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def storageBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    // Host-contention telemetry (r13): this box is a shared VM, and a
    // fixed 32-way pure-CPU control workload swings ×2 wall with /proc/
    // stat steal bursts (measured 16% st + 83% sys in vmstat during one
    // bad patch). An entry with inflated wall, LOW gc_ms, and HIGH
    // steal_ms is externally contended — distinguishable from an engine
    // regression in the driver's own record. Col 9 of /proc/stat line 1
    // is aggregate steal in USER_HZ (=100Hz → ×10 ms) jiffies.
    def stealMs: Long = try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      l.trim.split("\\s+").drop(1).lift(7).map(_.toLong * 10).getOrElse(0L)
    } catch { case _: Exception => 0L }

    // Isolation invariant guard (ADVICE r10): the blanket per-pass
    // unpersist below assumes no entry reuses persisted state set up
    // OUTSIDE its own timed region. Persistent RDDs existing before the
    // first entry (e.g. a future warmup-cached shared frame) would be
    // silently recomputed by every entry — warn loudly instead.
    val preExisting = spark.sparkContext.getPersistentRDDs
    if (preExisting.nonEmpty)
      System.err.println(s"[bench] WARNING: ${preExisting.size} persistent " +
        "RDDs exist before the timed loop; per-pass isolation will drop " +
        "them and their consumers will silently recompute: " +
        preExisting.values.map(_.name).mkString(", "))

    def isolate(): Unit = {
      // Entry/pass isolation: cached frames, broadcasts and
      // localCheckpoint blocks from a preceding pass or entry squeeze the
      // storage pool and GC of the next timed region (g1_pagerank once
      // timed 12.2 s in-suite vs 4.8 s alone, same plan, with the dedup
      // block's pins still resident). localCheckpoint pins live OUTSIDE
      // the SQL cache and the ContextCleaner reaps them ASYNCHRONOUSLY
      // after gc — a race — so drop them synchronously, before EVERY
      // pass. Safe: no query reuses persisted state across calls; the
      // only state that outlives a call is an on-disk artifact (the ANN
      // index store), which isolation never touches.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    selected.foreach { case (name, fn) =>
      // Order independence (VERDICT r4 #5): every query — ML fits included
      // since r9 (VERDICT r8 #4: the fits were 143 s of the driver's 288 s
      // and the entire r7→r8 driver-visible regression) — runs twice and
      // the MIN of the two timings is reported — the first pass absorbs
      // whatever position-dependent one-time cost (codegen compile, page
      // cache, broadcast re-use) its alphabetical slot hands it, and min
      // additionally rejects stray GC/JIT hits on either pass (keeping
      // just the second still disagreed 10-40% on sub-second queries
      // across consecutive runs).
      val passes = 2
      var i = 0
      var storagePre = 0L
      val gc0 = gcMs
      val compiles0 = compiles
      val steal0 = stealMs
      heapPools.foreach(_.resetPeakUsage())
      while (i < passes && !errors.contains(name)) {
        isolate()
        if (i == 0) storagePre = storageBytes // post-clear: ≈0 or it leaked
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val t = (System.nanoTime() - t0) / 1e9
          timings(name) = timings.get(name).fold(t)(math.min(_, t))
        } catch {
          case e: Throwable =>
            timings(name) = (System.nanoTime() - t0) / 1e9
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
            System.err.println(s"[bench] $name FAILED: ${errors(name)}")
        }
        i += 1
      }
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum >> 20
      diags(name) = s"""{"gc_ms":${gcMs - gc0},""" +
        s""""codegen_compiles":${compiles - compiles0},"heap_peak_mb":$heapPeakMb,""" +
        s""""storage_pre_mb":${storagePre >> 20},""" +
        s""""storage_post_mb":${storageBytes >> 20},""" +
        s""""steal_ms":${stealMs - steal0}}"""
    }

    import Verify.jstr
    val qs = timings.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val diagJson = diags.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"n_ok":${timings.size - errors.size},"n_err":${errors.size},"sf":${jstr(sfDir)},"diag":$diagJson}"""

    // Numeric by the driver contract (master = local[$SPARK_GRAFT_CPUS]
    // — a non-numeric value would have failed the session build above);
    // parsed defensively anyway so the record suffix/JSON stay valid.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.trim.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Files.writeString(Paths.get(s"bench_result_c$cpus.json"), json)
    spark.stop()
    // Final stdout line, SMALL so a bounded stdout tail keeps it (see the
    // contract note above): total + counts here, every per-query number
    // in the record file.
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_ok":${timings.size - errors.size},"n_err":${errors.size},""" +
      s""""sf":${jstr(sfDir)},"cpus":$cpus,""" +
      s""""record":"bench_result_c$cpus.json"}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
