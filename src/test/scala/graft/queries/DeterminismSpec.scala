package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Partition-invariance law: a declared query's RESULT must be a pure
  * function of the data, not of the cluster shape. On a real cluster the
  * shuffle partition count changes with executor count, AQE re-plans,
  * and config drift — any query whose output moves with it would be
  * silently nondeterministic at 100 TB. The hash-sampling/splitting ops
  * (o4/o5) exist because of this property; this spec enforces it across
  * representative families: shuffle-heavy dedup, iterative CC, window
  * ranking, as-of join, retrieval top-k, and the composed pipeline.
  *
  * The law runs over EVERY oracle-bearing query — the full declared
  * surface whose result is contractually a pure function of the data.
  * (ML fits and the other no-oracle entries are excluded by design:
  * their determinism contract is seed-at-fixed-partitioning, covered in
  * MLChurnSpec / the o3 row-set checks.) The base run uses the session's
  * own partition counts ("32" in the test names: the 32-core default);
  * the 5 and 64 runs set both shuffle.partitions and AQE's initial
  * partition number, then restore the prior values.
  */
class DeterminismSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val queries = SparkEntry.oracleSql.keySet.toSeq.sorted

  private def runSorted(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect().map(_.toString).sorted.toSeq
  }

  // AQE starts every shuffle at initialPartitionNum (Sessions.local
  // sets cpus×8), which overrides shuffle.partitions, so both move.
  private val partKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")

  for (name <- queries) {
    test(s"$name returns identical rows at shuffle.partitions = 32, 5, and 64") {
      val base = runSorted(name)
      assert(base.nonEmpty)
      val prev = partKeys.map(k => k -> spark.conf.getOption(k))
      for (parts <- Seq("5", "64")) {
        partKeys.foreach(spark.conf.set(_, parts))
        try {
          val got = runSorted(name)
          assert(got == base,
            s"$name diverged at $parts shuffle partitions " +
              s"(${got.size} vs ${base.size} rows)")
        } finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
  }
}
