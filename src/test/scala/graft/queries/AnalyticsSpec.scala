package graft.queries

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SessionBridge
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.util.Storage

/** Planted-truth semantics for the analytics layer (the DuckDB oracle
  * proves cross-engine parity; these prove the MATH on hand-checkable
  * inputs). */
class AnalyticsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Cohorts: user 1 first appears in week 0 (Mon 2024-01-01), active
    * again in week 1; user 2 joins in week 1 only; user 3 joins week 0,
    * never returns. */
  private lazy val cohortDir: String = {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-02 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-09 10:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-10 10:00:00"), 2L, "click", 1.0, "{}"),
      (4L, ts("2024-01-03 10:00:00"), 3L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("an-cohort").toString
    events.write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("cohort retention: offsets and rates from first-event weeks") {
    import spark.implicits._
    val out = Analytics.queries("ev_cohort_retention")(spark, cohortDir)
      .orderBy($"cohort_week", $"week_offset")
      .select($"cohort_week".cast("string"), $"week_offset", $"n_active",
        $"n_cohort", $"retention")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      // week-0 cohort = {1, 3}: both active offset 0; only user 1 at 1
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      // week-1 cohort = {2}
      ("2024-01-08", 0L, 1L, 1L, 1.0)))
  }

  /** Lift: 10 users, scores 10..1 (user k has events only before the
    * cutoff giving score = 11-k), positives = the top-2 scorers and the
    * bottom scorer. One user per decile (n = 10). */
  private lazy val liftDir: String = {
    import spark.implicits._
    val rows = (1 to 10).flatMap { k =>
      val score = 11 - k
      val base = (1 to score).map(i =>
        (k * 100L + i, ts(f"2024-01-0${(i % 5) + 1}%d 10:00:00"), k.toLong,
          "click", 1.0, "{}"))
      val pos = if (k <= 2 || k == 10)
        Seq((k * 100L + 99, ts("2024-01-25 10:00:00"), k.toLong,
          "purchase", 5.0, "{}"))
      else Seq.empty
      base ++ pos
    }
    val d = Files.createTempDirectory("an-lift").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("decile lift: two-phase ranking reproduces global order; lift math exact") {
    import spark.implicits._
    val out = Analytics.queries("a16_decile_lift")(spark, liftDir)
      .orderBy($"decile")
      .select($"decile", $"n_users", $"n_pos", $"rate", $"cum_lift")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == (0L to 9L))
    assert(out.forall(r => r._2 == 1L))
    // positives: deciles 0, 1 (top scorers) and 9 (bottom scorer)
    assert(out.map(_._3) == Seq(1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L))
    // base rate 3/10; decile-0 cum lift = (1/1)/(3/10) = 3.33
    assert(out.head._5 == 3.33)
    // full-population cum lift is 1.0 by construction
    assert(out.last._5 == 1.0)
  }

  /** Attribution: purchase after a click → click; after a view (later
    * than the click) → view; touch 8 days stale → direct; no touch at
    * all → direct. */
  private lazy val attrDir: String = {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-10 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-10 11:00:00"), 1L, "purchase", 10.0, "{}"),
      (3L, ts("2024-01-10 12:00:00"), 1L, "view", 0.0, "{}"),
      (4L, ts("2024-01-10 13:00:00"), 1L, "purchase", 20.0, "{}"),
      (5L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0, "{}"),
      (6L, ts("2024-01-09 10:00:00"), 2L, "purchase", 40.0, "{}"),
      (7L, ts("2024-01-05 10:00:00"), 3L, "purchase", 80.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("an-attr").toString
    events.write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("attribution: last touch in lookback wins; stale or missing → direct") {
    import spark.implicits._
    val out = Analytics.queries("ev_attribution")(spark, attrDir)
      .select($"channel", $"n_conversions", $"sum_value")
      .as[(String, Long, Double)].collect().toMap2
    assert(out("click") == (1L, 10.0)) // purchase 2 ← click 1
    assert(out("view") == (1L, 20.0)) // purchase 4 ← view 3 (latest)
    assert(out("direct") == (2L, 120.0)) // stale (8 days) + no-touch
  }

  test("scd2: runs collapse to versioned rows with stitched validity") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 1L, "view", 0.0, "{}"),
      (4L, ts("2024-01-01 13:00:00"), 1L, "click", 0.0, "{}"),
      (5L, ts("2024-01-02 09:00:00"), 2L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("an-scd2").toString
    events.write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("t7_scd2")(spark, d)
      .orderBy($"user_id", $"version")
      .select($"user_id", $"version", $"channel", $"valid_from",
        $"valid_to", $"n_events", $"is_current")
      .as[(Long, Long, String, Timestamp, Option[Timestamp], Long, Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1L, 1L, "click", ts("2024-01-01 10:00:00"),
        Some(ts("2024-01-01 12:00:00")), 2L, false),
      (1L, 2L, "view", ts("2024-01-01 12:00:00"),
        Some(ts("2024-01-01 13:00:00")), 1L, false),
      (1L, 3L, "click", ts("2024-01-01 13:00:00"), None, 1L, true),
      (2L, 1L, "error", ts("2024-01-02 09:00:00"), None, 1L, true)))
  }

  /** PageRank: a symmetric 2-node graph is a fixed point at 1/2 each;
    * a hub-and-spoke order (hub co-ordered with 2 spokes that never
    * co-occur) ranks the hub strictly above the spokes. */
  test("pagerank: fixed point on the 2-cycle; hub outranks spokes") {
    import spark.implicits._
    val li = Seq(
      // order 1: parts 1, 2 → the 2-cycle
      (1L, 1L), (1L, 2L),
      // orders 10/11: hub 5 with spoke 6, then hub 5 with spoke 7
      (10L, 5L), (10L, 6L), (11L, 5L), (11L, 7L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-pr").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g1_pagerank")(spark, d)
      .as[(Long, Long)].collect().toMap
    // n = 5 nodes; uniform init 2e8 ppb. The 2-cycle: deg 1 both sides,
    // each round r = 30e6 + floor(17·2e8/20) = 2e8 — exact fixed point.
    assert(out(1L) == 200000000L && out(2L) == 200000000L)
    assert(out(5L) > out(6L) && out(6L) == out(7L))
    // ranks are conserved-ish: total stays within rounding of 1e9
    assert(math.abs(out.values.sum - 1000000000L) < 100L)
  }

  /** Merge-apply: replay the hash-derived changelog driver-side and
    * demand the distributed union+max_by apply produce EXACTLY the
    * expected snapshot — deletes gone, updates rewritten (status 'C',
    * +10% integer-cents price), inserts under negated keys, untouched
    * rows kept verbatim. */
  test("merge-apply: deletes dropped, updates rewritten, inserts under fresh keys") {
    import spark.implicits._
    val statuses = Array("O", "F", "P")
    val orders = (1L to 200L).map(k => (k, k % 30,
      statuses((k % 3).toInt), k + 0.25,
      ts("2000-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-merge").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("t8_merge_upsert")(spark, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"action")
      .as[(Long, Long, String, Double, String)].collect().toSet
    val expected = (1L to 200L).flatMap { k =>
      val cents = k * 100 + 25
      val h = graft.llm.TextOps.hash48Jvm(k.toString)
      val (isDel, isUpd, isIns) =
        (h % 17 == 0, h % 17 != 0 && h % 5 == 0, h % 7 == 3)
      val st = statuses((k % 3).toInt)
      val kept =
        if (isDel) Seq.empty
        else if (isUpd) Seq((k, k % 30, "C", (cents * 11 / 10) / 100.0, "U"))
        else Seq((k, k % 30, st, cents / 100.0, "K"))
      val ins =
        if (isIns) Seq((-k, k % 30, st, cents / 100.0, "I")) else Seq.empty
      kept ++ ins
    }.toSet
    assert(out == expected)
  }

  test("anomaly: planted spike flagged, doubled-median integers exact") {
    import spark.implicits._
    // user 1: twelve 10.00s + one 99.99 spike -> med2 = 2000, MAD = 0,
    //   the spike is the only nonzero deviation -> n_out = 1.
    // user 2: six 10.00s, six 20.00s, one 1000.00 -> med = 20.00
    //   (7th of 13), mad4 = 4000, only the spike exceeds 3 MAD.
    // user 3: 10.00,10.01,10.02,10.03 -> EVEN count: med = 1001.5 cents
    //   (half-integer) -> med2 = 2003 exact; dev2 = [3,1,1,3],
    //   mad4 = 2*median([1,1,3,3]) = 4; no outliers.
    val rows =
      (1 to 12).map(i => (i.toLong, ts("2024-01-01 10:00:00"), 1L, "c", 10.0, "{}")) ++
      Seq((13L, ts("2024-01-01 11:00:00"), 1L, "c", 99.99, "{}")) ++
      (1 to 6).map(i => (100L + i, ts("2024-01-01 10:00:00"), 2L, "c", 10.0, "{}")) ++
      (1 to 6).map(i => (110L + i, ts("2024-01-01 10:00:00"), 2L, "c", 20.0, "{}")) ++
      Seq((120L, ts("2024-01-01 11:00:00"), 2L, "c", 1000.0, "{}")) ++
      (0 to 3).map(i => (200L + i, ts("2024-01-01 10:00:00"), 3L, "c", 10.0 + i / 100.0, "{}"))
    val d = Files.createTempDirectory("an-anomaly").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("ev_anomaly")(spark, d)
      .select($"user_id", $"n_ev", $"med2", $"mad4", $"n_out")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 13L, 2000L, 0L, 1L)))
    assert(out(2L) == ((2L, 13L, 4000L, 4000L, 1L)))
    assert(out(3L) == ((3L, 4L, 2003L, 4L, 0L)))
  }

  test("triangles: 4-clique yields 4 triangles, 3 per member, pendant absent") {
    import spark.implicits._
    // order 1 holds parts {1,2,3,4} -> K4: C(4,3)=4 triangles, each
    // node in 3; order 2 holds {4,5} -> node 5 is a pendant, in none.
    // Duplicate (order,part) rows exercise the distinct steps.
    val li = (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (1L, 1L),
      (2L, 4L), (2L, 5L)))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-tri").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g2_triangles")(spark, d)
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("triangles: value-bucket slicing (nbk=4) is exact vs the flat plan") {
    import spark.implicits._
    // The sliced branch only engages past ~4G estimated edges in
    // production (factBytes-derived nbk), so force it here: same
    // sf0.001 lineitem, nbk=4 vs nbk=1 must agree row-for-row — the
    // value-space buckets partition each intersection and the per-node
    // credit sums re-assemble it associatively.
    val d = "/root/testdata/sf0.001"
    val flat = Analytics.trianglesPlan(spark, d, Some(1))
      .as[(Long, Long)].collect().toSeq
    val sliced = Analytics.trianglesPlan(spark, d, Some(4))
      .as[(Long, Long)].collect().toSeq
    assert(flat.nonEmpty && flat == sliced)
  }

  test("hits: hand-computed two-round hubs/authorities on a planted bipartite graph") {
    import spark.implicits._
    // c1 buys {10,11,12}, c2 buys {10}: auth¹ = deg/max → (1e9, 5e8,
    // 5e8); hub¹ = (2e9, 1e9)/2e9 → (1e9, 5e8); auth² raw = (1.5e9,
    // 1e9, 1e9), max 1.5e9 → ppb (1e9, 666666666, 666666666)
    val orders = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-hits").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g6_hits")(spark, d)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(
      10L -> ((1500000000L, 1000000000L)),
      11L -> ((1000000000L, 666666666L)),
      12L -> ((1000000000L, 666666666L))))
  }

  test("seasonality: Monday-anchored dow index, exact ppm shares") {
    import spark.implicits._
    // 2024-01-01 is a Monday (dow 0); 2024-01-02 Tuesday (dow 1)
    val orders = Seq((10.00, "2024-01-01"), (10.00, "2024-01-01"),
      (20.00, "2024-01-02"))
      .toDF("o_totalprice", "o_orderdate")
      .select($"o_totalprice", $"o_orderdate".cast("timestamp").as("o_orderdate"))
    val d = Files.createTempDirectory("an-dow").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("ev_seasonality_dow")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out == Map(
      0L -> ((2L, 2000L, 666666L, 500000L)),
      1L -> ((1L, 2000L, 333333L, 500000L))))
  }

  test("mann-whitney: doubled midranks on a tied sample; identical samples give n1*n2") {
    import spark.implicits._
    // ref = {1.00, 2.00, 2.00}, cur = {2.00, 3.00}: combined midranks
    // 1, 3, 3, 3, 5 → ΣR₂(ref) = 2+6+6 = 14; 2U = 14 − 3·4 = 2
    // (U = #(ref>cur) + ½·ties = 0 + 1); tie term = 3³−3 = 24.
    val rows = Seq((1.00, "1997-06-01"), (2.00, "1997-06-01"),
      (2.00, "1997-06-02"), (2.00, "1998-06-01"), (3.00, "1998-06-01"))
    val orders = rows.toDF("o_totalprice", "o_orderdate")
      .select($"o_totalprice", $"o_orderdate".cast("timestamp").as("o_orderdate"))
    val d = Files.createTempDirectory("an-mwu").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("ev_mann_whitney")(spark, d)
      .as[(Long, Long, Long, Long)].collect().head
    assert(out == ((3L, 2L, 2L, 24L)))
    // identical distributions on both sides: every cross pair is a tie
    // → U = n1·n2/2 → 2U = n1·n2 (here 2·2 = 4); cubes = 2·(2³−2)
    val sym = Seq((5.00, "1997-06-01"), (7.00, "1997-06-01"),
      (5.00, "1998-06-01"), (7.00, "1998-06-01"))
      .toDF("o_totalprice", "o_orderdate")
      .select($"o_totalprice", $"o_orderdate".cast("timestamp").as("o_orderdate"))
    val d2 = Files.createTempDirectory("an-mwu2").toString
    sym.write.mode("overwrite").parquet(s"$d2/orders.parquet")
    val out2 = Analytics.queries("ev_mann_whitney")(spark, d2)
      .as[(Long, Long, Long, Long)].collect().head
    assert(out2 == ((2L, 2L, 4L, 12L)))
  }

  test("psi: hand-computed smoothed contributions; symmetric split scores 0") {
    import spark.implicits._
    // Two bins, deliberately shifted mass. Ref window (< 1998-01-01):
    // bin0 ×3, bin1 ×1; current: bin0 ×1, bin1 ×3. With +1 smoothing and
    // B = 2 bins: p0 = 4/6, q0 = 2/6 → lr = ln(1/2); symmetric for bin1.
    def row(cents: Long, cur: Boolean): (Double, String) =
      (cents / 100.0, if (cur) "1998-06-01" else "1997-06-01")
    val rows = Seq.fill(3)(row(100L, cur = false)) ++ Seq(row(100L, cur = true)) ++
      Seq(row(2600000L, cur = false)) ++ Seq.fill(3)(row(2600000L, cur = true))
    val orders = rows.toDF("o_totalprice", "o_orderdate")
      .select($"o_totalprice", $"o_orderdate".cast("timestamp").as("o_orderdate"))
    val d = Files.createTempDirectory("an-psi").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("m24_psi")(spark, d)
      .select($"bin", $"n_ref", $"n_cur", $"lr_micro", $"psi_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val ln2Micro = math.round(math.log(2.0 / 4.0) * 1e6) // −693147
    // d_numer = (q+1)(t_ref+B) − (p+1)(t_cur+B) = 2·6 − 4·6 = −12;
    // psi = round(−12·lr_micro / 36) = round(lr/3·(−12/12))… replay:
    def half(num: BigInt, den: BigInt): Long =
      ((num * 2 + den) / (den * 2)).toLong // floor((2n+d)/2d) half-up, n≥0
    val psi0 = half(BigInt(-12) * ln2Micro, BigInt(36))
    assert(out(0L) == ((3L, 1L, ln2Micro, psi0)))
    assert(out(1L) == ((1L, 3L, -ln2Micro, psi0))) // mirrored bin
    assert(psi0 > 0) // mass moved → positive contribution
    // symmetric split (same distribution both sides) scores exactly 0
    val sym = Seq(row(100L, cur = false), row(100L, cur = true),
      row(2600000L, cur = false), row(2600000L, cur = true))
      .toDF("o_totalprice", "o_orderdate")
      .select($"o_totalprice", $"o_orderdate".cast("timestamp").as("o_orderdate"))
    val d2 = Files.createTempDirectory("an-psi2").toString
    sym.write.mode("overwrite").parquet(s"$d2/orders.parquet")
    val zero = Analytics.queries("m24_psi")(spark, d2)
      .select($"psi_micro").as[Long].collect()
    assert(zero.forall(_ == 0L) && zero.length == 2)
  }

  test("interval union: running-max merge (not lag), swallowed intervals, adjacency") {
    import spark.implicits._
    // [ship_day, ship_day + qty + 1): supplier 1 = overlap + gap;
    // supplier 2 = the lag-vs-running-max pin — [d,d+10) swallows
    // [d+2,d+4), then [d+5,d+6) starts AFTER the previous ROW's end (4)
    // but inside the running max (10): a lag-based island test would
    // wrongly split here; supplier 3 = half-open adjacency merges.
    val li = Seq(
      (1L, ts("2024-01-01 00:00:00"), 4.0),  // [0, 5)
      (1L, ts("2024-01-04 00:00:00"), 4.0),  // [3, 8)   overlaps → merge
      (1L, ts("2024-01-11 00:00:00"), 1.0),  // [10, 12) gap → new island
      (2L, ts("2024-01-01 00:00:00"), 9.0),  // [0, 10)
      (2L, ts("2024-01-03 00:00:00"), 1.0),  // [2, 4)   swallowed
      (2L, ts("2024-01-06 00:00:00"), 0.0),  // [5, 6)   inside running max
      (3L, ts("2024-01-01 00:00:00"), 1.0),  // [0, 2)
      (3L, ts("2024-01-03 00:00:00"), 0.0))  // [2, 3)   adjacent → merge
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
    val d = Files.createTempDirectory("an-ivu").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("t12_interval_union")(spark, d)
      .select($"l_suppkey", $"n_intervals", $"covered_days", $"n_items",
        $"longest_days")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == ((2L, 10L, 3L, 8L))) // [0,8) + [10,12)
    assert(out(2L) == ((1L, 10L, 3L, 10L))) // one island [0,10)
    assert(out(3L) == ((1L, 3L, 2L, 3L)))   // adjacency merged: [0,3)
  }

  test("transitions: lag pairs, _start entry state, exact row probabilities") {
    import spark.implicits._
    // user 1: click → view → click; user 2: view. Four transitions:
    // _start→click, click→view, view→click (u1); _start→view (u2).
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0, "{}"),
      (4L, ts("2024-01-01 10:00:00"), 2L, "view", 1.0, "{}"))
    val d = Files.createTempDirectory("an-trans").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("ev_transitions")(spark, d)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out == Map(
      ("_start", "click") -> ((1L, 2L, 0.5)),
      ("_start", "view")  -> ((1L, 2L, 0.5)),
      ("click", "view")   -> ((1L, 1L, 1.0)),
      ("view", "click")   -> ((1L, 1L, 1.0))))
  }

  test("incremental agg: merged partial states equal a one-pass recompute") {
    import spark.implicits._
    // group (O, 1-URGENT) straddles the 1998-01-01 epoch cut: the two
    // 1997 rows land in the base state, the 1999 row in the delta state;
    // the merge must see all three. avg = roundRatio2(35000, 3) = 116.67.
    val orders = Seq(
      (1L, 1L, "O", 100.0, ts("1997-06-01 00:00:00"), "1-URGENT"),
      (2L, 2L, "O", 50.0, ts("1997-07-01 00:00:00"), "1-URGENT"),
      (3L, 3L, "O", 200.0, ts("1999-01-01 00:00:00"), "1-URGENT"),
      (4L, 4L, "F", 10.0, ts("1999-02-01 00:00:00"), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-incr").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("t9_incremental_agg")(spark, d)
      .as[(String, String, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7)))
      .toMap
    assert(out(("O", "1-URGENT")) == ((3L, 350.0, 50.0, 200.0, 116.67)))
    assert(out(("F", "2-HIGH")) == ((1L, 10.0, 10.0, 10.0, 10.0)))
  }

  test("drift bins: balanced bin not drifted, vanished/appeared bins flagged") {
    import spark.implicits._
    // $25k-wide bins. ref (pre-1998): 2× $10 (bin 0), 2× $30k (bin 1);
    // cur: 1× $10 (bin 0), 1× $60k (bin 2). Bin 0 holds 5000 bp on both
    // sides → no drift; bin 1 vanishes and bin 2 appears → both flagged.
    val orders = Seq(
      (1L, 1L, "O", 10.0, ts("1997-06-01 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 10.0, ts("1997-06-02 00:00:00"), "1-URGENT"),
      (3L, 1L, "O", 30000.0, ts("1997-06-03 00:00:00"), "1-URGENT"),
      (4L, 1L, "O", 30000.0, ts("1997-06-04 00:00:00"), "1-URGENT"),
      (5L, 1L, "O", 10.0, ts("1999-06-01 00:00:00"), "1-URGENT"),
      (6L, 1L, "O", 60000.0, ts("1999-06-02 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-drift").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("a19_drift_bins")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L) == ((0L, 2L, 1L, 5000L, 5000L, 0L, false)))
    assert(out(1L) == ((1L, 2L, 0L, 5000L, 0L, 5000L, true)))
    assert(out(2L) == ((2L, 0L, 1L, 0L, 5000L, 5000L, true)))
  }

  test("ks drift: exact two-sample statistic, argmax value, degenerate equality") {
    import spark.implicits._
    // ref = {$1, $2}, cur = {$1, $3}: the CDFs agree at $1 (1/2 each)
    // and at $3+ (1), and differ maximally at $2 (ref 1.0 vs cur 0.5)
    // → KS = 0.5 = 5000 bp, attained first at $2.
    val orders = Seq(
      (1L, 1L, "O", 1.0, ts("1997-06-01 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 2.0, ts("1997-06-02 00:00:00"), "1-URGENT"),
      (3L, 1L, "O", 1.0, ts("1999-06-01 00:00:00"), "1-URGENT"),
      (4L, 1L, "O", 3.0, ts("1999-06-02 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-ks").toString
    orders.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("a21_ks_drift")(spark, d)
      .as[(Long, Double, Long, Long)].collect()
    assert(out.toSeq == Seq((5000L, 2.0, 2L, 2L)))

    // identical distributions → KS 0 (cross-multiplied diffs all zero)
    val same = Seq(
      (1L, 1L, "O", 5.0, ts("1997-06-01 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 7.0, ts("1997-06-02 00:00:00"), "1-URGENT"),
      (3L, 1L, "O", 5.0, ts("1999-06-01 00:00:00"), "1-URGENT"),
      (4L, 1L, "O", 7.0, ts("1999-06-02 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d2 = Files.createTempDirectory("an-ks2").toString
    same.write.mode("overwrite").parquet(s"$d2/orders.parquet")
    val out2 = Analytics.queries("a21_ks_drift")(spark, d2)
      .as[(Long, Double, Long, Long)].collect()
    assert(out2.head._1 == 0L)
  }

  test("forecast backtest: lag-7 naive, gap days as zero, exact MAE/WAPE") {
    import spark.implicits._
    // 15 consecutive days with revenue = $1.00 on days 1-7, $2.00 on
    // days 8-14, day 10 MISSING (spine fills 0), day 15 = $2.00.
    // Scored days 8-15: fc = rev(d-7). Errors (cents):
    //   d8..d14 vs d1..d7 (fc=100): rev 200 except d10 rev 0 → errs
    //   100,100,100(d10: |0-100|),100,100,100,100 ... d10 rev=0 err 100
    //   d15 vs d8 (fc=200): rev 200 err 0
    // SAE = 700, n = 8, mae = round(700/8)=88 → 0.88; srev = 200*6+0+200
    //   = 1400; wape = round(700*1e4/1400) = 5000 bp.
    val rows = (1 to 15).filter(_ != 10).map { d =>
      val price = if (d <= 7) 1.0 else 2.0
      (d.toLong, 1L, "O", price, ts(f"1997-03-$d%02d 00:00:00"), "1-URGENT")
    }
    val df = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-fc").toString
    df.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("ev_forecast_naive")(spark, d)
      .as[(Long, Double, Long)].collect()
    assert(out.toSeq == Seq((8L, 0.88, 5000L)))
  }

  test("survival table: right-censoring, at-risk suffix counts, exact rows") {
    import spark.implicits._
    // observation end = 2024-01-20 (max ts). user 1: days 1..3
    // (duration 2, last event 17 days before end → CHURN at 2);
    // user 2: days 1..5 (duration 4, churn); user 3: days 16..20
    // (duration 4, last event AT the end → censored); user 4: single
    // event day 19 (duration 0, 1 day before end → censored).
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L), (2L, ts("2024-01-03 10:00:00"), 1L),
      (3L, ts("2024-01-01 10:00:00"), 2L), (4L, ts("2024-01-05 10:00:00"), 2L),
      (5L, ts("2024-01-16 10:00:00"), 3L), (6L, ts("2024-01-20 10:00:00"), 3L),
      (7L, ts("2024-01-19 10:00:00"), 4L))
      .map { case (eid, t, u) => (eid, t, u, "click", 1.0, "{}") }
    val d = Files.createTempDirectory("an-surv").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("ev_survival_table")(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // durations: 0 → censored u4; 2 → churn u1; 4 → churn u2 + censored
    // u3. n_risk suffix: t=0: 4, t=2: 3, t=4: 2.
    assert(out == Seq((0L, 4L, 0L, 1L), (2L, 3L, 1L, 0L), (4L, 2L, 1L, 1L)))
  }

  test("changepoint: CUSUM peaks on the last day of the old regime, exact magnitude") {
    import spark.implicits._
    // days 1-5 at $1.00, days 6-10 at $2.00: mean 150 cents; CUSUM_k =
    // prefix − k·mean bottoms at day 5 (−250 cents). Cross-multiplied
    // C' = 10·prefix − k·1500 → |C'|max = 2500 at day 5; magnitude
    // round(2500/10)/100 = $2.50.
    val rows = (1 to 10).map { d =>
      val price = if (d <= 5) 1.0 else 2.0
      (d.toLong, 1L, "O", price, ts(f"1997-03-$d%02d 00:00:00"), "1-URGENT")
    }
    val d = Files.createTempDirectory("an-cp").toString
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("ev_changepoint")(spark, d)
      .select($"cp_day".cast("string"), $"n_days", $"cusum_dollars")
      .as[(String, Long, Double)].collect()
    assert(out.toSeq == Seq(("1997-03-05", 10L, 2.5)))
  }

  test("communities: two cliques each converge to their min id, no mixing") {
    import spark.implicits._
    // Two disjoint K3s (orders 1 and 2). Round 1 under (mode, tie→min):
    // each node takes the min of its two neighbors; round 2 the min id
    // has propagated everywhere — labels = {1} and {10} respectively.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 10L), (2L, 11L), (2L, 12L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-lpa").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g3_communities")(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("ewma: hand-computed power-of-two weighted means, zero-filled gap day") {
    import spark.implicits._
    import java.sql.Timestamp
    // Daily revenue 100, 200, 400, (gap→0), 800 cents. With weights
    // 2^(i-1)/(2^m - 1):
    //   d1 [100]                → 100/1        = 100
    //   d2 [100,200]            → 500/3        = 166
    //   d3 [100,200,400]        → 2100/7       = 300
    //   d4 [100,200,400,0]      → 2100/15      = 140
    //   d5 [100,200,400,0,800]  → 14900/31     = 480
    val rows = Seq(("1997-01-01", 1.00), ("1997-01-02", 2.00),
      ("1997-01-03", 4.00), ("1997-01-05", 8.00))
      .zipWithIndex.map { case ((day, p), i) =>
        (i.toLong, 1L, "O", p, Timestamp.valueOf(s"$day 00:00:00"), "3-X") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val d = Files.createTempDirectory("an-ewma").toString
    rows.write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = Analytics.queries("ev_ewma")(spark, d)
      .select($"n_terms", $"ema_cents")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 100L), (2L, 166L), (3L, 300L),
      (4L, 140L), (5L, 480L)))
  }

  test("kcore: cascading peel strips the propped tail, keeps K4; round 5 is a no-op") {
    import spark.implicits._
    // K4 {1,2,3,4} + triangle {5,6,7} bridged by 4–5. Degrees: 4→4,
    // 5→3, 6/7→2. Round 1 drops 6,7 (deg 2); round 2 drops 5 (its
    // triangle support died — the CASCADE a one-shot degree filter
    // misses); round 3 is stable: the 3-core is exactly the K4.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 5L), (2L, 6L), (2L, 7L), (3L, 4L), (3L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-kcore").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g4_kcore")(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: 4 rounds reach the fixpoint on testdata (round 5 changes nothing)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val r4 = Analytics.kcorePeel(spark, dir, 4).as[(Long, Long)].collect().toSet
    val r5 = Analytics.kcorePeel(spark, dir, 5).as[(Long, Long)].collect().toSet
    assert(r4.nonEmpty && r4 == r5,
      s"4-round peel not converged: ${r4.size} vs ${r5.size} nodes")
  }

  test("bfs: layered distances on a planted path; 5th hop and islands stay absent") {
    import spark.implicits._
    // Path 97–1–2–3–4–5 (each order = one co-purchase edge) plus an
    // island {6,7}. Seed = 97 (≡ 0 mod 97). Bounded at 4 hops: node 5
    // (dist 5) and the island must be ABSENT, not ∞.
    val li = Seq((1L, 97L), (1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L),
      (3L, 3L), (4L, 3L), (4L, 4L), (5L, 4L), (5L, 5L), (6L, 6L), (6L, 7L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-bfs").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g5_bfs")(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(97L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("bfs: early exit — an exhausted frontier returns the same distances as 4 rounds") {
    import spark.implicits._
    // Star around seed 97: every node is reached in round 1; round 2's
    // frontier is empty, so rounds 3–4 must be skipped no-ops and the
    // distances still complete.
    val li = Seq((1L, 97L), (1L, 1L), (2L, 97L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val d = Files.createTempDirectory("an-bfs2").toString
    li.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = Analytics.queries("g5_bfs")(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(97L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("paths: session boundary is exact to the microsecond; ties pair in event-id order") {
    import spark.implicits._
    // user 1: A→B inside 10 min (bigram), then an 80-min gap to C (no
    // bigram). user 2: X→Y at EXACTLY 30 min (inclusive boundary).
    // user 3: P→Q at 30 min + 1 µs (excluded — a seconds-floored gap
    // test would wrongly include it). user 4: two events at the SAME
    // timestamp pair in event_id order (M→N, gap 0).
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 1L, "B", 1.0, "{}"),
      (3L, ts("2024-01-01 11:30:00"), 1L, "C", 1.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 2L, "X", 1.0, "{}"),
      (5L, ts("2024-01-01 09:30:00"), 2L, "Y", 1.0, "{}"),
      (6L, ts("2024-01-01 09:00:00"), 3L, "P", 1.0, "{}"),
      (7L, Timestamp.valueOf("2024-01-01 09:30:00.000001"), 3L, "Q", 1.0, "{}"),
      (8L, ts("2024-01-01 12:00:00"), 4L, "M", 1.0, "{}"),
      (9L, ts("2024-01-01 12:00:00"), 4L, "N", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("an-paths").toString
    rows.write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("ev_paths")(spark, d)
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("A", "B", 1L), ("M", "N", 1L), ("X", "Y", 1L)))
  }

  test("trend OLS: planted exact line recovers slope and intercept; declining series floors signed") {
    import spark.implicits._
    // three days, exactly linear: y = 100 + 100x → slope 100 cents/day
    // = 100,000,000 ppm, intercept 100 cents, integer-exact
    def mk(ys: Seq[Long]): String = {
      val rows = ys.zipWithIndex.map { case (y, i) =>
        (i.toLong, java.sql.Date.valueOf(f"1997-01-${i + 1}%02d"), y / 100.0)
      }
      val d = Files.createTempDirectory("ols").toString
      rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      d
    }
    val up = Analytics.queries("ev_trend_ols")(spark, mk(Seq(100L, 200L, 300L)))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(up == ((3L, 3L, 600L, 100000000L, 100L)))
    // declining: y = 300 − 100x — the slope must floor as a NEGATIVE
    // exact value, where a truncate-division would round toward zero
    val down = Analytics.queries("ev_trend_ols")(spark, mk(Seq(300L, 200L, 100L)))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(down == ((3L, 3L, 600L, -100000000L, 300L)))
  }

  test("snapshot diff: counts equal a JVM replay of the hash mutations") {
    import spark.implicits._
    import graft.llm.TextOps.hash48Jvm
    val n = 200
    val rows = (1 to n).map(k => (k.toLong, if (k % 2 == 0) "F" else "O", k * 1.00))
    val d = Files.createTempDirectory("snapdiff").toString
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    def h(tag: String, k: Long) = hash48Jvm(s"$tag$k") % 20
    val deleted = (1 to n).count(k => h("del:", k) == 0)
    val modified = (1 to n).count(k =>
      h("del:", k) != 0 && h("mod:", k.toLong) == 0)
    val added = (1 to n).count(k => h("add:", k) == 0)
    val unchanged = n - deleted - modified
    val out = Analytics.queries("t11_snapshot_diff")(spark, d)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.getOrElse("deleted", (0L, 0L))._1 == deleted)
    assert(out.getOrElse("added", (0L, 0L))._1 == added)
    assert(out.getOrElse("modified", (0L, 0L))._1 == modified)
    assert(out.getOrElse("unchanged", (0L, 0L))._1 == unchanged)
    // every modification bumps by exactly 100 cents
    assert(out.getOrElse("modified", (0L, 0L))._2 == modified * 100L)
    assert(deleted + modified + added > 0, "mutations must actually occur")
  }

  test("PIT join: purchases attach the state version valid at their ts; boundary goes to the new version") {
    import spark.implicits._
    // user 1 state runs: view [10:00, 11:00) → click [11:00, ∞).
    //   purchase at 10:30 → version 1 (view); purchase at EXACTLY 11:00
    //   → version 2 (click; half-open boundary); purchase at 12:00 →
    //   version 2 (open-ended current).
    // user 2: purchase BEFORE any state event → absent (no state yet).
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:30:00"), 1L, "purchase", 1.0, "{}"),
      (4L, ts("2024-01-01 11:00:00"), 1L, "purchase", 1.0, "{}"),
      (5L, ts("2024-01-01 12:00:00"), 1L, "purchase", 1.0, "{}"),
      (6L, ts("2024-01-01 09:00:00"), 2L, "purchase", 1.0, "{}"),
      (7L, ts("2024-01-01 09:30:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = Files.createTempDirectory("pit-join").toString
    rows.write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Analytics.queries("j14_pit_join")(spark, d)
      .select($"p_id", $"version", $"channel")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((3L, 1L, "view"), (4L, 2L, "click"), (5L, 2L, "click")))
  }

  /** Random-walk law, full driver-side replay on driver testdata: the
    * edge set, start designation, and every hash-argmin hop are
    * recomputed in plain Scala (hash48Jvm — the same md5-derived value
    * the engine's codegen'd expression and the DuckDB oracle compute)
    * and the engine output must match row-for-row. */
  test("random walk equals a driver-side hash-argmin replay") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = Analytics.queries("g7_random_walk")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val items = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = items.toSeq.groupBy(_._1)
    val adj: Map[Long, Seq[Long]] = byOrder.values.toSeq.flatMap { ps =>
      val parts: Seq[Long] = ps.map(_._2).distinct
      for (a <- parts; b <- parts if a != b) yield (a, b)
    }.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val h48 = graft.llm.TextOps.hash48Jvm _
    val mod = math.max(4L, math.min(64L, adj.size / 16L))
    val starts = adj.keys.filter(n => h48(s"rws:$n") % mod == 0).toSeq
    assert(starts.nonEmpty, "law is vacuous: no designated walk starts")
    val want = starts.flatMap { w =>
      var cur = w
      (w, 0L, w) +: (1 to 3).map { t =>
        cur = adj(cur).minBy(v => (h48(s"rw:$w:$t:$v"), v))
        (w, t.toLong, cur)
      }
    }.toSet
    assert(out == want, "engine disagrees with the driver-side replay")
    // walks move: at least one walk leaves its start node
    assert(want.exists { case (w, t, n) => t > 0 && n != w })
  }

  /** node2vec law, full driver-side replay: second-order weights
    * (4 return / 1 triangle / 2 explore, uniform first hop) and the
    * replica-salted hash-argmin weighted pick are recomputed in plain
    * Scala and must match the engine row-for-row. Non-vacuity: all
    * three weight classes must actually occur among the candidate
    * multisets the walks saw. */
  test("node2vec equals a driver-side weighted-argmin replay; all weight classes occur") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = Analytics.queries("g8_node2vec")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val items = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = items.toSeq.groupBy(_._1)
    val adj: Map[Long, Set[Long]] = byOrder.values.toSeq.flatMap { ps =>
      val parts: Seq[Long] = ps.map(_._2).distinct
      for (a <- parts; b <- parts if a != b) yield (a, b)
    }.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val h48 = graft.llm.TextOps.hash48Jvm _
    val mod = math.max(4L, math.min(64L, adj.size / 16L))
    val starts = adj.keys.filter(n => h48(s"n2s:$n") % mod == 0).toSeq
    assert(starts.nonEmpty, "law is vacuous: no designated walk starts")
    var sawReturn = false; var sawTriangle = false; var sawExplore = false
    val want = starts.flatMap { w =>
      var cur = w
      var prev = -1L // sentinel: no prev on the first hop
      (w, 0L, w) +: (1 to 3).map { t =>
        val weighted = adj(cur).toSeq.flatMap { v =>
          val wt =
            if (prev < 0) 1L
            else if (v == prev) { sawReturn = true; 4L }
            else if (adj(prev).contains(v)) { sawTriangle = true; 1L }
            else { sawExplore = true; 2L }
          (0L until wt).map(r => (h48(s"n2v:$w:$t:$v:$r"), v))
        }
        val pick = weighted.min
        prev = cur
        cur = pick._2
        (w, t.toLong, cur)
      }
    }.toSet
    assert(out == want, "engine disagrees with the driver-side replay")
    assert(sawReturn && sawTriangle && sawExplore,
      "all three weight classes must occur among candidates")
  }

  /** The keyed branch of `pinKeyed` engages only past 64 MB of
    * lineitem, beyond every sf the tests and the bench run. A copy of
    * sf0.001 whose lineitem.parquet is a dir holding sf0.001's file plus
    * a sparse `_pad` file takes it on sf0.001's rows: Spark's reader
    * skips `_` files and Storage.factBytes counts them. The keyed pins
    * are seen through the checkpoints' own query executions: only the
    * keyed branch checkpoints a plan with HashPartitioning. */
  test("graph pins: the keyed branch returns the plain branch's rows") {
    val sf = "/root/testdata/sf0.001"
    val big = Files.createTempDirectory("an-keyed")
    val li = Files.createDirectories(big.resolve("lineitem.parquet"))
    Files.copy(Paths.get(sf, "lineitem.parquet"), li.resolve("part-0.parquet"))
    val pad = new RandomAccessFile(li.resolve("_pad").toFile, "rw")
    try pad.setLength(65L << 20) finally pad.close()
    assert(Storage.factBytes(big.toString) > (64L << 20))
    assert(Storage.factBytes(sf) <= (64L << 20))
    val pinKeys = new ConcurrentLinkedQueue[Seq[String]]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") qe.executedPlan.outputPartitioning match {
          case h: HashPartitioning =>
            pinKeys.add(h.expressions.collect { case a: Attribute => a.name })
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // A registered listener gives its session, and every scoped clone
    // of it, an ExecutionListenerBus on the context's bus, which Spark
    // drops only when that session is garbage-collected: at a GC during
    // some later suite, whose listener counts it would shift. So the
    // queries run on a session of their own, whose buses are removed
    // before the test ends.
    val s = spark.newSession()
    val buses = SessionBridge.listeners(spark).toSet
    def run(q: String, dir: String): (Seq[String], Seq[Seq[String]]) = {
      ListenerDrain(spark.sparkContext)
      pinKeys.clear()
      val rows = Analytics.queries(q)(s, dir).collect()
        .map(_.mkString("|")).sorted.toSeq
      ListenerDrain(spark.sparkContext)
      (rows, pinKeys.toArray(Array.empty[Seq[String]]).toSeq)
    }
    s.listenerManager.register(listener)
    try {
      Seq("g1_pagerank" -> "src", "g5_bfs" -> "u",
        "g7_random_walk" -> "l_orderkey", "g8_node2vec" -> "l_orderkey")
        .foreach { case (q, key) =>
          val (plain, plainPins) = run(q, sf)
          val (keyed, keyedPins) = run(q, big.toString)
          assert(plainPins.isEmpty, s"$q: the plain branch pinned by key")
          assert(keyedPins == Seq(Seq(key)),
            s"$q: expected one pin hash-partitioned on $key, got $keyedPins")
          assert(keyed == plain, s"$q: keyed rows differ from plain rows")
        }
    } finally {
      SessionBridge.listeners(spark).filterNot(buses)
        .foreach(spark.sparkContext.removeSparkListener)
      graft.util.Scratch.deleteRecursively(big)
    }
  }

  private implicit class PairMap(rows: Array[(String, Long, Double)]) {
    def toMap2: Map[String, (Long, Double)] =
      rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
