package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.util.Cols._
import graft.llm.TextOps.hash48Sql

/** SURVEY.md §2.1/.3/.4/.5/.6/.7/.8/.9 relational operators, one named
  * query per inventory row, each with a DuckDB oracle.
  *
  * Scale-first notes baked into every query:
  *  - filters/projections are plain Column exprs → pushed to the parquet
  *    scan (PushedFilters / ReadSchema prune at the source);
  *  - aggregations are declarative groupBy → partial (map-side) agg free;
  *  - money math in decimal space (see graft.util.Cols) for cross-engine
  *    exactness without sacrificing codegen.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // ---- S1: scan + date-range predicate + projection (RF/randomforest_churn.scala:43-45)
  private val s1: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .filter(to_date($"o_orderdate").between("1996-01-01", "1996-12-31"))
      .select($"o_orderkey", $"o_custkey",
        to_date($"o_orderdate").as("order_date"), $"o_orderpriority")
  }

  // ---- P1-P9: project / derive / drop / filter / cast / lit / na.fill
  // (RF/randomforest_churn.scala:62-135, :180-200)
  private val pOps: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_returnflag" =!= "R" && $"l_quantity" >= 1.0) // P4
      .filter($"l_shipdate" >= lit("1995-06-01"))              // P5
      .filter($"l_linestatus".isin("O", "F"))                  // P6
      .withColumn("qty_int", $"l_quantity".cast("int"))        // P7
      .withColumn("channel", lit("门店会员"))                   // P8 (CJK lit)
      .withColumn("disc_price", discPrice($"l_extendedprice", $"l_discount")) // P2
      .withColumn("disc_nullable",
        when($"l_discount" === 0.0, lit(null)).otherwise($"l_discount"))
      .na.fill(-1.0, Seq("disc_nullable"))                     // P9
      .drop("l_shipdate", "l_comment")                         // P3 (tolerant drop)
      .select($"l_orderkey", $"l_linenumber", $"qty_int", $"channel",
        $"disc_price", $"disc_nullable", $"l_returnflag")      // P1
  }

  // ---- J1: SQL left outer join, aliased, predicates both sides (RF:47-51)
  private val j1: Q = (spark, dir) =>
    Tables.sql(spark, dir, "lineitem", "part")(
      """SELECT a.l_orderkey, a.l_partkey, b.p_brand, b.p_type,
        |       a.l_quantity
        |FROM lineitem a LEFT JOIN part b ON a.l_partkey = b.p_partkey
        |WHERE a.l_quantity > 45""".stripMargin)

  // ---- J2: left-deep chain of same-key left_outer joins (RF:170-198)
  private val j2: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val base = o.select($"o_custkey".as("k")).distinct()
    val f1 = o.groupBy($"o_custkey".as("k"))
      .agg(dsum($"o_totalprice").as("total_spend"))
    val f2 = o.filter($"o_orderstatus" === "F").groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("n_finished"))
    val f3 = o.groupBy($"o_custkey".as("k"))
      .agg(countDistinct($"o_orderpriority").as("n_priorities"))
    base.join(f1, Seq("k"), "left_outer")
      .join(f2, Seq("k"), "left_outer")
      .join(f3, Seq("k"), "left_outer")
      .na.fill(0, Seq("n_finished"))
      .withColumnRenamed("k", "custkey")
  }

  // ---- J3: left join + na.fill as anti-join labeling (RF:218-220)
  private val j3: Q = (spark, dir) => {
    import spark.implicits._
    val customer = Tables.load(spark, dir, "customer")
    val buyers = Tables.load(spark, dir, "orders")
      .filter(to_date($"o_orderdate").between("1996-07-01", "1996-09-30"))
      .select($"o_custkey".as("c_custkey")).distinct()
      .withColumn("label", lit(0))
    customer.select($"c_custkey")
      .join(buyers, Seq("c_custkey"), "left_outer")
      .na.fill(1, Seq("label"))
  }

  // ---- A1: groupBy sum (RF:58) — TPC-H Q1 shape for bench relevance
  private val a1: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(dec2($"l_extendedprice") * (lit(1).cast(Money) - dec2($"l_discount")))
          .cast("double").as("sum_disc_price"),
        (dsum($"l_quantity") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  // ---- A2: countDistinct = frequence (RF:74-76)
  private val a2: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(countDistinct($"o_orderkey").as("frequence"),
           countDistinct($"o_orderpriority").as("n_priorities"))
  }

  // ---- A2 approx variant (SURVEY A2 note): HLL++ approx_count_distinct
  // — the spelling that replaces exact countDistinct at warehouse scale
  // (no Expand, one pass). Approximate → no hash oracle; rows-only check.
  // The sketch is per (group, agg, partial-agg partition), so rsd is a
  // MEMORY knob, not just an accuracy knob: rsd 1% → p=14 → 16 KB dense
  // registers each (measured 2.8-3.2 s here, ~1.5 GB of partial sketches
  // at a mere 1500 groups); the 5% default → 512 B, 32× smaller — the
  // only survivable setting when groups number in the millions. Small
  // per-group domains stay near-exact either way (linear-counting range).
  private val a2approx: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(approx_count_distinct($"o_orderkey").as("frequence_approx"),
           approx_count_distinct($"o_orderpriority").as("n_priorities_approx"))
  }

  // ---- A1 salted variant: the two-phase skew pattern. A hot key melts
  // one reducer at scale; salting splits it across `salt` sub-keys for
  // the heavy partial agg, then a cheap final agg over #keys×salt rows
  // recombines. Deterministic salt (hash of an existing column) keeps it
  // oracle-checkable — result equals the plain one-phase aggregate.
  private val a1salted: Q = (spark, dir) => {
    import spark.implicits._
    val salted = Tables.load(spark, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64($"l_orderkey"), lit(16)))
      .groupBy($"l_suppkey", $"salt")
      .agg(sum(dec2($"l_quantity")).as("partial_qty"),
           count(lit(1)).as("partial_n"))
    salted.groupBy($"l_suppkey")
      .agg(sum($"partial_qty").cast("double").as("sum_qty"),
           sum($"partial_n").as("n_items"))
  }

  // ---- A3: groupBy count + rename (RF:84-85)
  private val a3: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_discount" > 0.0) // "promo lines"
      .groupBy($"l_suppkey").count()
      .withColumnRenamed("count", "promote_items_count")
  }

  // ---- A4: bround(mean) (RF:129-130)
  private val a4: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg((sum(dec2($"o_totalprice")) * 100).cast("long").as("n100"),
           count($"o_totalprice").as("cnt"))
      .select($"o_custkey", broundRatio2($"n100", $"cnt").as("avg_price"))
  }

  // ---- A5: distinct as "exists per key" projection (RF:72, :107)
  private val a5: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .filter($"o_orderstatus" === "O")
      .select($"o_custkey", $"o_orderpriority").distinct()
  }

  // ---- A6: filtered agg / HAVING (RF:90-92)
  private val a6: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(countDistinct($"o_orderkey").as("n_orders"))
      .filter($"n_orders" > 1)
  }

  // ---- W1-W4: unordered full-partition windows + distinct (RF:62-72)
  // The reference's window+distinct idiom, kept verbatim for fidelity.
  private val w14: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.load(spark, dir, "orders")
      .withColumn("last_order_date", max(to_date($"o_orderdate")).over(w))   // W1
      .withColumn("first_order_date", min(to_date($"o_orderdate")).over(w))  // W2
      .withColumn("monetary", sum(dec2($"o_totalprice")).over(w).cast("double")) // W3
      .withColumn("orders_count", count($"o_orderkey").over(w))              // W4
      .select($"o_custkey", $"last_order_date", $"first_order_date",
        $"monetary", $"orders_count")
      .distinct()
  }

  // ---- W16 (extension): ordered-window functions — lag/lead/ntile/
  // percent_rank over (customer, order-date) — the sequential-analytics
  // window family (previous order, next order, quartile, rank position).
  // ONE shuffle on the partition key, one in-partition sort, all four
  // functions share the same Window frame (single Window node). Ordering
  // is made total with an orderkey tiebreak so both engines agree.
  private val w16: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"od".asc, $"o_orderkey".asc)
    Tables.load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("od"))
      .withColumn("prev_date", lag($"od", 1).over(w))
      .withColumn("next_date", lead($"od", 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  // ---- EV-FUNNEL (extension): event-transition counts — for each user,
  // order events by time and count (previous type → type) transitions;
  // aggregate corpus-wide. The funnel/attribution primitive ("how many
  // view→purchase steps happen?"). lag over (user, ts) is one shuffle +
  // sort; the transition count is a plain partial-agg groupBy.
  private val evFunnel: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  // ---- A8 (extension): exact interpolated percentiles per group — the
  // order-statistic aggregate a warehouse engine needs next to sum/avg.
  // Spark `percentile` and DuckDB `quantile_cont` share the definition
  // (sort + linear interpolation at q·(n-1)); both sides round to 4 dp,
  // which quarter/0.05-step interpolation of 2-decimal prices cannot
  // straddle, so the comparison is ulp-robust.
  private val a8: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("x"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.95D))").as("ps"))
      .select($"l_returnflag",
        bround(element_at($"ps", 1), 4).as("p25"),
        bround(element_at($"ps", 2), 4).as("p50"),
        bround(element_at($"ps", 3), 4).as("p75"),
        bround(element_at($"ps", 4), 4).as("p95"))
  }

  // ---- O1: global random shuffle (RF:21) — row set preserved, order random
  private val o1: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "nation").orderBy(rand(42)).select($"n_nationkey", $"n_name")
  }

  // O1 unseeded spelling — the reference's literal `order by rand()`
  // (RF:21 passes no seed). The ORDER is nondeterministic but the row
  // SET is exact, and the driver hashes sorted rows, so this still
  // carries a full oracle.
  private val o1Unseeded: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "nation").orderBy(rand()).select($"n_nationkey", $"n_name")
  }

  // ---- O2: sort (RF:221)
  private val o2: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "region").sort($"r_name")
  }

  // ---- F1-F10: scalar function suite (datediff/to_date/dayofweek/
  // date_sub/round/bround/division/md5/concat; RF §2.8)
  private val fScalar: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select(
        $"o_orderkey",
        to_date($"o_orderdate").as("order_date"),                      // F2
        datediff(lit("1998-01-01").cast("date"), to_date($"o_orderdate"))
          .as("member_day"),                                           // F1
        dayofweek(to_date($"o_orderdate")).as("dow"),                  // F3
        dayofweek(to_date($"o_orderdate")).isin(1, 7).cast("int")
          .as("is_weekend"),                                           // U2
        date_sub(to_date($"o_orderdate"), 30).as("d_minus_30"),        // F4
        round(dec2($"o_totalprice"), 1).cast("double").as("price_r"),  // F5
        bround(dec2($"o_totalprice"), 1).cast("double").as("price_br"),// F6
        ($"o_totalprice" / ($"o_orderkey" + 1)).as("ratio"),           // F7
        md5($"o_orderpriority").as("prio_md5"),                        // F9
        concat(substring(md5($"o_custkey".cast("string")), 1, 4),
          lit("_"), $"o_custkey".cast("string")).as("salted_key"))     // F9/F10
  }

  // ---- T2/T4: recency sub-windows + days-since-last (RF:87-99, :65-66)
  private val t2: Q = (spark, dir) => {
    import spark.implicits._
    val end = lit("1996-06-30").cast("date")
    Tables.load(spark, dir, "orders")
      .filter(to_date($"o_orderdate") >= date_sub(end, 90) &&
              to_date($"o_orderdate") <= end)
      .groupBy($"o_custkey")
      .agg(countDistinct($"o_orderkey").as("frequence90"),
           datediff(end, max(to_date($"o_orderdate"))).as("recent"))
  }

  // ---- A9 (extension): pivot — wide conditional aggregation. Spark's
  // groupBy().pivot(values) compiles to ONE pass of conditional
  // aggregates (one shuffle, partial agg applies); the pivot values are
  // pinned explicitly so the plan needs no driver-side distinct pre-scan
  // (at 100 TB the implicit-values form costs an extra full scan).
  private val a9: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum($"o_totalprice"))
      .select($"o_orderpriority", $"F".as("total_f"), $"O".as("total_o"),
        $"P".as("total_p"))
  }

  // ---- A10 (extension): rollup — hierarchical subtotals + grand total
  // in one pass. The Expand (×3 for two levels) is inherent to grouping
  // sets in any engine; partial aggregation still applies per set.
  private val a10: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  // ---- W15 (extension): grouped top-k via row_number ≤ k. Catalyst
  // plans this as WindowGroupLimit (asserted in PlanShapeSpec): each map
  // task keeps only its local top-k per group BEFORE the shuffle, so the
  // exchange carries O(groups × k) rows instead of the full table — the
  // difference between sorting the warehouse and sorting k rows per
  // group. Tie-broken on orderkey for determinism.
  private val w15: Q = (spark, dir) => {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_orderstatus", $"o_orderkey", $"o_totalprice")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
  }

  // ---- F12 (extension): semi-structured extraction from the events
  // JSON props column, both spellings: from_json with an explicit schema
  // (ONE parse per row, codegen'd struct access — the scale path) and
  // get_json_object (ad-hoc path re-parses per extraction; fine for one
  // field, quadratic in fields extracted). Values asserted equal so the
  // two paths can never drift.
  private val f12: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type",
        from_json($"props",
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"),
        get_json_object($"props", "$.k").cast("long").as("k_adhoc"))
      .filter($"k" === $"k_adhoc" && $"k" >= 50)
  }

  // ---- F15 (extension): PII-style redaction — the corpus-prep scrub
  // step (emails/phones/IDs → placeholder tags). The testdata carries
  // no synthetic emails, so the pattern family is digit runs in the
  // events props JSON — same regex machinery (match-count, first-match
  // extraction, global replace), same plan shape: pure map-side over
  // the scan, zero shuffles, codegen'd regexp. Patterns stay in the
  // RE2 ∩ java.util.regex common dialect (character classes +
  // quantifiers only) so the DuckDB oracle is the same string. At
  // 100 TB this is the trivially-parallel pass PII scrubbing must be —
  // anything keyed (entity linking) is a different operator.
  private val f15: Q = (spark, dir) => {
    import spark.implicits._
    val NumRe = "[0-9]+"
    Tables.load(spark, dir, "events")
      .select($"event_id",
        size(regexp_extract_all($"props", lit(NumRe), lit(0)))
          .cast("long").as("n_matches"),
        element_at(regexp_extract_all($"props", lit(NumRe), lit(0)), 1)
          .cast("long").as("first_num"),
        regexp_replace($"props", NumRe, "[NUM]").as("props_redacted"))
  }

  // ---- P2 (extension): set operations. INTERSECT/EXCEPT plan as
  // aggregate + semi/anti joins — one shuffle each side, partial agg
  // applies; tagged and unioned so one oracle covers both.
  private val p2: Q = (spark, dir) => {
    import spark.implicits._
    val a = Tables.load(spark, dir, "orders").select($"o_custkey".as("id"))
    val b = Tables.load(spark, dir, "events").select($"user_id".as("id"))
    a.intersect(b).withColumn("op", lit("intersect"))
      .unionAll(a.except(b).withColumn("op", lit("except")))
  }

  // ---- J5 (extension): semi/anti joins as first-class spellings (j3
  // builds the anti semantics via left join + null-fill for reference
  // fidelity; these are the native forms — the probe side never
  // duplicates rows and only the key column shuffles).
  private val j5: Q = (spark, dir) => {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", lit("semi").as("op"))
      .unionAll(
        c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", lit("anti").as("op")))
  }

  // ---- A11 (extension): statistical aggregates — corr/covar/stddev per
  // group, one pass, partial aggregation applies. Results are rounded to
  // 6 decimals on BOTH engines: the moment sums are order-dependent in
  // IEEE double (distributed merge order differs from DuckDB's serial
  // scan), so bit-identity holds only after rounding — same treatment as
  // a8's percentiles.
  private val a11: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag",
        $"l_quantity".cast("double").as("x"),
        $"l_extendedprice".cast("double").as("y"))
      .groupBy($"l_returnflag")
      .agg(
        bround(corr($"x", $"y"), 6).as("corr_qp"),
        bround(covar_samp($"x", $"y"), 6).as("covar_qp"),
        bround(stddev_samp($"x"), 6).as("sd_qty"))
  }

  // ---- O4 (extension): deterministic stratified sampling. Production
  // sampling at 100 TB must be REPRODUCIBLE: df.stat.sampleBy draws from
  // a per-partition seeded RNG, so the sample changes whenever the
  // partition layout does (repartition, AQE re-plan, file-split sizing).
  // Hashing the row key instead makes the keep/drop decision a pure
  // function of the data — a map-side filter with zero shuffle, the same
  // rows on any cluster shape, and an independent engine can draw the
  // IDENTICAL sample (which is exactly what the oracle does). Rates:
  // keep 50% of status 'O', 20% of 'F', 10% of 'P' — the class-rebalance
  // shape a training-set builder uses.
  private val o4: Q = (spark, dir) => {
    import spark.implicits._
    val pct = graft.llm.TextOps.hash48($"o_orderkey".cast("string")) % 100
    val keep = when($"o_orderstatus" === "O", pct < 50)
      .when($"o_orderstatus" === "F", pct < 20)
      .otherwise(pct < 10)
    Tables.load(spark, dir, "orders")
      .filter(keep)
      .select($"o_orderkey", $"o_orderstatus")
  }

  // ---- J6 (extension): market-basket co-occurrence — part pairs bought
  // in the same order, the item-item similarity primitive behind
  // "customers also bought". Self-join ON THE ORDER KEY: per-key fanout
  // is C(basket, 2) with basket ≤ ~a dozen items, so candidate volume is
  // rows × avg basket — linear in the fact table — where a naive
  // part×part co-occurrence would be quadratic in the catalog. Ordered
  // pairs (a < b) halve the output; support ≥ 2 prunes noise pairs.
  private val j6: Q = (spark, dir) => {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("part_a"), $"b.pk".as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
  }

  // ---- J11 (extension): SALTED skew join — the two-sided companion of
  // a1_salted_agg. The fact's join key here is l_returnflag: THREE
  // values over the whole fact, so a plain hash join funnels the entire
  // table through 3 reducers — the canonical skew meltdown (AQE's
  // skew-join split helps storage-skewed partitions but not a
  // 3-value key space). The salted spelling: the fact key gains a
  // deterministic hash salt (key, h%S); the dimension is REPLICATED
  // ×S map-side (explode of a literal range — S rows per dim row,
  // never a shuffle) so every salted fact key finds its dim row; the
  // ---- j12_minmax_prune: the MANUAL RUNTIME FILTER — the dimension
  // side's join keys, reduced to driver-side stats, become a pushable
  // predicate on the FACT SCAN before the join ever runs. This is the
  // hand-rolled twin of dynamic partition pruning / Catalyst's
  // InjectRuntimeFilter (whose thresholds — 10 GB application side —
  // never trigger at test scale), and the single biggest scan saver at
  // 100 TB: a selective dim filter should never pay a full fact scan.
  // Two tiers by dim-key count: ≤ 1000 keys → an IN-list (parquet
  // row-group dictionary/stats prune on exact keys); above → the
  // (min,max) range (2 longs of driver state at ANY dim size). Both
  // reach the parquet reader as PushedFilters (PlanShapeSpec pins the
  // In-list + the BroadcastHashJoin above it); both are REDUNDANT with
  // the join, so the oracle spells the plain join — same rows, and the
  // scan-side pruning composes with the k8_zorder layout, which is
  // what turns the pushed range into actual skipped row groups on a
  // clustered warehouse table. The stats collect is a 1-row aggregate
  // (never the key list, unless it already passed the ≤1000 cap) —
  // bounded driver metadata, the Similarity-centroid contract.
  private val j12: Q = (spark, dir) => {
    import spark.implicits._
    val dim = Tables.load(spark, dir, "part")
      .filter($"p_size" === 1)
      .select($"p_partkey", $"p_brand")
    val st = dim.agg(min($"p_partkey").as("lo"), max($"p_partkey").as("hi"),
      count(lit(1)).as("nk")).head()
    val fact = Tables.load(spark, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val pruned =
      if (st.getLong(2) == 0L) fact.filter(lit(false))
      else if (st.getLong(2) <= 1000L)
        fact.filter($"l_partkey".isin(
          dim.select($"p_partkey").as[Long].collect().sorted.map(Long.box): _*))
      else fact.filter($"l_partkey".between(st.getLong(0), st.getLong(1)))
    pruned.join(broadcast(dim), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        sum(dec2($"l_quantity")).cast("long").as("sum_qty"),
        dsum($"l_extendedprice").as("revenue"))
  }

  // ---- J17 (extension): RUNTIME BLOOM-FILTER semi-join reduction —
  // the fourth leg of the runtime-filter family (j16 = Spark's DPP on
  // partition columns, j12 = manual min-max/IN pushdown to the scan,
  // AqeSkewSpec = AQE skew split): Spark's InjectRuntimeFilter builds a
  // bloom over the SELECTIVE dim's join keys and filters the fact rows
  // BEFORE they shuffle into the join — on a 100 TB fact that is most
  // of the join's exchange deleted for keys that can't match. The
  // query itself is a plain selective-dim join (the oracle spells
  // exactly that); the FEATURE is plan-shaped and threshold-gated
  // (application side must scan > 10 GB by default, creation side
  // < 10 MB — i.e. it arms exactly at warehouse scale, not at bench
  // scale), so PlanShapeSpec pins it by lowering the thresholds and
  // asserting bloom_filter_might_contain reaches the fact side.
  private val j17: Q = (spark, dir) => {
    import spark.implicits._
    val sel = Tables.load(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    Tables.load(spark, dir, "lineitem")
      .join(sel, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
  }

  // post-join aggregate re-combines over (key) exactly like a1's
  // final pass. S=8 turns 3 live reducers into 24 — at 1000 executors
  // you'd size S to the cluster, a config knob, not a plan change.
  // Salt is hash-of-row-key (o4/o5 determinism canon), so the result
  // is partition-invariant and the oracle spells the UNSALTED join —
  // same table, opposite reducer occupancy.
  private val j11: Q = (spark, dir) => {
    import spark.implicits._
    val S = 8
    val fact = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag".as("rf"), $"l_quantity",
        (graft.llm.TextOps.hash48($"l_orderkey".cast("string")) % S)
          .as("salt"))
    val dim = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag".as("rf")).distinct()
      .select($"rf", concat(lit("flag_"), $"rf").as("label"))
      .select($"rf", $"label",
        explode(sequence(lit(0), lit(S - 1))).as("salt_i"))
      .select($"rf", $"label", $"salt_i".cast("long").as("salt"))
    fact.join(broadcast(dim), Seq("rf", "salt"))
      .groupBy($"rf", $"label")
      .agg(count(lit(1)).as("n"),
        sum(dec2($"l_quantity")).cast("long").as("sum_qty"))
  }

  // ---- W18 (extension): the relative-rank window suite —
  // percent_rank / cume_dist / ntile(4) per priority class over the
  // order cents, the analytics trio w14-w17 don't cover. The order is
  // TOTAL ((cents, o_orderkey)), so every rank function is
  // deterministic and ntile's tie placement is pinned; partitions are
  // priority classes (bounded count, each ~N/5 — per-key windows, the
  // safe axis). percent_rank/cume_dist are IEEE divisions of identical
  // integers in both engines — exact cross-engine without quantization
  // (the a16 rate precedent).
  private val w18: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"cents", $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority",
        (dec2($"o_totalprice") * 100).cast("long").as("cents"))
      .select($"o_orderkey", $"o_orderpriority", $"cents",
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  // ---- J9 (extension): association rules over the j6 frequent pairs —
  // the classic market-basket output (Agrawal/Srikant Apriori at the
  // 2-itemset level): for each frequent pair emit BOTH directed rules
  // ante → cons with confidence = sup(pair)/sup(ante) and
  // lift = N·sup(pair)/(sup(ante)·sup(cons)). Scale shape: candidate
  // pairs come from the j6 order-key self-join (linear in the fact,
  // never catalog²); item supports and the basket count are
  // dimension-sized aggregates attached by broadcast, so the only fact
  // shuffles are the distinct and the pair count. Both metrics are
  // pure-integer ppm floors: the lift numerator sup·N·1e6 passes
  // through DECIMAL(38,0) (HUGEINT on the oracle side — the m13
  // headroom pattern) because it leaves int64 around sf100; the exact
  // pmod-floor division means no double appears anywhere and the rule
  // table hash-matches DuckDB at any corpus size. A 10% confidence
  // floor bounds the output the way a rule miner's user would.
  private val j9: Q = (spark, dir) => {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      // feeds the pair self-join (twice), the item supports, and the
      // basket count — lazy checkpoint stops four re-scans of the fact
      .localCheckpoint(false)
    val pairSup = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("part_a"), $"b.pk".as("part_b"))
      .agg(count(lit(1)).as("sup_pair"))
      .filter($"sup_pair" >= 2)
    val itemSup = li.groupBy($"pk").agg(count(lit(1)).as("sup_item"))
    val baskets = li.select($"ok").distinct().agg(count(lit(1)).as("n_baskets"))
    val rules = pairSup
      .select($"part_a".as("ante"), $"part_b".as("cons"), $"sup_pair")
      .union(pairSup
        .select($"part_b".as("ante"), $"part_a".as("cons"), $"sup_pair"))
    rules
      .join(broadcast(itemSup.select($"pk".as("ante"), $"sup_item".as("sup_ante"))), "ante")
      .join(broadcast(itemSup.select($"pk".as("cons"), $"sup_item".as("sup_cons"))), "cons")
      .crossJoin(broadcast(baskets))
      .withColumn("conf_ppm",
        floorDiv($"sup_pair" * 1000000L, $"sup_ante").cast("long"))
      .withColumn("lift_ppm",
        floorDiv($"sup_pair".cast("decimal(38,0)") * $"n_baskets" * 1000000L,
          $"sup_ante".cast("decimal(38,0)") * $"sup_cons").cast("long"))
      .filter($"conf_ppm" >= 100000L)
      .select($"ante", $"cons", $"sup_pair", $"sup_ante", $"sup_cons",
        $"conf_ppm", $"lift_ppm")
  }

  // ---- J7 (extension): blocked fuzzy match — entity resolution's
  // standard two-phase shape: a cheap BLOCKING key bounds the candidate
  // pairs, then the expensive verify (edit distance ≤ 2) runs on
  // candidates only. An unblocked fuzzy join is catalog×catalog — the
  // classic accidental cross join; equi-join blocking keeps Catalyst on
  // a hash join. Output keeps the names so a reviewer can audit.
  //
  // Blocking key (r8, the r7 scale-killer fix): brand alone gives
  // within-block C(n,2) — with ~25 brands, candidates grow QUADRATICALLY
  // in the catalog (6.9M pairs at sf0.1, 100× at 10×). The composite key
  // here is brand × token-position × SymSpell deletion-variant, with a
  // recall GUARANTEE, not a heuristic trade:
  //   (1) pigeonhole: names are "<modifier> <noun>"; ≤ 2 edits split
  //       across the two token regions, so at least one token carries
  //       ≤ 1 edit (a moved/deleted space costs an edit in each region
  //       it touches, preserving the bound);
  //   (2) SymSpell: ed(x, y) ≤ 1  ⟹  {x}∪del1(x) ∩ {y}∪del1(y) ≠ ∅
  //       (equal / insert / delete share trivially; a substitution at
  //       position i shares the delete-at-i variant).
  // So every ed≤2 pair collides on ≥ 1 (brand, pos, variant) key —
  // verified: 220,542/220,542 ground-truth pairs at sf0.1 (recall 1.0,
  // SURVEY §9 audit) — while candidates drop 6.9M → 2.0M at sf0.1, and,
  // unlike brand-only, block sizes track the NAME VOCABULARY: on a
  // salted 10× catalog (vocabulary grows with the catalog, as real ones
  // do) candidates grow ~linearly where brand-only grows ~100×
  // (`ScaleProbes fuzzy`). ~12 keys/row (2 tokens × (len+1) variants)
  // is the indexing cost — linear, map-side; see [[j7Candidates]] for
  // why the candidate join is split into exact/near paths. The DISTINCT
  // collapses multi-key collisions before the O(len²) DP; the
  // length-delta prefilter and the levenshtein THRESHOLD overload
  // (early-exits the DP past 2) carry over from r7.
  //
  // PRECONDITION (asserted in RelationalLawsSpec): names tokenize to
  // exactly two space-separated tokens on both sides — the pigeonhole
  // splits the edit budget over two token regions. (A 5-token TPC-H
  // name would need the same scheme with ≤ 2 destroyed tokens of 5 —
  // exact token share — i.e. a weaker key and FEWER candidates.)
  /** The blocking stage of j7, exposed for `ScaleProbes fuzzy`:
    * distinct candidate pairs that collide on ≥ 1 (brand, token-pos,
    * SymSpell del-1 variant) key and pass the length-delta prefilter.
    *
    * Two disjoint join paths keep the pre-distinct volume at ~1× the
    * candidate count (a single all-variants self-join measured 10.4M
    * raw rows for 2.0M candidates at sf0.1 — two tokens that are EQUAL
    * collide on every one of their len+1 shared variants):
    *   exact — key (brand, pos, tok): equal-token pairs, ≤ 1 row per
    *           (pair, pos), the bulk of the volume;
    *   near  — key (brand, pos, variant) with tok_a ≠ tok_b and the
    *           SymSpell role guard (pdel_a = 0 ∨ pdel_b = 0 ∨
    *           pdel_a = pdel_b): tokens at edit distance exactly 1
    *           (insert/delete: one side is the other's del-variant;
    *           substitution at i: both del-at-i variants equal). The
    *           tok guard runs inside the join probe, so equal-token
    *           collisions are dropped before any shuffle.
    * Both key tables are ~12 narrow rows per part — linear and
    * map-side — but they GROW WITH THE CATALOG, so the self-joins are
    * pinned to SORT-MERGE (r8, found by the 100× probe): Catalyst's
    * size estimate does not grow through Generate, so at a 2M-part
    * catalog it still chose broadcast and died building a multi-GB
    * hash relation; a shuffle-hash hint then OOM'd the per-partition
    * build map (data/partitions outgrew the heap at 32 static
    * partitions). SMJ is the only large-large join that spills
    * gracefully at any data:memory ratio — and it is FASTER here even
    * at small scale (4.3 → 3.4 s at sf0.1: sorting narrow key rows
    * beats building two 240k-row hash relations), 13.0 s at 10×,
    * 147.6 s at 100× where both hash variants died. */
  def j7Candidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_name", $"p_brand")
    val firstTok = element_at(split($"p_name", " "), 1)
    val lastTok  = element_at(split($"p_name", " "), -1)
    val toks = p
      .select($"p_partkey", $"p_name", $"p_brand",
        posexplode(array(firstTok, lastTok)).as(Seq("pos", "tok")))
    // (pdel, variant) pairs: pdel = 0 → the token itself, pdel = i > 0
    // → tok with char i deleted. Repeated characters can yield the same
    // variant at two pdel values; the final distinct absorbs those.
    val keys = toks.select($"p_partkey", $"p_name", $"p_brand", $"pos", $"tok",
      explode(concat(
        array(struct(lit(0).as("pdel"), $"tok".as("variant"))),
        transform(sequence(lit(1), greatest(length($"tok"), lit(1))),
          i => struct(i.as("pdel"),
            concat($"tok".substr(lit(1), i - lit(1)),
                   $"tok".substr(i + lit(1), length($"tok"))).as("variant")))))
        .as("kv"))
      .select($"p_partkey", $"p_name", $"p_brand", $"pos",
        $"tok", $"kv.variant".as("variant"), $"kv.pdel".as("pdel"))
    def pairCols(side: String => Column) = Seq(
      side("a.p_partkey").as("key_a"), side("b.p_partkey").as("key_b"),
      side("a.p_name").as("name_a"), side("b.p_name").as("name_b"))
    val lenOk = abs(length($"a.p_name") - length($"b.p_name")) <= 2
    val exact = toks.as("a").hint("merge").join(toks.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.pos" === $"b.pos" &&
          $"a.tok" === $"b.tok" && $"a.p_partkey" < $"b.p_partkey" && lenOk)
      .select(pairCols(col): _*)
    val near = keys.as("a").hint("merge").join(keys.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.pos" === $"b.pos" &&
          $"a.variant" === $"b.variant" && $"a.tok" =!= $"b.tok" &&
          ($"a.pdel" === 0 || $"b.pdel" === 0 || $"a.pdel" === $"b.pdel") &&
          $"a.p_partkey" < $"b.p_partkey" && lenOk)
      .select(pairCols(col): _*)
    // Pair dedup as groupBy-on-longs + first(name), NOT .distinct():
    // name is a function of key, so first() is deterministic — and the
    // names becoming AGGREGATE outputs stops Catalyst from pushing the
    // downstream levenshtein filter below the dedup into the join
    // condition, where it would run (twice) on every raw hash-match
    // instead of once per distinct candidate (measured 19 s vs ~2 s at
    // sf0.1 — the pushdown is a pessimization exactly when the filter
    // is the expensive verify stage of a blocked join).
    exact.unionAll(near)
      .groupBy($"key_a", $"key_b")
      .agg(first($"name_a").as("name_a"), first($"name_b").as("name_b"))
  }

  private val j7: Q = (spark, dir) => {
    import spark.implicits._
    j7Candidates(spark, dir)
      .withColumn("dist", levenshtein($"name_a", $"name_b", 2))
      .filter($"dist".between(0, 2))
      .select($"key_a", $"key_b", $"name_a", $"name_b",
        $"dist".cast("long").as("dist"))
  }

  // ---- A15 (extension): fixed-width histogram — the distribution
  // report every profiling pass wants next to min/max. The bucket is a
  // plain floor expression over a LITERAL range (a data-derived range
  // would cost a pre-pass; report ranges are parameters), so partial
  // aggregation applies and the output is ≤ nbuckets rows.
  private val a15: Q = (spark, dir) => {
    import spark.implicits._
    val (lo, hi, buckets) = (0.0, 500000.0, 10)
    val w = (hi - lo) / buckets
    Tables.load(spark, dir, "orders")
      .select(least(floor(($"o_totalprice" - lo) / w), lit(buckets - 1))
        .cast("long").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
  }

  // ---- O5 (extension): leakage-safe grouped train/val/test split —
  // the split key is the GROUP (user), not the row: all of a user's
  // events land in the same split, so correlated rows can never leak
  // across the train/test boundary (row-level randomSplit on event data
  // does exactly that). Hash-deterministic like o4: stable across
  // reruns, re-ingests, and partition layouts — the training set is an
  // auditable function of the data. 80/10/10 by user.
  private val o5: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events").select($"event_id", $"user_id",
      graft.llm.TextOps.hashSplit($"user_id").as("split"))
  }

  // ---- O6 (extension): weighted sampling without replacement, per
  // group — Efraimidis–Spirakis A-ES with a DETERMINISTIC uniform: each
  // doc draws u = (hash48("ws:"+id)+1)/2^48 ∈ (0,1] and keeps key
  // ln(u)/w (equivalent to u^(1/w); w = n_chars), top-K per source by
  // key. Long docs are proportionally likelier, yet the sample is a
  // pure function of the data — reproducible, partition-invariant, and
  // oracle-checkable, none of which rand()-based weighted sampling
  // gives. Scale shape: key is map-side arithmetic ((h+1)/2^48 is a
  // power-of-two division — IEEE-exact in both engines; the ln/div is
  // quantized to INTEGER nano-keys (r9 canon) with a doc_id tiebreak,
  // so the engines rank identical integers and a last-ulp libm
  // disagreement cannot flip the boundary), then the same two-phase
  // WindowGroupLimit top-K as d_source_cap: each map task keeps its
  // local top-K per source before the exchange.
  private val o6: Q = (spark, dir) => {
    import spark.implicits._
    val K = 5
    val u = (graft.llm.TextOps.hash48(concat(lit("ws:"), $"doc_id".cast("string")))
      + 1).cast("double") / lit(281474976710656.0)
    val key = round(log(u) / greatest($"n_chars", lit(1L)).cast("double")
      * lit(1e9)).cast("long")
    val w = Window.partitionBy($"source").orderBy($"key".desc, $"doc_id".asc)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars", key.as("key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= K)
      .select($"source", $"doc_id", $"n_chars", $"rk")
  }

  // ---- O7 (extension): UNIFORM reservoir sampling, exactly K per
  // group — the unweighted twin of o6 (classic Algorithm-R semantics
  // made deterministic): every row of a group is equally likely under
  // the hash-uniform key, and each group emits exactly min(K, |group|)
  // rows no matter how skewed group sizes are — which a fraction-based
  // sample (o4) cannot promise (its per-group yield varies with group
  // size). Deterministic like o4/o5/o6: the sample is a pure function
  // of the data — reproducible across reruns, re-ingests, and
  // partition layouts, and therefore oracle-checkable. Scale shape:
  // the rank key is map-side arithmetic; the top-K per group plans the
  // same two-phase WindowGroupLimit as o6/d_source_cap (each map task
  // keeps its local K per group before the exchange), so the shuffle
  // carries at most K·|groups| rows per task, not the fact table.
  private val o7: Q = (spark, dir) => {
    import spark.implicits._
    val K = 20
    val key = graft.llm.TextOps.hash48(
      concat(lit("rv:"), $"o_orderkey".cast("string")))
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"key".asc, $"o_orderkey".asc)
    Tables.load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey", key.as("key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= K)
      .select($"o_orderpriority", $"o_orderkey", $"rk")
  }

  // ---- W19 (extension): running DISTINCT count per user — "how many
  // distinct event types had this user touched as of each event", the
  // engagement-breadth curve behind activation metrics (and the
  // windowed cousin of a2's global NDV). Exact running distinct is
  // hostile to one window (state = the seen-set); the standard exact
  // spelling is FIRST-SEEN FLAG (row_number over (user, type) == 1)
  // then a running SUM of flags over the user's timeline — two window
  // operators over BOUNDED partitions (a user's events / a user's
  // events of one type), never a global sort. Two exchanges ((user,
  // type) then user) is the honest cost of exactness; the flags are
  // 0/1 longs so the second pass carries no payload. Both windows
  // order by the TOTAL (ts, event_id) key — tie placement is pinned,
  // so the running values hash-compare bitwise.
  private val w19: Q = (spark, dir) => {
    import spark.implicits._
    val wFirst = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val wRun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .withColumn("first_seen",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("n_types", sum($"first_seen").over(wRun))
      .select($"event_id", $"user_id", $"n_types")
  }

  // ---- A12 (extension): one-pass column profiling — the data-quality
  // summary every ingest pipeline runs before training. ONE aggregate
  // over ONE scan (no per-column passes): row count, null count, exact
  // NDV, min/max per profiled column. The single distinct agg plans as a
  // two-phase aggregate without Expand; at 100 TB the exact NDV would be
  // swapped for approx_count_distinct (the a2_approx_distinct twin) —
  // kept exact here for the oracle.
  private val a12: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      count($"o_custkey").as("nn_custkey"),
      countDistinct($"o_custkey").as("ndv_custkey"),
      min($"o_orderdate").as("min_date"),
      max($"o_orderdate").as("max_date"),
      dsum($"o_totalprice").as("sum_price"),
      min(dec2($"o_totalprice")).cast("double").as("min_price"),
      max(dec2($"o_totalprice")).cast("double").as("max_price"))
  }

  // ---- A13 (extension): CUBE — all 2^k grouping-set combinations (the
  // rollup twin, §2.5). Inherent ×2^k Expand in any engine; fine for
  // low-cardinality dimension pairs, and the pivot/conditional-agg
  // spelling (a9) is the documented alternative when it isn't.
  private val a13: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  // ---- A8-approx (extension): percentile_approx twin of a8 — the
  // 100 TB path. Exact percentiles need a full sort per group;
  // approx_percentile keeps a bounded KLL/GK-style sketch per (group,
  // partition) that merges associatively, so partial aggregation applies
  // and memory is O(accuracy), not O(rows). No oracle (sketch internals
  // are engine-specific, like the HLL twin a2_approx_distinct); the
  // accuracy contract vs hash-green a8 is asserted in
  // RelationalLawsSpec (rank error ≤ n/accuracy by the GK guarantee).
  private val a8approx: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("x"))
      .groupBy($"l_returnflag")
      .agg(expr("approx_percentile(x, array(0.25D, 0.5D, 0.75D, 0.95D), 1000)")
        .as("ps"))
      .select($"l_returnflag",
        element_at($"ps", 1).as("p25"), element_at($"ps", 2).as("p50"),
        element_at($"ps", 3).as("p75"), element_at($"ps", 4).as("p95"))
  }

  // ---- A14 (extension): explicit GROUPING SETS + grouping() markers —
  // the general grouping-set surface (rollup/cube are its two fixed
  // shapes). SQL spelling: the DataFrame API deliberately exposes only
  // rollup/cube, and a declared query should use the surface a user
  // would. grouping() disambiguates "subtotal row" from "NULL-valued
  // group", which any consumer of subtotal output needs.
  private val a14: Q = (spark, dir) =>
    Tables.sql(spark, dir, "orders")(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |       COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)

  // ---- T5 (extension): calendar gap-fill — densify per-user daily
  // activity onto a fixed date spine so downstream sequence models see
  // explicit zeros, not missing rows. Spine = distinct users × 30-day
  // sequence (explode of a literal range: ~users × 30 rows, trivially
  // broadcastable); activity attaches via a left join keyed (user, day);
  // missing days coalesce to 0. The spine window is a PARAMETER (a
  // reporting period), not derived from the data — deriving min/max
  // would add a pre-pass over the fact table.
  private val t5: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val daily = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n0"))
    val spine = ev.select($"user_id").distinct()
      .withColumn("d", explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"),
        expr("INTERVAL 1 DAY"))))
    spine.join(daily, Seq("user_id", "d"), "left_outer")
      .select($"user_id", $"d", coalesce($"n0", lit(0L)).as("n"))
  }

  // ---- W17 (extension): trailing 7-day rolling spend per customer — a
  // RANGE window frame over the date VALUE (peers at the same date enter
  // the frame together), the rolling-feature primitive. One shuffle on
  // the partition key; money math stays decimal-exact inside the frame
  // and converts to double once (Cols.dsum treatment).
  private val w17: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(datediff($"od", lit("1970-01-01").cast("date")))
      .rangeBetween(-6, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("od"),
        dec2($"o_totalprice").as("price"))
      .withColumn("spend_7d", sum($"price").over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"od", $"spend_7d")
  }

  // ---- A17 (extension): one-pass data-quality audit — the constraint
  // suite (Deequ-style) every ingest gate runs before data reaches
  // training: row count, key uniqueness, null rate, value-range bounds,
  // domain membership, referential integrity. Scale shape: ONE scan of
  // the fact computes every scan-local metric in a single aggregate
  // (the a12_profile treatment; the lone count-distinct costs the
  // standard single-distinct Expand), the RI rule is a left_anti
  // aggregate against the parent keys (broadcast at dimension scale,
  // shuffle otherwise — Catalyst's call), and the two 1-row results
  // cross-join before an explode fans out one row PER RULE. Metrics
  // are exact integers/doubles, so pass/fail is engine-independent; a
  // FAILING rule (this data has duplicate (orderkey, linenumber)
  // pairs) stays in the output — an audit that can only pass is not an
  // audit. The composite key packs into one BIGINT (linenumber ∈ 1..7
  // < 8) so both engines count-distinct the same scalar.
  private val a17: Q = (spark, dir) => {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val scanStats = li.agg(
      count(lit(1)).as("n"),
      countDistinct($"l_orderkey" * 8 + $"l_linenumber").as("n_key"),
      sum(when($"l_discount".isNull, 1L).otherwise(0L)).as("n_null_disc"),
      min($"l_quantity").as("q_min"),
      max($"l_quantity").as("q_max"),
      sum(when(!$"l_returnflag".isin("R", "A", "N"), 1L).otherwise(0L))
        .as("n_bad_flag"))
    val orphans = li.select($"l_orderkey")
      .join(Tables.load(spark, dir, "orders").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    def rule(name: String, metric: Column, passed: Column) =
      struct(lit(name).as("rule"), metric.cast("double").as("metric"),
        passed.as("passed"))
    scanStats.crossJoin(orphans) // 1 row × 1 row
      .select(explode(array(
        rule("row_count", $"n", $"n" > 0),
        rule("pk_dup_rows", $"n" - $"n_key", $"n" === $"n_key"),
        rule("null_discount", $"n_null_disc", $"n_null_disc" === 0),
        rule("qty_min", $"q_min", $"q_min" >= 1.0),
        rule("qty_max", $"q_max", $"q_max" <= 50.0),
        rule("flag_domain", $"n_bad_flag", $"n_bad_flag" === 0),
        rule("ri_orders", $"n_orphan", $"n_orphan" === 0))).as("r"))
      .select($"r.rule".as("rule"), $"r.metric".as("metric"),
        $"r.passed".as("passed"))
  }

  // ---- A20 (extension): mergeable-sketch distinct-count maintenance —
  // the HLL companion of t9_incremental_agg's monoid states: COUNT
  // DISTINCT is not a monoid (states don't add), so incremental
  // pipelines maintain it with mergeable sketches instead. Per-epoch
  // partial hll_sketch_agg states (what a real pipeline persists per
  // partition/day) are combined with hll_union_agg and must estimate
  // the SAME value as a single direct sketch over all data — the
  // merge==direct law is the whole point, and err vs the exact count
  // stays inside the sketch's published bound. Scale shape: the sketch
  // path never shuffles rows — partial sketches combine map-side and
  // only KB-sized binary states cross the wire, where exact distinct
  // shuffles every distinct value; the exact column here exists to
  // measure error and is the thing a 100 TB pipeline would NOT run.
  // No DuckDB oracle (Datasketches internals are library-specific);
  // RelationalLawsSpec asserts merged == direct exactly and err_bp
  // within bound.
  private val a20: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderstatus",
        ($"o_orderdate" >= lit("1998-01-01").cast("timestamp")).as("is_delta"),
        $"o_custkey")
    val partials = o.groupBy($"o_orderstatus", $"is_delta")
      .agg(hll_sketch_agg($"o_custkey").as("sk"))
    val merged = partials.groupBy($"o_orderstatus")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_merged"))
    val direct = o.groupBy($"o_orderstatus")
      .agg(hll_sketch_estimate(hll_sketch_agg($"o_custkey")).as("est_direct"),
        countDistinct($"o_custkey").as("n_exact"))
    merged.join(direct, "o_orderstatus")
      .select($"o_orderstatus", $"est_merged", $"est_direct", $"n_exact",
        floor(abs($"est_merged" - $"n_exact") * 10000 / $"n_exact")
          .cast("long").as("err_bp"))
  }

  // ---- J8 (extension): exact set-similarity self-join (Jaccard ≥ 1/2)
  // over order baskets — the collaborative-filtering / near-dup-basket
  // companion to j6's co-occurrence counts and the SET-space sibling of
  // the dedup family's shingle methods. All-pairs Jaccard is baskets² —
  // dead at any scale; the candidate space must come from shared
  // tokens. ALGORITHM CHOICE is size-driven, and the r8 sf10 probe
  // decided it empirically:
  //
  //   Prefix filtering (AllPairs/PPJoin) — index only each basket's
  //   |s|−⌈|s|/2⌉+1 globally-rarest tokens, verify candidates against
  //   token arrays — is the textbook answer, and the first spelling
  //   here. But its wins are proportional to how much of a set the
  //   prefix EXCLUDES, and these baskets are TINY (avg 4 tokens):
  //   prefixes keep ~3 of 4 tokens, candidate volume fell only 932M →
  //   745M with the exact length+positional filters (measured, sf10),
  //   while the verify stage had to sort the ~½B-pair stream TWICE
  //   with array payloads attached — 20M-row × ~80B sorts per task
  //   that OOM'd a 32-thread 8 GB JVM twice (TaskMemory page thrash,
  //   then UnsafeExternalSorter death in the o2-sort). Prefix
  //   filtering earns its complexity on LARGE sets (documents,
  //   n-gram shingles), where the prefix excludes most of the set.
  //
  //   COLLISION COUNTING — self-join the full token postings, count
  //   collisions per pair — computes the intersection EXACTLY with no
  //   arrays, no distinct, and no verify joins: for small sets its
  //   pair stream (Σ_tok c², 968M at sf10) is nearly the same size as
  //   the filtered prefix stream, but each row is 3 longs, the COUNT
  //   is the verification, and basket sizes ride the postings so the
  //   aggregate emits (inter, na, nb) in one pass. J ≥ 1/2 is the
  //   pure-integer post-filter 3·inter ≥ na+nb.
  //
  // Scale shape: ONE token-keyed SMJ + ONE pair-keyed hash aggregate.
  // The join sides are pinned SMJ (the j7 Generate-estimate lesson:
  // never let Catalyst broadcast a catalog-scale posting table) and
  // explicitly repartitioned to a count scaled with posting volume —
  // AQE sizes the join shuffle from its INPUT (~1 GB at sf10) and
  // would coalesce to ~16 partitions, blind to the quadratic OUTPUT
  // (the probe's first OOM); explicit numPartitions is exempt from
  // coalescing, keeping each task's slice of the pair stream
  // spill-able. Skew: posting lengths are basket counts per part —
  // measured flat (max 30 at sf10); a Zipf-headed catalog would cap
  // df like dedup_ngram_jaccard does. The oracle spells the same
  // counting truth in DuckDB (independent join/agg order); planted
  // spec pins the J=1/2 boundary and exclusions.
  private val j8: Q = (spark, dir) => {
    import spark.implicits._
    // items grows with the fact table and is read twice (sizes +
    // postings); size-adaptive pin (util.Storage, the g1/j8 policy).
    val ser = graft.util.Storage.adaptiveLevel(dir)
    val items = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .localCheckpoint(true, ser)
    val sizes = items.groupBy($"l_orderkey").agg(count(lit(1)).as("sz"))
    val nItems = items.count()
    val joinParts = math.max(32L, math.min(1024L, nItems / 250000L)).toInt
    val posts = items.join(sizes, "l_orderkey")
      .repartition(joinParts, $"l_partkey")
    // exact length filter inside the join: J ≥ 1/2 ⇒ min(sz) ≥
    // max(sz)/2 — prunes pairs that could never qualify before they
    // reach the aggregate (integer-only, no recall loss)
    val pairs = posts.as("a").hint("merge").join(posts.as("b"),
        $"a.l_partkey" === $"b.l_partkey" &&
          $"a.l_orderkey" < $"b.l_orderkey" &&
          $"b.sz" * 2 >= $"a.sz" && $"b.sz" <= $"a.sz" * 2)
      .select($"a.l_orderkey".as("o1"), $"b.l_orderkey".as("o2"),
        $"a.sz".as("na"), $"b.sz".as("nb"))
    pairs
      .groupBy($"o1", $"o2")
      .agg(count(lit(1)).as("inter"), max($"na").as("na"), max($"nb").as("nb"))
      .filter($"inter" * 3 >= $"na" + $"nb")
      .select($"o1", $"o2", $"inter",
        ($"na" + $"nb" - $"inter").as("union_sz"),
        roundRatio2($"inter" * 100, $"na" + $"nb" - $"inter").as("jacc"))
  }

  // ---- A22 (extension): UNPIVOT/melt — the wide→long reshape every
  // metrics store and plotting layer consumes (the inverse of a9's
  // pivot, completing the reshape pair). Uses the Dataset.unpivot API
  // (Spark 3.4+ Expand-based, one pass, no join): ids = the group key,
  // values = the three metric columns, emitted as (metric, value) rows.
  // All values are BIGINT (counts, integer quantity sum, cents sum) so
  // one long `value` column types cleanly — the unpivot contract
  // requires a common type, and mixing doubles in would force a lossy
  // cast. Scale shape: one scan + one dimension-sized aggregate; the
  // unpivot itself is a 3× row expansion of a 3-row frame.
  private val a22: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("long")).as("sum_qty"),
        sum((dec2($"l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .unpivot(Array($"l_returnflag"),
        Array($"n_rows", $"sum_qty", $"sum_cents"), "metric", "value")
  }

  // ---- O8 (extension): POISSON BOOTSTRAP — the only bootstrap that
  // works at 100 TB: classic resampling draws n rows WITH replacement
  // per replicate (a full shuffle × B), while the Poisson(1)
  // approximation gives every row an independent per-replicate weight
  // drawn map-side, so all B replicates ride ONE scan and ONE
  // dimension-sized aggregate (Chamandy et al., the production-metrics
  // standard). Determinism/cross-engine: the weight is the inverse-CDF
  // of hash48("bs:" + replicate + ":" + key) % 10⁶ against INTEGER ppm
  // thresholds of the Poisson(1) CDF (shared literals — both engines
  // compare the same integers; no RNG, no seed plumbing). Emits per
  // replicate the effective count, weighted cents sum, and exact
  // milli-floor mean — the spread across the 16 rows IS the
  // bootstrap CI of mean revenue.
  private val o8: Q = (spark, dir) => {
    import spark.implicits._
    import graft.llm.TextOps.hash48
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
      999406L, 999917L, 999990L, 999999L)
    val e = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", (dec2($"o_totalprice") * 100).cast("long")
        .as("cents"))
      .select($"o_orderkey", $"cents",
        explode(sequence(lit(0), lit(15))).as("r"))
      .withColumn("h", hash48(concat(lit("bs:"), $"r".cast("string"),
        lit(":"), $"o_orderkey".cast("string"))) % 1000000L)
      // fold DESCENDING so the final expression tests the smallest
      // threshold first: w = min{k : h < cdf_k}, else 9
      .withColumn("w", cdf.zipWithIndex.reverse.foldLeft(lit(9L)) {
        case (acc, (t, k)) => when($"h" < t, k.toLong).otherwise(acc)
      })
    e.groupBy($"r".cast("long").as("replicate"))
      .agg(sum($"w").as("n_eff"), sum($"w" * $"cents").as("sum_cents"))
      .select($"replicate", $"n_eff", $"sum_cents",
        // scale up in DECIMAL before the multiply (the m13 headroom
        // lesson): sum_cents·1000 wraps int64 around sf100
        floorDiv($"sum_cents".cast("decimal(38,0)") * 1000, $"n_eff")
          .cast("long").as("mean_cents_milli"))
  }

  // ---- O9 (extension): WALK-FORWARD time split — the leakage-safe CV
  // for temporal data (the churn label is a FUTURE window, so a random
  // k-fold split leaks future purchases into training; sklearn
  // TimeSeriesSplit semantics with an embargo gap). The timeline is cut
  // into k+1 equal segments; fold i trains on everything STRICTLY
  // before segment i's start minus a 7-day embargo (events whose
  // influence straddles the boundary would otherwise leak label
  // information backwards) and tests on segment i, with the last fold's
  // test window absorbing the division remainder. All boundaries are
  // exact integer day-offsets (floorDiv of the span), so both engines
  // compute identical fold frames. Scale shape: one stats pass (1-row
  // min/span broadcast) + ONE conditional aggregate carrying all 2k
  // fold counts — the fact is never replicated k× (the oracle's
  // fold-cross-join spelling is the naive twin, not the plan).
  private val o9: Q = (spark, dir) => {
    import spark.implicits._
    val k = 4
    val embargo = 7
    val o = Tables.load(spark, dir, "orders")
      .select(to_date($"o_orderdate").as("d"))
    val stats = o.agg(min($"d").as("dmin"),
      (datediff(max($"d"), min($"d")) + 1).cast("long").as("t_days"))
    val withDay = o.crossJoin(broadcast(stats))
      .select(datediff($"d", $"dmin").cast("long").as("day"), $"t_days",
        floorDiv($"t_days", lit((k + 1).toLong)).cast("long").as("seg"))
    def testEnd(i: Int): Column =
      if (i == k) $"t_days" else $"seg" * (i + 1)
    val aggCols = (1 to k).flatMap { i =>
      Seq(
        sum(when($"day" < $"seg" * i - embargo, 1L).otherwise(0L)).as(s"tr$i"),
        sum(when($"day" >= $"seg" * i && $"day" < testEnd(i), 1L)
          .otherwise(0L)).as(s"te$i"))
    }
    val one = withDay.groupBy($"t_days", $"seg")
      .agg(aggCols.head, aggCols.tail: _*)
    val folds = (1 to k).map { i =>
      struct(lit(i.toLong).as("fold"),
        col(s"tr$i").as("train_n"), col(s"te$i").as("test_n"),
        ($"seg" * i - embargo).cast("long").as("train_end_day"),
        ($"seg" * i).cast("long").as("test_start_day"),
        testEnd(i).cast("long").as("test_end_day"))
    }
    one.select(explode(array(folds: _*)).as("f"))
      .select($"f.fold", $"f.train_n", $"f.test_n",
        $"f.train_end_day", $"f.test_start_day", $"f.test_end_day")
  }

  val queries: Map[String, Q] = Map(
    "o9_walkforward_split" -> o9,
    "o8_poisson_bootstrap" -> o8,
    "a22_unpivot"        -> a22,
    "s1_scan_dates"      -> s1,
    "a17_dq_audit"       -> a17,
    "p_column_ops"       -> pOps,
    "j1_sql_left_join"   -> j1,
    "j2_join_chain"      -> j2,
    "j3_anti_label"      -> j3,
    "a1_group_sum"       -> a1,
    "a2_count_distinct"  -> a2,
    "a2_approx_distinct" -> a2approx,
    "a1_salted_agg"      -> a1salted,
    "a3_group_count"     -> a3,
    "a4_bround_mean"     -> a4,
    "a5_distinct"        -> a5,
    "a6_having"          -> a6,
    "a8_percentiles"     -> a8,
    "a9_pivot"           -> a9,
    "a10_rollup"         -> a10,
    "a11_stats_agg"      -> a11,
    "o4_stratified_sample" -> o4,
    "a12_profile"        -> a12,
    "a13_cube"           -> a13,
    "w16_lag_lead"       -> w16,
    "ev_funnel"          -> evFunnel,
    "a14_grouping_sets"  -> a14,
    "t5_gapfill"         -> t5,
    "w17_rolling_7d"     -> w17,
    "a8_approx_percentiles" -> a8approx,
    "o5_group_hash_split" -> o5,
    "o6_weighted_sample" -> o6,
    "o7_reservoir_sample" -> o7,
    "w19_running_distinct" -> w19,
    "j6_cooccurrence"    -> j6,
    "j9_assoc_rules"     -> j9,
    "j11_salted_join"    -> j11,
    "j12_minmax_prune"   -> j12,
    "j17_bloom_join"     -> j17,
    "w18_rank_suite"     -> w18,
    "a15_histogram"      -> a15,
    "j7_fuzzy_block"     -> j7,
    "j8_setsim_join"     -> j8,
    "a20_hll_merge"      -> a20,
    "w15_topk_group"     -> w15,
    "f12_json_extract"   -> f12,
    "f15_pii_redact"     -> f15,
    "p2_set_ops"         -> p2,
    "j5_semi_anti"       -> j5,
    "w14_window_rfm"     -> w14,
    "o1_orderby_rand"    -> o1,
    "o1_rand_unseeded"   -> o1Unseeded,
    "o2_sort"            -> o2,
    "f_scalar_suite"     -> fScalar,
    "t2_recency_window"  -> t2)

  val oracles: Map[String, String] = Map(
    // the naive fold-cross-join twin of the Spark side's single
    // conditional aggregate: identical integer day-offset boundaries
    // (seg = t_days // 5), last fold's test end = t_days
    "o9_walkforward_split" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
        |st AS (SELECT MIN(d) AS dmin,
        |              CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT)
        |                AS t_days
        |       FROM o),
        |cfg AS (SELECT t_days, t_days // 5 AS seg FROM st),
        |dy AS (SELECT CAST(date_diff('day', st.dmin, o.d) AS BIGINT) AS day
        |       FROM o, st),
        |f AS (SELECT CAST(i AS BIGINT) AS fold
        |      FROM unnest(generate_series(1, 4)) AS u(i))
        |SELECT f.fold,
        |  CAST(SUM(CASE WHEN dy.day < cfg.seg * f.fold - 7
        |           THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
        |  CAST(SUM(CASE WHEN dy.day >= cfg.seg * f.fold AND dy.day <
        |           (CASE WHEN f.fold = 4 THEN cfg.t_days
        |                 ELSE cfg.seg * (f.fold + 1) END)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS test_n,
        |  CAST(cfg.seg * f.fold - 7 AS BIGINT) AS train_end_day,
        |  CAST(cfg.seg * f.fold AS BIGINT) AS test_start_day,
        |  CAST(CASE WHEN f.fold = 4 THEN cfg.t_days
        |            ELSE cfg.seg * (f.fold + 1) END AS BIGINT) AS test_end_day
        |FROM dy, cfg, f
        |GROUP BY f.fold, cfg.seg, cfg.t_days""".stripMargin,

    // same integer CDF thresholds; CASE tests ascending so the smallest
    // matching threshold wins, mirroring the Spark fold
    "o8_poisson_bootstrap" -> {
      val h = hash48Sql(
        "'bs:' || CAST(r AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")
      s"""WITH e AS (
         |  SELECT o_orderkey,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents, r
         |  FROM orders, unnest(generate_series(0, 15)) AS u(r)),
         |w AS (
         |  SELECT CAST(r AS BIGINT) AS replicate, cents,
         |         CASE WHEN $h % 1000000 < 367879 THEN 0
         |              WHEN $h % 1000000 < 735759 THEN 1
         |              WHEN $h % 1000000 < 919699 THEN 2
         |              WHEN $h % 1000000 < 981012 THEN 3
         |              WHEN $h % 1000000 < 996340 THEN 4
         |              WHEN $h % 1000000 < 999406 THEN 5
         |              WHEN $h % 1000000 < 999917 THEN 6
         |              WHEN $h % 1000000 < 999990 THEN 7
         |              WHEN $h % 1000000 < 999999 THEN 8
         |              ELSE 9 END AS w
         |  FROM e),
         |g AS (
         |  SELECT replicate, CAST(SUM(w) AS BIGINT) AS n_eff,
         |         CAST(SUM(w * cents) AS BIGINT) AS sum_cents
         |  FROM w GROUP BY 1)
         |SELECT replicate, n_eff, sum_cents,
         |       CAST((CAST(sum_cents AS HUGEINT) * 1000) // n_eff AS BIGINT)
         |         AS mean_cents_milli
         |FROM g""".stripMargin
    },

    // UNION ALL is the engine-independent unpivot spelling
    "a22_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM w
        |UNION ALL SELECT l_returnflag, 'sum_qty', sum_qty FROM w
        |UNION ALL SELECT l_returnflag, 'sum_cents', sum_cents FROM w""".stripMargin,

    // the quadratic truth: full shared-token pair enumeration — the
    // prefix-filtered algorithm must reproduce it EXACTLY (no recall
    // knob to hide behind)
    "j8_setsim_join" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_orderkey, COUNT(*) AS n FROM items GROUP BY 1),
        |pair AS (
        |  SELECT a.l_orderkey AS o1, b.l_orderkey AS o2, COUNT(*) AS inter
        |  FROM items a JOIN items b
        |    ON a.l_partkey = b.l_partkey AND a.l_orderkey < b.l_orderkey
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT o1, o2, inter, sa.n + sb.n - inter AS union_sz
        |  FROM pair
        |  JOIN sz sa ON o1 = sa.l_orderkey
        |  JOIN sz sb ON o2 = sb.l_orderkey)
        |SELECT o1, o2, inter, union_sz,
        |       floor((inter * 100 * 2 + union_sz) / (union_sz * 2)) / 100.0
        |         AS jacc
        |FROM j WHERE inter * 2 >= union_sz""".stripMargin,

    "a17_dq_audit" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |         COUNT(DISTINCT l_orderkey * 8 + l_linenumber) AS n_key,
        |         SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS n_null_disc,
        |         MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
        |         SUM(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS n_bad_flag
        |  FROM lineitem),
        |o AS (
        |  SELECT COUNT(*) AS n_orphan FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT rule, metric, passed FROM (
        |  SELECT 'row_count' AS rule, CAST(n AS DOUBLE) AS metric, n > 0 AS passed FROM a
        |  UNION ALL SELECT 'pk_dup_rows', CAST(n - n_key AS DOUBLE), n = n_key FROM a
        |  UNION ALL SELECT 'null_discount', CAST(n_null_disc AS DOUBLE), n_null_disc = 0 FROM a
        |  UNION ALL SELECT 'qty_min', CAST(q_min AS DOUBLE), q_min >= 1.0 FROM a
        |  UNION ALL SELECT 'qty_max', CAST(q_max AS DOUBLE), q_max <= 50.0 FROM a
        |  UNION ALL SELECT 'flag_domain', CAST(n_bad_flag AS DOUBLE), n_bad_flag = 0 FROM a
        |  UNION ALL SELECT 'ri_orders', CAST(n_orphan AS DOUBLE), n_orphan = 0 FROM o)""".stripMargin,

    "s1_scan_dates" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |       o_orderpriority
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin,

    "p_column_ops" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty_int,
        |       '门店会员' AS channel,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price,
        |       COALESCE(CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END, -1.0)
        |         AS disc_nullable,
        |       l_returnflag
        |FROM lineitem
        |WHERE l_returnflag <> 'R' AND l_quantity >= 1.0
        |  AND l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND l_linestatus IN ('O','F')""".stripMargin,

    "j1_sql_left_join" ->
      """SELECT a.l_orderkey, a.l_partkey, b.p_brand, b.p_type, a.l_quantity
        |FROM lineitem a LEFT JOIN part b ON a.l_partkey = b.p_partkey
        |WHERE a.l_quantity > 45""".stripMargin,

    "j2_join_chain" ->
      """WITH base AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |f1 AS (SELECT o_custkey AS custkey,
        |              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |       FROM orders GROUP BY 1),
        |f2 AS (SELECT o_custkey AS custkey, COUNT(*) AS n_finished
        |       FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |f3 AS (SELECT o_custkey AS custkey, COUNT(DISTINCT o_orderpriority) AS n_priorities
        |       FROM orders GROUP BY 1)
        |SELECT base.custkey, f1.total_spend, COALESCE(f2.n_finished, 0) AS n_finished,
        |       f3.n_priorities
        |FROM base LEFT JOIN f1 USING (custkey) LEFT JOIN f2 USING (custkey)
        |          LEFT JOIN f3 USING (custkey)""".stripMargin,

    "j3_anti_label" ->
      """SELECT c.c_custkey, COALESCE(b.label, 1) AS label
        |FROM customer c LEFT JOIN (
        |  SELECT DISTINCT o_custkey AS c_custkey, 0 AS label FROM orders
        |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-07-01' AND DATE '1996-09-30'
        |) b USING (c_custkey)""".stripMargin,

    "a1_group_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a2_count_distinct" ->
      """SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS frequence,
        |       COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "a1_salted_agg" ->
      """SELECT l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,

    "a3_group_count" ->
      """SELECT l_suppkey, COUNT(*) AS promote_items_count
        |FROM lineitem WHERE l_discount > 0.0 GROUP BY l_suppkey""".stripMargin,

    "a4_bround_mean" ->
      s"""SELECT o_custkey,
         |  ${broundRatio2Sql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)",
                              "COUNT(o_totalprice)")} AS avg_price
         |FROM orders GROUP BY o_custkey""".stripMargin,

    "a5_distinct" ->
      """SELECT DISTINCT o_custkey, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "a6_having" ->
      """SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING COUNT(DISTINCT o_orderkey) > 1""".stripMargin,

    "w14_window_rfm" ->
      """SELECT o_custkey,
        |  MAX(CAST(o_orderdate AS DATE)) AS last_order_date,
        |  MIN(CAST(o_orderdate AS DATE)) AS first_order_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary,
        |  COUNT(o_orderkey) AS orders_count
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "a8_percentiles" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |                       [0.25, 0.5, 0.75, 0.95]) AS qs
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |       round(qs[1], 4) AS p25, round(qs[2], 4) AS p50,
        |       round(qs[3], 4) AS p75, round(qs[4], 4) AS p95
        |FROM q""".stripMargin,

    "a9_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "a10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    // Same md5-prefix hash as graft_hash48: both engines draw the
    // IDENTICAL sample — the reproducibility property the query exists
    // to demonstrate.
    "o4_stratified_sample" ->
      s"""SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE (${hash48Sql("CAST(o_orderkey AS VARCHAR)")} % 100) <
        |  CASE o_orderstatus WHEN 'O' THEN 50 WHEN 'F' THEN 20 ELSE 10 END""".stripMargin,

    "a12_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(o_custkey) AS nn_custkey,
        |  COUNT(DISTINCT o_custkey) AS ndv_custkey,
        |  MIN(o_orderdate) AS min_date,
        |  MAX(o_orderdate) AS max_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders""".stripMargin,

    "a13_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "w16_lag_lead" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  lag(CAST(o_orderdate AS DATE), 1) OVER w AS prev_date,
        |  lead(CAST(o_orderdate AS DATE), 1) OVER w AS next_date,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)""".stripMargin,

    "ev_funnel" ->
      """WITH t AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "a14_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |       COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "t5_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n0
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |spine AS (
        |  SELECT u.user_id, CAST(g.d AS DATE) AS d
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d) g)
        |SELECT s.user_id, s.d, COALESCE(daily.n0, 0) AS n
        |FROM spine s LEFT JOIN daily
        |  ON daily.user_id = s.user_id AND daily.d = s.d""".stripMargin,

    "j6_cooccurrence" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS support
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    "j17_bloom_join" ->
      """SELECT l_returnflag,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "j11_salted_join" ->
      """WITH dim AS (SELECT DISTINCT l_returnflag AS rf FROM lineitem)
        |SELECT f.l_returnflag AS rf, 'flag_' || d.rf AS label,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)
        |         AS sum_qty
        |FROM lineitem f JOIN dim d ON f.l_returnflag = d.rf
        |GROUP BY 1, 2""".stripMargin,

    "j12_minmax_prune" ->
      """SELECT p_brand, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)
        |         AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY 1""".stripMargin,

    "w18_rank_suite" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority, cents,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM o
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY cents, o_orderkey)""".stripMargin,

    // The two item-support joins are split into MATERIALIZED CTE stages
    // (r11, VERDICT r10 #4): spelled as one FROM, DuckDB's optimizer —
    // blind behind the CTE pipeline (every EC estimate is 0/1) — merged
    // them into a single hash join keyed on (ante, cons) whose BUILD
    // side was i × i × n, an items² CROSS_PRODUCT (~10¹⁰ rows at sf1,
    // >600 s; the staged spelling runs 3.9 s). Output byte-identical at
    // sf0.01 (validated both spellings).
    "j9_assoc_rules" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS sup_pair
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |i AS MATERIALIZED (SELECT pk, COUNT(*) AS sup_item FROM li GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM li),
        |r AS (SELECT part_a AS ante, part_b AS cons, sup_pair FROM p
        |      UNION ALL
        |      SELECT part_b AS ante, part_a AS cons, sup_pair FROM p),
        |r2 AS MATERIALIZED (
        |      SELECT r.ante, r.cons, r.sup_pair, ia.sup_item AS sup_ante
        |      FROM r JOIN i ia ON ia.pk = r.ante),
        |r3 AS MATERIALIZED (
        |      SELECT r2.ante, r2.cons, r2.sup_pair, r2.sup_ante,
        |             ic.sup_item AS sup_cons
        |      FROM r2 JOIN i ic ON ic.pk = r2.cons)
        |SELECT r3.ante, r3.cons, CAST(r3.sup_pair AS BIGINT) AS sup_pair,
        |       CAST(r3.sup_ante AS BIGINT) AS sup_ante,
        |       CAST(r3.sup_cons AS BIGINT) AS sup_cons,
        |       CAST((r3.sup_pair * 1000000) // r3.sup_ante AS BIGINT) AS conf_ppm,
        |       CAST((CAST(r3.sup_pair AS HUGEINT) * n.n_baskets * 1000000)
        |            // (CAST(r3.sup_ante AS HUGEINT) * r3.sup_cons) AS BIGINT)
        |         AS lift_ppm
        |FROM r3, n
        |WHERE (r3.sup_pair * 1000000) // r3.sup_ante >= 100000""".stripMargin,

    "a15_histogram" ->
      """SELECT CAST(least(floor((o_totalprice - 0.0) / 50000.0), 9)
        |         AS BIGINT) AS bucket,
        |       COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    "j7_fuzzy_block" ->
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |       a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    "o5_group_hash_split" ->
      s"""SELECT event_id, user_id,
        |  CASE WHEN (${hash48Sql("CAST(user_id AS VARCHAR)")} % 100) < 80 THEN 'train'
        |       WHEN (${hash48Sql("CAST(user_id AS VARCHAR)")} % 100) < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM events""".stripMargin,

    "o6_weighted_sample" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(round(ln((${hash48Sql("'ws:' || CAST(doc_id AS VARCHAR)")}
        |                     + 1) / 281474976710656.0)
        |               / CAST(greatest(n_chars, 1) AS DOUBLE) * 1e9)
        |           AS BIGINT) AS key
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY key DESC, doc_id ASC) AS rk
        |  FROM d)
        |SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 5""".stripMargin,

    "o7_reservoir_sample" -> {
      val h = hash48Sql("'rv:' || CAST(o_orderkey AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT o_orderpriority, o_orderkey,
         |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |                            ORDER BY $h ASC, o_orderkey ASC) AS rk
         |  FROM orders)
         |SELECT o_orderpriority, o_orderkey, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 20""".stripMargin
    },

    "w19_running_distinct" ->
      """WITH f AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN ROW_NUMBER() OVER (
        |                PARTITION BY user_id, event_type
        |                ORDER BY ts, event_id) = 1
        |              THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT event_id, user_id,
        |       CAST(SUM(first_seen) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS n_types
        |FROM f""".stripMargin,

    "w17_rolling_7d" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS spend_7d
        |FROM orders""".stripMargin,

    "p2_set_ops" ->
      """SELECT id, 'intersect' AS op FROM
        |  (SELECT o_custkey AS id FROM orders
        |   INTERSECT SELECT user_id FROM events)
        |UNION ALL
        |SELECT id, 'except' AS op FROM
        |  (SELECT o_custkey AS id FROM orders
        |   EXCEPT SELECT user_id FROM events)""".stripMargin,

    "j5_semi_anti" ->
      // NOT EXISTS, not NOT IN: a NULL o_custkey would make NOT IN return
      // zero rows while Spark's left_anti keeps unmatched customers —
      // NOT EXISTS matches left_anti null semantics exactly.
      """SELECT c_custkey, 'semi' AS op FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'anti' AS op FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "f15_pii_redact" ->
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
        |    AS n_matches,
        |  TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS first_num,
        |  regexp_replace(props, '[0-9]+', '[NUM]', 'g') AS props_redacted
        |FROM events""".stripMargin,

    "f12_json_extract" ->
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_adhoc
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50""".stripMargin,

    "a11_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(CAST(l_quantity AS DOUBLE),
        |             CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qp,
        |  round(covar_samp(CAST(l_quantity AS DOUBLE),
        |                   CAST(l_extendedprice AS DOUBLE)), 6) AS covar_qp,
        |  round(stddev_samp(CAST(l_quantity AS DOUBLE)), 6) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "w15_topk_group" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "o1_orderby_rand" ->
      "SELECT n_nationkey, n_name FROM nation",

    "o1_rand_unseeded" ->
      "SELECT n_nationkey, n_name FROM nation",

    "o2_sort" ->
      "SELECT r_regionkey, r_name FROM region",

    "f_scalar_suite" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT)
        |    AS member_day,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
        |  CAST(CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) + 1 IN (1,7)
        |       THEN 1 ELSE 0 END AS INT) AS is_weekend,
        |  CAST(o_orderdate AS DATE) - 30 AS d_minus_30,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r,
        |  (CASE WHEN (CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
        |              - floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10)*10)*2 > 10
        |         THEN floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10) + 1
        |        WHEN (CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
        |              - floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10)*10)*2 < 10
        |         THEN floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10)
        |        ELSE floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10)
        |             + (floor(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)/10) % 2)
        |   END) / 10.0 AS price_br,
        |  o_totalprice / (o_orderkey + 1) AS ratio,
        |  md5(o_orderpriority) AS prio_md5,
        |  substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4) || '_' ||
        |    CAST(o_custkey AS VARCHAR) AS salted_key
        |FROM orders""".stripMargin,

    "t2_recency_window" ->
      """SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS frequence90,
        |  CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '1996-06-30') AS INT)
        |    AS recent
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-06-30' - 90
        |  AND CAST(o_orderdate AS DATE) <= DATE '1996-06-30'
        |GROUP BY o_custkey""".stripMargin)
}
