package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.util.Cols._
import graft.util.Storage
import graft.llm.TextOps.{hash48, hash48Sql}

/** Product/marketing analytics over the `events` and order tables — the
  * reporting layer a churn platform (the reference domain,
  * README.md:1-20) runs NEXT TO the model: cohort retention, decile
  * lift on a risk score, conversion attribution, and graph centrality
  * over the co-purchase graph. Everything here is a batch DataFrame
  * query with a DuckDB oracle; the scale notes per query say why each
  * plan survives a 1000-executor corpus.
  */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  /** Checkpoint a STATIC per-round join side, KEYED for reuse when the
    * corpus is big: hash-partition on the round's join key and sort
    * within partitions before the eager localCheckpoint — the
    * checkpointed LogicalRDD carries that outputPartitioning +
    * outputOrdering, so every Pregel round's sort-merge join consumes
    * the edge side with ZERO exchange and ZERO sort (only the node-sized
    * state side moves per round). On an iteration-bound graph op this
    * removes the dominant per-round shuffle: the edge list (fact-scale)
    * used to re-exchange every round — rounds × |edges| network at
    * 100 TB; pinned, it is laid out once at build time (the same one
    * shuffle the plain `.distinct()` paid — the dedup aggregate runs
    * AFTER the repartition because HashPartitioning(key) satisfies the
    * ClusteredDistribution of any key set containing `key`) and never
    * moves again.
    *
    * SIZE-ADAPTIVE like [[Storage.adaptiveLevel]], and for the mirror
    * reason: at small scale the node state fits the broadcast
    * threshold, so AQE already runs every round exchange-free on the
    * edge side by broadcasting the state — there the pin only trades a
    * runtime broadcast-hash join for a static sort-merge join and measures
    * SLOWER (g1 at sf0.1: 5.2 s unpinned vs 6.7 s pinned). Past the
    * threshold the state outgrows broadcast, AQE falls back to
    * exchanging the edge list every round, and the pin wins (g1 at sf1:
    * 20.1 → 17.8 s; g5: 14.3 → 12.5 s — and the saved exchange is the
    * term that grows with the fact table). 64 MB of lineitem ≈ the
    * scale where the derived node state leaves broadcast range. */
  private def pinKeyed(df: DataFrame, key: String, dedupKeys: Seq[String],
                       dir: String,
                       ser: StorageLevel)
      : DataFrame =
    if (Storage.factBytes(dir) <= (64L << 20)) {
      val deduped =
        if (dedupKeys.isEmpty) df else df.dropDuplicates(dedupKeys)
      deduped.localCheckpoint(true, ser)
    } else pinByKey(df, key, dedupKeys, ser)

  /** The keyed branch of [[pinKeyed]]: hash-partition on `key`, dedup,
    * sort within partitions, eager localCheckpoint. The result carries
    * HashPartitioning(key, n) + [key ASC] in its LogicalRDD. */
  private[graft] def pinByKey(df: DataFrame, key: String,
                              dedupKeys: Seq[String],
                              ser: StorageLevel)
      : DataFrame = {
    val spark = df.sparkSession
    // Explicit partition count: an unnumbered repartition(col) is an AQE
    // coalescing candidate, and a coalesced read would checkpoint with
    // weaker partitioning info — the whole point here is a determinate
    // HashPartitioning(key, n) the per-round joins can line up against.
    val part = df.repartition(
      spark.sessionState.conf.numShufflePartitions, col(key))
    val deduped =
      if (dedupKeys.isEmpty) part else part.dropDuplicates(dedupKeys)
    val laid = deduped.sortWithinPartitions(col(key))
    // AQE must be OFF for the eager checkpoint itself: under AQE the
    // executed plan is an AdaptiveSparkPlanExec whose outputPartitioning
    // reports Unknown, so LogicalRDD would checkpoint WITHOUT the
    // partitioning/ordering it just paid a shuffle + sort to establish
    // (hashpartitioning(key, n) + [key ASC] with AQE off,
    // UnknownPartitioning(0) with it on — and with it off every
    // per-round SMJ consumes the edge scan with zero Exchange/Sort).
    // Build-side AQE loses nothing here: the pipeline is a controlled
    // two-shuffle layout with bounded per-key fanout (≤ items/order).
    // The checkpoint runs in a scoped session, so the caller's AQE
    // setting is never touched and the checkpointed frame returns to
    // the caller's session.
    graft.Sessions.scoped(spark, "spark.sql.adaptive.enabled" -> "false")(s =>
      org.apache.spark.sql.SessionBridge.bind(laid, s).localCheckpoint(true, ser))
  }

  // ---- the co-purchase graph of g1–g5, g7 and g8: parts linked when
  // one order contains both (the j6 edge set). Each of them derives its
  // edges from the builders below, so they compute over the same graph
  // by construction.

  /** Part pairs that share an order, named (`u`, `v`): each undirected
    * edge once (u < v), or both directions of it when `directed`
    * (u ≠ v). The distinct (order, part) base is checkpointed eagerly
    * at `ser` because both sides of the self-join read it. */
  private def coPairs(spark: SparkSession, dir: String, ser: StorageLevel,
                      directed: Boolean, u: String = "u",
                      v: String = "v"): DataFrame = {
    val items = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint(true, ser)
    val (a, b) = (col("a.l_partkey"), col("b.l_partkey"))
    items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          (if (directed) a =!= b else a < b))
      .select(a.as(u), b.as(v))
  }

  /** An undirected (u, v) edge list with every edge in both directions. */
  private def bidirected(und: DataFrame): DataFrame =
    und.unionAll(und.select(col("v").as("u"), col("u").as("v")))

  /** The walk prologue of g7/g8: lineitem's (order, part) pairs pinned
    * keyed on l_orderkey (the dedup rides the pin's repartition, since
    * HashPartitioning(l_orderkey) satisfies the (l_orderkey, l_partkey)
    * distinct), and the walk starts — `walk_id`, `node`, then `extra` —
    * designated by hash48 of `salt` + node.
    *
    * The node set is the parts with ≥1 co-purchase neighbor ("DISTINCT
    * src of the edge set") without building edges: parts on multi-part
    * orders. The start designation is corpus-adaptive (the gateBits
    * rule): modulus clamp(nodes/16, 4, 64) keeps the expected start
    * count ≥ ~16 on a tiny graph (a fixed /64 designates ZERO starts at
    * sf0.001) while walks grow ∝ n/64 at scale. The count is node-sized
    * driver metadata, like g1's n. */
  private def walkPrologue(spark: SparkSession, dir: String, salt: String,
                           extra: Column*): (DataFrame, DataFrame) = {
    val items = pinKeyed(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", Seq("l_orderkey", "l_partkey"), dir,
      Storage.adaptiveLevel(dir))
    val multi = items.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("np")).filter(col("np") >= 2)
      .select(col("l_orderkey"))
    val nodes = items.join(multi, Seq("l_orderkey"), "left_semi")
      .select(col("l_partkey").as("node")).distinct()
      .localCheckpoint(false)
    val mod = math.max(4L, math.min(64L, nodes.count() / 16L))
    val starts = nodes
      .filter(hash48(concat(lit(salt), col("node").cast("string"))) % mod === 0)
      .select(Seq(col("node").as("walk_id"), col("node")) ++ extra: _*)
      .localCheckpoint(false)
    (items, starts)
  }

  // ---- ev_cohort_retention: the classic signup-cohort × week-offset
  // retention triangle. Cohort = ISO week of a user's FIRST event
  // (2024-01-01 is a Monday, so weeks align with the testdata epoch);
  // a user is retained in offset k if they have ANY event in cohort
  // week + k. Scale shape: one (user, week)-keyed distinct over the
  // fact (partial-agg combines map-side), then user-keyed agg + join
  // over the ~|users|·weeks pair table, final (cohort, offset)
  // aggregate dimension-sized. No global windows, no driver state;
  // rate is integer-exact (roundRatio2).
  private val cohortRetention: Q = (spark, dir) => {
    import spark.implicits._
    // ONE pass over the fact: the distinct (user, week) pairs are the
    // shared base (lazy localCheckpoint — computed once, reused thrice);
    // the cohort derives from the pairs, not from a second events scan.
    val active = Tables.load(spark, dir, "events")
      .select($"user_id", to_date(date_trunc("week", $"ts")).as("week"))
      .distinct()
      .localCheckpoint(false)
    val cohort = active.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val sizes = cohort.groupBy($"cohort_week").agg(count(lit(1)).as("n_cohort"))
    cohort.join(active, "user_id")
      .groupBy($"cohort_week",
        (datediff($"week", $"cohort_week") / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_week")
      .select($"cohort_week", $"week_offset", $"n_active", $"n_cohort",
        roundRatio2($"n_active" * 100, $"n_cohort").as("retention"))
  }

  // ---- a16_decile_lift: the gains/lift table every churn model review
  // reads (reference README's model-quality section is exactly this
  // audience). Score = engagement (event count in the first 23 days);
  // outcome = purchased in the final 7 days. Deciles are assigned by
  // the TWO-PHASE spelling, not a global NTILE: a global
  // row_number()/ntile() window is a single-partition sort — the
  // classic driver-shaped bottleneck at a billion users. Instead:
  //   (1) per-user agg (one shuffle, user-keyed);
  //   (2) the SCORE HISTOGRAM (distinct scores are small-int counts —
  //       dimension-sized) → cumulative count below each score, built
  //       with a window over the tiny histogram and broadcast back;
  //   (3) per-score windows (bounded partitions, parallel) rank ties
  //       by user_id, so global_rank = cum_below(score) + rank_in_tie
  //       reproduces row_number(ORDER BY score DESC, user_id) exactly
  //       without ever sorting the full table in one task.
  // decile = floor(10·(rank−1)/n); lift is integer-exact:
  // lift = (cum_pos/cum_n)/(tot_pos/n) → roundRatio2(cum_pos·n·100,
  // cum_n·tot_pos). The oracle spells the same semantics with the
  // naive global row_number — matching output, opposite scaling.
  private val decileLift: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val users = ev.groupBy($"user_id").agg(
      sum(when($"ts" < lit("2024-01-24").cast("timestamp"), 1L).otherwise(0L))
        .as("score"),
      max(when($"event_type" === "purchase" &&
        $"ts" >= lit("2024-01-24").cast("timestamp"), 1L).otherwise(0L))
        .as("pos"))
      // node-sized (one row per user); lazy checkpoint stops the three
      // downstream uses (histogram, totals, rank join) from re-scanning
      // the events fact three times.
      .localCheckpoint(false)
    val hist = users.groupBy($"score").agg(count(lit(1)).as("n_s"))
    // cum_below(s) = users with a STRICTLY HIGHER score (rank precedes
    // on score desc); window over the histogram only — rows = #distinct
    // scores, not #users.
    val wHist = Window.orderBy($"score".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select($"score",
      coalesce(sum($"n_s").over(wHist), lit(0L)).as("cum_below"))
    val wTie = Window.partitionBy($"score").orderBy($"user_id")
    val totals = users.agg(count(lit(1)).as("n_tot"), sum($"pos").as("pos_tot"))
    val ranked = users
      .join(broadcast(cum), "score")
      .crossJoin(broadcast(totals))
      .withColumn("rk", $"cum_below" + row_number().over(wTie))
    val byDecile = ranked
      .groupBy(floor(lit(10) * ($"rk" - 1) / $"n_tot").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_users"), sum($"pos").as("n_pos"),
        max($"n_tot").as("n_tot"), max($"pos_tot").as("pos_tot"))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    byDecile
      .withColumn("cum_n", sum($"n_users").over(wCum))
      .withColumn("cum_pos", sum($"n_pos").over(wCum))
      .select($"decile", $"n_users", $"n_pos",
        roundRatio2($"n_pos" * 100, $"n_users").as("rate"),
        roundRatio2($"cum_pos" * $"n_tot" * 100, $"cum_n" * $"pos_tot")
          .as("cum_lift"))
  }

  // ---- ev_attribution: last-touch conversion attribution with a 7-day
  // lookback — "which channel gets credit for this purchase". Touch =
  // click/view; a purchase's credited channel is the user's most recent
  // touch within 7 days, else "direct". ONE user-keyed window (running
  // last-non-null over a struct keeps ts+channel aligned — the same
  // struct-payload lesson as the as-of join, TemporalJoins.scala) and a
  // dimension-sized final aggregate. Per-user partitions are bounded by
  // per-user history, the safe window axis at any corpus size.
  private val attribution: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val touch = when($"event_type".isin("click", "view"),
      struct($"ts".as("t_ts"), $"event_type".as("t_ch")))
    val lastTouch = last(touch, ignoreNulls = true).over(w)
    ev.withColumn("lt", lastTouch)
      .filter($"event_type" === "purchase")
      .select(
        when($"lt".isNull ||
          $"lt.t_ts" < $"ts" - expr("INTERVAL 7 DAYS"), "direct")
          .otherwise($"lt.t_ch").as("channel"),
        $"value")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_conversions"), dsum($"value").as("sum_value"))
  }

  // ---- g1_pagerank: 3 damped PageRank iterations over the co-purchase
  // graph (parts linked when one order contains both — the j6 edge
  // set), the graph-centrality twin of the pointer-jumping CC family
  // (Dedup.connectedComponents). All arithmetic is INTEGER fixed-point
  // (ranks in parts-per-billion, per-edge contribution floor(r/deg),
  // damping floor(17·s/20)): integer sums are order-independent, so
  // the result is bit-identical under any partitioning and any engine
  // — double-sum PageRank can't be hash-compared across engines at
  // all. Scale shape: per iteration one edges⋈ranks join (both sides
  // keyed on the join key; ranks are node-sized, edges dominate) + one
  // dst-keyed aggregate — the textbook Pregel round as two shuffles;
  // localCheckpoint truncates the 3-round lineage exactly like the CC
  // loop. Isolated parts (never co-ordered) are out of the node set by
  // construction.
  private val pagerank: Q = (spark, dir) => {
    import spark.implicits._
    // items/edges are catalog-scale and each is read multiple times —
    // pinned at the size-adaptive level (see [[Storage.adaptiveLevel]];
    // the sf10 probe history behind it is documented there). Node-sized
    // ranks stay on the default level.
    val ser = Storage.adaptiveLevel(dir)
    // Pinned KEYED on src ([[pinKeyed]]): the per-round rank join and the
    // degree aggregate both cluster on src, so neither ever exchanges the
    // edge list again — per round only node-sized ranks move.
    val edges = pinKeyed(
      coPairs(spark, dir, ser, directed = true, "src", "dst"),
      "src", Seq("src", "dst"), dir, ser)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nodes = deg.select($"src".as("node"), $"deg")
    val n = nodes.count()
    val init = nodes.withColumn("rank_ppb", lit(1000000000L / n))
    val base = 150000000L / n // (1−d)/N in ppb, d = 0.85
    var ranks = init
    for (_ <- 1 to 3) {
      val contrib = edges.join(ranks, edges("src") === ranks("node"))
        .select($"dst", floor($"rank_ppb" / $"deg").cast("long").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select($"node", $"deg",
          (lit(base) + floor(lit(17) * coalesce($"s", lit(0L)) / 20))
            .cast("long").as("rank_ppb"))
        .localCheckpoint(true)
    }
    ranks.select($"node".as("p_partkey"), $"rank_ppb")
      .orderBy($"rank_ppb".desc, $"p_partkey".asc).limit(25)
  }

  // ---- g7_random_walk: L=3 deterministic hash-guided random walks
  // over the co-purchase graph (the g1/j6 edge set) — the graph
  // SAMPLING primitive: walks are the "sentences" a DeepWalk/node2vec
  // skip-gram embedding trains on (Perozzi et al., KDD 2014), and the
  // data-generation stage of any graph-embedding pipeline. The next
  // hop from node u at step t is argmin over out-neighbors v of
  // hash48("rw:<walk>:<t>:<v>") — the o1/o4 seeded-canon stand-in for
  // uniform sampling, which keeps the walk set bit-identical across
  // engines (and across partitionings) while the md5-derived hash
  // stays uniform per (walk, step). Walk starts are the
  // hash-designated ~1/64 of nodes (corpus-adaptive COUNT, the o5
  // rule: the walk corpus grows linearly with the graph, never a
  // fixed absolute). Scale shape — THE point of this op: the global
  // co-purchase edge list is NEVER materialized (unlike g1/g5, which
  // need every edge every round, a walk touches only its frontier's
  // neighborhoods — building all n·deg edges first measured 257 s at
  // sf10, ~all of it edge build; this shape runs the same sf10 probe
  // in 42.6 s, the residual being the ONE distinct+layout pass over
  // the fact table). Per step the walk-sized frontier routes through items
  // twice — part → co-order → co-part, neighbor generation ON DEMAND:
  // hop 1 BROADCASTS the frontier over one map-side items scan; hop 2
  // joins the resulting walk-order list against items PINNED KEYED on
  // l_orderkey (the g1 pinKeyed trick aimed at the fact table itself),
  // so the fact side never exchanges — only the walk-sized order list
  // shuffles per step. A walk-keyed min-struct aggregate picks the hop
  // (map-side partial; argmin over the multiset of shared orders
  // equals argmin over the neighbor SET, so skipping the distinct
  // changes nothing). The co-purchase relation is symmetric, so no
  // walk ever dead-ends.
  private val randomWalk: Q = (spark, dir) => {
    import spark.implicits._
    val (items, starts) = walkPrologue(spark, dir, "rws:")
    var frontier = starts
    var out = starts.withColumn("step", lit(0L))
    for (t <- 1 to 3) {
      val h = hash48(concat(
        lit("rw:"), $"walk_id".cast("string"),
        lit(s":$t:"), $"dst".cast("string")))
      val walkOrders = broadcast(frontier)
        .join(items.as("x"), frontier("node") === $"x.l_partkey")
        .select($"walk_id", $"node", $"x.l_orderkey".as("l_orderkey"))
      val nxt = walkOrders
        .join(items.as("y"), Seq("l_orderkey"))
        .filter($"y.l_partkey" =!= $"node")
        .select($"walk_id", $"y.l_partkey".as("dst"))
        .withColumn("h", h)
        .groupBy($"walk_id")
        .agg(min(struct($"h", $"dst")).as("m")) // lex: (h asc, dst asc)
        .select($"walk_id", $"m.dst".as("node"))
        .localCheckpoint(false) // truncate per-step lineage (the g1 rule)
      frontier = nxt
      out = out.unionAll(nxt.withColumn("step", lit(t.toLong)))
    }
    out.select($"walk_id", $"step", $"node")
  }

  // ---- g8_node2vec: SECOND-ORDER biased random walks (node2vec,
  // Grover & Leskovec, KDD 2016) over g7's co-purchase graph — the
  // walk distribution that interpolates BFS-like and DFS-like
  // exploration via the return bias p and in-out bias q. The hop
  // weight from (prev → cur) to candidate v is α = 1/p if v = prev
  // (return), 1 if v ∈ N(prev) (triangle — stay near), 1/q otherwise
  // (explore); declared p = 1/4, q = 1/2 → INTEGER weights 4 / 1 / 2.
  // The weighted pick stays deterministic and EXACTLY proportional:
  // candidate v enters with w(v) replicas salted r = 0..w−1 and the
  // hop is argmin over replica hashes — each replica's hash is
  // iid-uniform, the global min lands uniformly across the Σw
  // replicas, so v wins with probability w(v)/Σw exactly (the o6
  // weighted-sample idea turned into a per-group weighted CHOICE).
  // The first hop has no prev → uniform (w = 1), as node2vec defines.
  // Scale shape: g7's on-demand neighbor generation (frontier
  // broadcast over the PINNED items table — the global edge list is
  // never materialized) plus ONE extra walk-sized route per step to
  // mark v ∈ N(prev); the second-order state is (cur, prev) per walk —
  // walk-sized — never the |E|·deg materialized transition table the
  // reference node2vec preprocessing builds (which would dwarf the
  // fact table at 100 TB). Candidates and prev-neighborhoods are
  // DISTINCT'd before the ≤4× replica explode (walk-sized shuffles),
  // so the explode never multiplies shared-order duplicates.
  private val node2vec: Q = (spark, dir) => {
    import spark.implicits._
    val (items, starts) = walkPrologue(spark, dir, "n2s:",
      lit(null).cast("long").as("prev"))
    var frontier = starts
    var out = starts.select($"walk_id", lit(0L).as("step"), $"node")
    for (t <- 1 to 3) {
      val cand = broadcast(frontier)
        .join(items.as("x"), frontier("node") === $"x.l_partkey")
        .select($"walk_id", $"node".as("cur"), $"prev",
          $"x.l_orderkey".as("l_orderkey"))
        .join(items.as("y"), Seq("l_orderkey"))
        .filter($"y.l_partkey" =!= $"cur")
        .select($"walk_id", $"cur", $"prev", $"y.l_partkey".as("dst"))
        .distinct()
      val prevN = broadcast(frontier.filter($"prev".isNotNull)
          .select($"walk_id", $"prev".as("pn")))
        .join(items.as("u"), $"pn" === $"u.l_partkey")
        .select($"walk_id", $"u.l_orderkey".as("l_orderkey"))
        .join(items.as("v"), Seq("l_orderkey"))
        .select($"walk_id", $"v.l_partkey".as("nbr"))
        .distinct()
      // Both join sides derive from `frontier`, so dataframe-column
      // conditions (cand("walk_id") === prevN("walk_id")) resolve only
      // through plan-id disambiguation and log a trivially-true-equals
      // warning — explicit string aliases make the condition
      // unambiguous by construction.
      val w = when($"c.prev".isNull, 1L)
        .when($"c.dst" === $"c.prev", 4L)
        .when($"p.nbr".isNotNull, 1L)
        .otherwise(2L)
      val h = hash48(concat(
        lit("n2v:"), $"walk_id".cast("string"),
        lit(s":$t:"), $"dst".cast("string"),
        lit(":"), $"r".cast("string")))
      val nxt = cand.as("c")
        .join(prevN.as("p"), $"c.walk_id" === $"p.walk_id" &&
          $"c.dst" === $"p.nbr", "left_outer")
        .select($"c.walk_id".as("walk_id"), $"c.cur".as("cur"),
          $"c.dst".as("dst"), w.as("w"))
        .select($"walk_id", $"cur", $"dst",
          explode(sequence(lit(0L), $"w" - 1L)).as("r"))
        .groupBy($"walk_id")
        .agg(min(struct(h.as("h"), $"dst")).as("m"),
          max($"cur").as("pv")) // cur is functional per walk
        .select($"walk_id", $"m.dst".as("node"), $"pv".as("prev"))
        .localCheckpoint(false) // truncate per-step lineage (the g1 rule)
      frontier = nxt
      out = out.unionAll(nxt.select($"walk_id", lit(t.toLong).as("step"),
        $"node"))
    }
    out.select($"walk_id", $"step", $"node")
  }

  // ---- g6_hits: HITS hubs/authorities over the customer↔part
  // BIPARTITE graph (Kleinberg) — the mutual-reinforcement score
  // PageRank can't express: a part is authoritative when BROAD
  // customers buy it, a customer is a hub when they buy authoritative
  // parts. Two full rounds, each an edge join + aggregate +
  // integer ppb NORMALIZATION (x·10⁹/max floor — HITS without
  // normalization overflows/degenerates; max is a 1-row broadcast, the
  // integer twin of the L∞ norm). All compared columns exact integers;
  // DECIMAL(38,0) carries raw·10⁹ (the round-2 raws are ~deg·10⁹
  // already). Fixed rounds keep it deterministic and oracle-able (the
  // g3/g4 contract). Scale shape: ONE fact join builds the distinct
  // edge list (pinned, multiply-consumed, size-adaptive level like
  // g1); each round is one edge-keyed join + node-sized aggregate —
  // the Pregel-round shape; output is TakeOrdered top-20.
  private val hits: Q = (spark, dir) => {
    import spark.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val edges = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
      .join(Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct()
      .localCheckpoint(true, Storage.adaptiveLevel(dir))
    def normalize(raw: DataFrame, key: String, out: String): DataFrame = {
      val mx = raw.agg(max($"raw").as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key), $"raw",
          floorDiv(dec($"raw") * 1000000000L, $"mx").cast("long").as(out))
    }
    val a1 = normalize(edges.groupBy($"p").agg(count(lit(1)).as("raw")),
      "p", "a").localCheckpoint(false)
    val h1 = normalize(edges.join(a1.select($"p", $"a"), "p")
      .groupBy($"c").agg(sum($"a").as("raw")), "c", "h")
      .localCheckpoint(false)
    val a2 = normalize(edges.join(h1.select($"c", $"h"), "c")
      .groupBy($"p").agg(sum($"h").as("raw")), "p", "auth_ppb")
    a2.select($"p".as("p_partkey"), $"raw".cast("long").as("auth_raw"),
        $"auth_ppb")
      .orderBy($"auth_ppb".desc, $"p_partkey".asc).limit(20)
  }

  // ---- t7_scd2: build a type-2 slowly-changing dimension from the
  // event stream — the warehouse-modeling op every feature store needs
  // to answer "what was this user's state AS OF time t" without
  // leakage. State = the user's current event_type ("channel"); each
  // maximal run of equal consecutive states becomes one versioned row
  // with [valid_from, valid_to) and is_current. Gaps-and-islands: a
  // change flag (lag ≠ current), a running sum numbering the runs, one
  // agg per run, then lead() stitches each run's end to the next run's
  // start. Scale shape: every window and the agg are user-keyed —
  // bounded partitions, no global sort; ties broken by event_id so the
  // build is deterministic under any partitioning.
  /** The SCD2 run-length versioning over an event set — shared by the
    * declared t7 (all events) and the j14 PIT join's dim side
    * (non-purchase events: the browsing-STATE dimension a purchase is
    * then attributed against). */
  private def scd2Of(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = Window.partitionBy($"user_id").orderBy($"version")
    ev.select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("chg",
        when(lag($"event_type", 1).over(wOrd).isNull ||
          lag($"event_type", 1).over(wOrd) =!= $"event_type", 1L)
          .otherwise(0L))
      .withColumn("version", sum($"chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"version")
      .agg(max($"event_type").as("channel"), // constant within a run
        min($"ts").as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead($"valid_from", 1).over(wRun))
      .withColumn("is_current", $"valid_to".isNull)
  }

  private val scd2: Q = (spark, dir) =>
    scd2Of(Tables.load(spark, dir, "events"))

  // ---- t8_merge_upsert: CDC merge-apply (MERGE INTO semantics as a
  // batch DataFrame) — the other half of warehouse maintenance next to
  // t7_scd2: apply a changelog of upserts/deletes/inserts to a base
  // snapshot and emit the next snapshot plus an audit action column.
  // The changelog is DERIVED deterministically from the same orders
  // table (hash-bucketed: ~6% deletes, ~20% updates with status 'C'
  // and a +10% price, ~14% inserts under fresh NEGATIVE keys so they
  // can never collide with base keys) — every engine can rebuild the
  // identical batch, which is what makes the oracle possible.
  //
  // Scale shape: the apply is NOT a join — base ∪ changes rows, then
  // ONE key-shuffled aggregate taking max_by(payload, src) per key
  // (changes carry src=1 > base's 0, so latest-wins; partial aggs
  // combine map-side). That spelling is ratio-agnostic: a full-outer
  // join degrades when changes ≈ base (two shuffles + join), and a
  // broadcast apply dies when the changelog outgrows memory; union+agg
  // is one shuffle at ANY base:changes ratio and inherits AQE's skew
  // splitting. Because the changelog here DERIVES from the base table,
  // the union is spelled as a per-row explode(filter(array(...))) —
  // ONE scan of orders emits base + change + insert rows in the same
  // pass (a 3-way unionAll of selects over the same table re-scans it
  // three times; with a real separate changelog table it would be a
  // plain 2-source union, same aggregate). The oracle deliberately
  // spells the FULL OUTER JOIN — same semantics, independent plan.
  // Money math is integer cents end-to-end (floor(cents·11/10) < 2^52
  // exact in both engines); the final /100.0 is one IEEE division on
  // identical integers. Delete rows survive the aggregate and are
  // dropped by the final filter — op is PART of the max_by payload, so
  // a key's fate travels with its winning row.
  private val mergeUpsert: Q = (spark, dir) => {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        priceCents.as("cents"),
        (hash48($"o_orderkey".cast("string"))).as("h"))
    // one op per key: delete wins over update (mutually exclusive CASE)
    val isDel = $"h" % 17 === 0
    val isChg = isDel || $"h" % 5 === 0
    val isIns = $"h" % 7 === 3
    def row(keep: Column, key: Column, st: Column, cents: Column,
            op: Column, src: Int): Column =
      struct(keep.as("keep"), key.as("o_orderkey"),
        $"o_custkey".as("o_custkey"), st.as("o_orderstatus"),
        cents.as("cents"), op.as("op"), lit(src).as("src"))
    orders
      .select(explode(filter(array(
        row(lit(true), $"o_orderkey", $"o_orderstatus", $"cents",
          lit(null).cast("string"), 0),
        row(isChg, $"o_orderkey",
          when(isDel, $"o_orderstatus").otherwise(lit("C")),
          when(isDel, $"cents")
            .otherwise(floor($"cents" * 11 / 10).cast("long")),
          when(isDel, lit("D")).otherwise(lit("U")), 1),
        row(isIns, -$"o_orderkey", $"o_orderstatus", $"cents",
          lit("I"), 1)),
        x => x.getField("keep"))).as("e"))
      .groupBy($"e.o_orderkey".as("o_orderkey"))
      .agg(max_by(
        struct($"e.o_custkey".as("o_custkey"),
          $"e.o_orderstatus".as("o_orderstatus"),
          $"e.cents".as("cents"), $"e.op".as("op")), $"e.src")
        .as("r"))
      .select($"o_orderkey", $"r.o_custkey".as("o_custkey"),
        $"r.o_orderstatus".as("o_orderstatus"),
        ($"r.cents" / 100.0).as("o_totalprice"),
        coalesce($"r.op", lit("K")).as("action"))
      .filter($"action" =!= "D")
  }

  // ---- ev_anomaly: robust per-user outlier monitor (median/MAD) — the
  // data-drift gate a pipeline runs on an incoming event batch before
  // training ("did this user's spend pattern suddenly spike?"). Mean/
  // stddev z-scores are themselves dragged by the outliers they hunt;
  // median/MAD is the standard robust alternative. Per user: med =
  // median(value), dev = |value − med|, MAD = median(dev); an event is
  // an outlier when dev > 3·MAD. Output is the per-user monitor row
  // (count, median, MAD, outlier count) — the table an alerting job
  // thresholds.
  //
  // Cross-engine exactness: medians interpolate the two middle values
  // for even counts, so everything runs on integer CENTS doubled at
  // each median step — (a+b)/2 of ints is exactly x.0 or x.5, ×2
  // restores an exact integer (med2 = 2·median(cents), mad4 =
  // 2·median(2·dev)), and the outlier test dev > 3·MAD becomes the
  // pure-integer 2·dev2 > 3·mad4. No double ever carries information
  // beyond an exact half-integer, so Spark and DuckDB agree bitwise.
  //
  // Scale shape: both medians and the final count are keyed on
  // user_id — ONE logical shuffle key end-to-end (the exchange is
  // reused across the agg→join→agg→join→agg chain), partitions bounded
  // by per-user history, the safe axis at any corpus size. Exact
  // median buffers one user's values per group — the same bound every
  // user-keyed window in this file already accepts.
  private val anomaly: Q = (spark, dir) => {
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id",
        (dec2($"value") * 100).cast("long").as("cents"))
    val m = e.groupBy($"user_id")
      .agg((median($"cents") * 2).cast("long").as("med2"),
        count(lit(1)).as("n_ev"))
    val d = e.join(m, "user_id")
      .select($"user_id", $"n_ev", $"med2",
        abs($"cents" * 2 - $"med2").as("dev2"))
    val md = d.groupBy($"user_id")
      .agg((median($"dev2") * 2).cast("long").as("mad4"))
    d.join(md, "user_id")
      .groupBy($"user_id")
      .agg(max($"n_ev").as("n_ev"), max($"med2").as("med2"),
        max($"mad4").as("mad4"),
        sum(when($"dev2" * 2 > $"mad4" * 3, 1L).otherwise(0L)).as("n_out"))
  }

  // ---- g2_triangles: exact triangle counting over the co-purchase
  // graph (same edge set as g1_pagerank / j6) — the clustering-
  // coefficient numerator, the graph-analytics companion to PageRank
  // (centrality) and connected components (reachability). Output: the
  // 25 parts participating in the most triangles.
  //
  // Scale shape — two standard ideas composed:
  //  (1) "compact-forward" ORIENTATION: each undirected edge points
  //      from its lower-(degree, id) endpoint to the higher one. The
  //      orientation is a DAG under a total order, so a triangle
  //      a→b, a→c, b→c is found exactly once (at edge (a,b)) — and
  //      max OUT-degree is O(√m) (a node keeps out-edges only toward
  //      HIGHER-degree neighbors, and only ~√m nodes have degree
  //      ≥ √m), which bounds both the work and the adjacency arrays
  //      below, hub-proof at a 100 TB co-purchase graph.
  //  (2) edge-centric ADJACENCY INTERSECTION (the GraphX/GraphFrames
  //      triangleCount shape): per oriented edge (u,v), triangles
  //      through it = |out(u) ∩ out(v)|, computed with array_intersect
  //      INSIDE the join's row processing. The naive alternative — a
  //      wedge self-join e1.d = e2.s then a closing join — must push
  //      every wedge through an exchange (Σ out_deg² rows: measured
  //      83M at sf0.1 vs 1.2M edges, 10.2 s); here wedges never
  //      materialize, and the only wide shuffle carries the 1.2M edge
  //      rows + one O(√m)-bounded neighbor array each. Measured 3×
  //      faster at sf0.1, and the gap grows with density. The DuckDB
  //      oracle deliberately keeps the wedge-join spelling — two
  //      different exact algorithms agreeing is a stronger check.
  // Per-node credits: for edge (u,v) with common set C, u and v each
  // count |C| triangles and every c ∈ C counts 1 — each triangle
  // credits its 3 corners exactly once (emitted per value-bucket slice
  // of C; the final per-node sum re-assembles |C| across slices by
  // associativity). All joins are key-shuffles of
  // catalog-scale sides (never broadcast — the j7 lesson); the edge
  // list is pinned at the size-adaptive level shared with g1.
  private val triangles: Q = (spark, dir) =>
    trianglesPlan(spark, dir, nbkOverride = None)

  /** g2's plan with the neighbor-slice count injectable so the sliced
    * branch (engaged by fact size only past ~sf100) stays test-covered:
    * AnalyticsSpec runs nbk = 4 against nbk = 1 at sf0.001 and asserts
    * identical results. */
  private[queries] def trianglesPlan(
      spark: SparkSession, dir: String, nbkOverride: Option[Int])
      : DataFrame = {
    import spark.implicits._
    val ser = Storage.adaptiveLevel(dir)
    val und = coPairs(spark, dir, ser, directed = false).distinct()
      .localCheckpoint(true, ser)
    val deg = und.select($"u".as("n")).unionAll(und.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("dg"))
    val uFirst = $"du.dg" < $"dv.dg" ||
      ($"du.dg" === $"dv.dg" && $"u" < $"v")
    // NOT pinned ([[pinKeyed]]): measured at sf1, pinning o on s cost
    // 26→36 s — g2's dominant movement is the d-keyed second join that
    // carries out(u) arrays to out(v)'s home (irreducible — it IS the
    // algorithm), and a static 32-partition layout starves AQE of the
    // coalescing/skew splitting it needs on exactly that array-heavy
    // exchange. The s-keyed hops it would save are narrow-row and cheap.
    val o = und
      .join(deg.as("du"), $"u" === $"du.n")
      .join(deg.as("dv"), $"v" === $"dv.n")
      .select(when(uFirst, $"u").otherwise($"v").as("s"),
        when(uFirst, $"v").otherwise($"u").as("d"))
      .localCheckpoint(true, ser)
    // out-neighbor arrays, node-sized, array length ≤ max out-degree =
    // O(√m) under the orientation; membership is set-semantics so
    // collect_list order (partitioning-dependent) cannot reach the
    // result. DEGREE-CAPPED SLICING (g2's memory-shape fix):
    // when √m outgrows nbkCap elements (≈0.5 MB of longs — comfortably
    // under any G1 humongous-allocation threshold), the arrays are
    // BUCKETED by a hash of the neighbor VALUE into nbk slices. The
    // buckets partition the neighbor space, so out_b(u) ∩ out_b(v)
    // summed over b equals out(u) ∩ out(v) exactly (cross-bucket pairs
    // can never be equal) and per-node credits re-assemble by
    // associativity — while every array in the array-carrying exchange
    // shrinks ~nbk×. MEASURED at small scale the fan-out is a pure
    // loss (sf0.1 warm isolated: 6.3→8.1 s; sf1: 24.6→57.2 s with nbk
    // fixed at 8 — per-row join overhead dwarfs the array payload when
    // arrays are ≤ tens of KB), so nbk derives from the fact size:
    // edges ≈ factBytes/53 (sf0.1: 64 MB ↔ 1.2 M edges), nbk =
    // ⌈√m̂ / nbkCap⌉ — 1 (today's exact plan, zero overhead) through
    // ~sf100, engaging only past ~4 G edges where an O(√m) array would
    // be a multi-MB humongous allocation and a GC-bound driver (the
    // unsliced plan's measured signature: 4.4 s gc, 13.9 GB peak) would
    // become a scale-killer.
    val nbkCap = 65536L
    val estEdges = math.max(1L, Storage.factBytes(dir) / 53)
    val nbk = nbkOverride.getOrElse(math.max(1L, math.ceil(
      math.sqrt(estEdges.toDouble) / nbkCap).toLong).toInt)
    // a sink d (no out-edges) is dropped by the inner join — correct:
    // out(u) ∩ out(v) is empty when out(v) is. In the sliced branch the
    // bucket-equality additionally drops (edge, bucket) pairs where
    // either side has no neighbors in that slice — those contribute 0.
    val common = (if (nbk == 1) {
      val adj = o.groupBy($"s").agg(collect_list($"d").as("nbrs"))
      o.join(adj.select($"s".as("an"), $"nbrs".as("na")), $"s" === $"an")
        .join(adj.select($"s".as("bn"), $"nbrs".as("nb")), $"d" === $"bn")
    } else {
      val adj = o.groupBy($"s", pmod(hash($"d"), lit(nbk)).as("bk"))
        .agg(collect_list($"d").as("nbrs"))
      o.join(adj.select($"s".as("an"), $"bk", $"nbrs".as("na")),
          $"s" === $"an")
        .join(adj.select($"s".as("bn"), $"bk".as("bb"), $"nbrs".as("nb")),
          $"d" === $"bn" && $"bk" === $"bb")
    }).select($"s", $"d", array_intersect($"na", $"nb").as("c"))
      .filter(size($"c") > 0)
    common.select(explode(concat(
        array(struct($"s".as("n"), size($"c").cast("long").as("k")),
          struct($"d".as("n"), size($"c").cast("long").as("k"))),
        transform($"c", x => struct(x.as("n"), lit(1L).as("k"))))).as("e"))
      .groupBy($"e.n".as("p_partkey"))
      .agg(sum($"e.k").as("n_triangles"))
      .orderBy($"n_triangles".desc, $"p_partkey".asc).limit(25)
  }

  // ---- ev_transitions: first-order Markov transition matrix over the
  // event stream — "after a click, what happens next?", the session-flow
  // report next to ev_funnel and the input of any sequence simulator.
  // Per user, events ordered by (ts, event_id); each event's predecessor
  // type comes from ONE user-keyed lag window (bounded partitions, the
  // safe axis), with the chain entered through a synthetic '_start'
  // state so entry probabilities are part of the same matrix. The
  // (prev, next) count aggregate is dimension-sized (|types|+1)², and
  // the per-prev normalizer is attached by a broadcast of that tiny
  // aggregate — the fact table is scanned once and shuffled once (the
  // user-keyed window), never joined against itself. p_pct is
  // integer-exact (roundRatio2), so the matrix hash-compares bitwise.
  private val transitions: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type",
        coalesce(lag($"event_type", 1).over(w), lit("_start")))
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
      // dimension-sized, consumed twice (totals + join): pin it so the
      // "scanned once, shuffled once" claim doesn't ride on exchange
      // reuse (the house pattern — forecast/survival/dedup do the same)
      .localCheckpoint(false)
    val totals = pairs.groupBy($"prev_type").agg(sum($"n").as("n_prev"))
    pairs.join(broadcast(totals), "prev_type")
      .select($"prev_type", $"next_type", $"n", $"n_prev",
        roundRatio2($"n" * 100, $"n_prev").as("p_pct"))
  }

  // ---- t9_incremental_agg: incremental aggregate maintenance — the
  // materialized-view pattern that makes a 100 TB daily ETL affordable:
  // the historical partition's aggregate STATE (n, sum, min, max — a
  // commutative monoid) is stored once and MERGED with the fresh
  // partition's partial state; history is never rescanned. Spelled
  // honestly as state-merge: one scan tags each row with its partition
  // epoch, the first aggregate builds per-(group, epoch) partial states
  // (this is the piece a real pipeline persists), and the second
  // aggregate — over a dimension-sized input — combines states with the
  // monoid ops (Σn, Σsum, min min, max max). avg derives from merged
  // state only, integer-exact. The oracle deliberately recomputes the
  // whole aggregate from scratch in one pass: state-merge == recompute
  // is exactly the correctness contract of incremental maintenance.
  private val incrementalAgg: Q = (spark, dir) => {
    import spark.implicits._
    val cut = lit("1998-01-01").cast("timestamp")
    val partials = Tables.load(spark, dir, "orders")
      .select($"o_orderstatus", $"o_orderpriority",
        ($"o_orderdate" >= cut).as("is_delta"),
        priceCents.as("cents"))
      .groupBy($"o_orderstatus", $"o_orderpriority", $"is_delta")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
    partials
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"),
        min($"min_cents").as("min_cents"), max($"max_cents").as("max_cents"))
      .select($"o_orderstatus", $"o_orderpriority", $"n",
        ($"sum_cents" / 100.0).as("sum_price"),
        ($"min_cents" / 100.0).as("min_price"),
        ($"max_cents" / 100.0).as("max_price"),
        roundRatio2($"sum_cents", $"n").as("avg_price"))
  }

  /** o_totalprice in integer cents: every money column of this file is
    * integer arithmetic on it, so both engines agree bitwise. */
  private def priceCents: Column = (dec2(col("o_totalprice")) * 100).cast("long")

  /** Order counts per `key` (= `value`) in the reference window (before
    * 1998) and the current one — the base of the price-drift family
    * (a19/m24 bins, a21/ev_mann_whitney values). ONE scan, one
    * key-sized aggregate of conditional sums (no join, no pivot). */
  private def refCurCounts(spark: SparkSession, dir: String, key: String,
                           value: Column): DataFrame = {
    import spark.implicits._
    val cut = lit("1998-01-01").cast("timestamp")
    Tables.load(spark, dir, "orders")
      .select(value.as(key), ($"o_orderdate" >= cut).as("is_cur"))
      .groupBy(col(key))
      .agg(sum(when(!$"is_cur", 1L).otherwise(0L)).as("n_ref"),
        sum(when($"is_cur", 1L).otherwise(0L)).as("n_cur"))
  }

  /** a19's and m24's fixed-width $25k price bins. */
  private def priceBins(spark: SparkSession, dir: String): DataFrame =
    refCurCounts(spark, dir, "bin", floor(priceCents / 2500000L).cast("long"))

  // ---- a19_drift_bins: numeric-distribution drift monitor (the
  // PSI-report shape) between a reference window and the current window
  // of the same table — the companion of d_drift (token space) and
  // a17_dq_audit (constraints): "did the price distribution move?".
  // Fixed-width $25k bins keep binning deterministic and engine-free
  // (quantile bins would couple the bin edges to the data order); rates
  // are integer BASIS POINTS via the exact floor((2n·10⁴+tot)/(2tot))
  // trick — never round a double for an oracle column (the d_lm_score
  // lesson). Scale shape: ONE scan, ONE dimension-sized aggregate
  // (conditional sums per side — no join, no second pass, no pivot);
  // the drifted flag thresholds |Δbp| > 100 (1 %-point).
  private val driftBins: Q = (spark, dir) => {
    import spark.implicits._
    val binned = priceBins(spark, dir)
    val tot = binned.agg(sum($"n_ref").as("t_ref"), sum($"n_cur").as("t_cur"))
    binned.crossJoin(broadcast(tot))
      .select($"bin", $"n_ref", $"n_cur",
        floor(($"n_ref" * 10000 * 2 + $"t_ref") / ($"t_ref" * 2))
          .cast("long").as("ref_bp"),
        floor(($"n_cur" * 10000 * 2 + $"t_cur") / ($"t_cur" * 2))
          .cast("long").as("cur_bp"))
      .withColumn("delta_bp", abs($"cur_bp" - $"ref_bp"))
      .withColumn("drifted", $"delta_bp" > 100)
  }

  // ---- m24_psi: POPULATION STABILITY INDEX over the a19 bins — the
  // industry-standard drift score every model-monitoring gate
  // thresholds (PSI < 0.1 stable / > 0.25 retrain), completing the
  // drift family: a19 flags per-bin deltas, a21 is the nonparametric
  // max-gap, PSI is the weighted-sum score. PSI = Σ (q_i − p_i)·
  // ln(q_i/p_i) with +1 Laplace smoothing per side (PSI is undefined
  // on empty bins; smoothing keeps every term finite and the oracle
  // exact). Cross-engine exactness is the m13 woe/iv canon verbatim:
  // the log's argument is a quotient of two EXACT int64 products
  // (each < 2^53 through sf10, so the double conversion is exact and
  // both engines round-half-up the same micro-nat integer), and the
  // per-bin PSI contribution is assembled from integers only —
  // d_numer = (n_cur+1)(t_ref+B) − (n_ref+1)(t_cur+B) carried with
  // the lr_micro product in DECIMAL(38,0)/HUGEINT through an exact
  // half-up pmod-floor division. Scale shape: ONE scan, ONE
  // dimension-sized bin aggregate, a 1-row totals broadcast — nothing
  // row-scaled after the scan; headroom ~10³⁸/(N²·lr) holds past
  // sf1000.
  private val psi: Q = (spark, dir) => {
    import spark.implicits._
    val binned = priceBins(spark, dir)
    val tot = binned.agg(sum($"n_ref").as("t_ref"), sum($"n_cur").as("t_cur"),
      count(lit(1)).as("b"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    binned.crossJoin(broadcast(tot))
      .withColumn("lr_micro",
        round(log(((($"n_cur" + 1L) * ($"t_ref" + $"b")).cast("double")) /
          ((($"n_ref" + 1L) * ($"t_cur" + $"b")).cast("double"))) * 1e6)
          .cast("long"))
      .withColumn("d_numer",
        dec($"n_cur" + 1L) * ($"t_ref" + $"b")
          - dec($"n_ref" + 1L) * ($"t_cur" + $"b"))
      .withColumn("psi_den", dec($"t_ref" + $"b") * ($"t_cur" + $"b") * 2)
      .withColumn("psi_num",
        $"d_numer" * $"lr_micro" * 2 + dec($"t_ref" + $"b") * ($"t_cur" + $"b"))
      .select($"bin", $"n_ref", $"n_cur", $"lr_micro",
        floorDiv($"psi_num", $"psi_den").cast("long").as("psi_micro"))
  }

  // ---- a21_ks_drift: exact two-sample Kolmogorov-Smirnov statistic
  // between the reference and current price distributions — the proper
  // nonparametric companion to a19's fixed-bin monitor (KS sees ANY
  // distributional change, not just mass moving across $25k bin
  // edges). KS = max_v |CDF_ref(v) − CDF_cur(v)| needs an exact CDF,
  // i.e. a cumulative sum in VALUE ORDER — the naive spelling is a
  // global ORDER BY window: one partition sorts every distinct value,
  // the classic driver-shaped bottleneck. Here the a16 two-phase idea
  // generalizes into a distributed prefix sum:
  //   (1) per-value (cents) side counts — one value-keyed shuffle;
  //   (2) per-BUCKET (cents >> 20, ~$10.5k wide) totals — a
  //       dimension-sized table (≤ ~50 buckets at any sf) whose
  //       window cumsum is trivially cheap, broadcast back;
  //   (3) within-bucket windows (bounded partitions, parallel):
  //       cum(v) = cum_below_bucket + within_bucket_running_sum.
  // All arithmetic is integer; the CDF difference is cross-multiplied
  // (|cum_ref·t_cur − cum_cur·t_ref|) so no division happens before
  // the final ks_bp quantization — exact at any count (products
  // < 2^63 through sf10 by a 10³ margin). Output: one row with the KS
  // statistic in basis points and the smallest value attaining it.
  /** Per-price-value ref/cur counts with the shiftright-20 coarse
    * bucket — the shared base of the two-sample rank family (a21's KS
    * CDF and ev_mann_whitney's midranks). Distinct-value-sized and
    * multiply-consumed in both callers → pinned here once (house
    * pattern), so a change to the bucketing or checkpoint policy can
    * never silently diverge the two statistics. */
  private def refCurValueCounts(spark: SparkSession, dir: String): DataFrame =
    refCurCounts(spark, dir, "cents", priceCents)
      .withColumn("bucket", shiftright(col("cents"), 20))
      .localCheckpoint(false)

  private val ksDrift: Q = (spark, dir) => {
    import spark.implicits._
    val byVal = refCurValueCounts(spark, dir)
    val byBucket = byVal.groupBy($"bucket")
      .agg(sum($"n_ref").as("b_ref"), sum($"n_cur").as("b_cur"))
    val wB = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = byBucket.select($"bucket",
      coalesce(sum($"b_ref").over(wB), lit(0L)).as("off_ref"),
      coalesce(sum($"b_cur").over(wB), lit(0L)).as("off_cur"))
    val wV = Window.partitionBy($"bucket").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = byVal.agg(sum($"n_ref").as("t_ref"), sum($"n_cur").as("t_cur"))
    val cdf = byVal
      .join(broadcast(offsets), "bucket")
      .select($"cents",
        ($"off_ref" + sum($"n_ref").over(wV)).as("cum_ref"),
        ($"off_cur" + sum($"n_cur").over(wV)).as("cum_cur"))
      .crossJoin(broadcast(totals))
      .select($"cents",
        abs($"cum_ref" * $"t_cur" - $"cum_cur" * $"t_ref").as("d"),
        $"t_ref", $"t_cur")
    // one final aggregate: the max difference and the SMALLEST value
    // attaining it, picked together via max_by over the (d, −cents)
    // struct (unique key ⇒ deterministic under any partitioning)
    cdf
      .agg(max($"d").as("dmax"),
        max_by(struct($"cents", $"t_ref", $"t_cur"),
          struct($"d", -$"cents")).as("w"))
      .select(
        floor($"dmax" * 10000 / ($"w.t_ref" * $"w.t_cur")).cast("long")
          .as("ks_bp"),
        ($"w.cents" / 100.0).as("at_price"),
        $"w.t_ref".as("t_ref"), $"w.t_cur".as("t_cur"))
  }

  // ---- ev_mann_whitney: the exact Mann-Whitney U (Wilcoxon rank-sum)
  // test between the reference and current price samples — the
  // nonparametric A/B-test statistic, completing the two-sample family
  // (a19 fixed bins, a21 KS max-gap, MWU rank-sum). Everything is
  // integer: ranks with ties are MIDRANKS, which are half-integers, so
  // the statistic is carried DOUBLED — the doubled midrank of a tied
  // value group is 2·cum_below + t + 1 exactly — and 2U = ΣR₂(ref) −
  // n_ref·(n_ref+1). The tie-correction term Σ(t³−t) rides along for
  // the downstream variance. Ranking uses the a21 distributed prefix
  // sum (value counts → bucket offsets → within-bucket windows): no
  // global sort at any scale. Headroom: ΣR₂ ≤ N(2N+1) and Σt³ ≤ N·
  // max_tie² ride DECIMAL(38,0) internally and emit BIGINT (exact
  // through ~sf100's 6·10⁸ rows; the emission width, not the
  // arithmetic, is the first limiter).
  private val mannWhitney: Q = (spark, dir) => {
    import spark.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val byVal = refCurValueCounts(spark, dir)
      .withColumn("t", $"n_ref" + $"n_cur")
    val wB = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = byVal.groupBy($"bucket").agg(sum($"t").as("b_n"))
      .select($"bucket", coalesce(sum($"b_n").over(wB), lit(0L)).as("off"))
    val wV = Window.partitionBy($"bucket").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    byVal.join(broadcast(offsets), "bucket")
      .select($"n_ref", $"n_cur", $"t",
        ($"off" + coalesce(sum($"t").over(wV), lit(0L))).as("cum_below"))
      .agg(sum($"n_ref").as("t_ref"), sum($"n_cur").as("t_cur"),
        sum(dec($"n_ref") * ($"cum_below" * 2 + $"t" + 1)).as("r2_sum"),
        sum(dec($"t") * $"t" * $"t" - $"t").as("cubes"))
      .select($"t_ref".as("n_ref"), $"t_cur".as("n_cur"),
        ($"r2_sum" - dec($"t_ref") * ($"t_ref" + 1)).cast("long")
          .as("u2_ref"),
        $"cubes".cast("long").as("tie_cubes"))
  }

  // ---- ev_seasonality_dow: day-of-week revenue seasonality profile —
  // the weekly-shape table behind the ev_forecast_naive lag-7 choice
  // (seasonal-naive beats naive exactly when this table is non-flat).
  // Monday-anchored weekday index spelled engine-neutrally (Spark
  // weekday() = DuckDB isodow − 1); shares are exact ppm floors with
  // the DECIMAL scale-up-before-multiply (m13 headroom). ONE scan, one
  // 7-row aggregate, a 1-row totals broadcast.
  private val seasonalityDow: Q = (spark, dir) => {
    import spark.implicits._
    val byDow = Tables.load(spark, dir, "orders")
      .select(weekday(to_date($"o_orderdate")).cast("long").as("dow"),
        priceCents.as("cents"))
      .groupBy($"dow")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
    val tot = byDow.agg(sum($"n").as("t_n"), sum($"sum_cents").as("t_c"))
    byDow.crossJoin(broadcast(tot))
      .select($"dow", $"n", $"sum_cents",
        ppm($"n", $"t_n").as("row_share_ppm"),
        ppm($"sum_cents", $"t_c").as("rev_share_ppm"))
  }

  /** The zero-filled daily revenue series (day, rev in cents) of the
    * time-series family (ev_forecast_naive, ev_changepoint, ev_ewma).
    * The daily aggregate is the only fact-sized step (date-keyed
    * shuffle, partial aggs combine map-side); it is dimension-sized and
    * read twice (the spine's min/max and the join), so it is
    * materialized once instead of re-scanning orders per consumer. The
    * spine (sequence() between the first and last day, the t5_gapfill
    * spelling) makes days with no orders count as 0. One row per
    * calendar day, so a global window over the series is
    * documented-safe at any fact scale. */
  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .select(to_date($"o_orderdate").as("day"), priceCents.as("cents"))
      .groupBy($"day").agg(sum($"cents").as("rev"))
      .localCheckpoint(false)
    daily.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("day"))
      .join(daily, Seq("day"), "left")
      .select($"day", coalesce($"rev", lit(0L)).as("rev"))
  }

  // ---- ev_forecast_naive: seasonal-naive forecast backtest over the
  // daily revenue series — the baseline every demand-forecasting model
  // must beat, and the missing time-series-eval member of the
  // analytics layer: ŷ(d) = y(d−7) (same weekday last week), scored
  // over every day with a 7-day history. Scale shape: the ONLY
  // fact-sized operation is the daily aggregate (date-keyed shuffle,
  // partial aggs combine map-side); the series itself is
  // DIMENSION-SIZED (one row per calendar day — ~2.5k rows for 7
  // years, ~37k for a century), so the gap-filled spine (days with no
  // orders forecast and score as 0 — sequence() between min and max
  // day, the t5_gapfill spelling) and the lag-7 window run on a table
  // that fits in one partition BY CONSTRUCTION at any fact scale; the
  // global window is documented-safe here, unlike a fact-sized global
  // sort. Errors are integer cents end-to-end; WAPE is emitted in
  // basis points via the exact cross-multiplied floor (never round a
  // double), MAE as cents/100.0 (one IEEE division on exact integers).
  private val forecastNaive: Q = (spark, dir) => {
    import spark.implicits._
    val series = dailyRevenue(spark, dir)
    val w = Window.orderBy($"day") // dimension-sized by construction
    val scored = series
      .withColumn("fc", lag($"rev", 7).over(w))
      .filter($"fc".isNotNull)
      .select(abs($"rev" - $"fc").as("abs_err"), $"rev")
    scored.agg(count(lit(1)).as("n_days"),
        sum($"abs_err").as("sae"), sum($"rev").as("srev"))
      .select($"n_days",
        (floor(($"sae" * 2 + $"n_days") / ($"n_days" * 2)) / 100.0)
          .as("mae"),
        floor(($"sae" * 10000 * 2 + $"srev") / ($"srev" * 2))
          .cast("long").as("wape_bp"))
  }

  // ---- ev_survival_table: the Kaplan-Meier LIFE TABLE for user
  // engagement — survival analysis, the churn platform's native
  // statistical frame (the reference predicts churn as a binary label;
  // the life table is the time-resolved version every retention team
  // reads next to it). Duration = days from a user's first to last
  // event; a user is CENSORED (still alive at observation end) when
  // their last event falls within 3 days of the corpus max timestamp —
  // right-censoring is what distinguishes survival analysis from a
  // plain histogram. Output per duration t: n_risk (users whose
  // duration ≥ t — the at-risk set), n_churn (uncensored exits at t),
  // n_censored (censored at t). Everything is an integer COUNT (the
  // K-M product Ŝ(t) = Π(1 − d/n) is a product of rationals — not
  // hash-comparable cross-engine; emitting the exact life table keeps
  // the oracle bit-exact and Ŝ is one trivial fold away for a reader).
  // Scale shape: ONE user-keyed aggregate over the fact (the only
  // fact-sized op; max(ts) attaches via a 1-row broadcast), then a
  // duration-keyed aggregate and a suffix cumsum over the
  // DIMENSION-SIZED duration table (≤ observation days rows — the
  // forecast/a21 documented-safe global window regime).
  private val survivalTable: Q = (spark, dir) => {
    import spark.implicits._
    // ONE user-keyed pass over the fact feeds both max_ts and the
    // duration build (max of per-user maxes == global max — the
    // re-aggregation is monoid-cheap and saves a second events scan)
    val perUser = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .localCheckpoint(false)
    val maxTs = perUser.agg(max($"last_ts").as("max_ts"))
    val users = perUser
      .crossJoin(broadcast(maxTs))
      .select(
        datediff(to_date($"last_ts"), to_date($"first_ts")).cast("long")
          .as("duration"),
        (datediff(to_date($"max_ts"), to_date($"last_ts")) <= 3)
          .as("censored"))
    val byDur = users.groupBy($"duration")
      .agg(sum(when($"censored", 0L).otherwise(1L)).as("n_churn"),
        sum(when($"censored", 1L).otherwise(0L)).as("n_censored"))
    val wSuffix = Window.orderBy($"duration")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byDur
      .withColumn("n_risk", sum($"n_churn" + $"n_censored").over(wSuffix))
      .select($"duration", $"n_risk", $"n_churn", $"n_censored")
  }

  // ---- ev_changepoint: CUSUM changepoint detection on the daily
  // revenue series — "when did the level shift?", the retrospective
  // twin of the ev_anomaly monitor and the a19/a21 drift gates.
  // CUSUM_k = Σ_{i≤k}(x_i − x̄) peaks (in absolute value) at the last
  // day of the old regime; the mean makes it a rational, so the
  // statistic is CROSS-MULTIPLIED into pure integers:
  //   C'_k = n·prefix_k − k·S   (= n·CUSUM_k, exact in cents·n —
  //   |C'| ≤ n·S ≈ 9e16 at sf10, two orders inside int64).
  // The series is dimension-sized (one row per calendar day), so the
  // prefix window and argmax run in the documented-safe global-window
  // regime (forecast/a21). Output: the changepoint day (argmax |C'|,
  // earliest on ties via max_by on (|C'|, −day)), the CUSUM magnitude
  // in dollars (exact floor-ratio), and the day count.
  private val changepoint: Q = (spark, dir) => {
    import spark.implicits._
    val series = dailyRevenue(spark, dir)
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = series.agg(sum($"rev").as("s"), count(lit(1)).as("n"))
    series
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("prefix", sum($"rev").over(w))
      .crossJoin(broadcast(tot))
      .select($"day", $"n",
        abs($"n" * $"prefix" - $"k" * $"s").as("c"))
      .agg(max_by(struct($"day", $"n"),
        struct($"c", -unix_date($"day"))).as("m"),
        max($"c").as("cmax"))
      .select($"m.day".as("cp_day"), $"m.n".as("n_days"),
        (floor(($"cmax" * 2 + $"m.n") / ($"m.n" * 2)) / 100.0)
          .as("cusum_dollars"))
  }

  // ---- ev_ewma: exponentially-weighted moving average of the daily
  // revenue series (α = 1/2, 20-term window) — the smoother every
  // monitoring dashboard layers under the ev_anomaly/ev_changepoint
  // detectors (EWMA control charts). The recurrence s_t = x_t/2 +
  // s_{t-1}/2 can't hash-match cross-engine in float space and its
  // exact integer unrolling needs 2^t headroom — so the OPERATOR is
  // the K-term truncated EMA, defined exactly: with α = 1/2 the
  // weights are powers of two, so over the K = 20 newest days
  //   ema_t = ⌊ Σ_{i=1..m} x_i·2^(i−1) / (2^m − 1) ⌋
  // (x_1 oldest … x_m newest, m = min(t, K)) — an integer weighted
  // mean with exponential weights (truncation differs from the
  // unbounded EMA by < 2^−20 of scale, but nothing here APPROXIMATES:
  // both engines compute the same exact sum). The weighted sum runs in
  // DECIMAL(38,0) (HUGEINT in DuckDB) — cents·2^19 leaves int64
  // headroom thin past sf10 (the m13/j9 pattern). Series is the
  // zero-filled calendar spine (forecast/changepoint precedent), so
  // the window list is dimension-sized and the global window sits in
  // the documented-safe regime. The list is MATERIALIZED in its own
  // projection before the HOF touches it (the d_winnow lesson).
  private val ewma: Q = (spark, dir) => {
    import spark.implicits._
    val series = dailyRevenue(spark, dir)
    val w = Window.orderBy($"day").rowsBetween(-19, 0)
    val arr = col("arr")
    // shiftleft's Scala wrapper takes a literal Int shift; the SQL
    // function itself accepts a column — call it by name
    def shl(x: Column, by: Column): Column = call_function("shiftleft", x, by)
    val numer = aggregate(
      zip_with(arr, sequence(lit(1), size(arr)),
        (x, i) => x.cast("decimal(38,0)") * shl(lit(1L), i - 1)),
      lit(0).cast("decimal(38,0)"), (acc, v) => acc + v)
    val denom = (shl(lit(1L), size(arr)) - 1L).cast("decimal(38,0)")
    series
      .select($"day", collect_list($"rev").over(w).as("arr"))
      .select($"day", size(arr).cast("long").as("n_terms"),
        ((numer - pmod(numer, denom)) / denom).cast("long").as("ema_cents"))
  }

  // ---- g3_communities: label propagation (2 synchronous rounds) over
  // the co-purchase graph — community detection, completing the graph
  // suite (g1 centrality, g2 cohesion, CC reachability): "which parts
  // cluster into a buying context?". Labels start as node ids; each
  // round every node adopts the MODE of its neighbors' labels (ties →
  // smallest label). Both the mode and the tie-break are picked by ONE
  // aggregate — max_by(lbl, (cnt, −lbl)) — no per-node window, no sort;
  // struct comparison is lexicographic so (count desc, label asc) is
  // exact. Fixed synchronous rounds keep the result deterministic under
  // any partitioning (async LPA is schedule-dependent — un-oracle-able).
  // Scale shape per round: one edges⋈labels join (both sides keyed on
  // the join key, labels node-sized) + two keyed aggregates — the same
  // Pregel-round shape as g1_pagerank, lineage truncated per round; the
  // bidirectional edge list is pinned at the size-adaptive level. The
  // oracle spells the mode pick as ROW_NUMBER OVER (count DESC, lbl ASC)
  // — independent spelling, same semantics.
  private val communities: Q = (spark, dir) => {
    import spark.implicits._
    val ser = Storage.adaptiveLevel(dir)
    // NOT pinned ([[pinKeyed]]): measured at sf1, pinning bi on v cost
    // 17.8→20.6 s — g3's dominant per-round shuffle is the (u, lbl)
    // mode aggregate over the edge-sized join output (untouched by a
    // pinned edge side), while AQE broadcast-joins the node-sized labels
    // into bi exchange-free anyway at any scale where labels fit the
    // threshold; the pin only traded a runtime broadcast for a static
    // SMJ. g1/g5 keep the pin because their state join IS the round.
    val bi = bidirected(coPairs(spark, dir, ser, directed = false).distinct())
      .localCheckpoint(true, ser)
    var lbl = bi.select($"u".as("n")).distinct()
      .select($"n", $"n".as("lbl"))
    for (_ <- 1 to 2) {
      lbl = bi.join(lbl, bi("v") === lbl("n"))
        .groupBy($"u", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"u")
        .agg(max_by($"lbl", struct($"cnt", -$"lbl")).as("lbl"))
        .select($"u".as("n"), $"lbl")
        .localCheckpoint(true)
    }
    lbl.select($"n".as("p_partkey"), $"lbl".as("community"))
  }

  // ---- g4_kcore: k-core peeling (k = 3, 4 synchronous rounds) over
  // the co-purchase graph — the density filter completing the graph
  // suite (g1 centrality, g2 cohesion, g3 communities, CC
  // reachability): "which parts sit in a densely co-bought backbone?".
  // Each round drops every node of degree < k and the edges it
  // touches; removals cascade (a node can fall under k only after its
  // neighbors leave), so rounds iterate — FIXED synchronous rounds
  // keep the result deterministic and oracle-able exactly like g3
  // (the true core is the fixpoint; GraphSpec proves round 5 changes
  // nothing at the declared scale, so the 4-round output IS the
  // 3-core there; at corpus sizes where the cascade runs deeper the
  // output is the documented bounded-round over-approximation,
  // converging from above). Scale shape per round: one node-sized
  // degree aggregate + two semi-join edge filters on the (broadcast-
  // able) survivor set — the g1/g3 Pregel-round shape, lineage
  // truncated per round, edges pinned at the size-adaptive level.
  private[queries] def kcorePeel(spark: SparkSession, dir: String,
                                 rounds: Int): DataFrame = {
    import spark.implicits._
    val ser = Storage.adaptiveLevel(dir)
    var bi = bidirected(coPairs(spark, dir, ser, directed = false).distinct())
      .localCheckpoint(true, ser)
    // Early exit: a round that drops nobody is the fixpoint — every
    // later round is an identity re-join over the full edge list (the
    // declared-scale graph is dense enough that round 1 often already
    // converges, so this is most of the operator's wall). The per-round
    // degree table is node-sized; counting it is a driver-side scalar,
    // the same loop-control shape as the CC convergence check.
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val degs = bi.groupBy($"u").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false) // feeds the drop-count and the filter
      if (degs.filter($"deg" < 3).limit(1).isEmpty) converged = true
      else {
        val keep = degs.filter($"deg" >= 3).select($"u".as("n"))
        bi = bi.join(keep.select($"n".as("u")), "u")
          .join(keep.select($"n".as("v")), "v")
          .select($"u", $"v")
          .localCheckpoint(true)
      }
    }
    bi.groupBy($"u").agg(count(lit(1)).as("degree"))
      .select($"u".as("p_partkey"), $"degree")
  }

  private val kcore: Q = (spark, dir) => kcorePeel(spark, dir, rounds = 4)

  // ---- ev_paths: top-20 session event-type BIGRAMS — the sequence-
  // mining primitive behind "what do users do next" product questions
  // (ev_transitions counts ALL consecutive pairs; this one respects the
  // 30-minute session boundary, so cross-session pairs — a logout
  // followed by next week's login — don't pollute the paths). A bigram
  // exists iff two events are consecutive for a user under the TOTAL
  // (ts, event_id) order AND gap ≤ 30 min; the gap test is interval
  // arithmetic on the µs-NTZ timestamps (exact in both engines — a
  // cast-to-seconds floor would disagree at sub-second boundaries).
  // Scale shape: one user-partitioned window (the fact's natural key),
  // a partial-agg bigram count, and a global top-20 via orderBy+limit —
  // Spark plans TakeOrderedAndProject (per-partition heaps + driver
  // merge of 20-row heads), NOT a global sort. Ties at the cut are
  // broken by (n desc, prev, next) so the 20 rows are deterministic.
  private val paths: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .filter($"prev_type".isNotNull &&
        $"ts" <= $"prev_ts" + expr("INTERVAL 30 MINUTE"))
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"prev_type", $"next_type")
      .limit(20)
  }

  // ---- g5_bfs: bounded-hop BFS distances (≤ 4 hops) from a seed set
  // over the co-purchase graph — the reachability/traversal member of
  // the graph suite (g1 centrality, g2 cohesion, g3 communities, g4
  // density): "how far does influence travel from these anchor parts?".
  // Seeds: partkeys ≡ 0 (mod 97) among graph nodes (deterministic ~1%
  // anchor set). FRONTIER-layered, not relax-everything: by the BFS
  // layering property a node first reached in round r has dist exactly
  // r, so each round expands only LAST round's discoveries (edge join
  // on the frontier), anti-joins away already-settled nodes, and stops
  // early when a layer comes back empty — total work is O(edges
  // touched per layer), not rounds × |edges| (the naive min-relax
  // spelling re-joined the full 18M-edge list every round; measured
  // 26.9 s → this shape at sf1). Per-round lineage truncated like
  // g1/g3/g4; unreached nodes are absent, not ∞, so the output stays
  // reached-set-sized. The oracle spells the equivalent 4-round
  // min-relaxation as chained CTEs (d0→d4) — per-round node-min
  // tables, not a recursive CTE, whose path enumeration is
  // combinatorial on a dense graph.
  private val bfs: Q = (spark, dir) => {
    import spark.implicits._
    val ser = Storage.adaptiveLevel(dir)
    // Pinned KEYED on u ([[pinKeyed]]): each round's frontier expansion
    // joins bi("u") to the layer's discoveries, so the edge list never
    // exchanges after build (the g1 treatment; dedup at the bi level
    // subsumes the und-level distinct g3/g4 take).
    val bi = pinKeyed(bidirected(coPairs(spark, dir, ser, directed = false)),
      "u", Seq("u", "v"), dir, ser)
    var dist = bi.select($"u".as("n")).distinct()
      .filter($"n" % 97 === 0)
      .select($"n", lit(0L).as("d"))
      .localCheckpoint(true)
    var frontier = dist
    var done = false
    for (r <- 1 to 4 if !done) {
      val next = bi.join(frontier, bi("u") === frontier("n"))
        .select($"v".as("n")).distinct()
        .join(dist, Seq("n"), "left_anti")
        .select($"n", lit(r.toLong).as("d"))
        .localCheckpoint(true)
      if (next.limit(1).isEmpty) done = true
      else {
        dist = dist.union(next).localCheckpoint(true)
        frontier = next
      }
    }
    dist.select($"n".as("p_partkey"), $"d".as("dist"))
  }

  // ---- ev_trend_ols: closed-form OLS trend over the daily revenue
  // series — the "is revenue growing and how fast" number next to the
  // naive forecast (ev_forecast_naive) and the EWMA (ev_ewma), and the
  // simplest model that has a SLOPE with a confidence story. y = daily
  // cents, x = days since the first order date; b = (nΣxy − ΣxΣy) /
  // (nΣx² − (Σx)²) from ONE aggregate over the day-sized series (the
  // fact table reduces to days first — partial agg applies at any
  // scale; the OLS pass is dimension-sized). Headroom is the m13
  // lesson applied at authoring time: nΣxy ≈ days²·Σy overflows int64
  // by ~10³ already at a few-year series with 10⁹ cents/day, so every
  // cross-product is carried in DECIMAL(38,0) (HUGEINT on the oracle
  // side) and the slope/intercept emerge as pmod-floor integer
  // quantizations (slope in cents-per-day ppm, intercept in cents) —
  // sign-correct for declining series, no double anywhere.
  private val trendOls: Q = (spark, dir) => {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(priceCents).as("y"))
    val x0 = daily.agg(min($"d").as("d0"))
    val xy = daily.crossJoin(broadcast(x0))
      .select(datediff($"d", $"d0").cast("long").as("x"), $"y")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    def fl(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    xy.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(d38($"x") * $"y").as("sxy"), sum(d38($"x") * $"x").as("sxx"))
      .select($"n", $"sx", $"sy",
        fl((d38($"n") * $"sxy" - d38($"sx") * $"sy") * 1000000L,
          d38($"n") * $"sxx" - d38($"sx") * $"sx").as("slope_cpd_ppm"),
        fl(d38($"sy") * $"sxx" - d38($"sx") * $"sxy",
          (d38($"n") * $"sxx" - d38($"sx") * $"sx")).as("icept_cents"))
  }

  // ---- t11_snapshot_diff: table data-diff — the audit every warehouse
  // runs between two snapshots of the same table (did the nightly load
  // change what it should have?): full-outer join on the key, classify
  // each key added / deleted / modified / unchanged, aggregate counts
  // and the absolute value drift. The "second snapshot" is derived
  // deterministically from the first (hash-selected 1-in-20 deletes,
  // 1-in-20 value bumps, 1-in-20 key-shifted inserts) so the diff is a
  // pure function of the data and oracle-checkable; swapping in a real
  // second table is a reader substitution. Scale shape: ONE key-keyed
  // full-outer SMJ + a 4-row aggregate — the classify is map-side; at
  // 100 TB this is the minimal-shuffle spelling of table diff (both
  // sides shuffle once on the key; snapshot layouts that share
  // bucketing would delete even that).
  private val snapshotDiff: Q = (spark, dir) => {
    import spark.implicits._
    val s1 = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("k"), $"o_orderstatus".as("st"),
        priceCents.as("cents"))
      .localCheckpoint(false) // feeds both snapshots — scan once
    val h = (tag: String) =>
      hash48(concat(lit(tag), $"k".cast("string"))) % 20
    val survivors = s1.filter(h("del:") =!= 0)
      .select($"k", $"st",
        when(h("mod:") === 0, $"cents" + 100L).otherwise($"cents").as("cents"))
    // insert keys live OUTSIDE the real key domain (o_orderkey ≥ 0 at
    // every sf; a fixed +offset would collide once keys pass it and
    // fan out the full-outer join) — negation is collision-free at any
    // corpus size
    val inserts = s1.filter(h("add:") === 0)
      .select((-$"k" - 1L).as("k"), $"st", $"cents")
    val s2 = survivors.unionAll(inserts)
    s1.select($"k", $"st".as("st1"), $"cents".as("c1"))
      .join(s2.select($"k", $"st".as("st2"), $"cents".as("c2")),
        Seq("k"), "full_outer")
      .select(
        when($"c2".isNull, "deleted")
          .when($"c1".isNull, "added")
          .when($"c1" =!= $"c2" || $"st1" =!= $"st2", "modified")
          .otherwise("unchanged").as("change"),
        abs(coalesce($"c2", lit(0L)) - coalesce($"c1", lit(0L))).as("drift"))
      .groupBy($"change")
      .agg(count(lit(1)).as("n"), sum($"drift").as("abs_drift_cents"))
  }

  // ---- j14_pit_join: POINT-IN-TIME join against SCD2 validity
  // intervals — THE warehouse temporal-join pattern: each purchase
  // attaches the dimension VERSION that was current when it happened
  // (channel state at purchase time), i.e. the leakage-free
  // feature-attachment join t7's versioned table exists to serve.
  // Spelling: equi-join on the entity key + the half-open interval
  // predicate valid_from ≤ ts < valid_to (open-ended current version).
  // The dim is the SCD2 versioning of the NON-purchase events (the
  // user's browsing-state runs) — versioning the same rows being
  // joined would trivially land every purchase in its own
  // 'purchase'-typed run and the answer would carry no information.
  // At most one version matches per purchase (a user's intervals are
  // disjoint and half-open); purchases before the user's first
  // non-purchase event have no state yet and are absent (inner join —
  // compose with a left join for the padded variant). Scale shape: one
  // key-keyed SMJ; per-user version counts are run-length-bounded (a
  // dimension axis), so the per-key candidate set stays small at any
  // fact size — the standard PIT plan, no window over the fact needed
  // after the dim is built.
  private val pitJoin: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val versions = scd2Of(ev.filter($"event_type" =!= "purchase"))
      .select($"user_id".as("v_user"), $"version", $"channel",
        $"valid_from", $"valid_to")
    val purchases = ev
      .filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    purchases.join(versions,
        $"user_id" === $"v_user" && $"p_ts" >= $"valid_from" &&
          ($"valid_to".isNull || $"p_ts" < $"valid_to"))
      .select($"p_id", $"user_id", $"p_ts", $"version", $"channel")
  }

  /** t12: per-supplier INTERVAL UNION over VARIABLE-length intervals —
    * the gaps-and-islands primitive behind downtime/coverage/SLA math
    * (merge overlapping validity windows, then measure the union). Each
    * lineitem opens a transit window of [ship_day, ship_day + qty + 1)
    * days (deterministic, variable length — so a LATER-starting interval
    * can end EARLIER, which is what separates this from the fixed-gap
    * session ops: the island test must compare against the RUNNING MAX
    * of all prior ends, not the previous row's end; a lag-based spelling
    * silently splits islands at every swallowed interval).
    *
    * Spelling: pre-aggregate identical (supp, lo, hi) triples (ties
    * carry a count, so both window orders are total — the house
    * session-oracle tie lesson), one supplier-keyed running-max window
    * flags island starts (strict >: half-open adjacency merges), the
    * cumulative-sum window numbers islands, and two aggregates emit the
    * per-supplier union stats. ONE row-scaled exchange on l_suppkey:
    * both windows share its partitioning and the (supp, isl) / (supp)
    * aggregates are satisfied by supplier clustering — nothing
    * re-shuffles. All compared columns are integer day counts. */
  private val intervalUnion: Q = (spark, dir) => {
    import spark.implicits._
    val epoch = lit("1970-01-01").cast("date")
    val days = datediff(to_date($"l_shipdate"), epoch)
    val iv = Tables.load(spark, dir, "lineitem")
      .select($"l_suppkey", days.cast("long").as("lo"),
        (days + $"l_quantity".cast("long") + 1L).cast("long").as("hi"))
      .groupBy($"l_suppkey", $"lo", $"hi").agg(count(lit(1)).as("nr"))
    val wPrev = Window.partitionBy($"l_suppkey").orderBy($"lo", $"hi")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy($"l_suppkey").orderBy($"lo", $"hi")
      .rowsBetween(Window.unboundedPreceding, 0)
    iv.withColumn("pmax", max($"hi").over(wPrev))
      .withColumn("new_isl",
        when($"pmax".isNull || $"lo" > $"pmax", 1L).otherwise(0L))
      .withColumn("isl", sum($"new_isl").over(wCum))
      .groupBy($"l_suppkey", $"isl")
      .agg(min($"lo").as("ilo"), max($"hi").as("ihi"), sum($"nr").as("ne"))
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"ihi" - $"ilo").as("covered_days"),
        sum($"ne").as("n_items"),
        max($"ihi" - $"ilo").as("longest_days"))
  }

  val queries: Map[String, Q] = Map(
    "ev_mann_whitney"     -> mannWhitney,
    "ev_seasonality_dow"  -> seasonalityDow,
    "m24_psi"             -> psi,
    "t12_interval_union"  -> intervalUnion,
    "ev_trend_ols"        -> trendOls,
    "t11_snapshot_diff"   -> snapshotDiff,
    "j14_pit_join"        -> pitJoin,
    "t7_scd2"             -> scd2,
    "t8_merge_upsert"     -> mergeUpsert,
    "t9_incremental_agg"  -> incrementalAgg,
    "ev_cohort_retention" -> cohortRetention,
    "ev_anomaly"          -> anomaly,
    "ev_transitions"      -> transitions,
    "a16_decile_lift"     -> decileLift,
    "a19_drift_bins"      -> driftBins,
    "a21_ks_drift"        -> ksDrift,
    "ev_forecast_naive"   -> forecastNaive,
    "ev_ewma"             -> ewma,
    "ev_survival_table"   -> survivalTable,
    "ev_changepoint"      -> changepoint,
    "ev_attribution"      -> attribution,
    "g6_hits"             -> hits,
    "g1_pagerank"         -> pagerank,
    "g7_random_walk"      -> randomWalk,
    "g8_node2vec"         -> node2vec,
    "g2_triangles"        -> triangles,
    "g3_communities"      -> communities,
    "g4_kcore"            -> kcore,
    "g5_bfs"              -> bfs,
    "ev_paths"            -> paths)

  /** The SCD2 versioned-dimension statement — the `t7_scd2` oracle
    * (no filter), also nested with the non-purchase filter as the dim
    * side of `j14_pit_join`. */
  private def scd2OracleSql(where: String = ""): String =
    s"""WITH o AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id, event_type,
      |         CASE WHEN LAG(event_type) OVER w IS NULL
      |                OR LAG(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events $where
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (
      |  SELECT user_id, t, event_type,
      |         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
      |  FROM o),
      |g AS (
      |  SELECT user_id, version, MAX(event_type) AS channel,
      |         MIN(t) AS valid_from, COUNT(*) AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, version, channel, valid_from, n_events,
      |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |         AS valid_to,
      |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |         IS NULL AS is_current
      |FROM g""".stripMargin

  /** The co-purchase graph's undirected edges as oracle CTEs (`items`,
    * `und`), read by g2/g3/g4. g1/g5 stage their own MATERIALIZED
    * spelling: inlined, their round chains re-run the self-join per
    * reference and DuckDB runs out of memory. */
  private val undCtes =
    """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  /** The zero-filled daily revenue series as oracle CTEs (`d`, `spine`,
    * `s`), read by ev_forecast_naive, ev_changepoint and ev_ewma. */
  private val dailyRevenueCtes =
    """d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |  FROM orders GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(day) FROM d),
      |                                (SELECT MAX(day) FROM d),
      |                                INTERVAL 1 DAY))::DATE AS day),
      |s AS (SELECT spine.day, COALESCE(d.rev, 0) AS rev
      |      FROM spine LEFT JOIN d USING (day))""".stripMargin

  /** The g7/g8 oracle: the directed co-purchase edges, the node set and
    * its start modulus, the starts (`walk_id`, `node`, then `extra`)
    * designated by hash48 of `salt` + node, three `step` CTE groups
    * (step t reads `prev` and defines `s<t>`), and the walk rows of all
    * four steps. */
  private def walkOracleSql(salt: String, extra: String,
                            step: (Int, String) => String): String =
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |nd AS MATERIALIZED (SELECT DISTINCT src FROM edges),
       |md AS (SELECT GREATEST(4, LEAST(64, COUNT(*) // 16)) AS m FROM nd),
       |starts AS MATERIALIZED (
       |  SELECT src AS walk_id, src AS node$extra FROM nd, md
       |  WHERE ${hash48Sql(s"'$salt' || CAST(src AS VARCHAR)")} % md.m = 0),
       |${step(1, "starts")},
       |${step(2, "s1")},
       |${step(3, "s2")}
       |SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM starts
       |UNION ALL SELECT walk_id, CAST(1 AS BIGINT), node FROM s1
       |UNION ALL SELECT walk_id, CAST(2 AS BIGINT), node FROM s2
       |UNION ALL SELECT walk_id, CAST(3 AS BIGINT), node FROM s3""".stripMargin

  val oracles: Map[String, String] = Map(
    // the same two normalized rounds as chained CTEs; // on positive
    // HUGEINTs is the floorDiv twin
    "g6_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1r AS (SELECT p, COUNT(*) AS raw FROM e GROUP BY 1),
        |a1m AS (SELECT MAX(raw) AS mx FROM a1r),
        |a1 AS (SELECT p, CAST((CAST(raw AS HUGEINT) * 1000000000) // mx
        |         AS BIGINT) AS a
        |       FROM a1r, a1m),
        |h1r AS (SELECT c, CAST(SUM(a) AS HUGEINT) AS raw
        |        FROM e JOIN a1 USING (p) GROUP BY 1),
        |h1m AS (SELECT MAX(raw) AS mx FROM h1r),
        |h1 AS (SELECT c, CAST((raw * 1000000000) // mx AS BIGINT) AS h
        |       FROM h1r, h1m),
        |a2r AS (SELECT p, CAST(SUM(h) AS HUGEINT) AS raw
        |        FROM e JOIN h1 USING (c) GROUP BY 1),
        |a2m AS (SELECT MAX(raw) AS mx FROM a2r)
        |SELECT p AS p_partkey, CAST(raw AS BIGINT) AS auth_raw,
        |       CAST((raw * 1000000000) // mx AS BIGINT) AS auth_ppb
        |FROM a2r, a2m
        |ORDER BY auth_ppb DESC, p_partkey ASC LIMIT 20""".stripMargin,

    // isodow − 1 anchors Monday = 0 like Spark's weekday()
    "ev_seasonality_dow" ->
      """WITH d AS (
        |  SELECT CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)
        |           AS dow,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |g AS (SELECT dow, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT)
        |        AS sum_cents FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS t_n, SUM(sum_cents) AS t_c FROM g)
        |SELECT dow, n, sum_cents,
        |       CAST((CAST(n AS HUGEINT) * 1000000) // t_n AS BIGINT)
        |         AS row_share_ppm,
        |       CAST((CAST(sum_cents AS HUGEINT) * 1000000) // t_c AS BIGINT)
        |         AS rev_share_ppm
        |FROM g, t""".stripMargin,

    // naive global-window spelling of the same doubled-midrank algebra
    "ev_mann_whitney" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |           AS is_cur
        |  FROM orders),
        |v AS (
        |  SELECT cents,
        |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
        |         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM o GROUP BY 1),
        |r AS (
        |  SELECT n_ref, n_cur, n_ref + n_cur AS t,
        |         COALESCE(SUM(n_ref + n_cur) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_below
        |  FROM v)
        |SELECT CAST(SUM(n_ref) AS BIGINT) AS n_ref,
        |       CAST(SUM(n_cur) AS BIGINT) AS n_cur,
        |       CAST(SUM(CAST(n_ref AS HUGEINT) * (cum_below * 2 + t + 1))
        |         - CAST(SUM(n_ref) AS HUGEINT) * (SUM(n_ref) + 1) AS BIGINT)
        |         AS u2_ref,
        |       CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT)
        |         AS tie_cubes
        |FROM r""".stripMargin,

    // the m13 iv pattern: exact int64 products into the double log (all
    // < 2^53 at this sf), HUGEINT half-up floor for the contribution
    "m24_psi" ->
      """WITH binned AS (
        |  SELECT CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) / 2500000) AS BIGINT) AS bin,
        |         CAST(SUM(CASE WHEN CAST(o_orderdate AS TIMESTAMP)
        |           >= TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
        |         CAST(SUM(CASE WHEN CAST(o_orderdate AS TIMESTAMP)
        |           >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur,
        |               COUNT(*) AS b FROM binned),
        |w AS (
        |  SELECT bin, n_ref, n_cur,
        |         CAST(round(ln(CAST((n_cur + 1) * (t_ref + b) AS DOUBLE) /
        |           CAST((n_ref + 1) * (t_cur + b) AS DOUBLE)) * 1e6) AS BIGINT)
        |           AS lr_micro,
        |         CAST(n_cur + 1 AS HUGEINT) * (t_ref + b)
        |           - CAST(n_ref + 1 AS HUGEINT) * (t_cur + b) AS d_numer,
        |         CAST(t_ref + b AS HUGEINT) * (t_cur + b) AS den
        |  FROM binned, tot),
        |x AS (
        |  SELECT bin, n_ref, n_cur, lr_micro,
        |         d_numer * lr_micro * 2 + den AS psi_num, den * 2 AS psi_den
        |  FROM w)
        |SELECT bin, n_ref, n_cur, lr_micro,
        |       CAST((psi_num - (((psi_num % psi_den) + psi_den) % psi_den))
        |         // psi_den AS BIGINT) AS psi_micro
        |FROM x""".stripMargin,

    // identical gaps-and-islands spelling: running-max window → island
    // flag → cumulative island id → two aggregates; ties pre-aggregated
    // so both window orders are total
    "t12_interval_union" ->
      """WITH iv AS (
        |  SELECT l_suppkey,
        |         CAST(datediff('day', DATE '1970-01-01',
        |           CAST(l_shipdate AS DATE)) AS BIGINT) AS lo,
        |         CAST(datediff('day', DATE '1970-01-01',
        |           CAST(l_shipdate AS DATE))
        |           + CAST(l_quantity AS BIGINT) + 1 AS BIGINT) AS hi,
        |         COUNT(*) AS nr
        |  FROM lineitem GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT l_suppkey, lo, hi, nr,
        |         MAX(hi) OVER (PARTITION BY l_suppkey ORDER BY lo, hi
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |s AS (
        |  SELECT l_suppkey, lo, hi, nr,
        |         SUM(CASE WHEN pmax IS NULL OR lo > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY l_suppkey ORDER BY lo, hi
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m),
        |g AS (
        |  SELECT l_suppkey, isl, MIN(lo) AS ilo, MAX(hi) AS ihi,
        |         SUM(nr) AS ne
        |  FROM s GROUP BY 1, 2)
        |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |       CAST(SUM(ihi - ilo) AS BIGINT) AS covered_days,
        |       CAST(SUM(ne) AS BIGINT) AS n_items,
        |       CAST(MAX(ihi - ilo) AS BIGINT) AS longest_days
        |FROM g GROUP BY 1""".stripMargin,

    // HUGEINT carries the cross-products; the positive-mod subtraction
    // makes // exact (floor == truncate on an exact quotient) so a
    // declining series cannot split the engines on rounding direction
    "ev_trend_ols" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |x0 AS (SELECT MIN(d) AS d0 FROM daily),
        |xy AS (SELECT CAST(datediff('day', d0, d) AS BIGINT) AS x, y
        |       FROM daily, x0),
        |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |             SUM(CAST(x AS HUGEINT) * x) AS sxx
        |      FROM xy),
        |f AS (SELECT n, sx, sy,
        |             (n * sxy - sx * sy) * 1000000 AS num_b,
        |             sy * sxx - sx * sxy AS num_a,
        |             n * sxx - sx * sx AS den
        |      FROM s)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
        |       CAST(sy AS BIGINT) AS sy,
        |       CAST((num_b - (((num_b % den) + den) % den)) // den
        |         AS BIGINT) AS slope_cpd_ppm,
        |       CAST((num_a - (((num_a % den) + den) % den)) // den
        |         AS BIGINT) AS icept_cents
        |FROM f""".stripMargin,

    "t11_snapshot_diff" -> {
      def h(tag: String) = hash48Sql(s"'$tag' || CAST(k AS VARCHAR)")
      s"""WITH s1 AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |surv AS (
         |  SELECT k, st,
         |         CASE WHEN ${h("mod:")} % 20 = 0 THEN cents + 100
         |              ELSE cents END AS cents
         |  FROM s1 WHERE ${h("del:")} % 20 <> 0),
         |ins AS (SELECT -k - 1 AS k, st, cents FROM s1
         |        WHERE ${h("add:")} % 20 = 0),
         |s2 AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
         |j AS (
         |  SELECT CASE WHEN b.k IS NULL THEN 'deleted'
         |              WHEN a.k IS NULL THEN 'added'
         |              WHEN a.cents <> b.cents OR a.st <> b.st THEN 'modified'
         |              ELSE 'unchanged' END AS change,
         |         abs(COALESCE(b.cents, 0) - COALESCE(a.cents, 0)) AS drift
         |  FROM s1 a FULL OUTER JOIN s2 b ON a.k = b.k)
         |SELECT change, COUNT(*) AS n,
         |       CAST(SUM(drift) AS BIGINT) AS abs_drift_cents
         |FROM j GROUP BY 1""".stripMargin
    },

    "ev_transitions" ->
      """WITH p AS (
        |  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id), '_start') AS prev_type,
        |         event_type AS next_type
        |  FROM events),
        |c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_prev FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n, t.n_prev,
        |       floor((c.n * 100 * 2 + t.n_prev) / (t.n_prev * 2)) / 100.0 AS p_pct
        |FROM c JOIN t USING (prev_type)""".stripMargin,

    // deliberate one-pass recompute: state-merge == recompute is the
    // correctness contract of incremental aggregate maintenance
    "t9_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       SUM(cents) / 100.0 AS sum_price,
        |       MIN(cents) / 100.0 AS min_price,
        |       MAX(cents) / 100.0 AS max_price,
        |       floor((SUM(cents) * 2 + COUNT(*)) / (COUNT(*) * 2)) / 100.0 AS avg_price
        |FROM o GROUP BY 1, 2""".stripMargin,

    "a19_drift_bins" ->
      """WITH b AS (
        |  SELECT CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           / 2500000) AS BIGINT) AS bin,
        |         o_orderdate >= TIMESTAMP '1998-01-01' AS is_cur
        |  FROM orders),
        |g AS (
        |  SELECT bin,
        |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
        |         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM g)
        |SELECT bin, n_ref, n_cur,
        |       CAST(floor((n_ref * 10000 * 2 + t_ref) / (t_ref * 2)) AS BIGINT) AS ref_bp,
        |       CAST(floor((n_cur * 10000 * 2 + t_cur) / (t_cur * 2)) AS BIGINT) AS cur_bp,
        |       abs(CAST(floor((n_cur * 10000 * 2 + t_cur) / (t_cur * 2)) AS BIGINT)
        |         - CAST(floor((n_ref * 10000 * 2 + t_ref) / (t_ref * 2)) AS BIGINT)) AS delta_bp,
        |       abs(CAST(floor((n_cur * 10000 * 2 + t_cur) / (t_cur * 2)) AS BIGINT)
        |         - CAST(floor((n_ref * 10000 * 2 + t_ref) / (t_ref * 2)) AS BIGINT)) > 100 AS drifted
        |FROM g, t""".stripMargin,

    "ev_changepoint" ->
      s"""WITH $dailyRevenueCtes,
        |t AS (SELECT SUM(rev) AS sm, COUNT(*) AS n FROM s),
        |c AS (
        |  SELECT day, n,
        |         abs(n * SUM(rev) OVER (ORDER BY day)
        |             - (ROW_NUMBER() OVER (ORDER BY day)) * sm) AS c
        |  FROM s, t)
        |SELECT MIN(day) AS cp_day, MAX(n) AS n_days,
        |       floor((MAX(cm) * 2 + MAX(n)) / (MAX(n) * 2)) / 100.0 AS cusum_dollars
        |FROM (SELECT day, n, c, MAX(c) OVER () AS cm FROM c)
        |WHERE c = cm""".stripMargin,

    "ev_survival_table" ->
      """WITH u AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
        |         MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        |  FROM events GROUP BY 1),
        |m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
        |d AS (
        |  SELECT date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) AS duration,
        |         date_diff('day', CAST(last_ts AS DATE), CAST(max_ts AS DATE)) <= 3 AS censored
        |  FROM u, m),
        |g AS (
        |  SELECT duration,
        |         CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_churn,
        |         CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |  FROM d GROUP BY 1)
        |SELECT duration,
        |       CAST(SUM(n_churn + n_censored) OVER (ORDER BY duration
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk,
        |       n_churn, n_censored
        |FROM g""".stripMargin,

    "ev_forecast_naive" ->
      s"""WITH $dailyRevenueCtes,
        |f AS (
        |  SELECT rev, LAG(rev, 7) OVER (ORDER BY day) AS fc FROM s),
        |e AS (SELECT abs(rev - fc) AS abs_err, rev FROM f WHERE fc IS NOT NULL)
        |SELECT COUNT(*) AS n_days,
        |       floor((SUM(abs_err) * 2 + COUNT(*)) / (COUNT(*) * 2)) / 100.0 AS mae,
        |       CAST(floor((SUM(abs_err) * 10000 * 2 + SUM(rev)) / (SUM(rev) * 2)) AS BIGINT) AS wape_bp
        |FROM e""".stripMargin,

    "ev_ewma" ->
      s"""WITH $dailyRevenueCtes,
        |l AS (
        |  SELECT day, list(rev) OVER
        |           (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |           AS arr
        |  FROM s),
        |m AS (
        |  SELECT day, len(arr) AS m,
        |         list_sum(list_transform(generate_series(1, len(arr)),
        |           i -> CAST(arr[i] AS HUGEINT) * ((1::BIGINT) << (i - 1))))
        |           AS numer
        |  FROM l)
        |SELECT day, CAST(m AS BIGINT) AS n_terms,
        |       CAST(numer // CAST(((1::BIGINT) << m) - 1 AS HUGEINT)
        |         AS BIGINT) AS ema_cents
        |FROM m""".stripMargin,

    // independent spelling: the naive GLOBAL window cumsum the Spark
    // side deliberately avoids — DuckDB is single-node, so its global
    // ORDER BY is exactly the oracle's job
    "a21_ks_drift" ->
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         o_orderdate >= TIMESTAMP '1998-01-01' AS is_cur
        |  FROM orders),
        |g AS (
        |  SELECT cents,
        |         SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS n_ref,
        |         SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
        |  FROM v GROUP BY 1),
        |c AS (
        |  SELECT cents,
        |         SUM(n_ref) OVER (ORDER BY cents) AS cum_ref,
        |         SUM(n_cur) OVER (ORDER BY cents) AS cum_cur
        |  FROM g),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM g),
        |d AS (
        |  SELECT cents, abs(cum_ref * t_cur - cum_cur * t_ref) AS d,
        |         t_ref, t_cur
        |  FROM c, t)
        |SELECT CAST(floor(MAX(d) * 10000 / (MAX(t_ref) * MAX(t_cur))) AS BIGINT) AS ks_bp,
        |       MIN(CASE WHEN d = (SELECT MAX(d) FROM d) THEN cents END) / 100.0 AS at_price,
        |       CAST(MAX(t_ref) AS BIGINT) AS t_ref, CAST(MAX(t_cur) AS BIGINT) AS t_cur
        |FROM d""".stripMargin,

    // independent spelling: ROW_NUMBER picks the mode+tie-break that the
    // Spark side gets from max_by(lbl, (cnt, -lbl))
    "g3_communities" ->
      s"""WITH $undCtes,
        |bi AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |it0 AS (SELECT DISTINCT u AS n, u AS lbl FROM bi),
        |c1 AS (SELECT b.u, l.lbl, COUNT(*) AS cnt
        |       FROM bi b JOIN it0 l ON b.v = l.n GROUP BY 1, 2),
        |it1 AS (SELECT u AS n, lbl FROM (
        |          SELECT u, lbl, ROW_NUMBER() OVER (PARTITION BY u
        |            ORDER BY cnt DESC, lbl ASC) AS rn FROM c1)
        |        WHERE rn = 1),
        |c2 AS (SELECT b.u, l.lbl, COUNT(*) AS cnt
        |       FROM bi b JOIN it1 l ON b.v = l.n GROUP BY 1, 2),
        |it2 AS (SELECT u AS n, lbl FROM (
        |          SELECT u, lbl, ROW_NUMBER() OVER (PARTITION BY u
        |            ORDER BY cnt DESC, lbl ASC) AS rn FROM c2)
        |        WHERE rn = 1)
        |SELECT n AS p_partkey, lbl AS community FROM it2""".stripMargin,

    "g4_kcore" ->
      s"""WITH $undCtes,
        |b0 AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |k1 AS (SELECT u FROM b0 GROUP BY u HAVING COUNT(*) >= 3),
        |b1 AS (SELECT b.u, b.v FROM b0 b
        |       JOIN k1 x ON b.u = x.u JOIN k1 y ON b.v = y.u),
        |k2 AS (SELECT u FROM b1 GROUP BY u HAVING COUNT(*) >= 3),
        |b2 AS (SELECT b.u, b.v FROM b1 b
        |       JOIN k2 x ON b.u = x.u JOIN k2 y ON b.v = y.u),
        |k3 AS (SELECT u FROM b2 GROUP BY u HAVING COUNT(*) >= 3),
        |b3 AS (SELECT b.u, b.v FROM b2 b
        |       JOIN k3 x ON b.u = x.u JOIN k3 y ON b.v = y.u),
        |k4 AS (SELECT u FROM b3 GROUP BY u HAVING COUNT(*) >= 3),
        |b4 AS (SELECT b.u, b.v FROM b3 b
        |       JOIN k4 x ON b.u = x.u JOIN k4 y ON b.v = y.u)
        |SELECT u AS p_partkey, COUNT(*) AS degree FROM b4 GROUP BY 1""".stripMargin,

    "g5_bfs" ->
      """WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |d0 AS MATERIALIZED (SELECT DISTINCT u AS n, 0 AS d FROM e WHERE u % 97 = 0),
        |d1 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM (
        |         SELECT n, d FROM d0
        |         UNION ALL SELECT e.v, d0.d + 1 FROM e JOIN d0 ON e.u = d0.n
        |       ) GROUP BY n),
        |d2 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM (
        |         SELECT n, d FROM d1
        |         UNION ALL SELECT e.v, d1.d + 1 FROM e JOIN d1 ON e.u = d1.n
        |       ) GROUP BY n),
        |d3 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM (
        |         SELECT n, d FROM d2
        |         UNION ALL SELECT e.v, d2.d + 1 FROM e JOIN d2 ON e.u = d2.n
        |       ) GROUP BY n),
        |d4 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM (
        |         SELECT n, d FROM d3
        |         UNION ALL SELECT e.v, d3.d + 1 FROM e JOIN d3 ON e.u = d3.n
        |       ) GROUP BY n)
        |SELECT n AS p_partkey, CAST(d AS BIGINT) AS dist FROM d4""".stripMargin,

    "ev_paths" ->
      """WITH o AS (
        |  SELECT event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_type,
        |         CAST(ts AS TIMESTAMP) AS t,
        |         LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_t
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |FROM o
        |WHERE prev_type IS NOT NULL AND t <= prev_t + INTERVAL '30 minutes'
        |GROUP BY 1, 2
        |ORDER BY n DESC, prev_type, next_type
        |LIMIT 20""".stripMargin,

    // same merge semantics, independently spelled as FULL OUTER JOIN
    "t8_merge_upsert" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |         ${hash48Sql("CAST(o_orderkey AS VARCHAR)")} AS h
         |  FROM orders),
         |ch AS (
         |  SELECT o_orderkey, o_custkey,
         |         CASE WHEN h % 17 = 0 THEN o_orderstatus ELSE 'C' END AS o_orderstatus,
         |         CASE WHEN h % 17 = 0 THEN cents
         |              ELSE CAST(floor(cents * 11 / 10) AS BIGINT) END AS cents,
         |         CASE WHEN h % 17 = 0 THEN 'D' ELSE 'U' END AS op
         |  FROM o WHERE h % 17 = 0 OR h % 5 = 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_orderstatus, cents, 'I'
         |  FROM o WHERE h % 7 = 3),
         |m AS (
         |  SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
         |         COALESCE(c.o_custkey, b.o_custkey) AS o_custkey,
         |         COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         |         COALESCE(c.cents, b.cents) AS cents,
         |         COALESCE(c.op, 'K') AS action
         |  FROM o b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey)
         |SELECT o_orderkey, o_custkey, o_orderstatus, cents / 100.0 AS o_totalprice,
         |       action
         |FROM m WHERE action <> 'D'""".stripMargin,

    "t7_scd2" -> scd2OracleSql(),

    // the SCD2 statement nested (non-purchase filter) as the dim side;
    // half-open interval predicate, open-ended current version
    "j14_pit_join" ->
      s"""WITH v AS (SELECT * FROM (${scd2OracleSql("WHERE event_type <> 'purchase'")}) sv),
         |p AS (SELECT event_id AS p_id, user_id,
         |             CAST(ts AS TIMESTAMP) AS p_ts
         |      FROM events WHERE event_type = 'purchase')
         |SELECT p.p_id, p.user_id, p.p_ts, v.version, v.channel
         |FROM p JOIN v ON v.user_id = p.user_id
         | AND p.p_ts >= v.valid_from
         | AND (v.valid_to IS NULL OR p.p_ts < v.valid_to)""".stripMargin,

    "ev_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
        |sizes AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, week FROM ev),
        |r AS (
        |  SELECT c.cohort_week, (a.week - c.cohort_week) // 7 AS week_offset,
        |         COUNT(*) AS n_active
        |  FROM cohort c JOIN act a USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT r.cohort_week, week_offset, n_active, n_cohort,
        |       floor((n_active * 100 * 2 + n_cohort) / (n_cohort * 2)) / 100.0 AS retention
        |FROM r JOIN sizes USING (cohort_week)""".stripMargin,

    "a16_decile_lift" ->
      """WITH u AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) AS score,
        |         MAX(CASE WHEN event_type = 'purchase' AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) AS pos
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT score, pos,
        |         ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rk,
        |         COUNT(*) OVER () AS n_tot, SUM(pos) OVER () AS pos_tot
        |  FROM u),
        |d AS (
        |  SELECT CAST(FLOOR(10 * (rk - 1) / n_tot) AS BIGINT) AS decile,
        |         COUNT(*) AS n_users, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |         MAX(n_tot) AS n_tot, MAX(pos_tot) AS pos_tot
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT *, SUM(n_users) OVER (ORDER BY decile) AS cum_n,
        |         SUM(n_pos) OVER (ORDER BY decile) AS cum_pos
        |  FROM d)
        |SELECT decile, n_users, n_pos,
        |       floor((n_pos * 100 * 2 + n_users) / (n_users * 2)) / 100.0 AS rate,
        |       floor((cum_pos * n_tot * 100 * 2 + cum_n * pos_tot) / (cum_n * pos_tot * 2)) / 100.0 AS cum_lift
        |FROM c""".stripMargin,

    "ev_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, event_type, value,
        |         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                         THEN struct_pack(t_ts := CAST(ts AS TIMESTAMP), t_ch := event_type) END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
        |  FROM events)
        |SELECT CASE WHEN lt IS NULL OR lt.t_ts < t - INTERVAL 7 DAY
        |            THEN 'direct' ELSE lt.t_ch END AS channel,
        |       COUNT(*) AS n_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ev WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    "ev_anomaly" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT user_id, CAST(median(cents) * 2 AS BIGINT) AS med2,
        |             COUNT(*) AS n_ev FROM e GROUP BY 1),
        |d AS (SELECT e.user_id, e.event_id, m.n_ev, m.med2,
        |             abs(2 * e.cents - m.med2) AS dev2
        |      FROM e JOIN m USING (user_id)),
        |md AS (SELECT user_id, CAST(median(dev2) * 2 AS BIGINT) AS mad4
        |       FROM d GROUP BY 1)
        |SELECT d.user_id, MAX(d.n_ev) AS n_ev, MAX(d.med2) AS med2,
        |       MAX(md.mad4) AS mad4,
        |       CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * md.mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM d JOIN md USING (user_id)
        |GROUP BY 1""".stripMargin,

    "g2_triangles" ->
      s"""WITH $undCtes,
        |deg AS (SELECT n, COUNT(*) AS dg FROM
        |          (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
        |        GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |              THEN u ELSE v END AS s,
        |         CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
        |              THEN v ELSE u END AS d
        |  FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n),
        |tri AS (
        |  SELECT e1.s AS x, e1.d AS y, e2.d AS z
        |  FROM o e1 JOIN o e2 ON e1.d = e2.s
        |  JOIN o e3 ON e3.s = e1.s AND e3.d = e2.d)
        |SELECT node AS p_partkey, COUNT(*) AS n_triangles
        |FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 25""".stripMargin,

    "g1_pagerank" ->
      // edges/deg/it* staged MATERIALIZED (hit at sf1 by the ROUND
      // CHAIN): inlined, every itK reference re-ran
      // the items self-join behind estimate-blind pipelines and the
      // sweep died spilling >80 GB of DuckDB temp; staged, each round
      // reads the 18M-edge table once.
      """WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM deg),
        |it0 AS MATERIALIZED (SELECT node, deg, 1000000000 // (SELECT n FROM n) AS r FROM deg),
        |it1 AS MATERIALIZED (
        |  SELECT d.node, d.deg,
        |         150000000 // (SELECT n FROM n)
        |           + (17 * COALESCE(SUM(p.r // p.deg), 0)) // 20 AS r
        |  FROM deg d LEFT JOIN (SELECT e.dst, i.r, i.deg FROM edges e
        |                        JOIN it0 i ON e.src = i.node) p
        |    ON p.dst = d.node GROUP BY 1, 2),
        |it2 AS MATERIALIZED (
        |  SELECT d.node, d.deg,
        |         150000000 // (SELECT n FROM n)
        |           + (17 * COALESCE(SUM(p.r // p.deg), 0)) // 20 AS r
        |  FROM deg d LEFT JOIN (SELECT e.dst, i.r, i.deg FROM edges e
        |                        JOIN it1 i ON e.src = i.node) p
        |    ON p.dst = d.node GROUP BY 1, 2),
        |it3 AS MATERIALIZED (
        |  SELECT d.node, d.deg,
        |         150000000 // (SELECT n FROM n)
        |           + (17 * COALESCE(SUM(p.r // p.deg), 0)) // 20 AS r
        |  FROM deg d LEFT JOIN (SELECT e.dst, i.r, i.deg FROM edges e
        |                        JOIN it2 i ON e.src = i.node) p
        |    ON p.dst = d.node GROUP BY 1, 2)
        |SELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_ppb FROM it3
        |ORDER BY r DESC, node ASC LIMIT 25""".stripMargin,

    // g7: each step CTE picks, per walk, the out-neighbor minimizing
    // hash48 (the engine's graft_hash48 spelling). Every frontier CTE is
    // staged MATERIALIZED, as g1's round chain is.
    "g7_random_walk" -> walkOracleSql("rws:", "", (t, prev) =>
      s"""s$t AS MATERIALIZED (SELECT walk_id, node FROM (
         |    SELECT p.walk_id, e.dst AS node,
         |      row_number() OVER (PARTITION BY p.walk_id ORDER BY
         |        ${hash48Sql(s"'rw:' || CAST(p.walk_id AS VARCHAR) || ':$t:' || CAST(e.dst AS VARCHAR)")},
         |        e.dst) AS rn
         |    FROM $prev p JOIN edges e ON e.src = p.node)
         |  WHERE rn = 1)""".stripMargin),

    // Mirrors node2vec stage for stage: same edge derivation, start
    // designation, weight CASE (1 uniform first hop / 4 return / 1
    // triangle / 2 explore), replica expansion via generate_series, and
    // the (hash, dst) argmin. Every stage is MATERIALIZED: DuckDB's
    // estimate-blind join-order search is never handed a CTE pipeline.
    "g8_node2vec" -> walkOracleSql("n2s:", ", CAST(NULL AS BIGINT) AS prev",
      (t, prev) =>
      s"""c$t AS MATERIALIZED (
         |  SELECT DISTINCT p.walk_id, p.node AS cur, p.prev, e.dst
         |  FROM $prev p JOIN edges e ON e.src = p.node),
         |f$t AS MATERIALIZED (
         |  SELECT c.walk_id, c.cur, c.dst,
         |    CASE WHEN c.prev IS NULL THEN 1
         |         WHEN c.dst = c.prev THEN 4
         |         WHEN t.dst IS NOT NULL THEN 1
         |         ELSE 2 END AS w
         |  FROM c$t c LEFT JOIN edges t
         |    ON t.src = c.prev AND t.dst = c.dst),
         |x$t AS MATERIALIZED (
         |  SELECT walk_id, cur, dst,
         |    unnest(generate_series(0, w - 1)) AS r FROM f$t),
         |s$t AS MATERIALIZED (SELECT walk_id, node, prev FROM (
         |    SELECT x.walk_id, x.dst AS node, x.cur AS prev,
         |      row_number() OVER (PARTITION BY x.walk_id ORDER BY
         |        ${hash48Sql(s"'n2v:' || CAST(x.walk_id AS VARCHAR) || ':$t:' || CAST(x.dst AS VARCHAR) || ':' || CAST(x.r AS VARCHAR)")},
         |        x.dst) AS rn
         |    FROM x$t x)
         |  WHERE rn = 1)""".stripMargin))
}
