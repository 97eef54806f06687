package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.TextOps._

/** Deduplication operators over `documents` (+ embedding near-dup over
  * `embeddings`) — the dedup family a 100 TB training-data pipeline needs.
  *
  * Scale design (the whole point of this file):
  *  - NOTHING does an all-pairs comparison. Exact dedup is a hash groupBy;
  *    near-dup candidates come from an inverted-index join (shingle) or an
  *    LSH band join (minhash) — both shuffle on a key whose fanout is
  *    bounded, then verify only candidate pairs.
  *  - The shingle inverted index caps per-shingle document frequency
  *    (maxShingleDf, default 100): a stop-shingle that appears in half
  *    the corpus would otherwise create a quadratic pair-blowup on one
  *    key (classic skew). Dropping ultra-common shingles is standard
  *    (they carry no discriminative signal) but is a RECALL KNOB, so it
  *    is an explicit parameter — and never a silent one: the dropped
  *    stop-shingles are enumerable via [[stopShingles]], and the skew
  *    test in DedupSpec plants one and asserts both the bound and the
  *    report.
  *  - MinHash banding: 8 signatures → 4 bands × 2 rows. Pair probability
  *    1-(1-j²)⁴ — ~0.99 at j=0.8, so candidates for near-dups survive
  *    while the ~0-similarity bulk never pairs up.
  *  - Embedding near-dup restricts to a deterministic probe subset here
  *    (vec_id % 10 = 0) — the honest scale path is the LSH route in
  *    [[Similarity]]; an unrestricted exact pairwise pass is quadratic and
  *    exists only as the verification kernel on candidates.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: group by content hash, keep the smallest doc_id as
    * canonical. One shuffle on the 128-bit hash — at 100 TB this is the
    * cheapest possible spelling (no text comparison after the map side). */
  private val exact: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("canonical_id"),
           count(lit(1)).as("n_copies"))
  }

  /** Shingle sets per doc (distinct 3-gram), reused by both near-dup
    * paths. */
  private def docShingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", shingles(toks($"text")).as("sh"))
  }

  /** Eval-set decontamination: corpus docs sharing ≥ `minShared`
    * distinct shingles with any eval-set doc — the standard benchmark-
    * contamination sweep run before training (a training doc that
    * contains an eval item's n-grams inflates the benchmark). The eval
    * set is small by nature, so its postings BROADCAST: the corpus-side
    * token stream never shuffles, and candidate volume is bounded by
    * (eval postings × matching corpus postings), never corpus×corpus.
    * Demo eval set: doc_id % 50 == 0 (2% of the corpus). */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posts = shingleTokens(docShingles(spark, dir), $"doc_id", $"sh")
      .distinct() // guard 48-bit collisions, same as the ngram path
    val evalPosts = posts.filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("eval_id"), $"tok")
    sharedCounts(posts.filter($"doc_id" % 50 =!= 0)
      .join(broadcast(evalPosts), "tok"))
  }

  /** Shared shingles a contaminated doc needs with an eval doc. */
  private val MinShared = 2L

  /** (doc_id, eval_id, n_shared) of the joined (doc_id, eval_id, tok)
    * rows, kept at ≥ [[MinShared]] — the one verdict both
    * decontamination spellings emit. */
  private def sharedCounts(joined: DataFrame): DataFrame =
    joined.groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)

  /** Every shingle occurrence of `docs` as (id, tok = 48-bit shingle
    * hash): the token stream both decontamination spellings join on.
    * `id` is the doc_id column, renamed where the eval side needs it;
    * `sh` is the doc's shingle set, computed from `text` unless `docs`
    * already carries it. */
  private def shingleTokens(docs: DataFrame, id: Column,
                            sh: Column = shingles(toks(col("text")))): DataFrame = {
    val occ = docs.select(id, explode(sh).as("s0"))
    occ.select(col(occ.columns.head), hash48(col("s0")).as("tok"))
  }

  /** Scale twin of [[contamination]] for when the eval set has outgrown a
    * broadcast hash join (the build side caps out around single-digit GB)
    * but its BLOOM FILTER still fits anywhere: 100M eval shingles are a
    * ~100 MB sketch at 1% fpp.
    *
    * Shape: (1) the eval postings fold into ONE binary bloom via Spark's
    * own `BloomFilterAggregate` (partial sketches per partition, merged —
    * kilobytes move, not rows); (2) the sketch lands on the driver and is
    * inlined as a literal — the identical materialization Catalyst's
    * `InjectRuntimeFilter` performs for runtime bloom-join pruning;
    * (3) the corpus token stream is probed MAP-SIDE before any shuffle,
    * so the `distinct` + join downstream see only the ~fpp-bounded
    * survivors; (4) a plain shuffle join (deliberately NO broadcast
    * hint — the premise is the eval side no longer broadcasts) restores
    * exactness, so bloom false positives cannot reach the output and the
    * result is row-identical to [[contamination]] (same oracle SQL).
    *
    * At 100 TB the win is (3): without it every corpus (doc_id, shingle)
    * pair shuffles for the distinct/join; with it the shuffle carries
    * only tokens that might be eval tokens. */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val evalSh = shingleTokens(docs.filter($"doc_id" % 50 === 0),
        $"doc_id".as("eval_id"))
      .distinct()
      // three consumers (count, bloom aggregate, exact-verify join) —
      // materialize the eval side once instead of re-running the eval
      // scan+shingle+distinct per consumer
      .localCheckpoint(false)
    val nEval = math.max(evalSh.count(), 1L)
    val bfBytes = evalSh
      .agg(call_function("graft_bloom_agg", $"tok", lit(nEval)).as("bf"))
      .head().getAs[Array[Byte]](0)
    sharedCounts(shingleTokens(docs.filter($"doc_id" % 50 =!= 0), $"doc_id")
      .filter(call_function("graft_might_contain", lit(bfBytes), $"tok"))
      .distinct() // guard 48-bit collisions, post-probe so it's survivors-only
      .join(evalSh, "tok"))
  }

  /** Exact Jaccard on candidate pairs given per-doc shingle arrays. */
  private def jaccardOnPairs(pairs: DataFrame, sh: DataFrame): DataFrame =
    attach(pairs, sh, "doc_id", "sh", "sh_")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** `pairs(id_a, id_b, …)` with `side`'s `v` attached to both ends by
    * its `id`: as `<prefix>a` for id_a and `<prefix>b` for id_b. Pairs
    * travel as ids through candidate generation; values attach once,
    * after the distinct. */
  private def attach(pairs: DataFrame, side: DataFrame, id: String,
                     v: String, prefix: String): DataFrame =
    pairs
      .join(side.select(col(id).as("id_a"), col(v).as(s"${prefix}a")), Seq("id_a"))
      .join(side.select(col(id).as("id_b"), col(v).as(s"${prefix}b")), Seq("id_b"))

  /** Candidate pairs of rows sharing a bucket: `rows` grouped on `keys`,
    * each bucket's sorted `id` list of ≥ 2 expanded by [[orderedPairs]],
    * deduplicated across buckets → (id_a, id_b) with id_a < id_b. The one
    * candidate generator of the banded near-dup paths (minhash bands,
    * simhash block pairs, embedding sign-LSH bands). */
  private def bucketPairs(rows: DataFrame, id: String, keys: Column*): DataFrame =
    rows.groupBy(keys: _*)
      .agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** `table` with each row's component label attached as `out`: the
    * [[connectedComponents]] `lbl` of its `id`, or the id itself for a
    * row no pair touched (a singleton is its own cluster). */
  private def clusterLabels(table: DataFrame, id: String, labels: DataFrame,
                            out: String, lbl: String = "canonical_id"): DataFrame =
    table.join(labels.select(col("id").as(id), col("lbl").as(lbl)), Seq(id),
        "left_outer")
      .select(table.columns.map(col) :+ coalesce(col(lbl), col(id)).as(out): _*)

  /** Materialize an intermediate for iterative reuse. Local mode (the
    * default) uses `localCheckpoint()` — blocks live un-replicated in
    * executor storage, the right call when the executors can't
    * disappear. On a real cluster a lost executor kills a long
    * iterative run's lineage-free blocks, so callers pass
    * `reliable = true` and get `checkpoint()` into the context's
    * checkpoint dir (set by [[graft.Sessions.local]], or by
    * `spark.checkpoint.dir` on a cluster) — same values, fault-tolerant
    * materialization (both modes asserted equal in DedupSpec).
    * Intermediate snapshots are reclaimed by the context cleaner when
    * their RDDs are GC'd (`spark.cleaner.referenceTracking
    * .cleanCheckpoints`, set in [[graft.Sessions]]) — without it every
    * round of an iterative job leaves a full label-set copy in the
    * checkpoint dir. */
  private def materialize(df: DataFrame, reliable: Boolean,
                          eager: Boolean = true): DataFrame =
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)

  /** Ordered-pair expansion of a sorted, distinct id array: every
    * (ids[i], ids[j]) with i < j, as structs (id_a, id_b). Used by both
    * near-dup candidate generators — a posting list of d ids emits
    * d(d-1)/2 pairs map-side, which is exactly why callers bound d.
    * Spelled as an index-lambda transform over the array itself (not
    * sequence(0, d-2), which Spark flips into a DESCENDING sequence for
    * d < 2 and then faults in slice) — total for every input size,
    * property-checked in DedupSpec. */
  private[llm] def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)),
        b => struct(a.as("id_a"), b.as("id_b")))))

  /** Diagnostic companion to [[ngramJaccard]]: the stop-shingles its df
    * cap drops, with their document frequency AND the shingle text (the
    * 48-bit hash alone is not invertible — an audit that can't name the
    * dropped shingle is no audit; min() not first(): first() over an
    * unordered group is nondeterministic, which would break the oracle).
    * The cap is a recall knob; this makes it auditable instead of
    * silent. Declared as `dedup_stop_shingles` at a diagnostic df > 3
    * (the production default 100 drops nothing at test SFs). */
  def stopShingles(spark: SparkSession, dir: String,
                   maxShingleDf: Long = 100L): DataFrame = {
    import spark.implicits._
    docShingles(spark, dir)
      .select($"doc_id", explode($"sh").as("tok0"))
      .select($"doc_id", $"tok0", hash48($"tok0").as("tok"))
      .groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"), min($"tok0").as("shingle"))
      .filter($"df" > maxShingleDf)
      .select($"tok", $"shingle", $"df")
  }

  /** N-gram Jaccard near-dup via shingle inverted index:
    * explode shingles → self-join on shingle (the inverted index) →
    * per-pair intersection counts → Jaccard ≥ threshold.
    * maxShingleDf drops stop-shingles before the join (skew guard,
    * finite by default — see [[stopShingles]] for the audit path). */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.8,
                   maxShingleDf: Long = 100L): DataFrame = {
    import spark.implicits._
    countPairs(sizedPostings(spark, dir, maxShingleDf)
        .select(explode(orderedPairs($"ids")).as("p")))
      .withColumn("jaccard", pairJaccard)
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Shingle posting lists, the one build behind [[ngramJaccard]],
    * [[containment]] and [[ngramJaccardIncremental]]: (tok, ids) with
    * ids the sorted struct(doc_id, n) entries of every doc holding the
    * 48-bit shingle hash tok, n being the doc's shingle count, kept when
    * 2 ≤ |ids| ≤ maxShingleDf.
    *
    * Posting lists instead of an inverted-index self-join: the postings
    * group once on the shingle hash, each list's ordered pairs are
    * emitted map-side, and pairs are counted — one grouping + one
    * pair-count shuffle vs. shuffle-join + pair-count (measured ~2× on
    * sf0.1). The df cap bounds the per-list pair blowup (skew guard): a
    * shingle in d docs emits d(d-1)/2 pairs. array_distinct guards the
    * rare case of two distinct shingles of ONE doc colliding on the
    * 48-bit hash — without it the expansion could emit a self-pair
    * (id_a == id_b).
    *
    * The entry CARRIES n so the Jaccard/containment denominator rides the
    * postings shuffle (8 bytes/entry) and is at hand the moment a pair is
    * counted; joining the pair table to a (doc_id, n) side instead costs
    * two more document scans, each re-tokenizing and re-shingling the
    * table. Struct order (doc_id first) keeps sort_array/least/greatest
    * semantics identical to the plain-id spelling, and n is a function
    * of doc_id, so grouping on (id, n) pairs cannot merge or split any
    * group. */
  private def sizedPostings(spark: SparkSession, dir: String,
                            maxShingleDf: Long): DataFrame = {
    import spark.implicits._
    docShingles(spark, dir)
      .select($"doc_id", size($"sh").as("n"), explode($"sh").as("tok0"))
      .select(struct($"doc_id", $"n").as("dn"), hash48($"tok0").as("tok"))
      .groupBy($"tok").agg(sort_array(array_distinct(collect_list($"dn"))).as("ids"))
      .filter(size($"ids").between(2, maxShingleDf))
  }

  /** Shared-shingle count per candidate pair: `pairs` holds one row per
    * (pair, shared shingle) as p = struct(id_a, id_b) of [[sizedPostings]]
    * entries → (id_a, n_a, id_b, n_b, inter). */
  private def countPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("p.id_a.doc_id").as("id_a"), col("p.id_a.n").as("n_a"),
        col("p.id_b.doc_id").as("id_b"), col("p.id_b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))

  /** Jaccard of a [[countPairs]] row: inter / |a ∪ b|. */
  private def pairJaccard: Column =
    col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))

  /** Shingle CONTAINMENT — the doc-in-doc detector Jaccard misses: a
    * short doc quoted whole inside a long one has inter ≈ |small| but
    * Jaccard ≈ |small|/|large| → arbitrarily low. Containment scores
    * inter/|smaller| so the quote/wrapper case hits ~1.0 regardless of
    * the size ratio (the asymmetric measure used for extraction and
    * quote detection in corpus dedup). Same posting-list machinery,
    * skew guard, and scale shape as [[ngramJaccard]] — one grouping +
    * one pair-count shuffle, per-list pair volume bounded by the df
    * cap; Jaccard is emitted next to it so the divergence is visible
    * per pair. `contained_id` names the smaller side (ties → id_a). */
  def containment(spark: SparkSession, dir: String,
                  threshold: Double = 0.8,
                  maxShingleDf: Long = 100L): DataFrame = {
    import spark.implicits._
    countPairs(sizedPostings(spark, dir, maxShingleDf)
        .select(explode(orderedPairs($"ids")).as("p")))
      .withColumn("containment",
        $"inter".cast("double") / least($"n_a", $"n_b"))
      .filter($"containment" >= threshold)
      .select($"id_a", $"id_b",
        when($"n_a" <= $"n_b", $"id_a").otherwise($"id_b").as("contained_id"),
        $"inter", $"containment", pairJaccard.as("jaccard"))
  }

  /** MinHash + LSH banding near-dup: signatures (TextOps.minhashSig) →
    * 4 bands of 2 rows → band-bucket posting lists → ordered-pair
    * candidates → exact-Jaccard verification ≥ threshold. All
    * md5-derived, so the ENTIRE LSH path (not just the verify) is
    * oracle-checkable.
    *
    * Shape notes:
    *  - The signature subtree is computed ONCE: bands come from a single
    *    explode over the sig table, not a 4-way union self-joined on
    *    band equality (that spelling recomputes the aggregation 8× —
    *    4 bands × 2 join sides — and cost 10.9 s at sf0.1).
    *  - Docs with <3 tokens have the empty-set signature (2^48 in every
    *    slot); left in, they ALL share every band bucket — a quadratic
    *    blowup among short docs violating this file's no-all-pairs
    *    contract, and their 0/0 Jaccard diverges between engines (Spark
    *    Divide → NULL, DuckDB → NaN). They are excluded up front, on
    *    both the Spark and the oracle side: an empty shingle set has no
    *    meaningful Jaccard neighbor. */
  def minhashDedup(spark: SparkSession, dir: String,
                   threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val sh = docShingles(spark, dir)
    val sig = minhashSigTable(Tables.load(spark, dir, "documents"))
      .filter($"s0" =!= lit(1L << 48)) // empty shingle set → identity sig
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"), col(s"s${2 * b}").as("v1"),
        col(s"s${2 * b + 1}").as("v2"))
    }: _*)
    val cand = bucketPairs(sig.select($"doc_id", explode(bandStructs).as("bd")),
      "doc_id", $"bd.band", $"bd.v1", $"bd.v2")
    jaccardOnPairs(cand, sh).filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup: pairs within Hamming distance maxHamming of the
    * 48-bit SimHash sketch. Candidates by PIGEONHOLE banding over BLOCK
    * PAIRS (multi-index, HmSearch-style): split the 48 bits into
    * maxHamming+2 blocks (5 blocks of 10/10/10/9/9 bits for the default
    * 3) and use every C(blocks, 2) pair of blocks as one band key
    * (10 bands of 18-20 bits). ≤ maxHamming differing bits dirty at
    * most maxHamming blocks, leaving ≥ 2 clean blocks — so SOME pair of
    * clean blocks agrees exactly and recall is guaranteed (unlike
    * MinHash banding, which is probabilistic). vs single-block
    * banding (maxHamming+1 bands of 12 bits): output is
    * IDENTICAL — both schemes have guaranteed recall and the same
    * hamming verify — but random (non-near-dup) band collisions have a
    * birthday floor of n²/2^bits per band, and the 10× gate measured
    * the 12-bit floor going quadratic (×100 collisions on 10× docs,
    * wall ×12). Pair keys push that floor from 2¹² to ~2¹⁹ (measured
    * ~×40 fewer candidates at 10×) at the price of 10 posting rows per
    * doc instead of 4 — shuffle rows are (band, key, id), so the wider
    * layout costs ~2.5× on a map-side-combined shuffle while the
    * candidate join drops two orders of magnitude. The DuckDB oracle
    * deliberately KEEPS the 4 × 12 single-block spelling: different
    * candidate generation, same guaranteed output — a stronger
    * equivalence check than mirroring the banding. One posexplode +
    * posting lists per band bucket, verify = bit_count(xor) on the
    * candidate pairs — never all-pairs. */
  def simhashDedup(spark: SparkSession, dir: String,
                   maxHamming: Int = 3,
                   reliable: Boolean = false): DataFrame = {
    import spark.implicits._
    val nBlocks = maxHamming + 2
    val base = TextOps.SimHashBits / nBlocks
    val rem = TextOps.SimHashBits % nBlocks
    // widths: first `rem` blocks get base+1 bits; offsets cumulative
    val widths = (0 until nBlocks).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def block(b: Int): Column =
      shiftright($"simhash", offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    // (doc_id, simhash) is consumed three times (band build + both
    // verify sides); materialize the 2-column sketch once instead of
    // re-running the aggregation per consumer (see [[materialize]] for
    // the local-vs-reliable choice).
    val sim = materialize(
      simhashTable(Tables.load(spark, dir, "documents")), reliable)
    val blockPairs = for {
      a <- 0 until nBlocks; b <- (a + 1) until nBlocks
    } yield (a, b)
    val bandArr = array(blockPairs.map { case (a, b) =>
      shiftleft(block(a), widths(b)) + block(b)
    }: _*)
    val cand = bucketPairs(sim.select($"doc_id", posexplode(bandArr))
        .select($"doc_id", $"pos".as("band"), $"col".as("key")),
      "doc_id", $"band", $"key")
    attach(cand, sim, "doc_id", "simhash", "sim_")
      .withColumn("hamming", bit_count($"sim_a".bitwiseXOR($"sim_b")))
      .filter($"hamming" <= maxHamming)
      .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
  }

  /** Near-dup CLUSTERS: pairs → connected components → every document's
    * canonical id (min doc_id of its component; unpaired docs map to
    * themselves). The step real dedup pipelines need after pair
    * generation — pairwise thresholds alone don't give "keep one copy
    * per group" because near-dup is not transitive.
    *
    * Spark shape: iterative min-label propagation WITH pointer jumping
    * over the symmetric edge list — each round (a) takes the min of the
    * neighbors' labels, then (b) path-halves (label ← label's label),
    * labels localCheckpoint'ed so lineage doesn't grow with iterations.
    * Neighbor-min alone needs O(component diameter) rounds — a chain of
    * d docs takes d rounds, silently wrong past any cap; the jump step
    * makes label paths collapse geometrically, so convergence is
    * O(log n) rounds for ANY component shape (the standard distributed
    * CC recipe — Hash-to-Min / pointer-doubling family). At cluster
    * scale every round is two bounded shuffles on (id, lbl) pairs. */
  /** ONE round of the CC loop, lazy (materialization is the caller's):
    * neighbor-min propagation followed by a pointer jump. Extracted so
    * PlanShapeSpec can pin the per-round physical plan — the loop's cost
    * is (this plan) × O(log n) rounds, so a stray shuffle here multiplies.
    * Labels are node ids, so the label's own label is defined; the jump
    * halves label-path lengths, giving O(log n) convergence for ANY
    * component shape. */
  private[graft] def ccRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val nbrMin = edges
      .join(labels.select($"id".as("src"), $"lbl".as("src_lbl")), Seq("src"))
      .groupBy($"dst").agg(min($"src_lbl").as("nbr_min"))
      .select($"dst".as("id"), $"nbr_min")
    val propagated = labels.join(nbrMin, Seq("id"), "left_outer")
      .select($"id", least($"lbl", coalesce($"nbr_min", $"lbl")).as("lbl"))
    propagated
      .join(propagated.select($"id".as("lbl"), $"lbl".as("lbl2")),
        Seq("lbl"), "left_outer")
      .select($"id", least($"lbl", coalesce($"lbl2", $"lbl")).as("lbl"))
  }

  /** Connected components over an UNDIRECTED pair list (columns id_a,
    * id_b) → (id, lbl) with lbl = min node id of the component. Public
    * composition point: any pair source clusters the same way —
    * [[ngramJaccard]] (the declared query), [[minhashDedup]],
    * [[simhashDedup]], [[embeddingNearDupLsh]]. Only ids appearing in
    * `pairs` are labeled; callers left-join and coalesce for singletons.
    * Verified against a driver-side union-find on random graphs and a
    * planted long chain (DedupSpec). */
  def connectedComponents(pairs0: DataFrame,
                          maxRounds: Int = 25,
                          reliable: Boolean = false): DataFrame = {
    import pairs0.sparkSession.implicits._
    def mat(df: DataFrame): DataFrame = materialize(df, reliable)
    // checkpoint the pairs BEFORE symmetrizing: a union of two selects
    // over the raw plan would materialize the whole pair-generation
    // subtree twice (ReuseExchange saves the shuffles, not the joins).
    val pairs = mat(pairs0.select($"id_a", $"id_b"))
    val edges = mat(pairs.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(pairs.select($"id_b".as("src"), $"id_a".as("dst"))))
    // Convergence WITHOUT a per-round join: min-propagation is monotone
    // (least() means no id's label ever increases, and the id set is
    // fixed), so sum(lbl) strictly decreases until the fixpoint —
    // sum-unchanged ⟺ every label unchanged. decimal(38,0) because at
    // corpus scale sum(doc_id) overflows a long (1e12 ids × 1e12 max id).
    // With eager=false materialization the sum action IS the job that
    // computes and checkpoints the round's labels: exactly ONE Spark job
    // per round (was two — checkpoint + a join-vs-old-labels count()).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum($"lbl".cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d // null ⟺ no edges
    }
    var labels = mat(edges.select($"src".as("id")).distinct()
      .withColumn("lbl", $"id"))
    var lblSum = labelSum(labels)
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val next = materialize(ccRound(edges, labels), reliable,
        eager = false)
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(lblSum) != 0
      lblSum = nextSum
      labels = next
      round += 1
    }
    // pointer jumping converges in O(log n) rounds, so hitting the cap
    // means something is genuinely pathological — never emit split
    // components as if they were final.
    if (changed)
      throw new IllegalStateException(s"connected components not converged " +
        s"after $maxRounds rounds (label sum still decreasing)")
    // one line per run, not per round: the operational signal (and the
    // scale-probe's datum) is rounds-to-converge vs corpus size.
    System.err.println(s"[dedup_clusters] converged in $round rounds")
    labels
  }

  def nearDupClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.8,
                      reliable: Boolean = false): DataFrame =
    clusterLabels(Tables.load(spark, dir, "documents").select("doc_id"),
      "doc_id", connectedComponents(ngramJaccard(spark, dir, threshold),
        reliable = reliable), "canonical_id")

  /** Cluster canonicalization — the KEEP decision that turns near-dup
    * clusters into a deduplicated corpus: one row per cluster naming
    * the surviving document (the LONGEST member; ties → larger doc_id
    * — "keep the most complete copy", the usual corpus-dedup policy,
    * where [[nearDupClusters]]' min-id canonical is just a label) and
    * the member count, singletons included, so the output IS the keep
    * list. Scale shape: on top of the CC labels this adds exactly one
    * cluster-keyed aggregate — max over a (n_chars, doc_id) struct is
    * an ordinary partial-aggregable max (struct ordering is
    * lexicographic), so there is no window and no per-cluster sort;
    * the oracle spells the same pick as ROW_NUMBER over the cluster,
    * an independent plan. */
  def canonicalKeep(spark: SparkSession, dir: String,
                    threshold: Double = 0.8,
                    reliable: Boolean = false): DataFrame = {
    import spark.implicits._
    clusterLabels(Tables.load(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", connectedComponents(ngramJaccard(spark, dir, threshold),
          reliable = reliable), "cluster_id", lbl = "lbl")
      .groupBy($"cluster_id")
      .agg(max(struct($"n_chars", $"doc_id")).as("k"),
        count(lit(1)).as("n_members"))
      .select($"cluster_id", $"k.doc_id".as("keep_doc_id"),
        $"k.n_chars".as("keep_chars"), $"n_members")
  }

  /** [[connectedComponents]] over the SIMHASH pair graph — the declared
    * demonstration that clustering composes with any pair source (the
    * guaranteed-recall hamming graph here vs. ngram Jaccard in
    * [[nearDupClusters]]); same canonical-id contract, same recursive-CTE
    * oracle shape. */
  def simhashClusters(spark: SparkSession, dir: String,
                      reliable: Boolean = false): DataFrame =
    clusterLabels(Tables.load(spark, dir, "documents").select("doc_id"),
      "doc_id", connectedComponents(simhashDedup(spark, dir, reliable = reliable),
        reliable = reliable), "canonical_id")

  /** Incremental near-dup: dedupe a NEW ingest batch against itself AND
    * the existing corpus WITHOUT re-pairing the corpus — the production
    * shape of dedup at 100 TB, where the corpus is static and a daily
    * batch arrives. Per posting list the candidate volume is
    * |old|·|new| + C(|new|, 2) instead of C(df, 2): for a 1% daily batch
    * that is ~50× fewer pairs under the same df cap, and corpus-only
    * pairs (the quadratic bulk) are never generated at all. `isNew` is
    * any deterministic doc predicate (ingest-date partition, id range);
    * the declared query uses doc_id % 10 = 0 so the batch fraction is
    * scale-invariant across test sfs. */
  def ngramJaccardIncremental(spark: SparkSession, dir: String,
                              isNew: Column => Column,
                              threshold: Double = 0.8,
                              maxShingleDf: Long = 100L): DataFrame = {
    import spark.implicits._
    // df (the cap) stays corpus-wide — the skew guard must see the true
    // list size, not the batch's slice of it. The predicate reads the
    // posting struct's doc_id, and least/greatest order structs by their
    // first field (= doc_id, n being functional on it), so pair identity
    // and ordering are those of plain-id postings.
    val posts = sizedPostings(spark, dir, maxShingleDf)
      .withColumn("news", filter($"ids", x => isNew(x.getField("doc_id"))))
      .filter(size($"news") >= 1)
      .withColumn("olds", filter($"ids", x => !isNew(x.getField("doc_id"))))
    // old×new cross pairs (ordered via least/greatest — the batch is not
    // an id range in general) + within-batch ordered pairs
    val crossPairs = posts.filter(size($"olds") >= 1)
      .select(explode(flatten(transform($"olds", o =>
        transform($"news", nw =>
          struct(least(o, nw).as("id_a"), greatest(o, nw).as("id_b")))))).as("p"))
    val newPairs = posts.filter(size($"news") >= 2)
      .select(explode(orderedPairs($"news")).as("p"))
    countPairs(crossPairs.unionAll(newPairs))
      .withColumn("jaccard", pairJaccard)
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** [[connectedComponents]] over the EMBEDDING-LSH pair graph — third
    * leg of the composition matrix (ngram Jaccard, simhash, embedding):
    * banded sign-LSH candidates verified at cosine ≥ threshold feed the
    * same pointer-jumping CC, canonical id per semantic near-dup group.
    * Same recursive-CTE oracle shape, nesting the fully-oracled
    * `dedup_embedding_lsh` pair statement. */
  def embeddingClusters(spark: SparkSession, dir: String,
                        reliable: Boolean = false): DataFrame =
    clusterLabels(Tables.load(spark, dir, "embeddings").select("vec_id"),
      "vec_id", connectedComponents(embeddingNearDupLsh(spark, dir),
        reliable = reliable), "canonical_id")

  /** SemDeDup — semantic dedup by CLUSTER-THEN-PRUNE (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): partition the corpus
    * with k-means, then within each cluster mark as duplicate every
    * vector that has a HIGHER-PRIORITY τ-neighbor, priority =
    * (distance-to-own-centroid asc, vec_id asc). That is exactly the
    * released implementation's rule — cluster members are ordered by
    * centroid distance and member i is dropped iff max cos(i, j<i) ≥ τ
    * regardless of whether j itself was dropped — so the op is ONE
    * semi-join, no iterative connected components (the deliberate
    * contrast with [[embeddingClusters]], which builds the full
    * near-dup graph; SemDeDup trades that global view for a single
    * bounded pass, which is why the paper runs it at web scale).
    *
    * Scale shape: k is CORPUS-ADAPTIVE ([[AnnIndex.SemTarget]] ≈ 512
    * vectors/cluster, the published configuration), so the within-
    * cluster pair stage is n·512/2 comparisons — linear in n — and the
    * cluster id is the shuffle key (k keys at n/512 rows each; the
    * kmeans objective is what keeps those buckets balanced, unlike a
    * skew-prone content key). Assignment is ONE corpus scan against
    * the broadcast centroid table with a map-side partial argmin
    * (cross-join fanout collapses to n rows before the shuffle).
    * Centroids come from the persisted [[AnnIndex]] "sem" artifact
    * (train-once-serve-many; kilobytes of driver metadata), and the
    * assignment is an exact in-plan argmin — the sim_index_update
    * rule — so the whole op replays bit-exactly from the cents
    * parquet in DuckDB: hash-checked end to end, not law-checked. */
  def semDedup(spark: SparkSession, dir: String,
               threshold: Double = 0.30): DataFrame = {
    import spark.implicits._
    val cents = AnnIndex.semCents(spark, dir)
    val e = Similarity.emb(spark, dir)
    // ‖v−c‖² spelled ‖v‖² + ‖c‖² − 2·v·c: the norms fold ONCE per
    // vector/centroid (interpreted HOF, but n + k rows, not n·k) and
    // the per-pair work is the CODEGEN'D dot — the direct (x−c)² fold
    // per pair is an interpreted lambda n·k times, measured 46.6 s vs
    // 9.6 s at sf10 (200k × 391). The oracle spells the same three
    // folds in the same order, so distances stay bit-identical.
    val sqn = (c: Column) => aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    val en = e.withColumn("vn", sqn($"v"))
    val cn = cents.withColumn("cn", sqn($"cent"))
    val asg = en.crossJoin(broadcast(cn))
      .withColumn("d", $"vn" + $"cn" - lit(2.0) * Similarity.dot($"v", $"cent"))
      .groupBy($"vec_id")
      .agg(min(struct($"d", $"list_id")).as("m")) // lex: (d asc, list asc)
      .select($"vec_id", $"m.list_id".as("list_id"), $"m.d".as("d2c"))
    // ONE assignment lineage feeds both pair sides AND the final select
    // (the trainIvfPq pinned-base rule) — unpinned, the n·k cross-join
    // aggregate re-executed per consumer (3× in the formatted plan).
    val av = asg.join(e, Seq("vec_id")).localCheckpoint(false)
    val lo = av.select($"list_id", $"vec_id".as("id_a"),
      $"d2c".as("da"), $"v".as("va"))
    val hi = av.select($"list_id", $"vec_id".as("id_b"),
      $"d2c".as("db"), $"v".as("vb"))
    val dup = lo.join(hi, Seq("list_id"))
      .filter($"db" < $"da" || ($"db" === $"da" && $"id_b" < $"id_a"))
      .filter(Similarity.dot($"va", $"vb") >= threshold)
      .select($"id_a".as("vec_id")).distinct()
    av.select($"vec_id", $"list_id".cast("long").as("list_id"))
      .join(dup.withColumn("dup", lit(true)), Seq("vec_id"), "left_outer")
      .select($"vec_id", $"list_id",
        coalesce($"dup", lit(false)).as("is_dup"))
  }

  /** Library variant: Spark ML HashingTF + MinHashLSH approxSimilarityJoin
    * (different hash family → no SQL oracle; rows-only check). Kept
    * alongside the native path to cover the `ml.feature` surface. */
  def minhashMl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = docShingles(spark, dir)
      .filter(size($"sh") > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("tf")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(sh).select($"doc_id", $"tf")
    val lsh = new MinHashLSH().setInputCol("tf").setOutputCol("mh")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, 0.4, "dist")
      .select(col("datasetA.doc_id").as("id_a"),
              col("datasetB.doc_id").as("id_b"),
              col("dist"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Embedding-cosine near-dup, exact, on a FIXED-COUNT probe set
    * (vec_id < [[Similarity.NumQueryVecs]] — the Similarity convention)
    * against the FULL corpus. This is the oracle-checkable brute twin of
    * `dedup_embedding_lsh`; the earlier fixed-FRACTION spelling
    * (vec_id % 10 = 0, probe×probe) was O((n/10)²) — still quadratic in
    * corpus size, i.e. the twin itself wouldn't survive 100×. Fixed-count
    * makes it O(K·n): K vectors broadcast into a nested-loop join over
    * one corpus scan, cost flat per corpus row at any sf. Dot product =
    * cosine (unit-norm corpus), computed as an explicit left fold in
    * DOUBLE so Spark and DuckDB agree bit-for-bit. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.30): DataFrame = {
    import spark.implicits._
    val e = Similarity.emb(spark, dir)
    val probe = e.filter($"vec_id" < Similarity.NumQueryVecs)
      .select($"vec_id".as("id_a"), $"v".as("va"))
    // probe ids are the K smallest, so id_a < id_b covers every pair
    // involving a probe exactly once (probe-probe pairs included)
    e.select($"vec_id".as("id_b"), $"v".as("vb"))
      .join(broadcast(probe), $"id_a" < $"id_b")
      .withColumn("cosine", Similarity.dot($"va", $"vb"))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** Embedding near-dup over the FULL corpus, LSH-bucketed: candidates
    * share ANY band's random-hyperplane sign bucket
    * ([[Similarity.bandBuckets]] — md5-derived, oracle-checkable), exact
    * cosine only on the distinct candidate pairs. This is the scale path
    * the probe-subset query above verifies: per-bucket join fanout is
    * (n/2^r)² per band instead of n², with bits-per-band sized to the
    * corpus ADAPTIVELY ([[Similarity.gateBits]]; a pinned r=4 measured
    * ×96 candidates on 10× data, the fixed-r failure mode; the oracle
    * follows the adaptive r via COUNT(*)-driven bit masking).
    * OR-combined bands are the recall lever (a single band loses every
    * pair one hyperplane splits; see [[Similarity.LshBands]] for the
    * recall-vs-r regime discussion). Candidate generation shuffles only
    * (band, bucket, vec_id) — vectors are attached after the distinct. */
  def embeddingNearDupLsh(spark: SparkSession, dir: String,
                          threshold: Double = 0.30,
                          bitsPerBand: Int = 0): DataFrame = {
    import spark.implicits._
    val r = if (bitsPerBand > 0) bitsPerBand else Similarity.gateBits(spark, dir)
    val cand = bucketPairs(
      Similarity.bandBuckets(spark, dir, Similarity.LshBands, r),
      "vec_id", $"band", $"bucket")
    attach(cand, Similarity.emb(spark, dir), "vec_id", "v", "v")
      .withColumn("cosine", Similarity.dot($"va", $"vb"))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** Exact SUBSTRING-duplication audit — the character-level member of
    * the dedup family (the granularity of Lee et al. 2022's exact-
    * substring dedup, whose suffix-array spelling is single-machine):
    * a 40-char window is sampled at every TOKEN BOUNDARY (position 1 or
    * any position following a space), and a sampled span is DUPLICATED
    * iff its exact 40 characters occur at a sampled position in ≥ 2
    * distinct documents. Token-boundary anchoring is the content-
    * defined-chunking idea made deterministic: window starts are a
    * function of the CONTENT, not the offset, so every copy of a run
    * anchors the same windows wherever it sits in its host document —
    * a fixed-stride sample would only catch copies whose offsets agree
    * mod the stride. Guarantee: any shared token-aligned run of ≥ 40
    * chars yields at least one identical sampled window in both copies.
    * Output is the per-document audit (sampled spans, duplicated spans)
    * that a substring-cut pass or a boilerplate report consumes.
    *
    * Scale shape: span extraction is a per-row HOF chain (anchor filter
    * over the position range, then one 48-bit hash per span — ~n_chars/
    * avg_token work per doc, the same linear budget as tokenization);
    * the duplicated-hash set is one groupBy on the span hash and the
    * membership mark re-shuffles the SAME span relation on the SAME key
    * (identical child plan → Catalyst's ReusedExchange serves the
    * second consumer from the first shuffle's files), then one doc-
    * keyed aggregate. No pair expansion anywhere: a boilerplate hash
    * shared by a million docs is one group row and a million flags,
    * never a million² join. */
  private val substringSpans: Q = (spark, dir) => {
    import spark.implicits._
    val L = 40
    val docs = Tables.load(spark, dir, "documents")
    // Anchor positions = 1 + the position after every space, computed
    // as a RUNNING OFFSET over split(" ") parts: filtering
    // sequence(1, n) with a substr(p-1, 1) probe per position instead
    // costs O(p) per probe (UTF8String.substring walks bytes to find
    // the char boundary), making anchor extraction O(n²) chars per
    // doc. The running-offset aggregate reads each token's LENGTH
    // once, but each fold step's concat(acc, array(...)) copies the
    // accumulator — O(t²) element copies in the TOKEN count: not
    // linear, a far cheaper constant than the per-char substr probe
    // and t ≪ n chars, but pathological 100k-token docs would pay
    // quadratic copies here. Split keeps
    // trailing/consecutive empties (limit = -1), so a run
    // of spaces yields exactly the same anchor per space as the probe
    // did. The window hash itself still pays one O(p) substr per
    // ANCHOR (≈ one per token) — that term is unchanged, but it was
    // ~1/6 of the old cost, not the bulk.
    val spans = docs
      .filter(length($"text") >= L)
      .withColumn("parts", split($"text", " "))
      .select($"doc_id", $"text",
        explode(filter(
          aggregate(
            slice($"parts", lit(1), size($"parts") - 1),
            array(lit(1)),
            (acc, t) => concat(acc,
              array(element_at(acc, -1) + length(t) + lit(1)))),
          p => p <= length($"text") - (L - 1))).as("p"))
      .select($"doc_id", hash48($"text".substr($"p", lit(L))).as("h"))
    // "≥ 2 distinct docs" spelled as min≠max — ONE exchange with
    // map-side partial min/max, where COUNT(DISTINCT doc_id) would
    // expand to a two-shuffle distinct aggregate
    val dupSet = spans.groupBy($"h")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx")
      .select($"h", lit(1L).as("isdup"))
    val perDoc = spans.join(dupSet, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"isdup".isNotNull, 1L).otherwise(0L)).as("n_dup"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_dup", lit(0L)).as("n_dup"))
  }

  /** dedup_sketch_eval: measured precision/recall of the banded MinHash
    * pipeline against the exact n-gram-Jaccard ground truth at the same
    * 0.8 threshold — the acceptance gate a production dedup run executes
    * on a sample BEFORE trusting sketch parameters (bands/rows, df cap)
    * at full corpus scale. The d_retrieval_eval pattern applied to
    * dedup: FN counts banding loss (a true pair no band collided on),
    * FP counts verification drift (the two spellings verify Jaccard on
    * slightly different evidence — the truth side's df-capped postings
    * vs the sketch side's full shingle sets — so the gap is itself a
    * df-cap audit, the dedup_stop_shingles question answered as one
    * number). One full-outer join of two pair tables keyed by the pair
    * — each side reuses its production query unchanged; the metric
    * aggregate is a 1-row reduce and both rates are integer ppm floors
    * (n_pred/n_true-scaled, exact at any corpus size). */
  private val sketchEval: Q = (spark, dir) => {
    import spark.implicits._
    val pred = minhashDedup(spark, dir)
      .select($"id_a", $"id_b", lit(1L).as("p"))
    val truth = ngramJaccard(spark, dir)
      .select($"id_a", $"id_b", lit(1L).as("t"))
    def ppm(num: Column, den: Column): Column =
      when(den > 0, ((num * 1000000L - pmod(num * 1000000L, den)) / den)
        .cast("long")).otherwise(0L)
    pred.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce($"p", lit(0L))).as("n_pred"),
        sum(coalesce($"t", lit(0L))).as("n_true"),
        sum(when($"p".isNotNull && $"t".isNotNull, 1L).otherwise(0L)).as("tp"))
      .select($"n_pred", $"n_true", $"tp",
        ($"n_pred" - $"tp").as("fp"), ($"n_true" - $"tp").as("fn"),
        ppm($"tp", $"n_pred").as("prec_ppm"),
        ppm($"tp", $"n_true").as("rec_ppm"))
  }

  val queries: Map[String, Q] = Map(
    "dedup_sketch_eval"   -> sketchEval,
    "dedup_substring"     -> substringSpans,
    "dedup_exact"         -> exact,
    "dedup_stop_shingles" -> ((s, d) => stopShingles(s, d, maxShingleDf = 3L)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_containment"   -> ((s, d) => containment(s, d)),
    "dedup_incremental"   -> ((s, d) =>
      ngramJaccardIncremental(s, d, isNew = _ % 10 === 0)),
    "dedup_clusters"      -> ((s, d) => nearDupClusters(s, d)),
    "dedup_canonical"     -> ((s, d) => canonicalKeep(s, d)),
    "dedup_clusters_simhash" -> ((s, d) => simhashClusters(s, d)),
    "dedup_simhash"       -> ((s, d) => simhashDedup(s, d)),
    "dedup_minhash"       -> ((s, d) => minhashDedup(s, d)),
    "dedup_minhash_ml"    -> ((s, d) => minhashMl(s, d)),
    "dedup_embedding"     -> ((s, d) => embeddingNearDup(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => embeddingNearDupLsh(s, d)),
    "dedup_clusters_embedding" -> ((s, d) => embeddingClusters(s, d)),
    "dedup_semdedup"      -> ((s, d) => semDedup(s, d)),
    "d_contamination"     -> ((s, d) => contamination(s, d)),
    "d_contamination_bloom" -> ((s, d) => contaminationBloom(s, d)))

  // ---- DuckDB oracles ----------------------------------------------

  private val shCte =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
       |s AS (SELECT doc_id, $ShinglesSql AS sh FROM t)""".stripMargin

  /** Distinct (doc_id, tok) shingle-hash postings of `s` — the oracle
    * side of [[shingleTokens]] + distinct. */
  private val invCteSql: String =
    s"""inv AS (SELECT DISTINCT doc_id, tok FROM (
       |  SELECT doc_id, unnest(list_transform(sh, s -> ${hash48Sql("s")})) AS tok FROM s))""".stripMargin

  /** The shingle pair-count chain over `s`, the oracle side of
    * [[sizedPostings]] + [[countPairs]]: `inv`, the df-capped `keep`
    * tokens, `pair(id_a, id_b, inter)` over the pairs `pairWhere` admits
    * (all when empty), and the shingle-set sizes `sz(doc_id, n)`. */
  private def shinglePairCtesSql(pairWhere: String = ""): String = {
    val where = if (pairWhere.isEmpty) "" else s"\n  WHERE $pairWhere"
    s"""$invCteSql,
       |keep AS (SELECT tok FROM inv GROUP BY tok HAVING COUNT(*) BETWEEN 2 AND 100),
       |pair AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
       |  FROM inv x JOIN keep k ON k.tok = x.tok
       |  JOIN inv y ON x.tok = y.tok AND x.doc_id < y.doc_id$where
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s)""".stripMargin
  }

  /** The pair rows of a [[shinglePairCtesSql]] chain with both ends'
    * sizes as `sa.n`/`sb.n`, and their Jaccard ([[pairJaccard]]). */
  private val pairSizesSql =
    "FROM pair JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b"
  private val jaccardSql = "CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)"

  /** The simhash pair statement, shared by the `dedup_simhash` oracle and
    * (nested as a CTE body) the `dedup_clusters_simhash` oracle. */
  private val simhashPairsSql: String = {
    val width = TextOps.SimHashBits / 4
    val mask = (1L << width) - 1
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${b * width}) & $mask AS key FROM sim"
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
       |h AS (SELECT doc_id, list_transform(w, t2 -> ${hash48Sql("t2")}) AS hs FROM t),
       |sim AS (SELECT doc_id, ${TextOps.simhashSql} AS simhash FROM h),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
       |SELECT c.id_a, c.id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM cand c JOIN sim a ON a.doc_id = c.id_a JOIN sim b ON b.doc_id = c.id_b
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  }

  /** The embedding-LSH pair statement, shared by the
    * `dedup_embedding_lsh` oracle and (nested as a CTE body) the
    * `dedup_clusters_embedding` oracle. */
  private val embeddingLshPairsSql: String = {
    val bandJoins = (0 until Similarity.LshBands).map { b =>
      s"""SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM eb x JOIN eb y ON x.b$b = y.b$b AND x.vec_id < y.vec_id""".stripMargin
    }.mkString("\n  UNION\n")
    val cosine = Similarity.dotSql("a.v", "b.v")
    s"""WITH ${Similarity.lshBandedCtesSql},
       |cand AS (
       |  $bandJoins)
       |SELECT c.id_a, c.id_b,
       |  $cosine AS cosine
       |FROM cand c JOIN e0 a ON a.vec_id = c.id_a JOIN e0 b ON b.vec_id = c.id_b
       |WHERE $cosine >= 0.30""".stripMargin
  }

  /** The recursive min-label closure CTEs (edges→reach→canon) over a
    * pair CTE named `nd` — the shared tail body of every cluster
    * oracle, labelling every node with the minimum id of its component,
    * the exact contract of the Spark pointer-jumping side; ends at
    * `canon($idCol, canonical_id)`.
    *
    * Spelled as pruned min-label propagation, NOT transitive closure:
    * the naive `reach = all (node, reachable)` materializes Σ k² rows per
    * k-node component and blew the 600 s oracle budget on the 1.06M-edge
    * sf1 embedding pair graph (SURVEY §9). Here `reach(n, l)` keeps one
    * improving label per node per iteration: the seed is each node's
    * smallest direct neighbor, the recursive term forwards `MIN(l)` to
    * neighbors that are still larger than it. The component minimum m is
    * smaller than every intermediate, so its BFS wave is never pruned and
    * strictly improves each visited node's best-known label — the
    * delta-driven recursion cannot terminate before m reaches the whole
    * component. Measured on a 256k-edge synthetic graph: 0.9 s vs 18.3 s
    * for the closure spelling, byte-identical output.
    *
    * `edges` (and each caller's `nd`) is staged MATERIALIZED: the
    * recursive term reads `edges` every iteration, and inlined it re-ran
    * the whole pair pipeline — LSH band joins plus 128 interpreted dot
    * products per vector — once per round. Measured on
    * dedup_clusters_embedding at sf0.01: 27.8 s inlined → 2.9 s
    * materialized, byte-identical output. */
  private def ccCanonCtesSql(idCol: String): String =
    s"""edges AS MATERIALIZED (
       |  SELECT id_a AS s2, id_b AS d2 FROM nd
       |  UNION SELECT id_b, id_a FROM nd),
       |reach(s2, d2) AS (
       |  SELECT s2, MIN(d2) FROM edges WHERE d2 < s2 GROUP BY s2
       |  UNION
       |  SELECT e.d2, MIN(r.d2) FROM reach r
       |  JOIN edges e ON e.s2 = r.s2 AND r.d2 < e.d2 GROUP BY e.d2),
       |canon AS (
       |  SELECT s2 AS $idCol, MIN(d2) AS canonical_id
       |  FROM reach GROUP BY s2)""".stripMargin

  /** Every `table` row's canonical id — its component's `canon` label,
    * or itself when isolated: the oracle side of [[clusterLabels]]. */
  private def ccLabelSql(idCol: String, table: String): String =
    s"""SELECT d.$idCol, COALESCE(c.canonical_id, d.$idCol) AS canonical_id
       |FROM $table d LEFT JOIN canon c ON c.$idCol = d.$idCol""".stripMargin

  /** ngram-Jaccard pairs + closure, ending at `canon(doc_id,
    * canonical_id)` — shared by the `dedup_clusters` and
    * `dedup_canonical` oracles so the two can never drift. */
  private lazy val ngramCcCtesSql: String =
    s"""${shCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${shinglePairCtesSql()},
       |nd AS MATERIALIZED (
       |  SELECT id_a, id_b $pairSizesSql
       |  WHERE $jaccardSql >= 0.8),
       |${ccCanonCtesSql("doc_id")}""".stripMargin

  /** Shared by `d_contamination` and `d_contamination_bloom`: the bloom
    * path's false positives are eliminated by its exact verify join, so
    * both spellings contract to the identical frame. */
  private val contaminationSql: String =
    s"""$shCte,
       |$invCteSql,
       |e AS (SELECT doc_id AS eval_id, tok FROM inv WHERE doc_id % 50 = 0),
       |c AS (SELECT doc_id, tok FROM inv WHERE doc_id % 50 <> 0)
       |SELECT c.doc_id, e.eval_id, COUNT(*) AS n_shared
       |FROM c JOIN e USING (tok)
       |GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared""".stripMargin

  /** The exact n-gram-Jaccard pair statement over the pairs `pairWhere`
    * admits — the `dedup_ngram_jaccard` oracle (all pairs, also nested
    * as the truth side of `dedup_sketch_eval`) and the
    * `dedup_incremental` one (pairs touching the new batch). */
  private def ngramPairsOracleSql(pairWhere: String = ""): String =
    s"""$shCte,
       |${shinglePairCtesSql(pairWhere)}
       |SELECT id_a, id_b,
       |       $jaccardSql AS jaccard
       |$pairSizesSql
       |WHERE $jaccardSql >= 0.8""".stripMargin

  /** The banded-MinHash pair statement — the `dedup_minhash` oracle, also
    * nested (as the prediction side) in `dedup_sketch_eval`. */
  private val minhashPairsOracleSql: String = {
    val sigCols = (0 until MinHashK)
      .map(j => s"${TextOps.minhashSigSql(j)} AS s$j").mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, s${2 * b} AS v1, s${2 * b + 1} AS v2 FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$shCte,
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM s WHERE len(sh) > 0),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.v1 = y.v1 AND x.v2 = y.v2
       |   AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |  FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d_contamination" -> contaminationSql,
    "d_contamination_bloom" -> contaminationSql,

    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_substring" ->
      s"""WITH sp0 AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(1, length(text) - 39)) AS p
         |  FROM documents WHERE length(text) >= 40),
         |sp AS (
         |  SELECT doc_id,
         |         ${hash48Sql("substr(text, CAST(p AS INT), 40)")} AS h
         |  FROM sp0
         |  WHERE p = 1 OR substr(text, CAST(p - 1 AS INT), 1) = ' '),
         |d AS (SELECT h FROM sp GROUP BY h
         |      HAVING COUNT(DISTINCT doc_id) >= 2),
         |a AS (SELECT sp.doc_id, COUNT(*) AS n_spans,
         |        CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_dup
         |      FROM sp LEFT JOIN d ON d.h = sp.h GROUP BY 1)
         |SELECT doc.doc_id,
         |       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup
         |FROM documents doc LEFT JOIN a ON a.doc_id = doc.doc_id""".stripMargin,

    "dedup_stop_shingles" ->
      s"""$shCte,
         |inv AS (SELECT doc_id, unnest(sh) AS tok0 FROM s),
         |g AS (SELECT ${hash48Sql("tok0")} AS tok,
         |             COUNT(DISTINCT doc_id) AS df, MIN(tok0) AS shingle
         |      FROM inv GROUP BY 1)
         |SELECT tok, shingle, df FROM g WHERE df > 3""".stripMargin,

    "dedup_ngram_jaccard" -> ngramPairsOracleSql(),

    // sketch quality gate: nest the two production pair oracles verbatim
    // (prediction = banded MinHash, truth = exact n-gram Jaccard) and
    // reduce their full-outer join to one integer metric row.
    "dedup_sketch_eval" ->
      s"""WITH pred AS (SELECT id_a, id_b FROM ($minhashPairsOracleSql) mp),
         |truth AS (SELECT id_a, id_b FROM (${ngramPairsOracleSql()}) tp),
         |m AS (
         |  SELECT COUNT(p.id_a) AS n_pred, COUNT(t.id_a) AS n_true,
         |         COUNT(CASE WHEN p.id_a IS NOT NULL
         |                     AND t.id_a IS NOT NULL THEN 1 END) AS tp
         |  FROM pred p FULL OUTER JOIN truth t
         |    ON p.id_a = t.id_a AND p.id_b = t.id_b)
         |SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
         |       CAST(tp AS BIGINT) AS tp,
         |       CAST(n_pred - tp AS BIGINT) AS fp,
         |       CAST(n_true - tp AS BIGINT) AS fn,
         |       CAST(CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred
         |                 ELSE 0 END AS BIGINT) AS prec_ppm,
         |       CAST(CASE WHEN n_true > 0 THEN tp * 1000000 // n_true
         |                 ELSE 0 END AS BIGINT) AS rec_ppm
         |FROM m""".stripMargin,

    "dedup_containment" ->
      s"""$shCte,
         |${shinglePairCtesSql()}
         |SELECT id_a, id_b,
         |       CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
         |       inter,
         |       CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
         |       $jaccardSql AS jaccard
         |$pairSizesSql
         |WHERE CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8""".stripMargin,

    // the full pair statement restricted to pairs touching the "new
    // batch" (doc_id % 10 = 0) — df/cap/verify identical to
    // dedup_ngram_jaccard; only corpus×corpus pairs are excluded
    "dedup_incremental" ->
      ngramPairsOracleSql("x.doc_id % 10 = 0 OR y.doc_id % 10 = 0"),

    "dedup_simhash" -> simhashPairsSql,

    "dedup_clusters_simhash" ->
      // same min-label CC shape as dedup_clusters, over the simhash
      // pair graph (the whole pairs statement nests as a CTE body)
      s"""WITH RECURSIVE nd AS MATERIALIZED ($simhashPairsSql),
         |${ccCanonCtesSql("doc_id")}
         |${ccLabelSql("doc_id", "documents")}""".stripMargin,

    // min-label CC of the ngram near-dup graph via recursive CTE;
    // canonical = min node of the component (incl. self)
    "dedup_clusters" ->
      s"""$ngramCcCtesSql
         |${ccLabelSql("doc_id", "documents")}""".stripMargin,

    "dedup_canonical" -> {
      // same closure; the final select keeps the LONGEST member per
      // cluster (ties → larger doc_id) via ROW_NUMBER — an independent
      // spelling of the Spark side's max(struct(n_chars, doc_id))
      s"""$ngramCcCtesSql,
         |lab AS (
         |  SELECT d.doc_id, d.n_chars,
         |         COALESCE(c.canonical_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id)
         |SELECT cluster_id, keep_doc_id, keep_chars, n_members FROM (
         |  SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_chars,
         |         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         |         ROW_NUMBER() OVER (PARTITION BY cluster_id
         |           ORDER BY n_chars DESC, doc_id DESC) AS rk
         |  FROM lab) WHERE rk = 1""".stripMargin
    },

    "dedup_minhash" -> minhashPairsOracleSql,

    "dedup_embedding_lsh" -> embeddingLshPairsSql,

    "dedup_clusters_embedding" ->
      // same min-label shape as the other two cluster oracles, over the
      // embedding-LSH pair graph; canonical per vec_id
      s"""WITH RECURSIVE nd AS MATERIALIZED ($embeddingLshPairsSql),
         |${ccCanonCtesSql("vec_id")}
         |${ccLabelSql("vec_id", "embeddings")}""".stripMargin,

    "dedup_embedding" -> {
      val cosine = Similarity.dotSql("a.v", "b.v")
      s"""WITH p AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id < ${Similarity.NumQueryVecs}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  $cosine AS cosine
         |FROM p a JOIN e b ON a.vec_id < b.vec_id
         |WHERE $cosine >= 0.30""".stripMargin
    },

    // SemDeDup replay from the persisted sem/cents artifact (read
    // through AnnIndex.componentSql like every store oracle).
    // Assignment is the same argmin fold the engine runs in-plan; the
    // witness join carries the priority predicate INSIDE the ON clause;
    // every CTE feeding a join is staged MATERIALIZED, so DuckDB's
    // estimate-blind CTE pipeline is never left a join order to get
    // wrong.
    "dedup_semdedup" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |ct AS MATERIALIZED (${AnnIndex.componentSql("sem", "cents", "list_id, cent", "sg")}),
         |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         |      FROM embeddings),
         |ev AS MATERIALIZED (SELECT vec_id, v,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(v, x -> x * x)), (acc, x) -> acc + x) AS vn
         |      FROM e),
         |cv AS MATERIALIZED (SELECT list_id, cent,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(cent, x -> x * x)), (acc, x) -> acc + x) AS cn
         |      FROM ct),
         |rt AS (SELECT ev.vec_id, cv.list_id,
         |        ev.vn + cv.cn - 2.0 * ${Similarity.dotSql("ev.v", "cv.cent")} AS d
         |      FROM ev, cv),
         |asg AS MATERIALIZED (SELECT vec_id, list_id, d AS d2c FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY d, list_id) AS rn FROM rt)
         |      WHERE rn = 1),
         |av AS MATERIALIZED (SELECT a.vec_id, a.list_id, a.d2c, e.v
         |      FROM asg a JOIN e ON e.vec_id = a.vec_id),
         |w AS MATERIALIZED (SELECT DISTINCT a.vec_id
         |      FROM av a JOIN av b ON b.list_id = a.list_id
         |       AND (b.d2c < a.d2c OR (b.d2c = a.d2c AND b.vec_id < a.vec_id))
         |      WHERE ${Similarity.dotSql("a.v", "b.v")} >= 0.30)
         |SELECT av.vec_id, CAST(av.list_id AS BIGINT) AS list_id,
         |       (w.vec_id IS NOT NULL) AS is_dup
         |FROM av LEFT JOIN w ON w.vec_id = av.vec_id""".stripMargin)
}
