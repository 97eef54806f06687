package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (unit-norm float[64]).
  *
  * Three tiers, in increasing scale-readiness:
  *  1. Brute-force top-k: exact, quadratic in corpus size — the
  *     verification baseline. Restricted to a fixed probe set of queries
  *     so its cost is #queries × corpus, not corpus².
  *  2. Random-hyperplane LSH (sign bits → bucket), b bands × r bits with
  *     OR-combination: a pair is a candidate if it shares ANY band's
  *     bucket — multi-band is the standard recall lever (P[candidate] =
  *     1-(1-s^r)^b for sign-agreement rate s). Hyperplane components are
  *     md5-derived, so the WHOLE path (bucketing + ranking) is
  *     oracle-checkable. Bits-per-band must scale with the corpus
  *     ([[autoBitsPerBand]]): 2^r buckets ≈ n / targetBucketSize keeps
  *     the per-bucket join fanout constant as n grows — a FIXED r is a
  *     scale-killer ((n/2^r)² per bucket). The declared queries pin
  *     (bands=8, r=4) because their DuckDB oracle is a static string;
  *     production callers pass autoBitsPerBand(n).
  *  3. IVF (inverted-file) via KMeans coarse quantizer: probe the
  *     nprobe nearest centroid lists. The industry-standard ANN layout;
  *     centroids are model output → no SQL oracle (rows-only check).
  *
  * At 100 TB: tier 1 exists only as the per-candidate kernel; tiers 2/3
  * shuffle once on bucket/centroid id (bounded fanout per key) and the
  * centroid table broadcasts.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  val TopK = 5
  val NumQueryVecs = 10 // probe set: vec_id < 10
  /** LSH band count and the r the DECLARED queries floor at. The
    * declared queries size r ADAPTIVELY from the corpus count
    * ([[autoBitsPerBand]], capped at [[MaxLshBits]]): a pinned r=4
    * measured ×96 candidates on 10× data, the "(n/2^r)² per bucket"
    * failure mode of a fixed r. The oracle stays a static string via bit-masking: it
    * computes the full [[MaxLshBits]]-bit bucket and masks to r bits,
    * where r comes from a COUNT(*) scalar subquery with integer
    * thresholds (bit-exact on both engines, no float log2 ceil edge).
    *
    * Recall at this testdata's regime: true pairs sit at cosine
    * 0.30-0.41, i.e. per-hyperplane sign-agreement p ≈ 0.60 — a band of
    * r bits matches with p^r, OR-combined over 8 bands. Growing r
    * trades recall for bounded buckets (r=4 → ~0.67 expected recall,
    * r=5 → ~0.47): that is the honest limit of sign-LSH — banding
    * retains recall cheaply only for HIGH-cosine pairs (p ≥ 0.8, e.g.
    * cosine 0.9 → p ≈ 0.86, r=9 → ~90% recall over 8 bands); at the
    * moderate-cosine end retrieval belongs to the IVF tier, whose probe
    * cost does not decay with r. A single 8-bit band would match with
    * p^8 ≈ 0.016 — near-zero recall — which is why bands stay at 8. */
  val LshBands = 8
  val LshBitsPerBand = 4
  /** Static-oracle cap on adaptive r: the oracle unrolls one hyperplane
    * CASE term per bit, so r must have a compile-time bound. 16 bits =
    * 64Ki buckets/band ≈ 4M vectors at target bucket 64 — beyond the
    * sandbox gate by ×200. Production (no SQL oracle) lifts the cap by
    * passing bitsPerBand = autoBitsPerBand(n, target, maxBits = 30). */
  val MaxLshBits = 16

  /** Size bits-per-band to the corpus: 2^r buckets ≈ n / targetBucketSize
    * keeps per-bucket candidate fanout ~targetBucketSize² regardless of
    * corpus size (≈ ceil(log2(n/target))). Floor of 4 bits avoids
    * degenerate tiny-corpus configs.
    * Integer spelling — smallest r with target·2^r ≥ n — so the DuckDB
    * mirror ([[adaptiveBitsSql]]) is threshold comparisons, immune to
    * engine-specific ceil(log2()) behavior at exact powers of two. */
  def autoBitsPerBand(corpusSize: Long, targetBucketSize: Long = 64L,
                      maxBits: Int = 30): Int = {
    var r = 4
    while (r < maxBits && corpusSize > (targetBucketSize << r)) r += 1
    r
  }

  /** DuckDB mirror of autoBitsPerBand(n, 64, MaxLshBits) as a one-row
    * CTE body; `fromSql` supplies the corpus relation to count. */
  def adaptiveBitsSql(fromSql: String = "embeddings"): String = {
    val cases = (4 until MaxLshBits)
      .map(r => s"WHEN cnt <= ${64L << r} THEN $r").mkString(" ")
    s"SELECT CASE $cases ELSE $MaxLshBits END AS r " +
      s"FROM (SELECT COUNT(*) AS cnt FROM $fromSql)"
  }

  /** Embeddings as double arrays (exact cross-engine arithmetic): the
    * (vec_id, v) frame the ANN, near-dup and SemDeDup paths all read. */
  private[llm] def emb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
  }

  /** The probe queries (vec_id < [[NumQueryVecs]]) of an [[emb]] frame,
    * as (query_id, qv). */
  private def probes(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** The rank tail every probe-query tier shares: exact cosine of each
    * (query_id, qv, vec_id, v) candidate row, then the top k per query
    * by (cosine desc, vec_id asc) — a total order, so both engines pick
    * the same k — planned as a two-phase WindowGroupLimit. */
  private def rankTopk(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cands.withColumn("cosine", dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Exact left-fold dot product (unit vectors → cosine). Backed by the
    * codegen'd [[graft.functions.DotF64]] expression — value-identical
    * to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (same summation
    * order) but stays inside whole-stage codegen instead of two
    * interpreted HOF evaluations per candidate pair. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Hyperplane g as a 64-component CONSTANT array: centered 48-bit md5
    * integers hash48("hp<g>_<d>") − 2^47, computed once in Scala and
    * interpolated as literals into both engines. Evaluating the md5
    * inside the row expression costs 2048 digests PER VECTOR at 8×4
    * planes (~12 s of the sf0.1 bench on EACH LSH query); folded
    * constants make bucketing pure multiply-add. */
  private def hpArray(g: Int): IndexedSeq[Double] =
    (0 until 64).map(d => (TextOps.hash48Jvm(s"hp${g}_$d") - (1L << 47)).toDouble)

  /** Plane-index stride between bands: bit j of band b projects on
    * plane b·PlaneStride + j, FIXED regardless of the effective r —
    * that's what lets the static oracle compute the full MaxLshBits-bit
    * bucket and mask to a data-dependent r (the low r bits of the
    * masked bucket use exactly these planes), and lets production r
    * grow past MaxLshBits without bands sharing planes. */
  val PlaneStride = 64

  /** LSH bucket id for one band: sign bits of v·hp_{band·PlaneStride+j},
    * j < r. Summation order is d = 0..63 on both engines (bit-exact
    * parity); each projection is the codegen'd dot against the constant
    * plane. */
  def lshBucket(v: Column, band: Int = 0, bitsPerBand: Int = LshBitsPerBand): Column = {
    require(bitsPerBand <= PlaneStride, s"bitsPerBand $bitsPerBand > $PlaneStride")
    val bits: Seq[Column] = (0 until bitsPerBand).map { j =>
      val proj = dot(v, typedlit(hpArray(band * PlaneStride + j)))
      when(proj > 0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** (vec_id, band, bucket) for every band — ONE scan, one posexplode;
    * the multi-band corpus layout both LSH consumers join on. */
  def bandBuckets(spark: SparkSession, dir: String,
                  bands: Int, bitsPerBand: Int): DataFrame = {
    // Buckets are projected DIRECTLY over the scan column: an
    // intermediate aliased array column captured inside the nested
    // aggregate/transform lambdas fails attribute re-mapping across
    // joins (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime) — bind
    // lambda-captured expressions to scan attributes only.
    val vd = transform(col("embedding"), x => x.cast("double"))
    val bucketArr = array((0 until bands).map(b => lshBucket(vd, b, bitsPerBand)): _*)
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(bucketArr))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Tier 1: exact top-k cosine for the probe queries against the whole
    * corpus. */
  def topkBrute(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // broadcast the tiny probe set; one pass over the corpus, no corpus²
    rankTopk(broadcast(probes(e)).crossJoin(e)
      .filter($"vec_id" =!= $"query_id"), k)
  }

  /** MMR parameters: λ = MmrLambdaNum/10, candidate pool, result size. */
  val MmrLambdaNum = 7L
  val MmrCandidates = 20
  val MmrK = 10

  /** sim_topk_mmr: MMR-DIVERSIFIED top-k (maximal marginal relevance,
    * Carbonell & Goldstein, SIGIR 1998) — the post-retrieval
    * diversification every RAG/search serving stack runs so the
    * returned set isn't k near-duplicates of the best hit. Greedy over
    * the brute top-[[MmrCandidates]] pool: each round picks
    * argmax 7·rel − 3·maxsim (λ = 0.7 in exact tenths), where maxsim
    * is the candidate's max similarity to the ALREADY-SELECTED set
    * (floored at 0 — the declared empty-set convention, which makes
    * round 1 the pure-relevance pick). Relevance and pairwise
    * similarity are quantized to integer micro ONCE (round(x·10⁶) —
    * the d_lm_score canon), so every round's argmax and the emitted
    * mmr_u are integer-exact cross-engine and the whole greedy
    * hash-checks against a 10-step unrolled DuckDB CTE chain.
    *
    * Scale shape: the candidate pool is k-sized PER QUERY (the brute
    * tier's output — at serving scale the IVF tier is the drop-in
    * pool), so the pairwise-sim table is queries × c² rows and every
    * greedy round is a bounded-partition window + two candidate-sized
    * joins — the corpus is touched only by the pool builder. The
    * inherently sequential greedy is 10 ROUNDS OF RELATIONAL OPS, not
    * a per-group collect (no driver round-trip, partition-invariant,
    * lineage truncated per round — the g1 rule). */
  def topkMmr(spark: SparkSession, dir: String,
              served: Boolean = false): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    // served=true swaps the pool builder for the persisted IVF tier
    // (sim_topk_mmr_served): the corpus is then touched only through
    // the probed inverted lists — candidate generation is posting-row
    // work, which is what makes the diversifier serve-scale at 100 TB.
    // Everything downstream (quantization, pairwise sims, the greedy)
    // is identical, so the two variants share this one body.
    val pool =
      if (served) topkIvf(spark, dir, MmrCandidates, nprobe = ServedNprobe)
      else topkBrute(spark, dir, MmrCandidates)
    val cands = pool
      .select($"query_id", $"neighbor_id".as("doc_id"),
        round($"cosine" * 1e6).cast("long").as("rel_micro"))
      .join(e.select($"vec_id".as("doc_id"), $"v"), "doc_id")
      .localCheckpoint(false) // pool reused by pair + seed
    val pair = cands.as("a").join(cands.as("b"),
        $"a.query_id" === $"b.query_id" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.query_id".as("query_id"), $"a.doc_id".as("doc_id"),
        $"b.doc_id".as("pick_doc"),
        round(dot($"a.v", $"b.v") * 1e6).cast("long").as("sim_micro"))
      .localCheckpoint(false) // queries × c² rows, reused every round
    var rem = cands.select($"query_id", $"doc_id", $"rel_micro")
      .withColumn("maxsim", lit(0L))
    val wp = Window.partitionBy($"query_id").orderBy($"mmr_u".desc, $"doc_id".asc)
    val picks = (1 to MmrK).map { t =>
      val pick = rem
        .withColumn("mmr_u", lit(MmrLambdaNum) * $"rel_micro"
          - lit(10L - MmrLambdaNum) * $"maxsim")
        .withColumn("rn", row_number().over(wp))
        .filter($"rn" === 1)
        .select($"query_id", $"doc_id", $"rel_micro", $"mmr_u",
          lit(t.toLong).as("pick"))
        .localCheckpoint(false)
      if (t < MmrK) {
        val pk = pick.select($"query_id", $"doc_id".as("pick_doc"))
        rem = rem.join(pk, Seq("query_id"))
          .filter($"doc_id" =!= $"pick_doc")
          .join(pair, Seq("query_id", "doc_id", "pick_doc"), "left_outer")
          .select($"query_id", $"doc_id", $"rel_micro",
            greatest($"maxsim", coalesce($"sim_micro", $"maxsim"))
              .as("maxsim"))
          .localCheckpoint(false) // truncate per-round lineage
      }
      pick
    }
    picks.reduce(_ unionAll _)
  }

  /** Effective bits-per-band for a declared (oracle-backed) query:
    * adaptive from the corpus count, capped so the static oracle's
    * unrolled CASE terms cover it. The count is one metadata-only
    * parquet job and is partition-invariant (DeterminismSpec law). */
  def gateBits(spark: SparkSession, dir: String): Int =
    autoBitsPerBand(Tables.load(spark, dir, "embeddings").count(),
      maxBits = MaxLshBits)

  /** Tier 2: multi-band LSH — candidates share ANY band's bucket with
    * the query (OR-combination), ranked by exact cosine. Candidate
    * generation joins only (band, bucket) keys; vectors are attached
    * after the distinct, so the shuffle carries ids, not 64 doubles.
    * bitsPerBand ≤ 0 (the declared-query default) sizes r adaptively
    * from the corpus count — see [[gateBits]]. */
  def topkLsh(spark: SparkSession, dir: String, k: Int = TopK,
              bands: Int = LshBands, bitsPerBand: Int = 0): DataFrame = {
    import spark.implicits._
    val r = if (bitsPerBand > 0) bitsPerBand else gateBits(spark, dir)
    val eb = bandBuckets(spark, dir, bands, r)
    val qb = eb.filter($"vec_id" < NumQueryVecs)
      .select($"vec_id".as("query_id"), $"band", $"bucket")
    val cand = broadcast(qb).join(eb, Seq("band", "bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct()
    val e = emb(spark, dir)
    rankTopk(cand.join(broadcast(probes(e)), Seq("query_id"))
      .join(e, Seq("vec_id")), k)
  }

  /** Neighbors kept per vector in the corpus-wide k-NN graph. */
  val KnnK = 3

  /** Corpus-wide k-NN GRAPH: every vector's top-[[KnnK]] neighbors by
    * exact cosine among its LSH candidates — the precursor artifact for
    * SemDeDup-style semantic dedup, embedding-space clustering, and
    * graph-based ANN indexes (an NSW layer is exactly this table). The
    * tier-2 query answers "neighbors of these 10 probes"; this one
    * materializes neighbors of EVERYBODY, which is why it must never
    * touch a probe×corpus or corpus² shape.
    *
    * Scale shape: candidate pairs come from the same (band, bucket)
    * equi-join the dedup/LSH family uses — adaptive r keeps per-bucket
    * fanout ~constant as the corpus grows, so candidates grow ~linearly
    * (the §9 gate's measured claim); vectors attach AFTER the distinct
    * (the pair shuffle carries ids, not 64 doubles); the final top-k is
    * a row_number window over bounded per-src candidate lists, planned
    * as two-phase WindowGroupLimit. The band-bucket table is computed
    * once (lazy localCheckpoint) and self-joined — not rebuilt per
    * side (the projections are ~2r dot products per vector: real work
    * at corpus scale). */
  def knnGraph(spark: SparkSession, dir: String, k: Int = KnnK,
               bands: Int = LshBands): DataFrame = {
    import spark.implicits._
    val r = gateBits(spark, dir)
    val eb = bandBuckets(spark, dir, bands, r).localCheckpoint(false)
    val cand = eb.select($"band", $"bucket", $"vec_id".as("src"))
      .join(eb.select($"band", $"bucket", $"vec_id".as("dst")),
        Seq("band", "bucket"))
      .filter($"src" =!= $"dst")
      .select($"src", $"dst").distinct()
    val e = emb(spark, dir)
    val scored = cand
      .join(e.select($"vec_id".as("src"), $"v".as("sv")), Seq("src"))
      .join(e.select($"vec_id".as("dst"), $"v".as("dv")), Seq("dst"))
      .withColumn("cosine", dot($"sv", $"dv"))
    val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"src".as("vec_id"), $"dst".as("neighbor_id"), $"cosine",
        $"rank".cast("long").as("rank"))
  }

  /** Probe-query vectors collected to the driver — ANN routing metadata
    * (NumQueryVecs rows, the IVF/PQ convention). */
  private def queryVecs(spark: SparkSession,
                        dir: String): Array[(Long, Array[Double])] =
    probes(emb(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Exact ‖a−b‖² in ascending-index fold order (the order both engines
    * spell, so routing distances are bit-identical to the oracle's). */
  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** nprobe nearest coarse lists per query, ties broken on list id —
    * mirrors the oracle's row_number() OVER (ORDER BY d, list_id). */
  private def route(qvs: Array[(Long, Array[Double])],
                    cents: Array[Array[Double]],
                    nprobe: Int): Seq[(Long, Int)] =
    qvs.toSeq.flatMap { case (qid, qv) =>
      cents.zipWithIndex.map { case (c, i) => (i, l2sq(qv, c)) }
        .sortBy(t => (t._2, t._1)).take(nprobe).map(t => (qid, t._1))
    }

  /** Tier 3: IVF — KMeans(16) coarse quantizer, vectors assigned to
    * centroid lists, probe the 2 nearest lists per query. The
    * centroids + inverted lists are PERSISTED index artifacts
    * ([[AnnIndex.ensureIvf]]: train once per corpus, serve many) and
    * scoring reads the store — which also makes the tier fully
    * oracle-checkable: the centroids are a pinned parquet input both
    * engines read, and routing + exact cosine re-rank is plain
    * arithmetic, although KMeans itself is engine-internal. */
  def topkIvf(spark: SparkSession, dir: String, k: Int = TopK,
              nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    val (cents, codes) = AnnIndex.ensureIvf(spark, dir)
    val probeDf = route(queryVecs(spark, dir), cents, nprobe)
      .toDF("query_id", "list_id")
    val e = emb(spark, dir)
    // probe rows broadcast onto the inverted lists (only probed lists
    // are read), candidate ids then attach their vectors by key — the
    // shuffle carries ids, not 64 doubles
    rankTopk(broadcast(probeDf.join(probes(e), "query_id"))
      .join(codes, Seq("list_id"))
      .filter($"vec_id" =!= $"query_id")
      .join(e, Seq("vec_id")), k)
  }

  /** FILTERED ANN — top-k under a metadata predicate (`label = 3`,
    * ~10% selectivity here), the feature every production vector store
    * ships next to plain top-k ("nearest docs in English", "nearest
    * products in stock") and the one naive ANN compositions get wrong
    * in one of two ways: post-filtering a plain top-k starves the
    * result (k survivors of a k-shortlist ≈ k·selectivity rows), and
    * pre-filtering by materializing the predicate's vectors re-scans
    * the corpus, forfeiting the index. The standard answer — this
    * shape — is SINGLE-STAGE filtered list scoring with OVER-PROBING:
    * route to nprobe nearest lists as usual but probe 2× the unfiltered
    * tier's lists (recall under a filter decays with selectivity; 2×
    * at 10% matches the over-probe heuristics production stores
    * document), apply the predicate to the probed lists' POSTING ROWS
    * (id-sized) before any vector is fetched, and only then attach the
    * 64-double vectors of surviving candidates for exact scoring.
    *
    * Scale shape: identical to [[topkIvf]] plus one id-keyed semi-join
    * against the predicate's id set INSIDE the probed lists — the
    * filter runs on (vec_id, list_id) rows, so the added cost is
    * posting-row-sized, the fetch stage SHRINKS by the selectivity, and
    * the corpus is still never scanned. Same persisted-index store,
    * same pinned-parquet oracle-checkability as the other serve tiers. */
  def topkFiltered(spark: SparkSession, dir: String, k: Int = TopK,
                   nprobe: Int = 4, labelVal: Int = 3): DataFrame = {
    import spark.implicits._
    val (cents, codes) = AnnIndex.ensureIvf(spark, dir)
    val probeDf = route(queryVecs(spark, dir), cents, nprobe)
      .toDF("query_id", "list_id")
    val e = emb(spark, dir)
    val keep = Tables.load(spark, dir, "embeddings")
      .filter($"label" === labelVal).select($"vec_id")
    rankTopk(broadcast(probeDf.join(probes(e), "query_id"))
      .join(codes, Seq("list_id"))
      .join(keep, Seq("vec_id"), "left_semi") // predicate on posting rows
      .filter($"vec_id" =!= $"query_id")
      .join(e, Seq("vec_id")), k) // vectors attach AFTER the filter
  }

  /** Driver-side ADC table of one (residual) query vector: per subspace
    * s, ‖q_s − c‖² for every centroid c of codebook s — the kernel shared
    * by the two PQ tiers (raw-vector PQ and residual IVF-PQ feed it
    * different q). Input is the PARQUET-LOADED codebook ([[AnnIndex]]),
    * so the table is built from the same bytes the DuckDB oracle reads,
    * in the same ascending-index fold order. */
  private def adcTable(q: Array[Double],
                       books: Array[Array[Array[Double]]]): Seq[Seq[Double]] =
    (0 until AnnIndex.M).map { s =>
      val qs = q.slice(s * AnnIndex.SubDim, (s + 1) * AnnIndex.SubDim)
      books(s).toSeq.map(l2sq(qs, _))
    }

  /** Approximate L2² of a coded candidate: Σ_s dt[s][c_s], m array
    * lookups, left-associated like the oracle's sum. */
  private def adcSum: Column =
    (0 until AnnIndex.M).map(s =>
      element_at(element_at(col("dt"), s + 1), col(s"c$s") + 1)).reduce(_ + _)

  /** The ADC-shortlist → exact-re-rank tail shared by the PQ tiers:
    * 10·k best code-distance candidates per query (two-phase
    * WindowGroupLimit), then exact cosines of JUST the shortlist
    * against raw vectors — shortlist-many dots per query, never
    * corpus-many, which is the whole economy of PQ at scale. ONE home
    * so the shortlist factor / tie-break / re-rank join can never
    * silently diverge between the tiers. ADC is a SHORTLIST stage, not
    * the final ranking (the standard ADC+refine layout): quantization
    * error makes code distances too coarse to order the head exactly. */
  private def shortlistRerank(scored: DataFrame, e: DataFrame,
                              k: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_l2sq").asc, col("vec_id").asc)
    val shortlist = scored.withColumn("adc_l2sq", adcSum)
      .withColumn("r0", row_number().over(wAdc))
      .filter(col("r0") <= k * 10)
      .select(col("query_id"), col("vec_id"))
    rankTopk(shortlist.join(e, "vec_id").join(broadcast(probes(e)), "query_id"), k)
  }

  /** Product quantization ANN — the memory-side answer at 100 TB, next
    * to the compute-side tiers (brute / LSH / IVF / kNN-graph): 64
    * float dims (256 B) compress to m=8 sub-codes of 4 bits' worth of
    * centroid id each (4 B packed), so a trillion-vector
    * corpus's codes fit where its raw vectors never will, and scoring
    * never touches a raw corpus vector again.
    *
    * TRAIN: one KMeans(k=16, fixed seed) per 8-dim subspace — the
    * codebooks are dimension-sized driver metadata, like the IVF
    * centroids. ENCODE: m model.transforms assign each vector its
    * nearest centroid per subspace — one map-side pass, no shuffle.
    * Both run once per corpus ([[AnnIndex.ensurePq]]); every invocation
    * loads the persisted index and scores. SCORE (ADC): each probe query
    * precomputes its m×16 [[adcTable]] driver-side; approximate L2² is m
    * array lookups per candidate (broadcast probe × corpus codes, the
    * sim_topk_brute shape but over 4-byte codes instead of 256-B
    * vectors), followed by an exact re-rank of the 10·k ADC shortlist
    * only ([[shortlistRerank]]).
    *
    * The pinned parquet codebooks make the whole serve path
    * oracle-checkable: DuckDB recomputes the per-query ADC tables from
    * the same codebook bytes, replays the m-lookup code-distance sum in
    * the same fold order, and re-ranks the same 10·k shortlist with the
    * same exact cosine. */
  def topkPq(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val (books, codes) = AnnIndex.ensurePq(spark, dir)
    val e = emb(spark, dir)
    // driver-side ADC tables per probe query (probe set = driver
    // metadata, the IVF convention)
    val probeDf = queryVecs(spark, dir).toSeq
      .map { case (qid, qv) => (qid, adcTable(qv, books)) }
      .toDF("query_id", "dt")
    shortlistRerank(codes.crossJoin(broadcast(probeDf))
      .filter($"vec_id" =!= $"query_id"), e, k)
  }

  /** The IVF-PQ serve path over (centroids, residual codebooks, codes) —
    * the production trillion-vector ANN layout, composing the two tiers
    * above: IVF bounds WHICH vectors are scored (nprobe coarse lists per
    * query instead of the corpus) and PQ bounds WHAT is read per
    * candidate (m sub-codes instead of the raw vector). Codes are
    * trained and assigned on RESIDUALS (v − coarse centroid), the IVFADC
    * layout of Jégou et al., "Product Quantization for Nearest Neighbor
    * Search" (TPAMI 2011), §IV: residuals concentrate near 0, so a
    * 16-entry-per-subspace book quantizes them far tighter than raw
    * vectors at equal bits ([[AnnIndex.trainIvfPq]]).
    *
    * SCORE: probe routing ([[route]]) and the per-(query, probed-list)
    * ADC tables are driver-built from the query's OWN residual against
    * that list's centroid — bounded at NumQueryVecs·nprobe·m·ncodes
    * doubles (the IVF/PQ metadata rule); candidates attach by an
    * equi-join on list_id to the broadcast probe rows — only probed
    * lists are ever touched (the IVF economy), each candidate costs m
    * array lookups (the PQ economy) — then the 10·k ADC shortlist is
    * exactly re-ranked against raw vectors, never the corpus. Shared
    * verbatim by the always-rebuild query and the cached one, so
    * build-vs-serve can never drift. */
  private def scoreIvfPq(spark: SparkSession, dir: String,
                         centArr: Array[Array[Double]],
                         books: Array[Array[Array[Double]]],
                         codes: DataFrame,
                         k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val qvs = queryVecs(spark, dir)
    val qv = qvs.toMap
    val probeDf = route(qvs, centArr, nprobe).map { case (qid, li) =>
      val q = qv(qid)
      (qid, li, adcTable(Array.tabulate(q.length)(j => q(j) - centArr(li)(j)), books))
    }.toDF("query_id", "list_id", "dt")
    shortlistRerank(codes.join(broadcast(probeDf), Seq("list_id"))
      .filter($"vec_id" =!= $"query_id"), e, k)
  }

  /** The BUILD benchmark: trains coarse + residual codebooks and encodes
    * the corpus on every invocation (exactly the production index-build
    * job), then serves through [[scoreIvfPq]]. Codebook/centroid arrays
    * are taken from the in-memory models here — this path is the honest
    * build-cost measurement and deliberately never reads the store.
    * No DuckDB oracle (two layers of engine-internal KMeans);
    * SimilaritySpec floors recall@k vs the hash-green brute twin and
    * pins re-run determinism. */
  def topkIvfPq(spark: SparkSession, dir: String, k: Int = TopK,
                nprobe: Int = 4): DataFrame = {
    val (coarse, bookModels, codes) = AnnIndex.trainIvfPq(spark, dir)
    scoreIvfPq(spark, dir,
      coarse.clusterCenters.map(_.toArray),
      bookModels.map(_.clusterCenters.map(_.toArray)).toArray,
      codes.localCheckpoint(false), k, nprobe)
  }

  /** The SERVE benchmark: loads the persisted index — training only if
    * this corpus has never been indexed — and scores. With pinned
    * parquet artifacts the whole query is replayable SQL, so unlike the
    * build query this one carries a DuckDB oracle. */
  def topkIvfPqCached(spark: SparkSession, dir: String, k: Int = TopK,
                      nprobe: Int = 4): DataFrame = {
    val (cents, books, codes) = AnnIndex.ensureIvfPq(spark, dir)
    scoreIvfPq(spark, dir, cents, books, codes, k, nprobe)
  }

  /** sim_index_update — INCREMENTAL index maintenance, the operation a
    * production ANN deployment runs daily: encode a new vector batch
    * against the PERSISTED codebooks ([[AnnIndex]]) without retraining
    * (codebooks are stable statistics of the corpus; re-fitting per
    * batch would both cost a full KMeans pass and silently re-key every
    * previously stored code). The "new batch" is hash-designated
    * (hash48("upd:"+vec_id)%10 == 0 — the o4/o5 determinism canon; a
    * real deployment feeds an arrival partition instead).
    *
    * The encode here is EXACT in-plan argmin — per (vector, subspace),
    * the code minimizing the ascending-index ‖v_s − c‖² fold, ties to
    * the lowest code — a (batch × m·ncodes) broadcast join + one
    * bounded-key window, no driver round-trip per vector and no
    * dependence on MLlib's transform internals (whose fastSquaredDistance
    * shortcut is approximate), so the whole op is oracle-replayable from
    * the same codebook parquet. Emits long format (vec_id, sub, code,
    * l2sq): 8 rows per new vector. Scale shape: map-side cross with a
    * 128-row broadcast, then a window partitioned by (vec_id, sub) —
    * batch-sized shuffle, corpus never read. */
  def indexUpdate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val books = AnnIndex.pqBooks(spark, dir) // (sub, code, cent)
    val batch = emb(spark, dir).filter(
      TextOps.hash48(concat(lit("upd:"), $"vec_id".cast("string"))) % 10 === 0)
    val d = aggregate(
      zip_with(slice($"v", $"sub" * AnnIndex.SubDim + 1, lit(AnnIndex.SubDim)),
        $"cent", (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy($"vec_id", $"sub").orderBy($"l2sq", $"code")
    batch.crossJoin(broadcast(books))
      .withColumn("l2sq", d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"sub".cast("long").as("sub"),
        $"code".cast("long").as("code"), $"l2sq")
  }

  /** sim_index_stats — inverted-list occupancy audit of the persisted
    * IVF index: per-list vector count, corpus share, and load factor
    * (n·nlist/total in ppm; 10⁶ = perfectly balanced). The index-health
    * check an ANN serving tier alarms on — a hot list degrades probe
    * latency exactly like a skewed shuffle key — and at 100 TB it reads
    * only the codes table (vec_id, list_id), never a vector. */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codes = AnnIndex.ivfCodes(spark, dir)
    val totals = codes.agg(count(lit(1)).as("total"))
    codes.groupBy($"list_id").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .select($"list_id".cast("long").as("list_id"), $"n",
        graft.util.Cols.ppm($"n", $"total").as("share_ppm"),
        graft.util.Cols.ppm($"n" * lit(AnnIndex.NList.toLong), $"total")
          .as("load_ppm"))
  }

  /** f13: per-vector array analytics via higher-order functions — norm,
    * sparsity, max, clipped mean, all computed INSIDE the array column
    * (no explode → no row blowup, no shuffle; a pure map-side op like
    * the d_* text family). aggregate/transform/filter fold left over
    * the array in both engines, and every element is cast float→double
    * (exact) before arithmetic, so the fold result is bit-identical to
    * the DuckDB list_reduce spelling; round(,6) guards the boundary. */
  private val hof: Q = (spark, dir) => {
    import spark.implicits._
    val v = transform($"embedding", x => x.cast("double"))
    val dim = size($"embedding")
    val clip = (x: org.apache.spark.sql.Column) =>
      when(x > 0.5, 0.5).when(x < -0.5, -0.5).otherwise(x)
    Tables.load(spark, dir, "embeddings").select(
      $"vec_id",
      dim.cast("long").as("dim"),
      round(sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)), 6).as("norm"),
      size(filter(v, x => abs(x) > 0.1)).cast("long").as("nnz"),
      round(array_max(v), 6).as("vmax"),
      round(aggregate(v, lit(0.0), (acc, x) => acc + clip(x)) / dim, 6)
        .as("mean_clip"))
  }

  /** f14: per-vector int8 scalar quantization — the storage op that
    * makes a 100 TB embedding corpus a 25 TB one. Each vector maps its
    * [min, max] range onto 0..255 codes; map-side only, zero shuffles.
    * The declared output is scalar audit columns (range, code checksum,
    * max reconstruction error) rather than the code arrays themselves so
    * the oracle hash stays scalar; the reconstruction-error bound
    * (≤ scale/2 by construction) is asserted in SimilaritySpec. */
  private val quant: Q = (spark, dir) => {
    import spark.implicits._
    val v = transform($"embedding", x => x.cast("double"))
    val lo = array_min(v)
    val hi = array_max(v)
    // Degenerate-range guard: a constant vector has hi == lo
    // and 0/0 is NaN in Spark but engine-dependent in DuckDB — the tiny
    // floor makes every code 0 and the error exactly 0 on BOTH sides.
    val scale = greatest((hi - lo) / lit(255.0), lit(1e-12))
    // ONE fold computes code checksum and max error together, with
    // lo/scale riding in the accumulator: interpreted HOF lambdas
    // re-evaluate every subexpression they reference PER ELEMENT, so a
    // lambda body mentioning array_min(v) would rescan the array 64×
    // per row (measured 3.6 s at sf0.1 vs 0.2 s for this spelling —
    // same trap the shingles zip_with comment documents).
    val seed = struct(lo.as("lo"), scale.as("sc"),
      lit(0L).as("sum"), lit(0.0).as("err"))
    val folded = aggregate(v, seed, (acc, x) => {
      val c = round((x - acc("lo")) / acc("sc"))
      val recon = acc("lo") + c * acc("sc")
      struct(acc("lo").as("lo"), acc("sc").as("sc"),
        (acc("sum") + c.cast("long")).as("sum"),
        greatest(acc("err"), abs(x - recon)).as("err"))
    })
    Tables.load(spark, dir, "embeddings").select(
      $"vec_id",
      round(lo, 6).as("qlo"),
      round(hi, 6).as("qhi"),
      folded.getField("sum").as("code_sum"),
      round(folded.getField("err"), 6).as("max_abs_err"))
  }

  /** sim_centroid_topk: per-LABEL centroid exemplars — for each of the
    * K labels, the top-10 corpus vectors nearest the label's centroid
    * direction (the SemDeDup/cluster-exemplar primitive, and the apply
    * shape of any "nearest class prototype" classifier). Exactness
    * without a distributed double mean: components quantize to integer
    * micro (round(x·10⁶) — the per-term canon), the centroid is the
    * per-dimension integer SUM (order-free), and the DIVISION NEVER
    * HAPPENS — cosine ranking against a fixed direction is invariant to
    * its scale, so the sum vector ranks identically to the mean vector.
    * The sum components re-enter double space exactly (≤ ~10¹² ≪ 2⁵³)
    * and the ranking dot is the left-fold [[dot]] both engines spell
    * identically. Scale shape: the 64× component explode feeds a
    * (label, dim)-keyed partial agg (dimension-sized output), the K
    * centroids broadcast onto ONE corpus pass (K dots per vector), and
    * rank ≤ 10 after row_number compiles to WindowGroupLimit — per-task
    * 10-row heaps per label, never K corpus-sized sort partitions. */
  def centroidTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val micro = Tables.load(spark, dir, "embeddings")
      .select($"label", posexplode(transform($"embedding",
        x => round(x.cast("double") * 1e6).cast("long"))))
      .toDF("label", "dim", "xm")
    val centroids = micro.groupBy($"label", $"dim").agg(sum($"xm").as("s"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"s"))),
        p => p.getField("s").cast("double")).as("cv"))
    val scored = broadcast(centroids).crossJoin(emb(spark, dir))
      .withColumn("dotc", dot($"cv", $"v"))
    val w = Window.partitionBy($"label").orderBy($"dotc".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"label", $"rank".cast("long").as("rank"), $"vec_id", $"dotc")
  }

  /** sim_recall_eval — the ANN QUALITY AUDIT: per-probe-query recall@k
    * of the served IVF tier against the exact brute answer, the number
    * every production vector platform alarms on next to the occupancy
    * stats ([[indexStats]]) — an index can be healthy by occupancy and
    * useless by recall after a distribution shift. Composes two already-
    * declared pipelines (brute = ground truth, IVF = system under test)
    * and joins their k-sets per query: hits = |ivf ∩ exact|, recall in
    * exact integer ppm ([[graft.util.Cols.ppm]]). Both tiers tie-break
    * identically (cosine desc, neighbor_id asc), so the intersection is
    * well-defined on both engines and the whole audit is hash-checked.
    * Scale shape: the brute baseline is the declared O(K·n) broadcast
    * probe (K = [[NumQueryVecs]] driver metadata — the audit runs on a
    * probe SAMPLE, never all queries); the join/agg act on K·k rows. */
  def recallEval(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val exact = topkBrute(spark, dir, k).select($"query_id", $"neighbor_id")
    val approx = topkIvf(spark, dir, k)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("hits"))
      .select($"query_id", $"hits",
        graft.util.Cols.ppm($"hits", lit(k.toLong)).as("recall_ppm"))
  }

  val queries: Map[String, Q] = Map(
    "sim_centroid_topk" -> ((s, d) => centroidTopk(s, d)),
    "sim_recall_eval" -> ((s, d) => recallEval(s, d)),
    "sim_topk_brute" -> ((s, d) => topkBrute(s, d)),
    "sim_topk_mmr"   -> ((s, d) => topkMmr(s, d)),
    "sim_topk_mmr_served" -> ((s, d) => topkMmr(s, d, served = true)),
    "sim_topk_lsh"   -> ((s, d) => topkLsh(s, d)),
    "sim_topk_ivf"   -> ((s, d) => topkIvf(s, d)),
    "sim_topk_filtered" -> ((s, d) => topkFiltered(s, d)),
    "sim_topk_pq"    -> ((s, d) => topkPq(s, d)),
    "sim_topk_ivfpq" -> ((s, d) => topkIvfPq(s, d)),
    "sim_topk_ivfpq_cached" -> ((s, d) => topkIvfPqCached(s, d)),
    "sim_index_update" -> ((s, d) => indexUpdate(s, d)),
    "sim_index_stats"  -> ((s, d) => indexStats(s, d)),
    "sim_knn_graph"  -> ((s, d) => knnGraph(s, d)),
    "f13_higher_order" -> hof,
    "f14_quantize"   -> quant)

  // ---- DuckDB oracles ----------------------------------------------

  /** The DuckDB spelling of [[dot]]: an ascending-index left fold from
    * 0.0, the summation order the Spark side keeps, so every dot product
    * an oracle computes is bit-identical to the engine's. */
  private[llm] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(list_zip($a, $b), p -> p[1] * p[2])),
       |    (acc, x) -> acc + x)""".stripMargin

  /** The SQL twin of [[rankTopk]]: the top k rows of `src(key,
    * neighbor_id, cosine)` per `key` by (cosine desc, neighbor_id asc),
    * as (key, neighbor_id, cosine, rank). A whole statement, so it ends
    * an oracle or stands as a CTE body. */
  private def topkSql(src: String, k: Int = TopK,
                      key: String = "query_id"): String =
    s"""SELECT $key, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $key
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM $src)
       |WHERE rank <= $k""".stripMargin

  /** Hyperplane constants as a DuckDB DOUBLE[] literal (exact integral
    * doubles — no parse ambiguity). */
  private def hpArraySql(g: Int): String =
    hpArray(g).map(c => s"${c.toLong}.0").mkString("[", ", ", "]::DOUBLE[]")

  /** DuckDB spelling of [[lshBucket]] for one band (global plane index
    * band·PlaneStride + j, bit weight 2^j — mirrors the Spark side
    * exactly, including the d = 0..63 summation order). */
  def bucketSql(vExpr: String, band: Int = 0,
                bitsPerBand: Int = LshBitsPerBand): String = {
    val bits = (0 until bitsPerBand).map { j =>
      s"CASE WHEN ${dotSql(vExpr, hpArraySql(band * PlaneStride + j))} > 0 " +
        s"THEN ${1L << j} ELSE 0 END"
    }
    bits.mkString("(", " + ", ")")
  }

  /** `eb` CTE body with ADAPTIVE bucket width: computes every band's
    * full MaxLshBits-bit bucket and masks to the data-dependent r from
    * the one-row `rr` CTE ([[adaptiveBitsSql]]) — bit j's plane is
    * fixed (PlaneStride indexing), so masking the wide bucket to r low
    * bits equals computing an r-bit bucket directly, which is what the
    * Spark side does. Expects `e0(vec_id, v)` and `rr(r)` CTEs in
    * scope. */
  def bandedCteSql(bands: Int): String = {
    val cols = (0 until bands)
      .map(b => s"(${bucketSql("v", b, MaxLshBits)} & ((1 << r) - 1)) AS b$b")
      .mkString(",\n  ")
    s"SELECT vec_id, v,\n  $cols\nFROM e0 CROSS JOIN rr"
  }

  /** The banded corpus every LSH oracle joins on: `e0(vec_id, v)`, the
    * adaptive `rr(r)` and `eb(vec_id, v, b0..b7)` — the oracle side of
    * [[bandBuckets]] at [[LshBands]] bands and [[gateBits]] bits. `eb` is
    * staged MATERIALIZED: each of the 8 band self-joins reads it twice,
    * and inlined every read re-ran its 128 interpreted hyperplane dots
    * per vector (sim_topk_lsh at sf0.01: 7.3 s inlined, 0.7 s staged). */
  private[llm] val lshBandedCtesSql: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |rr AS (${adaptiveBitsSql()}),
       |eb AS MATERIALIZED (${bandedCteSql(LshBands)})""".stripMargin

  // ---- ANN-store oracles: the persisted codebooks / centroids are a
  // pinned parquet input BOTH engines read (the hive sig= partition of
  // the (count, Σvec_id) signature either engine computes from the
  // embeddings table, read through [[AnnIndex.componentSql]]), which
  // turns the engine-internal KMeans tiers into replayable arithmetic:
  // routing and ADC distances are ascending-index double folds on both
  // sides, the m-lookup code-distance sum is left-associated on both
  // sides, and the shortlist/re-rank tie-breaks are total orders. Every
  // store read is staged MATERIALIZED: DuckDB's estimates behind a CTE
  // pipeline are blind, and an unstaged read left a join order to the
  // optimizer that once turned an oracle into a 30-minute cross product.

  private val m = AnnIndex.M
  private val subDim = AnnIndex.SubDim
  private val codeCols = (0 until m).map(s => s"c$s").mkString(", ")

  /** Per-subspace squared-distance fold of `qsExpr`'s slice against the
    * codebook row `b(sub, cent)` — mirrors [[adcTable]]'s (and
    * [[indexUpdate]]'s) ascending-index accumulation bit-for-bit. */
  private def adcDtSql(qsExpr: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |           list_transform(list_zip(
       |               list_slice($qsExpr, b.sub * $subDim + 1, b.sub * $subDim + $subDim),
       |               b.cent),
       |             pp -> (pp[1] - pp[2]) * (pp[1] - pp[2]))),
       |           (acc, x) -> acc + x)""".stripMargin

  /** Shared IVF-candidate scoring CTE chain, the oracle side of
    * [[route]] + the probed-list candidate join: defines `i_sc(query_id,
    * doc_id, cosine)` — exact cosines of every IVF-probed candidate
    * against its probe query, reading the SAME persisted centroid/code
    * parquet the Spark serve path reads. CTE names are i_-prefixed so
    * the fragment composes into consumer WITH-chains without
    * collisions. sim_topk_ivf and sim_recall_eval route to the plain
    * tier's 2 lists; served consumers shortlist to k = 20 (2× the plain
    * tier's k), so they over-probe 2× as well (nprobe = 4 — the
    * topkFiltered precedent): measured recall@20 vs brute on the
    * synthetic corpus is ~42% at nprobe 2 and ~63% at 4; real-corpus
    * clustering would sit far higher, but the law floors must hold on
    * THIS data. */
  val ServedNprobe = 4
  def ivfScoredCteSql(nprobe: Int = ServedNprobe): String =
    s"""i_sg AS (${AnnIndex.sigSql}),
       |i_ct AS MATERIALIZED (${AnnIndex.componentSql("ivf", "cents", "list_id, cent", "i_sg")}),
       |i_cd AS MATERIALIZED (${AnnIndex.componentSql("ivf", "codes", "vec_id, list_id", "i_sg")}),
       |i_e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |       FROM embeddings),
       |i_q AS (SELECT vec_id AS query_id, v AS qv FROM i_e
       |       WHERE vec_id < $NumQueryVecs),
       |i_rt AS (SELECT q.query_id, c.list_id,
       |         ${routeDistSql("q.qv", "c.cent")} AS d
       |       FROM i_q q, i_ct c),
       |i_pr AS (SELECT query_id, list_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY d, list_id) AS rn FROM i_rt)
       |       WHERE rn <= $nprobe),
       |i_cand AS (SELECT i_pr.query_id, i_cd.vec_id
       |         FROM i_pr JOIN i_cd ON i_cd.list_id = i_pr.list_id
       |         WHERE i_cd.vec_id <> i_pr.query_id),
       |i_sc AS (SELECT q.query_id, e.vec_id AS doc_id, ${dotSql("q.qv", "e.v")} AS cosine
       |        FROM i_cand JOIN i_q q ON q.query_id = i_cand.query_id
       |        JOIN i_e e ON e.vec_id = i_cand.vec_id)""".stripMargin

  /** The plain IVF tier's top-k over an [[ivfScoredCteSql]] chain. */
  private val ivfTopkSql: String =
    topkSql("(SELECT query_id, doc_id AS neighbor_id, cosine FROM i_sc)")

  /** Full-vector squared distance to a centroid — mirrors [[l2sq]]. */
  private def routeDistSql(vExpr: String, centExpr: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |           list_transform(list_zip($vExpr, $centExpr),
       |             p -> (p[1] - p[2]) * (p[1] - p[2]))),
       |           (acc, x) -> acc + x)""".stripMargin

  /** ADC sum via list_extract over a per-query 128-entry distance list
    * ordered by (sub, code) — [[shortlistRerank]]'s input, left-assoc
    * like the Spark reduce. Joining a `dt(query_id, sub, code, d)` CTE
    * 8 times onto the codes table instead gave DuckDB's optimizer EC≈0/1
    * estimates behind the CTE pipeline, and it picked a cross-product
    * join order for the self-joins (>32 min / 115 GB RSS at sf0.01).
    * The list spelling has zero dt joins, so there is no join order to
    * get wrong. Entry s·16 + code + 1 is the sub-s distance for `code`;
    * the 8-term + chain matches the Spark fold's sub order exactly. */
  private val nCodes = AnnIndex.NCodes
  private def adcLookupSql: String =
    (0 until m).map(s => s"dt.ds[${s * nCodes} + c.c$s + 1]").mkString(" + ")

  /** The shared shortlist → exact-re-rank SQL tail (mirrors
    * [[shortlistRerank]]): expects `sc(query_id, vec_id, adc)`, `e`, `q`
    * CTEs in scope. `sl` is staged MATERIALIZED so the re-rank join
    * starts from the realized shortlist, not a re-derivable pipeline. */
  private val rerankTailSql: String =
    s"""sl AS MATERIALIZED (SELECT query_id, vec_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc, vec_id) AS r0 FROM sc)
       |       WHERE r0 <= ${TopK * 10}),
       |sc2 AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
       |        FROM sl JOIN e ON e.vec_id = sl.vec_id
       |        JOIN q ON q.query_id = sl.query_id)
       |${topkSql("sc2")}""".stripMargin

  /** The MMR greedy as a DuckDB CTE chain, parameterized by the POOL
    * block (which must end with a `cand(query_id, doc_id, rel_micro,
    * v)` CTE): the pairwise-sim table, the maxsim fold, and the MmrK
    * unrolled pick/update step pairs are generated by this one loop
    * for both the brute-pool and served-IVF-pool variants, so the two
    * oracles can never drift in round count, λ, or tie-break. */
  private def mmrSql(poolCtes: String): String = {
    val lam = MmrLambdaNum
    val lamC = 10L - MmrLambdaNum
    val steps = (1 to MmrK).map { t =>
      val prev = if (t == 1) "r0" else s"r${t - 1}"
      val rest =
        if (t == MmrK) "" else
          s""",
             |r$t AS MATERIALIZED (
             |  SELECT r.query_id, r.doc_id, r.rel_micro,
             |    GREATEST(r.maxsim, COALESCE(pr.sim_micro, r.maxsim)) AS maxsim
             |  FROM $prev r
             |  JOIN p$t p ON p.query_id = r.query_id AND p.doc_id <> r.doc_id
             |  LEFT JOIN pair pr ON pr.query_id = r.query_id
             |    AND pr.doc_id = r.doc_id AND pr.pick_doc = p.doc_id)""".stripMargin
      s"""p$t AS MATERIALIZED (SELECT query_id, doc_id, rel_micro, mmr_u FROM (
         |  SELECT r.query_id, r.doc_id, r.rel_micro,
         |    $lam * r.rel_micro - $lamC * r.maxsim AS mmr_u,
         |    row_number() OVER (PARTITION BY r.query_id
         |      ORDER BY ($lam * r.rel_micro - $lamC * r.maxsim) DESC,
         |        r.doc_id) AS rn
         |  FROM $prev r) WHERE rn = 1)$rest""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to MmrK).map(t =>
      s"SELECT query_id, doc_id, rel_micro, mmr_u, CAST($t AS BIGINT) AS pick FROM p$t")
      .mkString("\nUNION ALL ")
    s"""WITH $poolCtes,
       |pair AS MATERIALIZED (
       |  SELECT a.query_id, a.doc_id, b.doc_id AS pick_doc,
       |    CAST(round((${dotSql("a.v", "b.v")}) * 1000000) AS BIGINT) AS sim_micro
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
       |r0 AS MATERIALIZED (SELECT query_id, doc_id, rel_micro,
       |    CAST(0 AS BIGINT) AS maxsim FROM cand),
       |$steps
       |$finalSel""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sim_index_update" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |bk AS MATERIALIZED (${AnnIndex.componentSql("pq", "books", "sub, code, cent", "sg")}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |nb AS MATERIALIZED (SELECT vec_id, v FROM e
         |      WHERE (${TextOps.hash48Sql("'upd:' || CAST(vec_id AS VARCHAR)")} % 10) = 0),
         |sc AS (SELECT nb.vec_id, b.sub, b.code, ${adcDtSql("nb.v")} AS l2sq
         |       FROM nb, bk b),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY l2sq, code) AS rn FROM sc)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
         |       l2sq
         |FROM r WHERE rn = 1""".stripMargin,

    "sim_index_stats" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |cd AS MATERIALIZED (${AnnIndex.componentSql("ivf", "codes", "vec_id, list_id", "sg")}),
         |t AS (SELECT COUNT(*) AS total FROM cd),
         |g AS (SELECT list_id, COUNT(*) AS n FROM cd GROUP BY 1)
         |SELECT CAST(list_id AS BIGINT) AS list_id, CAST(n AS BIGINT) AS n,
         |       CAST((CAST(n AS HUGEINT) * 1000000) // total AS BIGINT)
         |         AS share_ppm,
         |       CAST((CAST(n AS HUGEINT) * ${AnnIndex.NList} * 1000000) // total
         |         AS BIGINT) AS load_ppm
         |FROM g, t""".stripMargin,

    // The ADC lookup is JOIN-FREE (see adcLookupSql) and every staging
    // CTE is MATERIALIZED, so no estimate-blind join order is left.
    "sim_topk_pq" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |bk AS MATERIALIZED (${AnnIndex.componentSql("pq", "books", "sub, code, cent", "sg")}),
         |cd AS MATERIALIZED (${AnnIndex.componentSql("pq", "codes", s"vec_id, $codeCols", "sg")}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueryVecs),
         |dt AS MATERIALIZED (
         |       SELECT query_id, list(d ORDER BY sub, code) AS ds FROM (
         |         SELECT q.query_id, b.sub, b.code,
         |           ${adcDtSql("q.qv")} AS d
         |         FROM q, bk b) GROUP BY query_id),
         |sc AS MATERIALIZED (SELECT dt.query_id, c.vec_id, $adcLookupSql AS adc
         |       FROM cd c CROSS JOIN dt
         |       WHERE c.vec_id <> dt.query_id),
         |$rerankTailSql""".stripMargin,

    "sim_topk_ivf" ->
      s"""WITH ${ivfScoredCteSql(nprobe = 2)}
         |$ivfTopkSql""".stripMargin,

    // sim_topk_ivf's shape with the over-probe widened to 4 lists and
    // the label predicate applied to the posting rows before the vector
    // join — the same stage order as the Spark side.
    "sim_topk_filtered" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |ct AS MATERIALIZED (${AnnIndex.componentSql("ivf", "cents", "list_id, cent", "sg")}),
         |cd AS MATERIALIZED (${AnnIndex.componentSql("ivf", "codes", "vec_id, list_id", "sg")}),
         |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueryVecs),
         |rt AS (SELECT q.query_id, c.list_id,
         |         ${routeDistSql("q.qv", "c.cent")} AS d
         |       FROM q, ct c),
         |pr AS MATERIALIZED (SELECT query_id, list_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY d, list_id) AS rn FROM rt)
         |       WHERE rn <= 4),
         |cand AS MATERIALIZED (SELECT pr.query_id, cd.vec_id
         |         FROM pr JOIN cd ON cd.list_id = pr.list_id
         |         JOIN embeddings le ON le.vec_id = cd.vec_id
         |         WHERE cd.vec_id <> pr.query_id AND le.label = 3),
         |sc2 AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
         |        FROM cand JOIN q ON q.query_id = cand.query_id
         |        JOIN e ON e.vec_id = cand.vec_id)
         |${topkSql("sc2")}""".stripMargin,

    // Same join-free ADC + MATERIALIZED staging as sim_topk_pq. `dt`
    // carries one 128-entry residual distance list per (query, probed
    // list); `sc` is a single list_id equi-join, nothing for the
    // optimizer to misorder.
    "sim_topk_ivfpq_cached" ->
      s"""WITH sg AS (${AnnIndex.sigSql}),
         |ct AS MATERIALIZED (${AnnIndex.componentSql("ivfpq", "cents", "list_id, cent", "sg")}),
         |bk AS MATERIALIZED (${AnnIndex.componentSql("ivfpq", "books", "sub, code, cent", "sg")}),
         |cd AS MATERIALIZED (${AnnIndex.componentSql("ivfpq", "codes", s"vec_id, list_id, $codeCols", "sg")}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueryVecs),
         |rt AS (SELECT q.query_id, q.qv, c.list_id, c.cent,
         |         ${routeDistSql("q.qv", "c.cent")} AS d
         |       FROM q, ct c),
         |pr AS MATERIALIZED (SELECT query_id, list_id,
         |         list_transform(list_zip(qv, cent), p -> p[1] - p[2]) AS qres
         |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |               ORDER BY d, list_id) AS rn FROM rt)
         |       WHERE rn <= 4),
         |dt AS MATERIALIZED (
         |       SELECT query_id, list_id, list(d ORDER BY sub, code) AS ds FROM (
         |         SELECT p.query_id, p.list_id, b.sub, b.code,
         |           ${adcDtSql("p.qres")} AS d
         |         FROM pr p, bk b) GROUP BY query_id, list_id),
         |sc AS MATERIALIZED (SELECT dt.query_id, c.vec_id, $adcLookupSql AS adc
         |       FROM cd c JOIN dt ON dt.list_id = c.list_id
         |       WHERE c.vec_id <> dt.query_id),
         |$rerankTailSql""".stripMargin,

    // identical micro quantization, per-(label, dim) integer sums,
    // list(s ORDER BY dim) reassembly, and the left-fold dot
    "sim_centroid_topk" ->
      s"""WITH m AS (
         |  SELECT label, i AS dim,
         |         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
         |           AS BIGINT) AS xm
         |  FROM embeddings,
         |       unnest(generate_series(0, len(embedding) - 1)) AS u(i)),
         |c AS (SELECT label, dim, CAST(SUM(xm) AS BIGINT) AS s
         |      FROM m GROUP BY 1, 2),
         |cv AS (SELECT label,
         |              list_transform(list(s ORDER BY dim),
         |                x -> CAST(x AS DOUBLE)) AS cv
         |       FROM c GROUP BY label),
         |e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |s AS (
         |  SELECT cv.label, e.vec_id,
         |         ${dotSql("cv.cv", "e.v")} AS dotc
         |  FROM cv, e),
         |r AS (
         |  SELECT label, vec_id, dotc,
         |         ROW_NUMBER() OVER (PARTITION BY label
         |           ORDER BY dotc DESC, vec_id ASC) AS rank
         |  FROM s)
         |SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, dotc
         |FROM r WHERE rank <= 10""".stripMargin,

    "f14_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
        |        greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale FROM e),
        |c AS (SELECT vec_id, v, lo, hi, scale,
        |        list_transform(v, x -> CAST(round((x - lo) / scale) AS INT))
        |          AS codes FROM q)
        |SELECT vec_id, round(lo, 6) AS qlo, round(hi, 6) AS qhi,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(list_zip(v,
        |      list_transform(codes, cc -> lo + cc * scale)),
        |      p -> abs(p[1] - p[2]))),
        |    (a, b) -> CASE WHEN b > a THEN b ELSE a END), 6) AS max_abs_err
        |FROM c""".stripMargin,

    "f13_higher_order" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  len(embedding) AS dim FROM embeddings)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(v, x -> x * x)), (a, b) -> a + b)), 6) AS norm,
        |  CAST(len(list_filter(v, x -> abs(x) > 0.1)) AS BIGINT) AS nnz,
        |  round(list_max(v), 6) AS vmax,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(v, x -> CASE WHEN x > 0.5 THEN 0.5
        |      WHEN x < -0.5 THEN -0.5 ELSE x END)), (a, b) -> a + b)
        |    / dim, 6) AS mean_clip
        |FROM e""".stripMargin,

    "sim_topk_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueryVecs),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
         |  FROM q, e WHERE e.vec_id <> q.query_id)
         |${topkSql("scored")}""".stripMargin,

    // Mirrors topkMmr round for round: same candidate pool, the
    // same integer-micro quantization, and the greedy unrolled to
    // MmrK MATERIALIZED step pairs (pick argmax → drop picked + fold
    // maxsim) — generated by the same loop as the Spark side so the
    // two can never drift in round count or tie-break.
    "sim_topk_mmr" -> mmrSql(
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueryVecs),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS doc_id, ${dotSql("q.qv", "e.v")} AS cosine, e.v
         |  FROM q, e WHERE e.vec_id <> q.query_id),
         |cand AS MATERIALIZED (SELECT query_id, doc_id,
         |    CAST(round(cosine * 1000000) AS BIGINT) AS rel_micro, v
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY cosine DESC, doc_id) AS rk FROM scored)
         |  WHERE rk <= $MmrCandidates)""".stripMargin),

    // The SERVED twin: the pool is the persisted IVF tier's ranking
    // (same routed-candidate set + exact-cosine re-rank the
    // sim_topk_ivf oracle pins), the greedy identical — so the fused
    // output is hash-checked against the same parquet index artifacts
    // the Spark serve path reads.
    "sim_topk_mmr_served" -> mmrSql(
      s"""${ivfScoredCteSql()},
         |cand AS MATERIALIZED (SELECT query_id, doc_id,
         |    CAST(round(cosine * 1000000) AS BIGINT) AS rel_micro, v
         |  FROM (SELECT s.query_id, s.doc_id, s.cosine, e.v,
         |          row_number() OVER (PARTITION BY s.query_id
         |            ORDER BY s.cosine DESC, s.doc_id) AS rk
         |        FROM i_sc s JOIN i_e e ON e.vec_id = s.doc_id)
         |  WHERE rk <= $MmrCandidates)""".stripMargin),

    // Recall audit = the sim_topk_ivf pipeline (system under test) and
    // the sim_topk_brute pipeline (ground truth) composed in one
    // statement, hits counted per query. Both rankings are staged
    // MATERIALIZED so the hit join starts from realized k-sets.
    "sim_recall_eval" ->
      s"""WITH ${ivfScoredCteSql(nprobe = 2)},
         |ri AS MATERIALIZED ($ivfTopkSql),
         |scb AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
         |        FROM i_q q, i_e e WHERE e.vec_id <> q.query_id),
         |rb AS MATERIALIZED (${topkSql("scb")}),
         |h AS (SELECT rb.query_id,
         |        CASE WHEN ri.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |      FROM rb LEFT JOIN ri ON ri.query_id = rb.query_id
         |        AND ri.neighbor_id = rb.neighbor_id)
         |SELECT query_id, CAST(sum(hit) AS BIGINT) AS hits,
         |       CAST(sum(hit) * 1000000 // $TopK AS BIGINT) AS recall_ppm
         |FROM h GROUP BY query_id""".stripMargin,

    "sim_knn_graph" -> {
      val bandJoins = (0 until LshBands).map { b =>
        s"""SELECT qb.vec_id AS src, eb.vec_id AS dst
           |  FROM eb qb JOIN eb ON qb.b$b = eb.b$b
           |  WHERE eb.vec_id <> qb.vec_id""".stripMargin
      }.mkString("\n  UNION\n")
      s"""WITH $lshBandedCtesSql,
         |cand AS (
         |  $bandJoins),
         |scored AS (
         |  SELECT c.src AS vec_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
         |  FROM cand c
         |  JOIN (SELECT vec_id, v AS qv FROM e0) q ON q.vec_id = c.src
         |  JOIN e0 e ON e.vec_id = c.dst)
         |${topkSql("scored", KnnK, key = "vec_id")}""".stripMargin
    },

    "sim_topk_lsh" -> {
      val bandJoins = (0 until LshBands).map { b =>
        s"""SELECT qb.vec_id AS query_id, eb.vec_id
           |  FROM eb qb JOIN eb ON qb.b$b = eb.b$b
           |  WHERE qb.vec_id < $NumQueryVecs AND eb.vec_id <> qb.vec_id""".stripMargin
      }.mkString("\n  UNION\n")
      s"""WITH $lshBandedCtesSql,
         |cand AS (
         |  $bandJoins),
         |scored AS (
         |  SELECT c.query_id, e.vec_id AS neighbor_id, ${dotSql("q.qv", "e.v")} AS cosine
         |  FROM cand c
         |  JOIN (SELECT vec_id, v AS qv FROM e0) q ON q.vec_id = c.query_id
         |  JOIN e0 e ON e.vec_id = c.vec_id)
         |${topkSql("scored")}""".stripMargin
    })
}
