package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table: token/length/quality stats, language-ID
  * heuristic, document fingerprinting (rolling hash), SimHash and MinHash
  * sketches.
  *
  * Design rules:
  *  - Everything is a native Column expression (array HOFs — transform/
  *    aggregate/filter) — no UDFs, no explode unless a join needs it, so
  *    per-doc sketches stay inside whole-stage codegen and need NO shuffle.
  *  - Every hash is derived from md5 (available bit-identically in DuckDB),
  *    so even the sketches are exact-oracle-checkable: a 48-bit integer is
  *    taken from the first 12 hex chars of md5.
  *  - At 100 TB: these are embarrassingly parallel map-side ops; the only
  *    shuffles in this file's consumers are the dedup pair-joins in
  *    [[Dedup]], which are bucketed by shingle/band — never all-pairs.
  */
object TextOps {

  /** 2^48 modulus for rolling hashes. */
  val M48: Long = 281474976710656L

  /** Number of MinHash permutations. The family is ONE md5 per shingle
    * (hash48) composed with k fixed odd 48-bit multipliers:
    * slot_j = (h · A_j) mod 2^48 — multiplicative hashing over an
    * already-uniform md5 base. Odd A_j makes each map a bijection on
    * Z_2^48, and the 64-bit wrap (2^48 | 2^64) keeps Spark's Long
    * arithmetic exact; DuckDB mirrors it with a HUGEINT product mod
    * 2^48, so the family stays bit-identical across engines at 1/8 the
    * digest cost of the round-2 salted-md5 family (8 md5s per shingle —
    * measured 8.5 s of the sf0.1 bench on d_minhash_sig alone).
    *
    * History note: an EARLier draft used (a·h+b) mod p with small a; a·h
    * never exceeded p, so those "permutations" were monotone in h and
    * perfectly correlated — every slot returned the same argmin shingle.
    * The wrap is what breaks monotonicity: A_j are full 48-bit odd
    * constants, so products overflow 2^48 on essentially every input.
    * The planted-near-dup tests (DedupSpec) guard the family's slot
    * independence empirically. */
  val MinHashK: Int = 8

  /** JVM-side hash48 (same value as the [[hash48]] column / DuckDB
    * spelling): first 6 md5 bytes big-endian. THE single JVM definition
    * of the 48-bit hash — MinHashAgg and the LSH constant tables both
    * call it, so oracle parity hinges on exactly one implementation. */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hash48Jvm(s: String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** The k odd multipliers, themselves md5-derived (hash48("mhA<j>")|1)
    * — fixed constants interpolated into both engines' expressions. */
  val MinHashA: IndexedSeq[Long] =
    (0 until MinHashK).map(j => hash48Jvm(s"mhA$j") | 1L)

  val SimHashBits: Int = 48

  /** Stopword set for quality stats / lang-id (tiny on purpose —
    * deterministic and oracle-mirrored). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  // ---- building blocks (Spark side) --------------------------------

  /** Whitespace tokens of lower-cased text. */
  def toks(text: Column): Column = split(lower(text), "\\s+")

  /** 48-bit integer hash of a string via md5 — exists identically in
    * DuckDB as CAST('0x' || substr(md5(s),1,12) AS BIGINT). Backed by
    * the codegen'd [[graft.functions.Hash48]] expression (registered in
    * GraftSparkExtensions); value-equal to
    * `conv(substring(md5(s),1,12),16,10)`. */
  def hash48(s: Column): Column =
    call_function("graft_hash48", s)

  /** The leakage-safe 80/10/10 train/val/test split of a GROUP key: a
    * pure function of hash48(key), so all rows of a group share one
    * split, stable across reruns, re-ingests and partition layouts
    * (o5 by user, pipe_corpus_prep by document). */
  def hashSplit(key: Column): Column = {
    val pct = hash48(key.cast("string")) % 100
    when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
  }

  /** Distinct token 3-gram shingles (empty array for <3 tokens).
    *
    * Spelled as zip_with over the token array and its shifted slices —
    * NOT transform(sequence, i => element_at(toksCol, i+k)): HOF lambdas
    * are interpreted (CodegenFallback, no subexpression elimination), so
    * an element_at over a non-attribute toksCol re-evaluates the regex
    * split PER ELEMENT ACCESS — measured 8 s of the sf0.1 bench on the
    * minhash signature alone. zip_with's array arguments are evaluated
    * once per row by construction. Trailing zip padding (nulls) is
    * filtered; shingle strings, order, and distinctness are identical
    * to the old spelling and to the DuckDB oracle. */
  def shingles(toksCol: Column): Column = {
    val pair = zip_with(toksCol, slice(toksCol, lit(2), size(toksCol)),
      (a, b) => concat(a, lit(" "), b))
    val tri = zip_with(pair, slice(toksCol, lit(3), size(toksCol)),
      (ab, c) => concat(ab, lit(" "), c))
    array_distinct(filter(tri, x => x.isNotNull))
  }

  /** Rolling polynomial fingerprint over token hashes:
    * h_i = (h_{i-1} * 31 + hash48(tok_i)) mod 2^48 — an order-sensitive
    * document fingerprint (vs md5 of the full text, order+content). */
  def rollingFingerprint(toksCol: Column): Column =
    aggregate(
      transform(toksCol, t => hash48(t)),
      lit(0L),
      (h, x) => (h * 31 + x) % M48)

  /** SimHash over token hashes: per bit, sum +1/-1 across tokens; bit set
    * iff the sum is positive. One pass per bit over the in-row array —
    * no shuffle, fully codegen. */
  def simhash(toksCol: Column): Column = {
    val hashes = transform(toksCol, t => hash48(t))
    val bitCols: Seq[Column] = (0 until SimHashBits).map { i =>
      val vote = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i) % 2 === 1, 1).otherwise(-1))
      when(vote > 0, lit(1L << i)).otherwise(0L)
    }
    bitCols.reduce(_ + _)
  }

  /** slot_j permutation of a 48-bit base hash: (h · A_j) & (2^48−1).
    * The bitand (not %) extracts the low 48 bits of the wrapped signed
    * product — equal to the exact product mod 2^48 since 2^48 | 2^64. */
  def minhashPerm(h: Column, j: Int): Column =
    (h * lit(MinHashA(j))).bitwiseAND(lit(M48 - 1))

  /** MinHash signature j over distinct shingles: min over shingles of
    * the permuted base hash; empty set → 2^48 (identity of min, above
    * every real hash). */
  def minhashSig(shinglesCol: Column, j: Int): Column =
    aggregate(
      transform(shinglesCol, s => minhashPerm(hash48(s), j)),
      lit(1L << 48),
      (m, h) => least(m, h))

  // ---- declared queries --------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  /** The per-document measures the quality rules read, by output name:
    * token count, unique-token count, and the average-token-length,
    * stopword and unique-token ratios over the whitespace tokens. */
  private def qualityMeasures(text: Column): Map[String, Column] = {
    val t = toks(text)
    val nTok = size(t)
    val sumLen = aggregate(t, lit(0), (a, x) => a + length(x))
    val nStop = size(filter(t, x => x.isInCollection(Stopwords)))
    val nUniq = size(array_distinct(t))
    Map("n_tokens" -> nTok, "n_uniq_tokens" -> nUniq,
      "avg_token_len" -> sumLen.cast("double") / nTok,
      "stop_ratio" -> nStop.cast("double") / nTok,
      "uniq_ratio" -> nUniq.cast("double") / nTok)
      .map { case (n, c) => n -> c.as(n) }
  }

  /** The C4/Gopher-style quality rules over [[qualityMeasures]] columns,
    * in reason order: (reason a failing doc is dropped for, pass test).
    * `d_text_stats` scores a doc by the rules it passes and
    * `d_quality_filter` keeps it iff it passes all of them. */
  private val qualityRules: Seq[(String, Column)] = Seq(
    "length" -> col("n_tokens").between(20, 1000),
    "repetition" -> (col("uniq_ratio") >= 0.2),
    "stopwords" -> (col("stop_ratio") <= 0.5),
    "token_shape" -> col("avg_token_len").between(3.0, 12.0))

  /** Token/length/quality statistics per document; quality_score is
    * 0.25 per passed [[qualityRules]] rule. */
  private val stats: Q = (spark, dir) => {
    import spark.implicits._
    val m = qualityMeasures($"text")
    Tables.load(spark, dir, "documents")
      .select(Seq($"doc_id", $"lang", $"n_chars", length($"text").as("n_chars_calc")) ++
        Seq("n_tokens", "n_uniq_tokens", "avg_token_len", "stop_ratio",
          "uniq_ratio").map(m): _*)
      .withColumn("quality_score", qualityRules
        .map { case (_, ok) => when(ok, 0.25).otherwise(0.0) }.reduce(_ + _))
  }

  /** Language-ID heuristic: CJK charset check, then marker-stopword
    * lookup. Deterministic rule, mirrored exactly in the oracle (the
    * synthetic corpus shares one vocabulary across its `lang` labels, so
    * the heuristic's value here is the operator mechanics, not label
    * recovery — documented, and measured by the `agree` column). */
  private val langId: Q = (spark, dir) => {
    import spark.implicits._
    val t = toks($"text")
    val cjk = size(regexp_extract_all($"text", lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    val pred =
      when(cjk > 0, "zh")
        .when(array_contains(t, "the") || array_contains(t, "is"), "en")
        .when(array_contains(t, "der") || array_contains(t, "die") || array_contains(t, "das"), "de")
        .when(array_contains(t, "le") || array_contains(t, "les") || array_contains(t, "une"), "fr")
        .when(array_contains(t, "el") || array_contains(t, "los") || array_contains(t, "una"), "es")
        .otherwise("unknown")
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", cjk.as("cjk_chars"), pred.as("lang_pred"))
      .withColumn("agree", ($"lang" === $"lang_pred").cast("int"))
  }

  /** Content fingerprints: exact (md5 of text), normalized (md5 of
    * lower-cased whitespace-collapsed text), and the order-sensitive
    * rolling hash. */
  private val fingerprint: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        md5($"text").as("fp_exact"),
        md5(concat_ws(" ", toks($"text"))).as("fp_norm"),
        rollingFingerprint(toks($"text")).as("fp_rolling"))
  }

  /** Per-doc SimHash via explode → hash once → ONE aggregation with 48
    * conditional sums. The per-row HOF spelling ([[simhash]]) is kept for
    * composability, but as a 48-column projection Catalyst collapses it
    * into one Project that re-evaluates the token-hash array 48× (bench:
    * 16 s at sf0.1 vs ~2 s for this spelling). The explode pays one
    * narrow row expansion; the partial agg reduces to 48 ints per doc
    * before any shuffle — the right trade at every scale. */
  def simhashTable(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .select(col("doc_id"), hash48(col("t")).as("h"))
    val votes = (0 until SimHashBits).map { i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val bits = (0 until SimHashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }
    hashed.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Per-doc MinHash signatures via explode → ONE md5 per shingle → 8
    * multiplicative permutations → ONE aggregation of 8 mins (same
    * rationale as [[simhashTable]]; map-side partial min ships 8 longs
    * per doc). Docs with <3 tokens (empty shingle set) are re-attached
    * with the empty-set signature 2^48. */
  def minhashSigTable(docs: DataFrame): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), explode(shingles(toks(col("text")))).as("s"))
      .select(col("doc_id"), hash48(col("s")).as("h"))
    val hashCols = (0 until MinHashK).map { j =>
      minhashPerm(col("h"), j).as(s"h$j")
    }
    val mins = (0 until MinHashK).map(j => min(col(s"h$j")).as(s"s$j"))
    val sig = exploded.select(col("doc_id") +: hashCols: _*)
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    docs.select(col("doc_id")).join(sig, Seq("doc_id"), "left_outer")
      .select(col("doc_id") +:
        (0 until MinHashK).map(j => coalesce(col(s"s$j"), lit(1L << 48)).as(s"s$j")): _*)
  }

  private val simhashQ: Q = (spark, dir) =>
    simhashTable(Tables.load(spark, dir, "documents"))

  private val minhashSigQ: Q = (spark, dir) =>
    minhashSigTable(Tables.load(spark, dir, "documents"))

  /** BPE-ish regex tokenization (brief: "whitespace + a BPE-ish regex"):
    * runs of letters, runs of digits, and single non-alnum marks — the
    * pre-tokenizer split most BPE vocabularies assume. Same RE2-safe
    * pattern on the DuckDB side. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private val tokenCounts: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(toks($"text")).as("n_ws_tokens"),
        size(regexp_extract_all(lower($"text"), lit(BpePattern), lit(0)))
          .as("n_bpe_tokens"),
        (length($"text").cast("double") /
          size(regexp_extract_all(lower($"text"), lit(BpePattern), lit(0))))
          .as("chars_per_token"))
  }

  /** C4/Gopher-style document filter: keep iff EVERY [[qualityRules]]
    * rule passes; reason names the first failing rule (deterministic rule
    * order) so drop rates are auditable per rule. Takes the docs frame
    * directly (rather than (spark, dir)) because it is pure map-side —
    * the SAME plan runs batch or as a readStream stage (parity-tested
    * in StreamingSpec). */
  def qualityFilterOf(docs: DataFrame): DataFrame = {
    val m = qualityMeasures(col("text"))
    val ((r0, ok0), rest) = (qualityRules.head, qualityRules.tail)
    docs
      .select(col("doc_id") +:
        Seq("n_tokens", "uniq_ratio", "stop_ratio", "avg_token_len").map(m): _*)
      .withColumn("reason", rest
        .foldLeft(when(!ok0, r0)) { case (c, (r, ok)) => c.when(!ok, r) }
        .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("int"))
      .select(col("doc_id"), col("keep"), col("reason"))
  }

  private val qualityFilter: Q = (spark, dir) =>
    qualityFilterOf(Tables.load(spark, dir, "documents"))

  /** TF-IDF top terms per document — the classic retrieval/salience
    * weighting over the corpus. Two shuffles (tf by (doc, term), df by
    * term) + the per-doc top-k window; df attaches via a term join that
    * AQE broadcasts when the vocabulary is small. RANKING is float-free
    * (tf desc, df asc, term asc — all exact integers/binary strings, so
    * Spark and DuckDB can never disagree on order); the tf·ln(N/df)
    * VALUE is quantized to integer micro (r9 canon): round-to-integer
    * is the same ties-away-from-zero operation in both engines, where
    * round-to-4-decimals rides each engine's own decimal-representation
    * path. */
  private val tfidf: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select($"doc_id", explode(toks($"text")).as("term"))
      .filter(length($"term") > 0)
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfT = tok.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    // corpus size folded in as a literal (one metadata-scale driver
    // count; a 1-row crossJoin(broadcast) attach plans a nested-loop
    // join — harmless here but it would exempt this query from the
    // suite-wide BNLJ ban, and the literal codegen-folds)
    val nDocs = docs.count().toDouble
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tf".desc, $"df".asc, $"term".asc)
    tf.join(dfT, "term")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"doc_id", $"term", $"tf", $"df",
        round($"tf" * log(lit(nDocs) / $"df") * 1e6).cast("long")
          .as("tfidf_micro"), $"rk")
  }

  /** Corpus vocabulary top-k: most frequent non-stopword terms — the
    * tokenizer-vocabulary / corpus-drift primitive. One shuffle (term
    * counts, map-side partial agg) + distributed top-k via
    * TakeOrderedAndProject; ranking is integer-only (n desc, term asc)
    * so the engines can never disagree. */
  private val vocab: Q = (spark, dir) => {
    import spark.implicits._
    val counts = Tables.load(spark, dir, "documents")
      .select(explode(toks($"text")).as("term"))
      .filter(length($"term") > 0 && !$"term".isin(Stopwords: _*))
      .groupBy($"term").agg(count(lit(1)).as("n"))
    counts.orderBy($"n".desc, $"term".asc).limit(20)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"n".desc, $"term".asc)).cast("long"))
  }

  /** Context-window chunking of `docs` (doc_id, text): overlapping
    * token windows (size 32, stride 16) — the standard prep step for
    * embedding models and LM training windows — as (doc_id, chunk_id,
    * n_toks, chunk_text). Pure map-side: the only row growth is the
    * ~len/stride chunk fanout per doc (bounded, known in advance), no
    * shuffle at all. Every chunk start ≤ len, so every token lands in
    * ≥ 1 chunk; tail chunks are shorter rather than padded (padding is
    * a model concern, not a data concern). */
  def chunksOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ChunkLen = 32
    val Stride = 16
    docs
      .select($"doc_id",
        filter(toks($"text"), x => length(x) > 0).as("w"))
      .select($"doc_id", $"w", explode(sequence(
        lit(1), greatest(size($"w"), lit(1)), lit(Stride))).as("start"))
      .select($"doc_id",
        (($"start" - 1) / Stride).cast("long").as("chunk_id"),
        slice($"w", $"start", lit(ChunkLen)).as("c"))
      .select($"doc_id", $"chunk_id",
        size($"c").cast("long").as("n_toks"),
        array_join($"c", " ").as("chunk_text"))
  }

  private val chunk: Q = (spark, dir) =>
    chunksOf(Tables.load(spark, dir, "documents"))

  /** Token-distribution entropy per document — the information-density
    * quality signal (near-zero entropy = degenerate repetition, the
    * failure mode uniq_ratio catches only crudely). The d_lm_score
    * canon (r9): each tf·ln(tf) term is quantized to integer micro-nats
    * BEFORE the per-doc sum — a double accumulator's value depends on
    * partial-agg order, which varies not just across engines but across
    * RUNS of the same engine, so a rounded double sum can flip at a
    * round boundary between two executions of identical code. Integer
    * sums are order-free; the emitted entropy is integer micro-nats.
    *
    * Scale shape (r13, guide §2.4): entropy is a WITHIN-DOC statistic,
    * so the per-(doc, term) frequencies come from an equal-run fold
    * over the doc's SORTED token array — the same in-row spelling as
    * d_repetition's top-bigram share — and the query is pure map-side
    * (ZERO Exchange; the old spelling exploded the token stream through
    * two fact-scale partial-agg shuffles). Each closed run of length tf
    * contributes round(tf·ln tf·1e6) as a long, bit-identical to the
    * old per-(doc, term) quantization; docs with no non-empty tokens
    * emit nothing, exactly as explode produced no rows for them. */
  private val entropy: Q = (spark, dir) => {
    import spark.implicits._
    def runTerm(r: Column): Column =
      when(r > 0L, round(r.cast("double") * log(r.cast("double")) * 1e6)
        .cast("long")).otherwise(lit(0L))
    // The '' initial `prev` sentinel is UNREACHABLE as a token value —
    // `ts` is filtered to length > 0 below — and that invariant is
    // load-bearing (ADVICE r13): the first real token always differs
    // from the sentinel, opening run #1 instead of extending a phantom
    // empty run (same contract as d_repetition's bigram fold, where
    // every element contains a space).
    val folded = aggregate(array_sort($"ts"),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc")),
      (st, x) => {
        val same = x === st.getField("prev")
        struct(x.as("prev"),
          when(same, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, st.getField("acc"))
            .otherwise(st.getField("acc") + runTerm(st.getField("run")))
            .as("acc"))
      },
      st => st.getField("acc") + runTerm(st.getField("run")))
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        filter(toks($"text"), t => length(t) > 0).as("ts"))
      .filter(size($"ts") > 0)
      .select($"doc_id", size($"ts").cast("long").as("n"),
        folded.as("slog_u"))
      // H = ln n − (Σ tf·ln tf)/n  (algebraic form of −Σ p·ln p; one
      // pass, no second join against the total), assembled in integer
      // micro-nat space (slog_u ≥ 0, so div == floor on both engines)
      .select($"doc_id", $"n",
        (round(log($"n".cast("double")) * 1e6).cast("long")
          - expr("slog_u div n")).as("entropy_unat"))
  }

  /** Gopher/RefinedWeb-style REPETITION signals — the quality family's
    * missing member (uniq_ratio and entropy both miss structured
    * repetition: a doc alternating two sentences has high token
    * diversity but is still boilerplate):
    *  - dup_trigram_frac: 1 − distinct/total token 3-grams — in-row
    *    HOF over the token array, zero shuffle;
    *  - top_bigram_share: the most frequent bigram's share of all
    *    bigram occurrences — max multiplicity = longest equal-run of
    *    the SORTED bigram array, an in-row fold since r13 (share only,
    *    not the argmax bigram itself, so ties can never make the
    *    result engine-dependent).
    * Both signals are pure map-side — zero Exchange at any corpus
    * size, fanout bounded by tokens-per-doc. Ratios rounded to 6 dp (the
    * a11 double-division treatment). */
  private val repetition: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val w = toks($"text")
    val bi = filter(zip_with(w, slice(w, lit(2), size(w)),
      (a, b) => concat(a, lit(" "), b)), x => x.isNotNull)
    val triPair = zip_with(w, slice(w, lit(2), size(w)),
      (a, b) => concat(a, lit(" "), b))
    val tri = filter(zip_with(triPair, slice(w, lit(3), size(w)),
      (ab, c) => concat(ab, lit(" "), c)), x => x.isNotNull)
    // r13 (guide §2.4): the top-bigram share is a WITHIN-DOC statistic —
    // max multiplicity of any bigram over the bigram count. The previous
    // spelling exploded every bigram and paid two fact-scale shuffles
    // ((doc, bg) count, then doc max/sum) plus a doc-keyed join to
    // compute a value each row already holds: max multiplicity = the
    // longest equal-run in the doc's SORTED bigram array, a linear
    // HOF fold after array_sort. The whole query is now map-side
    // (zero Exchange). Initial prev = ""
    // is unreachable (a bigram always contains the separator space),
    // and an empty bigram list yields share 0.0 exactly like the old
    // left-join + na.fill path.
    val best = aggregate(array_sort($"bi"),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs.select($"doc_id", bi.as("bi"), tri.as("tri"))
      .select($"doc_id", $"tri",
        best.as("maxc"), size($"bi").cast("long").as("totc"))
      .select($"doc_id",
        size($"tri").cast("long").as("n_trigrams"),
        when(size($"tri") > 0,
          round(lit(1.0) - size(array_distinct($"tri")).cast("double") /
            size($"tri"), 6)).otherwise(lit(0.0)).as("dup_trigram_frac"),
        when($"totc" > 0, round($"maxc".cast("double") / $"totc", 6))
          .otherwise(lit(0.0)).as("top_bigram_share"))
  }

  /** Offset-based SEQUENCE PACKING manifest — the training-data step
    * after chunk/filter: concatenate documents (in deterministic
    * doc_id order, per source shard) into fixed-capacity token
    * sequences of 2048, assigning each doc to the sequence its START
    * offset falls in: seq_id = floor((cumsum(n_tok) − n_tok) / 2048).
    * Docs may straddle a boundary (offset packing, the streaming-
    * friendly spelling used by most LM data loaders); the manifest
    * (docs, tokens per sequence) is what a loader needs to materialize
    * examples. ONE window + ONE aggregation, both keyed by source — at
    * 100 TB the pack key becomes (source, shard) so window partitions
    * stay bounded; the cumsum itself is the standard monotonic-window
    * pattern (w16/w17). */
  private val packSeq: Q = (spark, dir) => {
    import spark.implicits._
    val SeqLen = 2048
    val nTok = size(filter(toks($"text"), x => length(x) > 0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", nTok.cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .select($"source",
        floor(($"cum" - $"n_tok").cast("double") / SeqLen).cast("long")
          .as("seq_id"),
        $"doc_id", $"n_tok")
      .groupBy($"source", $"seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
  }

  /** Per-source document CAP — the corpus-mixing step that stops one
    * hot domain from dominating the training mixture: keep at most K
    * docs per source, chosen by a deterministic hash order (md5 of
    * doc_id — a seeded shuffle, not "first K by id", which would bias
    * toward whatever the upstream sort was). One window keyed by
    * source — and Catalyst plans the rk ≤ K filter as TWO-PHASE
    * WindowGroupLimit (pinned in PlanShapeSpec): each map task keeps
    * only its local top-K per source BEFORE the exchange, so the
    * shuffle carries ≤ K·sources·tasks narrow rows, not the corpus —
    * the property that makes a per-domain cap feasible over 100 TB
    * (a plain row_number window would shuffle every row to sort whole
    * sources). Emits kept rows with their sample rank so downstream
    * mixture audits can re-derive per-source acceptance. */
  private val sourceCap: Q = (spark, dir) => {
    import spark.implicits._
    val CapK = 100
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= CapK)
  }

  /** Exact heavy hitters over the token stream — "which terms exceed
    * 0.1% of the corpus" — via the canonical two-pass candidate/verify
    * split, the bounded-memory pattern for frequent items at 100 TB:
    *
    *  - Pass 1 finds a candidate SUPERSET with `stat.freqItems`
    *    (Karp/Misra-Gries one-pass counting: GUARANTEED to contain
    *    every item with frequency > support, may add false positives;
    *    state ≤ 1/support entries per partition, merged on the driver —
    *    bounded regardless of vocabulary size).
    *  - Pass 2 computes EXACT counts for the ≤ 1/support candidates
    *    only: every non-candidate token collapses map-side into one
    *    NULL group, so at most |candidates|+1 rows leave each partition
    *    — the full-vocabulary shuffle of a plain groupBy(term) NEVER
    *    happens — and the null group completes the corpus total n in
    *    the SAME pass (no third scan for the denominator). The exact
    *    threshold filter then discards the sketch's false positives, so
    *    the OUTPUT is exactly the true heavy-hitter set with exact
    *    counts — oracle-comparable even though pass 1 is approximate
    *    and its candidate set is order-dependent.
    *
    * All comparisons integer (cnt·1000 > n; share in integer bp). */
  private val heavyHitters: Q = (spark, dir) => {
    import spark.implicits._
    val tok = Tables.load(spark, dir, "documents")
      .select(explode(toks($"text")).as("term"))
      .filter(length($"term") > 0)
    // driver-sized by construction: ≤ 1/support = 1000 entries
    val cand = tok.stat.freqItems(Seq("term"), 0.001)
      .collect()(0).getSeq[String](0)
    val counts =
      if (cand.isEmpty) // empty corpus: no candidates, no output
        tok.groupBy($"term").agg(count(lit(1)).as("cnt"))
      else
        tok.groupBy(when($"term".isin(cand: _*), $"term").as("term"))
          .agg(count(lit(1)).as("cnt"))
          // dimension-sized, consumed twice (total + filter): pin it
          .localCheckpoint(false)
    val n = counts.agg(coalesce(sum($"cnt"), lit(0L)).as("n"))
      .first().getLong(0)
    counts.filter($"term".isNotNull && $"cnt" * 1000L > lit(n))
      .select($"term", $"cnt",
        expr(s"cnt * 10000 div ${math.max(n, 1L)}L").as("share_bp"))
  }

  /** d_cms_eval: COUNT-MIN SKETCH accuracy audit — build a 4×1024 CMS
    * over the token stream and report, for the top-50 exact terms, the
    * sketch estimate next to the exact count. The CMS is the
    * bounded-memory twin of [[heavyHitters]]' candidate/verify split:
    * at 100 TB the 4096-counter table is CONSTANT-size state (mergeable
    * across partitions/days by cell-wise addition), answering point
    * frequency queries with a one-sided error — est ≥ exact always,
    * overcount ≤ εN with ε = e/1024 at δ = e⁻⁴ — which this query
    * MEASURES rather than assumes (the dedup_sketch_eval discipline:
    * every sketch ships with its own accuracy audit).
    *
    * Determinism/oracle: row hashes are hash48("i:" ++ term) % 1024 —
    * md5-derived like every hash in this file — so the counter table
    * and the min-probe are bit-identical in DuckDB. Scale shape: one
    * token scan → vocab-sized exact counts (reused for build and
    * probe via localCheckpoint), an explode(×4) bounded fanout into a
    * ≤4096-row counter aggregate (broadcast to the probe join), and a
    * 50-row probe — no per-row work after the first aggregate. */
  private val cmsEval: Q = (spark, dir) => {
    import spark.implicits._
    val D = 4
    val W = 1024
    // vocab-sized, consumed twice (sketch build + top-50 probe): pin it
    val counts = Tables.load(spark, dir, "documents")
      .select(explode(toks($"text")).as("term"))
      .filter(length($"term") > 0)
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    def bucket(row: Column, term: Column): Column =
      hash48(concat(row.cast("string"), lit(":"), term)) % W
    val cells = counts
      .select($"term", $"n",
        explode(sequence(lit(0), lit(D - 1))).as("row_i"))
      .withColumn("bucket", bucket($"row_i", $"term"))
    val sketch = cells.groupBy($"row_i", $"bucket")
      .agg(sum($"n").as("counter"))
    val probe = counts.orderBy($"n".desc, $"term".asc).limit(50)
      .select($"term", $"n",
        explode(sequence(lit(0), lit(D - 1))).as("row_i"))
      .withColumn("bucket", bucket($"row_i", $"term"))
    probe.join(broadcast(sketch), Seq("row_i", "bucket"))
      .groupBy($"term")
      .agg(max($"n").as("n_exact"), min($"counter").as("n_est"))
      .select($"term", $"n_exact", $"n_est",
        ($"n_est" - $"n_exact").as("overcount"))
  }

  /** Token-budget mixture PLAN + its deterministic execution audit — the
    * rate-based companion to [[sourceCap]]'s hard doc cap: a training
    * mixture is usually specified as a TOKEN budget per domain, not a doc
    * count. Here the global budget is 30% of corpus tokens split evenly
    * across sources; a source holding T_s tokens gets sampling rate
    * min(1, budget / nSources / T_s) — under-budget domains keep
    * everything, over-budget domains are thinned toward equal token
    * share. Docs are kept by a salted deterministic hash threshold (the
    * same seeded-shuffle trick as [[sourceCap]] / o4, so the sample is
    * reproducible and partition-invariant), and the output is the
    * per-source plan row: planned rate (ppm), corpus tokens, and the
    * REALIZED kept doc/token counts — what a mixture dashboard audits.
    *
    * Scale shape: one agg over the doc stream for per-source totals
    * (sources ≈ thousands → the plan frame broadcasts), then the keep
    * filter is MAP-SIDE on the doc stream (hash < rate, no shuffle of
    * the corpus), and only per-source partial counts shuffle. The rate
    * arithmetic is a pure-integer floor chain (DECIMAL(38,0) `div`) so
    * the DuckDB oracle replays it exactly with no double anywhere. */
  private val mixturePlan: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", size(toks($"text")).cast("long").as("n_tok"))
    val bySrc = docs.groupBy($"source").agg(sum($"n_tok").as("src_tokens"))
    val stats = bySrc.agg(sum($"src_tokens").as("tot"),
      count(lit(1)).as("nsrc"))
    // Pure-integer rate: min(1e6, (3e6 * tot) div (10 * nsrc * T_s)) —
    // 30% of corpus tokens split evenly, floored in exact DECIMAL(38,0)
    // space (`div` is the integral quotient). No double anywhere in an
    // oracle-compared column (the d_lm_score lesson); the 38-digit
    // intermediate holds 3e6 * tot without overflow at any corpus size
    // int64 can count.
    val planned = bySrc.crossJoin(broadcast(stats))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("(CAST(tot AS DECIMAL(38,0)) * 3000000) div (10 * nsrc * src_tokens)")))
      .select($"source", $"src_tokens", $"rate_ppm")
    val kept = docs
      .join(broadcast(planned.select($"source", $"rate_ppm")), "source")
      .filter(hash48(concat(lit("mix"), $"doc_id".cast("string"))) % 1000000L
        < $"rate_ppm")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("kept_tokens"))
    planned.join(kept, Seq("source"), "left")
      .select($"source", $"src_tokens", $"rate_ppm",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"))
  }

  /** Token-distribution DRIFT between two corpus snapshots — the
    * monitoring query run between crawls: which terms' frequencies moved
    * most? Snapshot proxy: doc_id parity (A = even, B = odd). Per term,
    * additive-smoothed log-frequency ratio
    * ln((c_a+0.5)/(tot_a+1)) − ln((c_b+0.5)/(tot_b+1)), min support 5,
    * top 40 by |ratio| with a term tie-break.
    *
    * Scale shape: ONE pass over the token stream — both sides' counts
    * come from conditional aggregation on the same term-keyed shuffle
    * (not one scan per snapshot); the vocab-sized counts frame is
    * lazily local-checkpointed so the totals row and the ranking reuse
    * it instead of re-scanning the corpus; the top-k plans as
    * TakeOrderedAndProject (no global sort). The ratio is quantized to
    * INTEGER micro-nats and RANKED ON THE INTEGER, so both the emitted
    * column and the top-k boundary are integer-exact across engines. */
  private val drift: Q = (spark, dir) => {
    import spark.implicits._
    val counts = Tables.load(spark, dir, "documents")
      .select(($"doc_id" % 2 === 0).as("is_a"), explode(toks($"text")).as("term"))
      .filter(length($"term") > 0)
      .groupBy($"term").agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("c_a"),
        sum(when($"is_a", 0L).otherwise(1L)).as("c_b"))
      .localCheckpoint(false)
    val tot = counts.agg(sum($"c_a").cast("double").as("tot_a"),
      sum($"c_b").cast("double").as("tot_b"))
    counts.filter($"c_a" + $"c_b" >= 5)
      .crossJoin(broadcast(tot))
      // Integer micro-nats (the d_lm_score canon): quantize the double
      // log-ratio ONCE at 1e-6 and emit/rank the integer — the compared
      // column and the top-k boundary are integer-exact across engines.
      .withColumn("log_ratio_unat", round(
        (log(($"c_a".cast("double") + 0.5) / ($"tot_a" + 1.0))
          - log(($"c_b".cast("double") + 0.5) / ($"tot_b" + 1.0))) * 1e6)
        .cast("long"))
      .select($"term", $"c_a", $"c_b", $"log_ratio_unat")
      .orderBy(abs($"log_ratio_unat").desc, $"term".asc)
      .limit(40)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm) — the plagiarism/near-copy fingerprint with a POSITIONAL
    * guarantee the rolling hash and minhash lack: any shared token run of
    * at least w+k−1 = 6 tokens is certain to contribute at least one
    * common fingerprint (every length-w window of k-gram hashes selects
    * its minimum; two copies of a run contain the same windows, hence
    * the same minima). Emitting the DISTINCT selected-hash set per doc
    * (not positions) keeps the guarantee while avoiding the
    * rightmost-tie position rule that cross-engine SQL can't replay.
    * Docs shorter than k tokens have no k-grams and emit nothing; docs
    * with 1..w−1 k-grams emit their single global minimum.
    *
    * Scale shape: pure per-row HOF chain (ordered k-gram hashes →
    * window minima → array_distinct → explode) — zero exchanges before
    * the sink, embarrassingly parallel at any corpus size; integer
    * hashes only, so engine parity is exact. The token array and the
    * gram array are MATERIALIZED in their own projections before any
    * lambda touches them — HOFs are interpreted (CodegenFallback), so
    * an expression referenced inside a lambda re-evaluates per element
    * access: with the split inline, every k-gram re-ran the regex
    * tokenizer 3× (the f13/f14 lesson; measured 8.4 s → 0.8 s at
    * sf0.1, ×10.6, same rows). */
  private val winnow: Q = (spark, dir) => {
    import spark.implicits._
    val WinnowW = 4
    val t = col("t")
    val grams = transform(sequence(lit(1), size(t) - 2), i =>
      hash48(concat_ws(" ",
        element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
    val g = col("g")
    val mins = when(size(g) >= WinnowW,
      transform(sequence(lit(1), size(g) - (WinnowW - 1)), j =>
        array_min(slice(g, j, lit(WinnowW)))))
      .otherwise(array(array_min(g)))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", toks($"text").as("t"))
      .filter(size(t) >= 3) // below k tokens: no k-gram, no fingerprint
      .select($"doc_id", grams.as("g"))
      .select($"doc_id", explode(array_distinct(mins)).as("fp"))
  }

  /** Hashed-linear classifier INFERENCE (the fastText quality-filter
    * shape): every modern corpus pipeline scores documents with a cheap
    * linear model over hashed unigram+bigram features (CCNet's
    * fastText lang/quality filters, Llama-style "educational value"
    * scorers). The expensive part at 100 TB is not training (tiny, done
    * offline) but INFERENCE over every document — and that is what this
    * operator implements: features = unigrams + bigrams hashed into
    * D = 4096 buckets (the hashing trick — same trade as
    * enc_feature_hash: no vocabulary, collisions share weights), score
    * = Σ w[bucket(f)] over all token occurrences, label = sign.
    *
    * The weight table is itself hash-derived (w[b] = hash48("w:"+b) %
    * 2001 − 1000, integer milli-units) — a deterministic stand-in with
    * the exact storage/compute shape of a trained model; swapping in
    * real weights is a 4096-entry literal array (or a broadcast lookup
    * — never a join). Integer milli-weights make the per-doc sum
    * order-independent and hence hash-comparable cross-engine; no mean
    * is taken, the raw sum + feature count let any threshold be
    * applied downstream without a division hazard.
    *
    * Scale shape: ZERO exchanges — tokens, bigrams, hashing, and the
    * weight sum are one per-row HOF chain inside a single projection
    * (the oracle spells it as unnest+GROUP BY; same result, opposite
    * plan). The token array is materialized in its own projection
    * first — interpreted HOF lambdas re-evaluate captured non-attribute
    * expressions per element access (the d_winnow/f13 lesson). */
  private val classifierScore: Q = (spark, dir) => {
    import spark.implicits._
    val D = 4096
    val w = col("w")
    val uni = transform(w, t => concat(lit("u:"), t))
    val bi = filter(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => concat(lit("b:"), a, lit("_"), b)),
      x => x.isNotNull)
    val f = col("f")
    def weight(feat: Column): Column =
      hash48(concat(lit("w:"), (hash48(feat) % D).cast("string"))) % 2001 -
        1000
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        filter(toks($"text"), t => length(t) > 0).as("w"))
      .select($"doc_id", concat(uni, bi).as("f"))
      .filter(size(f) > 0)
      .select($"doc_id", size(f).cast("long").as("n_feat"),
        aggregate(f, lit(0L), (acc, x) => acc + weight(x))
          .as("score_milli"))
      .withColumn("label", when($"score_milli" >= 0, 1L).otherwise(0L))
  }

  /** Shingle NOVELTY — per-doc fraction of 3-gram shingles that appear
    * nowhere else in the corpus (corpus df = 1). The self-information
    * quality signal: boilerplate-heavy and template-generated docs score
    * near 0, genuinely new prose near 1 — complements the WITHIN-doc
    * signals (entropy, repetition) with a cross-corpus one. Docs with
    * < 3 tokens have no shingles and emit nothing (stated in the oracle
    * too).
    *
    * Scale shape (r13, guide §2.4): a df = 1 shingle belongs to exactly
    * ONE document, so min(doc_id) inside the df aggregate IS that
    * document — the novel count per doc is a second, df-table-sized
    * aggregate, and the fact-scale postings⋈df join the previous
    * spelling paid (12M-row SMJ probe at sf0.1) disappears. n_shingles
    * comes from its own doc-keyed count over the same postings lineage;
    * the two doc-keyed tables meet in a doc-sized left join (novel = 0
    * for docs whose every shingle repeats). No df cap needed: unlike
    * the pair generators, a hot shingle here costs one counter, not d²
    * pairs. */
  private val novelty: Q = (spark, dir) => {
    import spark.implicits._
    val posts = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(shingles(toks($"text"))).as("sh0"))
      .select($"doc_id", hash48($"sh0").as("tok"))
    val novel = posts.groupBy($"tok")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("d"))
      .filter($"df" === 1)
      .groupBy($"d").agg(count(lit(1)).as("n_novel"))
      .select($"d".as("doc_id"), $"n_novel")
    posts.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        (coalesce($"n_novel", lit(0L)).cast("double") / $"n_shingles")
          .as("novelty"))
  }

  /** Unigram language-model quality score — the KenLM/CCNet-style
    * perplexity filter with a unigram stand-in: train add-1/2-smoothed
    * token probabilities on corpus snapshot A (doc_id % 2 = 0), score
    * every snapshot-B doc by its mean negative log-likelihood.
    * High-NLL docs are the gibberish/OOV-dense tail a quality pipeline
    * drops; the split makes it a genuine held-out score, not a
    * self-probability.
    *
    * Cross-engine exactness: mean-of-doubles is partial-agg
    * ORDER-DEPENDENT, so per-token NLLs are quantized to integer
    * MICRO-NATS (round(-ln p · 1e6)) and summed as longs — exact under
    * any partitioning; the one final division is a single IEEE op. The
    * smoothing denominator tot + V/2 stays float-exact because V·0.5
    * is a power-of-two multiple. Scale shape: one term-keyed count on
    * the A stream, 1-row stats broadcast, then the B postings join the
    * count table ON ITS GROUPING KEY (exchange reuse) and one doc-keyed
    * agg; OOV handled by the left join's null → c = 0. */
  private val lmScore: Q = (spark, dir) => {
    import spark.implicits._
    val terms = Tables.load(spark, dir, "documents")
      .select($"doc_id", ($"doc_id" % 2 === 0).as("is_a"),
        explode(toks($"text")).as("term"))
      .filter(length($"term") > 0)
    val countsA = terms.filter($"is_a").groupBy($"term")
      .agg(count(lit(1)).as("c"))
    val stats = countsA.agg(sum($"c").as("tot"), count(lit(1)).as("v"))
    terms.filter(!$"is_a")
      .join(countsA, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .select($"doc_id",
        round(-log((coalesce($"c", lit(0L)) + 0.5) /
          ($"tot" + $"v" * 0.5)) * 1e6).cast("long").as("nll_micro"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), sum($"nll_micro").as("sum_nll"))
      // mean in INTEGER micro-nats, round-half-up via the roundRatio2
      // technique — round(sum/1e6/n, 6) flipped on 2 sf1 docs because
      // Spark rounds the double through exact BigDecimal while DuckDB
      // multiplies by 1e6 in double space (the documented
      // round(double)-boundary hazard); floor((2s+n)/(2n)) is pure
      // integer arithmetic and /1e6 one IEEE division on identical
      // longs, so the engines cannot disagree at any scale.
      .select($"doc_id", $"n_tok",
        (floor(($"sum_nll" * 2 + $"n_tok") / ($"n_tok" * 2)) / 1e6)
          .as("avg_nll"))
  }

  /** d_dataset_card: the one-row corpus summary a dataset release ships
    * (the "dataset card" numbers): volume (docs/tokens/chars), language
    * mix (pinned-value conditional sums — the a9_pivot spelling, plus
    * an n_other catch-all so an unexpected language is COUNTED, never
    * silently dropped), source count, exact-duplicate mass (Σ copies −
    * distinct texts, the dedup_exact grouping reduced to one number),
    * and mean tokens/doc as an exact milli floor. Scale shape: one
    * corpus scan feeding a single aggregate (the lone countDistinct
    * plans as a two-phase agg, no Expand) plus the content-hash
    * grouping, joined as 1-row broadcasts. */
  private val datasetCard: Q = (spark, dir) => {
    import spark.implicits._
    val langs = Seq("en", "de", "fr", "es", "zh")
    val d = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"text",
        size(toks($"text")).cast("long").as("nt"),
        length($"text").cast("long").as("nc"))
    val langAggs = langs.map(l =>
      sum(when($"lang" === l, 1L).otherwise(0L)).as(s"n_$l")) :+
      sum(when(!$"lang".isin(langs: _*), 1L).otherwise(0L)).as("n_other")
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum($"nt").as("n_tokens"),
      sum($"nc").as("n_chars"),
      countDistinct($"source").as("n_sources")) ++ langAggs
    val base = d.agg(aggs.head, aggs.tail: _*)
    val dup = d.groupBy(md5($"text")).agg(count(lit(1)).as("c"))
      .agg((sum($"c") - count(lit(1))).as("n_exact_dup_docs"))
    base
      .crossJoin(broadcast(dup))
      .withColumn("mean_doc_tokens_milli",
        (($"n_tokens" * 1000L - pmod($"n_tokens" * 1000L, $"n_docs")) /
          $"n_docs").cast("long"))
  }

  /** d_bigram_lm: BIGRAM language-model training with absolute
    * discounting — the next step up from d_lm_score's unigram scorer,
    * and the count-table shape every statistical-LM / contamination-
    * aware filter trains at corpus scale. Trained on the snapshot-A
    * split (doc_id % 2 = 0, the lm_score convention); emitted artifact
    * is the top-100 bigram table with its discounted conditional
    * probability. Exactness: D = 0.75 makes the discounted count an
    * exact rational — p(w2|w1) = (c − 3/4)/c(w1) = (4c − 3)/(4·c(w1)) —
    * floored to integer ppm through DECIMAL(38,0)/HUGEINT. Scale shape:
    * the token array materializes ONCE per doc (the f13/f14 HOF
    * lesson), bigrams explode map-side (fanout = doc length), one
    * (w1,w2)-keyed count, a w1-keyed prefix aggregate OF THAT TABLE
    * (vocabulary-sized, never a second corpus pass), and the top-100 is
    * TakeOrdered under the total (c desc, w1, w2) order — per-task
    * 100-row heaps, no global sort. */
  private val bigramLm: Q = (spark, dir) => {
    import spark.implicits._
    val pairs = Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 2 === 0)
      .select(toks($"text").as("ts"))
      .filter(size($"ts") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1)," +
          " i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("bg"))
      .select($"bg.w1", $"bg.w2")
      .filter(length($"w1") > 0 && length($"w2") > 0)
    val counts = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val prefix = counts.groupBy($"w1").agg(sum($"c").as("c1"))
    val num = ($"c".cast("decimal(38,0)") * 4 - 3) * 1000000L
    counts.join(prefix, "w1")
      .select($"w1", $"w2", $"c",
        graft.util.Cols.floorDiv(num, $"c1" * 4).cast("long")
          .as("p_micro"))
      .orderBy($"c".desc, $"w1", $"w2").limit(100)
  }

  /** d_mask_tokens: deterministic MLM-style token corruption — the
    * training-data augmentation step (BERT 15% masking) expressed as a
    * pure map-side transform: per (doc, position), the mask decision is
    * hash48("mk:" + doc + ":" + pos) % 100 < 15, so the corruption is
    * reproducible, engine-checkable, and re-runnable on any shard
    * independently (no RNG state, no seed plumbing — the property that
    * makes augmentation safe to re-execute at 100 TB). Emits the masked
    * input text, the extraction target (the masked tokens, in order),
    * and the mask count. The flags array materializes ONCE per doc and
    * both outputs zip against it (the f13 HOF-attribute lesson). ZERO
    * exchanges. */
  private val maskTokens: Q = (spark, dir) => {
    import spark.implicits._
    val flagged = Tables.load(spark, dir, "documents")
      .select($"doc_id", toks($"text").as("ts"))
      .filter(size($"ts") >= 1)
      .withColumn("flags", expr(
        "transform(sequence(0, size(ts) - 1), i -> " +
          "graft_hash48(concat('mk:', CAST(doc_id AS STRING), ':', " +
          "CAST(i AS STRING))) % 100 < 15)"))
    flagged.select($"doc_id",
      array_join(zip_with($"ts", $"flags",
        (t, f) => when(f, lit("<mask>")).otherwise(t)), " ").as("input_text"),
      array_join(filter(zip_with($"ts", $"flags",
        (t, f) => when(f, t)), _.isNotNull), " ").as("target_text"),
      size(filter($"flags", f => f)).cast("long").as("n_masked"))
  }

  /** d_pii_scrub: PII REDACTION — the compliance pass every pretraining
    * corpus runs before release (emails/phones → placeholder tokens),
    * with per-doc detection counts for the removal audit. The synthetic
    * corpus carries no real PII, so matches are PLANTED under the m21
    * convention (a deterministic hash mask makes the scrub
    * oracle-checkable instead of vacuous): every 7th-hash doc gains two
    * emails, every 11th-hash doc a phone number, then the scrubber runs
    * over the augmented text exactly as it would over a real crawl.
    * Patterns stay in the character-class subset where Java regex
    * (Spark) and RE2 (DuckDB) agree; Spark's regexp_replace is
    * all-occurrences by default, DuckDB needs the 'g' flag — both
    * spelled. Pure map-side: ZERO exchanges, re-runnable per shard. */
  private val piiScrub: Q = (spark, dir) => {
    import spark.implicits._
    val emailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val aug = Tables.load(spark, dir, "documents")
      .select($"doc_id", concat($"text",
        when(hash48(concat(lit("pii:"), $"doc_id".cast("string"))) % 7 === 0,
          lit(" contact john.doe@example.com or jane@mail.example.org now"))
          .otherwise(lit("")),
        when(hash48(concat(lit("piiph:"), $"doc_id".cast("string"))) % 11 === 0,
          lit(" call 555-123-4567")).otherwise(lit(""))).as("aug"))
    aug.select($"doc_id",
      regexp_count($"aug", lit(emailRe)).cast("long").as("n_emails"),
      regexp_count($"aug", lit(phoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace($"aug", emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("clean_text"))
  }

  val queries: Map[String, Q] = Map(
    "d_pii_scrub"      -> piiScrub,
    "d_mask_tokens"    -> maskTokens,
    "d_bigram_lm"      -> bigramLm,
    "d_dataset_card"   -> datasetCard,
    "d_repetition"     -> repetition,
    "d_novelty"        -> novelty,
    "d_lm_score"       -> lmScore,
    "d_pack_sequences" -> packSeq,
    "d_source_cap"     -> sourceCap,
    "d_heavy_hitters"  -> heavyHitters,
    "d_cms_eval"       -> cmsEval,
    "d_mixture_plan"   -> mixturePlan,
    "d_drift"          -> drift,
    "d_winnow"         -> winnow,
    "d_classifier_score" -> classifierScore,
    "d_entropy"        -> entropy,
    "d_chunk"          -> chunk,
    "d_vocab_topk"     -> vocab,
    "d_tfidf_topterms" -> tfidf,
    "d_text_stats"     -> stats,
    "d_lang_id"        -> langId,
    "d_fingerprint"    -> fingerprint,
    "d_simhash"        -> simhashQ,
    "d_minhash_sig"    -> minhashSigQ,
    "d_token_counts"   -> tokenCounts,
    "d_quality_filter" -> qualityFilter)

  // ---- DuckDB oracles ----------------------------------------------

  /** DuckDB fragments mirroring the Spark building blocks. */
  val ToksSql = """string_split_regex(lower(text), '\s+')"""
  def hash48Sql(s: String): String =
    s"CAST(('0x' || substr(md5($s), 1, 12)) AS BIGINT)"

  val ShinglesSql: String =
    """CASE WHEN len(w) >= 3 THEN
      |  list_distinct(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      | ELSE [] END""".stripMargin

  /** DuckDB spelling of the SimHash bit votes (shared with the Dedup
    * oracle). */
  def simhashSql: String = {
    val votes = (0 until SimHashBits).map { i =>
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END"
    }
    votes.mkString("(", " + ", ")")
  }

  /** DuckDB spelling of [[minhashPerm]]: HUGEINT product mod 2^48 (the
    * exact product, reduced — equal to Spark's wrapped-Long bitand). */
  def minhashPermSql(hExpr: String, j: Int): String =
    s"CAST((CAST($hExpr AS HUGEINT) * ${MinHashA(j)}) % $M48 AS BIGINT)"

  /** DuckDB spelling of [[minhashSig]] (shared with the Dedup oracle). */
  def minhashSigSql(j: Int): String =
    s"list_reduce(list_prepend(${1L << 48}, list_transform(sh, s -> ${minhashPermSql(hash48Sql("s"), j)})), (x, y) -> least(x, y))"

  private def minhashSigSqlCols: String =
    (0 until MinHashK).map(j => s"${minhashSigSql(j)} AS s$j").mkString(",\n    ")

  val oracles: Map[String, String] = Map(
    // same planted augmentation, same RE2-safe patterns; DuckDB's
    // regexp_replace is first-match-only without the 'g' flag
    "d_pii_scrub" -> {
      val he = hash48Sql("'pii:' || CAST(doc_id AS VARCHAR)")
      val hp = hash48Sql("'piiph:' || CAST(doc_id AS VARCHAR)")
      s"""WITH a AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN $he % 7 = 0
         |      THEN ' contact john.doe@example.com or jane@mail.example.org now'
         |      ELSE '' END ||
         |    CASE WHEN $hp % 11 = 0 THEN ' call 555-123-4567' ELSE '' END
         |      AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+'))
         |    AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
         |    AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(aug,
         |    '[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+', '<EMAIL>', 'g'),
         |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
         |FROM a""".stripMargin
    },
    // HOF spelling, mirroring the Spark plan shape: per-doc
    // list_transform over generate_series — NO per-position row
    // explosion. The earlier unnest + ordered-string_agg spelling blew
    // DuckDB's mmap allocator at sf10 (10⁸ position rows re-sorted per
    // doc); this one's memory is per-document, so the oracle survives
    // every sf the Spark side does. COALESCE pins the no-masked-token
    // doc to '' like Spark's empty array_join (array_to_string of the
    // empty filtered list is NULL in DuckDB).
    "d_mask_tokens" -> {
      val h = hash48Sql(
        "'mk:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, $ToksSql AS ts FROM documents),
         |f AS (
         |  SELECT doc_id, ts,
         |         list_transform(generate_series(1, len(ts)),
         |           i -> $h % 100 < 15) AS flags
         |  FROM d WHERE len(ts) >= 1)
         |SELECT doc_id,
         |       array_to_string(list_transform(generate_series(1, len(ts)),
         |         i -> CASE WHEN flags[i] THEN '<mask>' ELSE ts[i] END),
         |         ' ') AS input_text,
         |       COALESCE(array_to_string(list_filter(list_transform(
         |         generate_series(1, len(ts)),
         |         i -> CASE WHEN flags[i] THEN ts[i] ELSE NULL END),
         |         x -> x IS NOT NULL), ' '), '') AS target_text,
         |       CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_masked
         |FROM f""".stripMargin
    },

    // 1-based list indexing (ts[i], ts[i+1]) mirrors Spark's 0-based
    // (ts[i-1], ts[i]) over the same i = 1..len-1 range
    "d_bigram_lm" ->
      s"""WITH t AS (
         |  SELECT $ToksSql AS ts FROM documents WHERE doc_id % 2 = 0),
         |b AS (
         |  SELECT ts[i] AS w1, ts[i + 1] AS w2
         |  FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
         |  WHERE len(ts) >= 2),
         |c AS (
         |  SELECT w1, w2, COUNT(*) AS c FROM b
         |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
         |p AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM c GROUP BY 1)
         |SELECT w1, w2, c,
         |       CAST(((CAST(c AS HUGEINT) * 4 - 3) * 1000000) // (c1 * 4)
         |         AS BIGINT) AS p_micro
         |FROM c JOIN p USING (w1)
         |ORDER BY c DESC, w1, w2 LIMIT 100""".stripMargin,

    "d_classifier_score" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         list_filter($ToksSql, t -> length(t) > 0) AS w
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, unnest(list_concat(
         |    list_transform(w, t -> 'u:' || t),
         |    CASE WHEN len(w) >= 2 THEN
         |      list_transform(generate_series(1, len(w) - 1),
         |        i -> 'b:' || w[i] || '_' || w[i+1])
         |    ELSE [] END)) AS feat
         |  FROM d),
         |wt AS (
         |  SELECT doc_id,
         |         ${hash48Sql(s"'w:' || CAST(${hash48Sql("feat")} % 4096 AS VARCHAR)")} % 2001 - 1000 AS wm
         |  FROM f)
         |SELECT doc_id, COUNT(*) AS n_feat, CAST(SUM(wm) AS BIGINT) AS score_milli,
         |       CAST(CASE WHEN SUM(wm) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label
         |FROM wt GROUP BY doc_id""".stripMargin,

    "d_lm_score" ->
      s"""WITH t0 AS (SELECT doc_id, doc_id % 2 = 0 AS is_a,
         |              unnest($ToksSql) AS term FROM documents),
         |t AS (SELECT * FROM t0 WHERE length(term) > 0),
         |a AS (SELECT term, COUNT(*) AS c FROM t WHERE is_a GROUP BY 1),
         |s AS (SELECT SUM(c) AS tot, COUNT(*) AS v FROM a),
         |b AS (
         |  SELECT t.doc_id,
         |         CAST(round(-ln((COALESCE(a.c, 0) + 0.5) / (s.tot + s.v * 0.5))
         |                    * 1000000) AS BIGINT) AS nll
         |  FROM t LEFT JOIN a USING (term) CROSS JOIN s
         |  WHERE NOT t.is_a)
         |SELECT doc_id, COUNT(*) AS n_tok,
         |       floor((SUM(nll) * 2 + COUNT(*)) / (COUNT(*) * 2)) / 1000000.0
         |         AS avg_nll
         |FROM b GROUP BY doc_id""".stripMargin,

    "d_novelty" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |s AS (SELECT doc_id, $ShinglesSql AS sh FROM t),
         |p AS (SELECT doc_id, unnest(list_transform(sh, x -> ${hash48Sql("x")})) AS tok FROM s),
         |d AS (SELECT tok, COUNT(*) AS df FROM p GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / COUNT(*) AS novelty
         |FROM p JOIN d USING (tok) GROUP BY doc_id""".stripMargin,

    "d_winnow" ->
      s"""WITH d AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(generate_series(1, len(w)-2),
         |    i -> ${hash48Sql("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}) AS g
         |  FROM d WHERE len(w) >= 3),
         |m AS (SELECT doc_id,
         |  CASE WHEN len(g) >= 4 THEN
         |    list_transform(generate_series(1, len(g)-3), j -> list_min(g[j:j+3]))
         |  ELSE [list_min(g)] END AS m
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM (
         |  SELECT doc_id, unnest(m) AS fp FROM m)""".stripMargin,

    "d_drift" ->
      s"""WITH t AS (
         |  SELECT doc_id % 2 = 0 AS is_a, unnest($ToksSql) AS term
         |  FROM documents),
         |c AS (SELECT term,
         |        SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS c_a,
         |        SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS c_b
         |      FROM t WHERE length(term) > 0 GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c_a) AS DOUBLE) AS tot_a,
         |              CAST(SUM(c_b) AS DOUBLE) AS tot_b FROM c)
         |SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         |  CAST(ROUND((ln((CAST(c_a AS DOUBLE) + 0.5) / (tot_a + 1.0))
         |      - ln((CAST(c_b AS DOUBLE) + 0.5) / (tot_b + 1.0))) * 1e6)
         |    AS BIGINT) AS log_ratio_unat
         |FROM c, tt WHERE c_a + c_b >= 5
         |ORDER BY abs(CAST(ROUND((ln((CAST(c_a AS DOUBLE) + 0.5) / (tot_a + 1.0))
         |      - ln((CAST(c_b AS DOUBLE) + 0.5) / (tot_b + 1.0))) * 1e6)
         |    AS BIGINT)) DESC, term
         |LIMIT 40""".stripMargin,

    "d_mixture_plan" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len($ToksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |b AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM d GROUP BY source),
         |st AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot,
         |              COUNT(*) AS nsrc FROM b),
         |p AS (SELECT source, src_tokens,
         |  LEAST(CAST(1000000 AS BIGINT), CAST(
         |    (CAST(tot AS HUGEINT) * 3000000) // (10 * nsrc * src_tokens)
         |    AS BIGINT)) AS rate_ppm
         |  FROM b, st),
         |k AS (SELECT d.source, COUNT(*) AS n_kept, CAST(SUM(d.n_tok) AS BIGINT) AS kept_tokens
         |  FROM d JOIN p USING (source)
         |  WHERE ${hash48Sql("'mix' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
         |  GROUP BY d.source)
         |SELECT p.source, p.src_tokens, p.rate_ppm,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.kept_tokens, 0) AS kept_tokens
         |FROM p LEFT JOIN k USING (source)""".stripMargin,

    "d_cms_eval" ->
      s"""WITH t AS (SELECT unnest($ToksSql) AS term FROM documents),
         |c AS (SELECT term, COUNT(*) AS n FROM t
         |      WHERE length(term) > 0 GROUP BY 1),
         |cells AS (
         |  SELECT term, n, row_i,
         |         ${hash48Sql("CAST(row_i AS VARCHAR) || ':' || term")} % 1024
         |           AS bucket
         |  FROM c, range(4) r(row_i)),
         |sk AS (SELECT row_i, bucket, CAST(SUM(n) AS BIGINT) AS counter
         |       FROM cells GROUP BY 1, 2),
         |top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 50),
         |pr AS (
         |  SELECT term, n, row_i,
         |         ${hash48Sql("CAST(row_i AS VARCHAR) || ':' || term")} % 1024
         |           AS bucket
         |  FROM top, range(4) r(row_i))
         |SELECT pr.term, MAX(pr.n) AS n_exact, MIN(sk.counter) AS n_est,
         |       MIN(sk.counter) - MAX(pr.n) AS overcount
         |FROM pr JOIN sk USING (row_i, bucket)
         |GROUP BY 1""".stripMargin,

    // exact truth: the candidate pass is a strict superset by the
    // freqItems guarantee, so exact-verify == plain exact aggregation
    "d_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($ToksSql) AS term FROM documents),
         |t2 AS (SELECT term FROM t WHERE length(term) > 0),
         |n AS (SELECT COUNT(*) AS n FROM t2),
         |c AS (SELECT term, COUNT(*) AS cnt FROM t2 GROUP BY 1)
         |SELECT term, cnt, CAST(cnt * 10000 // (SELECT n FROM n) AS BIGINT)
         |         AS share_bp
         |FROM c WHERE cnt * 1000 > (SELECT n FROM n)""".stripMargin,

    "d_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 100""".stripMargin,

    "d_repetition" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(w) >= 2 THEN list_transform(
         |    generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
         |    ELSE [] END AS bi,
         |  CASE WHEN len(w) >= 3 THEN list_transform(
         |    generate_series(1, len(w)-2),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |    ELSE [] END AS tri
         |  FROM t),
         |inrow AS (SELECT doc_id,
         |  CAST(len(tri) AS BIGINT) AS n_trigrams,
         |  CASE WHEN len(tri) > 0 THEN
         |    round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6)
         |    ELSE 0.0 END AS dup_trigram_frac,
         |  bi FROM g),
         |bg AS (SELECT doc_id, unnest(bi) AS b FROM inrow),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_share
         |  FROM bc GROUP BY 1)
         |SELECT i.doc_id, i.n_trigrams, i.dup_trigram_frac,
         |  COALESCE(sh.top_bigram_share, 0.0) AS top_bigram_share
         |FROM inrow i LEFT JOIN sh ON sh.doc_id = i.doc_id""".stripMargin,

    "d_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(list_filter($ToksSql, x -> length(x) > 0)) AS BIGINT)
         |    AS n_tok FROM documents),
         |c AS (SELECT doc_id, source, n_tok,
         |  SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT source,
         |  CAST(floor(CAST(cum - n_tok AS DOUBLE) / 2048) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin,

    "d_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
         |       WHERE length(term) > 0 GROUP BY 1, 2),
         |q AS (SELECT doc_id, tf,
         |        CAST(round(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE)) * 1e6)
         |          AS BIGINT) AS slog_u
         |      FROM tf),
         |agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n,
         |          CAST(SUM(slog_u) AS BIGINT) AS slog_u
         |        FROM q GROUP BY 1)
         |SELECT doc_id, n,
         |       CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
         |         - slog_u // n AS entropy_unat
         |FROM agg""".stripMargin,

    "d_chunk" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_filter($ToksSql, x -> length(x) > 0) AS w FROM documents),
         |s AS (SELECT doc_id, w,
         |  unnest(generate_series(1, greatest(len(w), 1), 16)) AS start
         |  FROM t)
         |SELECT doc_id,
         |  CAST((start - 1) // 16 AS BIGINT) AS chunk_id,
         |  CAST(len(list_slice(w, start, least(start + 31, len(w))))
         |    AS BIGINT) AS n_toks,
         |  array_to_string(list_slice(w, start, least(start + 31, len(w))),
         |    ' ') AS chunk_text
         |FROM s""".stripMargin,

    "d_vocab_topk" -> {
      val stops = Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (SELECT unnest($ToksSql) AS term FROM documents),
         |c AS (SELECT term, COUNT(*) AS n FROM t
         |      WHERE length(term) > 0 AND term NOT IN ($stops)
         |      GROUP BY 1),
         |top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 20)
         |SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rk
         |FROM top""".stripMargin
    },

    "d_tfidf_topterms" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
         |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df, n.n_docs,
         |        row_number() OVER (PARTITION BY tf.doc_id
         |          ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC) AS rk
         |      FROM tf JOIN dft USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df,
         |       CAST(round(tf * ln(n_docs / df) * 1e6) AS BIGINT)
         |         AS tfidf_micro, rk
         |FROM r WHERE rk <= 3""".stripMargin,

    "d_dataset_card" ->
      s"""WITH d AS (SELECT lang, source, text,
         |             CAST(len($ToksSql) AS BIGINT) AS nt,
         |             CAST(length(text) AS BIGINT) AS nc
         |           FROM documents),
         |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |        CAST(SUM(nc) AS BIGINT) AS n_chars,
         |        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |        CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
         |        CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
         |        CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
         |        CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
         |        CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_other
         |      FROM d),
         |dup AS (SELECT CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_exact_dup_docs
         |        FROM (SELECT COUNT(*) AS c FROM d GROUP BY md5(text)))
         |SELECT b.*, dup.n_exact_dup_docs,
         |       CAST((n_tokens * 1000) // n_docs AS BIGINT)
         |         AS mean_doc_tokens_milli
         |FROM b, dup""".stripMargin,

    "d_text_stats" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars, text, $ToksSql AS w FROM documents)
         |SELECT doc_id, lang, n_chars,
         |  CAST(length(text) AS INT) AS n_chars_calc,
         |  CAST(len(w) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS INT) AS n_uniq_tokens,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS avg_token_len,
         |  CAST(len(list_filter(w, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(w) AS stop_ratio,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS uniq_ratio,
         |  CAST(CASE WHEN len(w) BETWEEN 20 AND 1000 THEN 0.25 ELSE 0.0 END +
         |   CASE WHEN CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.2 THEN 0.25 ELSE 0.0 END +
         |   CASE WHEN CAST(len(list_filter(w, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(w) <= 0.5 THEN 0.25 ELSE 0.0 END +
         |   CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
         |  AS DOUBLE) AS quality_score
         |FROM t""".stripMargin,

    "d_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $ToksSql AS w,
         |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk FROM documents)
         |SELECT doc_id, lang, CAST(cjk AS INT) AS cjk_chars,
         |  CASE WHEN cjk > 0 THEN 'zh'
         |       WHEN list_contains(w, 'the') OR list_contains(w, 'is') THEN 'en'
         |       WHEN list_contains(w, 'der') OR list_contains(w, 'die') OR list_contains(w, 'das') THEN 'de'
         |       WHEN list_contains(w, 'le') OR list_contains(w, 'les') OR list_contains(w, 'une') THEN 'fr'
         |       WHEN list_contains(w, 'el') OR list_contains(w, 'los') OR list_contains(w, 'una') THEN 'es'
         |       ELSE 'unknown' END AS lang_pred,
         |  CAST(lang = (CASE WHEN cjk > 0 THEN 'zh'
         |       WHEN list_contains(w, 'the') OR list_contains(w, 'is') THEN 'en'
         |       WHEN list_contains(w, 'der') OR list_contains(w, 'die') OR list_contains(w, 'das') THEN 'de'
         |       WHEN list_contains(w, 'le') OR list_contains(w, 'les') OR list_contains(w, 'une') THEN 'fr'
         |       WHEN list_contains(w, 'el') OR list_contains(w, 'los') OR list_contains(w, 'una') THEN 'es'
         |       ELSE 'unknown' END) AS INT) AS agree
         |FROM t""".stripMargin,

    "d_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS w FROM documents)
         |SELECT doc_id,
         |  md5(text) AS fp_exact,
         |  md5(array_to_string(w, ' ')) AS fp_norm,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(w, t2 -> ${hash48Sql("t2")})),
         |              (h, x) -> (h * 31 + x) % $M48) AS fp_rolling
         |FROM t""".stripMargin,

    "d_simhash" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |h AS (SELECT doc_id, list_transform(w, t2 -> ${hash48Sql("t2")}) AS hs FROM t)
         |SELECT doc_id, $simhashSql AS simhash FROM h""".stripMargin,

    "d_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |s AS (SELECT doc_id, $ShinglesSql AS sh FROM t)
         |SELECT doc_id,
         |    $minhashSigSqlCols
         |FROM s""".stripMargin,

    "d_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS w FROM documents),
         |m AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS uniq_ratio,
         |  CAST(len(list_filter(w, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(w) AS stop_ratio,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS avg_token_len
         |FROM t),
         |r AS (SELECT doc_id,
         |  CASE WHEN n_tokens NOT BETWEEN 20 AND 1000 THEN 'length'
         |       WHEN uniq_ratio < 0.2 THEN 'repetition'
         |       WHEN stop_ratio > 0.5 THEN 'stopwords'
         |       WHEN avg_token_len NOT BETWEEN 3.0 AND 12.0 THEN 'token_shape'
         |       ELSE 'ok' END AS reason
         |FROM m)
         |SELECT doc_id, CAST(reason = 'ok' AS INT) AS keep, reason FROM r""".stripMargin,

    "d_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len($ToksSql) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '$BpePattern')) AS INT) AS n_bpe_tokens,
         |  CAST(length(text) AS DOUBLE) /
         |    len(regexp_extract_all(lower(text), '$BpePattern')) AS chars_per_token
         |FROM documents""".stripMargin)
}
