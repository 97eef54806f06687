package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Retrieval, Similarity, TemporalJoins, TextOps}
import graft.queries.Relational

/** Scale probes: how one operator's candidate volume and wall time grow
  * from a testdata dir to its ScaleUp copy.
  *
  * {{{
  * runMain graft.ScaleUp <sf1x> <sfNx> <N>
  * runMain graft.ScaleProbes <sf1x> <sfNx> <probe>
  * }}}
  *
  * N is read back from the two dirs' `documents` row counts. `fuzzy`,
  * `lsh`, `simhash`, `contamination` and the shard regime of `cc` read
  * ScaleUp's output, whose copies are vocabulary-disjoint shards (see
  * [[ScaleUp]]). The regimes ScaleUp does not write are built here from
  * the 1× tables with [[ScaleUp.copies]], under `target/scaleprobes/`:
  * homogeneous growth for `bm25` and `cc`, per-key density growth for
  * `temporal`. `fuzzyrecall` runs at 1× only: its unblocked ground truth
  * is O(n²) by design.
  */
object ScaleProbes {
  private val probes: Map[String, Probe => Unit] = Map(
    "bm25" -> (_.bm25()), "lsh" -> (_.lsh()), "temporal" -> (_.temporal()),
    "contamination" -> (_.contamination()), "fuzzy" -> (_.fuzzy()),
    "fuzzyrecall" -> (_.fuzzyRecall()), "simhash" -> (_.simhash()), "cc" -> (_.cc()))

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 && probes.contains(args(2)),
      s"usage: ScaleProbes <sf1x> <sfNx> <${probes.keys.toSeq.sorted.mkString("|")}>")
    val spark = Sessions.local("graft-scaleprobes")
    probes(args(2))(new Probe(spark, args(0), args(1)))
    spark.stop()
  }

  private class Probe(spark: SparkSession, small: String, big: String) {
    import spark.implicits._

    private def load(d: String, t: String) = Tables.load(spark, d, t)

    lazy val factor: Int = math.round(
      load(big, "documents").count().toDouble / load(small, "documents").count()).toInt
    lazy val nx = s"${factor}x"

    /** factor copies of a 1× table, copy i with `key` offset by i·stride
      * and then remapped by `remap(_, i)`, written as `<table>.parquet`
      * of a probe-owned dir. */
    private def grown(name: String, table: String, key: String)(
        remap: (DataFrame, Int) => DataFrame = (df, _) => df): String = {
      val d = s"target/scaleprobes/$name"
      val base = load(small, table)
      val s = ScaleUp.stride(base, key)
      ScaleUp.copies(base, factor)(i => remap(base.withColumn(key, col(key) + lit(i * s)), i))
        .write.mode("overwrite").parquet(s"$d/$table.parquet")
      d
    }

    def bm25(): Unit = {
      // The inverted-index claim: scoring cost follows the QUERY-RESTRICTED
      // postings, not the token stream. Copies keep the original text, so
      // query-term postings and df grow exactly ×factor (homogeneous
      // growth — ScaleUp's salted shards would leave them at 1×); the
      // restricted share of the stream should stay constant.
      val dense = grown("bm25", "documents", "doc_id")()
      for ((label, d) <- Seq("1x" -> small, nx -> dense)) {
        val docs = load(d, "documents")
        val toks = docs.select($"doc_id", explode(TextOps.toks($"text")).as("term"))
          .filter(length($"term") > 0)
        val nTok = toks.count()
        val nPost = toks.filter($"term".isin(Retrieval.QueryTerms: _*)).count()
        // min of 2: the first run absorbs JIT warm-up
        val (top, t) = (1 to 2).map(_ =>
          timed(Retrieval.bm25TopK(docs, Retrieval.QueryTerms, 10).collect())).minBy(_._2)
        println(f"[bm25-probe] $label tokens=$nTok queryPostings=$nPost " +
          f"(${100.0 * nPost / nTok}%.2f%%) top1=${top.head.getLong(0)} time=$t%.2f s")
      }
    }

    def lsh(): Unit = {
      // Pinned r=4 vs autoBitsPerBand(n): pinned r keeps 2^r buckets, so
      // pairs grow ~factor²; auto r grows with log n and holds the
      // per-bucket fanout (and pair volume per vector) constant. ScaleUp's
      // k·7 cyclic shift keeps every within-copy cosine exact and
      // decorrelates copies, so near-dup structure grows ×factor.
      for ((lbl, d) <- Seq("1x" -> small, nx -> big)) {
        val n = load(d, "embeddings").count()
        val autoBits = Similarity.autoBitsPerBand(n)
        println(s"[lsh-probe] $lbl corpus n=$n autoBitsPerBand=$autoBits " +
          s"(declared queries use this, capped at ${Similarity.MaxLshBits}; " +
          s"'pinned' below = the fixed r=${Similarity.LshBitsPerBand})")
        for ((label, bits) <- Seq("pinned" -> Similarity.LshBitsPerBand, "auto" -> autoBits)) {
          val st = Similarity.bandBuckets(spark, d, Similarity.LshBands, bits)
            .groupBy($"band", $"bucket").count()
            .agg(count(lit(1)), max($"count"), sum($"count" * ($"count" - 1) / 2)).head()
          val (survivors, t) = timed(Dedup.embeddingNearDupLsh(spark, d,
            bitsPerBand = bits).count())
          println(f"[lsh-probe] $lbl $label r=$bits: buckets=${st.get(0)} " +
            f"maxBucket=${st.get(1)} generatedPairs=${st.get(2)} " +
            f"survivingPairs(cos≥0.30)=$survivors time=$t%.2f s")
        }
      }
    }

    def temporal(): Unit = {
      // The adversarial regime for per-key temporal joins is DENSITY
      // growth: same user_ids, factor× history each, ts shifted by
      // i·1327 ms (breaks exact-ts ties, keeps the span). A bare range
      // predicate plans as equi-join-on-key + filter, quadratic in
      // per-key density; the binned spelling caps candidates at ±1 lag
      // window per left row; the union+window as-of forms no pairs.
      val lagSec = 12L * 3600
      val dense = grown("temporal", "events", "event_id")((b, i) =>
        b.withColumn("ts", $"ts" + expr(s"INTERVAL ${i * 1327} milliseconds")))
      for ((lbl, d) <- Seq("1x" -> small, s"$nx-dense" -> dense)) {
        val ev = load(d, "events")
        val p = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("p_id"), $"user_id", $"ts")
        val v = ev.filter($"event_type" === "view")
          .select($"event_id", $"user_id", $"ts", $"value")
        // candidate volume each spelling materializes before its filter
        def perKey(df: DataFrame, keys: Column*) = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        def pairs(a: DataFrame, b: DataFrame, keys: Seq[String]) =
          a.join(b.withColumnRenamed("n", "m"), keys).agg(sum($"n" * $"m")).head().getLong(0)
        val naiveCand = pairs(perKey(p, $"user_id"), perKey(v, $"user_id"), Seq("user_id"))
        val lagUs = lagSec * 1000000L
        val binnedCand = pairs(
          perKey(p.withColumn("b", floor(unix_micros($"ts") / lagUs)), $"user_id", $"b"),
          perKey(v.withColumn("b0", floor(unix_micros($"ts") / lagUs))
            .withColumn("b", explode(array($"b0", $"b0" + 1))), $"user_id", $"b"),
          Seq("user_id", "b"))
        println(s"[temporal-probe] $lbl candidates: naiveRange=$naiveCand " +
          s"binnedRange=$binnedCand (x${naiveCand / math.max(binnedCand, 1)} reduction)")

        val (nBin, tBin) = timed(TemporalJoins.boundedRangeJoin(
          p, v, Seq("user_id"), "ts", "ts", lagSec).count())
        val (nNaive, tNaive) = timed(p.as("p").join(v.as("v"),
          $"p.user_id" === $"v.user_id" &&
            $"v.ts" >= $"p.ts" - expr(s"INTERVAL $lagSec seconds") &&
            $"v.ts" < $"p.ts").count())
        println(f"[temporal-probe] $lbl rangeJoin: binned=$tBin%.2f s " +
          f"naive=$tNaive%.2f s (pairs=$nBin%d, equal=${nBin == nNaive})")

        val (nAsof, tAsof) = timed(TemporalJoins.asofJoin(p, v,
          Seq("user_id"), "ts", "ts", rightPayload = Seq("event_id")).count())
        val (nAsofN, tAsofN) = timed(
          p.join(v.select($"event_id".as("v_id"), $"user_id", $"ts".as("v_ts")),
              Seq("user_id"), "left")
            .filter($"v_ts".isNull || $"v_ts" < $"ts")
            .withColumn("rk", row_number().over(
              Window.partitionBy($"p_id").orderBy($"v_ts".desc_nulls_last)))
            .filter($"rk" === 1).count())
        println(f"[temporal-probe] $lbl asof: unionWindow=$tAsof%.2f s " +
          f"naivePairMax=$tAsofN%.2f s (rows=$nAsof%d/$nAsofN%d)")
      }
    }

    def contamination(): Unit = {
      // d_contamination's design: the EVAL side broadcasts (benchmarks are
      // fixed-size) and the corpus never shuffles for the join, so a
      // factor× corpus should cost ~factor× scan. The eval set is copy 0's
      // ids only — the benchmark does not grow with the corpus.
      val docStride = ScaleUp.stride(load(small, "documents"), "doc_id")
      val isEval = $"doc_id" % 50 === 0 && $"doc_id" < docStride
      for ((lbl, d) <- Seq("1x" -> small, nx -> big)) {
        val all = load(d, "documents")
          .select($"doc_id", explode(TextOps.shingles(TextOps.toks($"text"))).as("s0"))
          .select($"doc_id", TextOps.hash48($"s0").as("tok"))
          .distinct()
        val evalPosts = all.filter(isEval).select($"doc_id".as("eval_id"), $"tok")
        val nEval = evalPosts.count()
        val nCorpus = all.count()
        val (pairs, t) = timed(all.filter(!isEval)
          .join(broadcast(evalPosts), "tok")
          .groupBy($"doc_id", $"eval_id").agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= 2).count())
        // broadcast feasibility: an eval posting is ~16 B (two longs),
        // against the 10 MiB default autoBroadcastJoinThreshold
        val postsPerDoc = nEval.toDouble /
          math.max(1L, evalPosts.select($"eval_id").distinct().count())
        val maxEvalDocs = (10L << 20) / 16 / math.max(1.0, postsPerDoc)
        println(f"[contam-probe] $lbl corpusPostings=$nCorpus " +
          f"evalPostings=$nEval (~${nEval * 16 / 1024}%d KiB broadcast) " +
          f"contaminatedPairs=$pairs time=$t%.2f s (~$postsPerDoc%.0f postings/evalDoc " +
          f"-> 10 MiB threshold fits ~$maxEvalDocs%.0f eval docs; beyond that " +
          f"flip to a shuffle join on tok)")
      }
    }

    private def parts(d: String) = load(d, "part").select($"p_partkey", $"p_name", $"p_brand")

    def fuzzy(): Unit = {
      // j7 blocking: brand-only blocking has within-block C(n,2)
      // candidates, quadratic in the catalog; the composite key (brand ×
      // token-pos × SymSpell del-1 variant) should track the name
      // VOCABULARY. ScaleUp's "~kkk" name salt keeps copies ≥ 3 edits
      // apart, so true matches grow ×factor. Claims: brand-only
      // candidates grow ~factor², SymSpell candidates and runtime ~factor.
      for ((lbl, d) <- Seq("1x" -> small, nx -> big)) {
        val p = parts(d)
        val byLen = p.groupBy($"p_brand", length($"p_name").as("l")).agg(count(lit(1)).as("n"))
        val brandCand = byLen.withColumn("l2", explode(sequence($"l", $"l" + 2))).as("a")
          .join(byLen.as("b"), $"a.p_brand" === $"b.p_brand" && $"a.l2" === $"b.l")
          .agg(sum(when($"a.l" === $"b.l", ($"a.n" * ($"a.n" - 1)).cast("long") / 2)
            .otherwise($"a.n" * $"b.n")).cast("long")).head().getLong(0)
        val symCand = Relational.j7Candidates(spark, d).count()
        println(s"[fuzzy-probe] $lbl catalog=${p.count()} " +
          s"brandOnlyCandidates=$brandCand symspellCandidates=$symCand")
        val (nOld, tOld) = timed(p.as("a").join(p.as("b"),
            $"a.p_brand" === $"b.p_brand" && $"a.p_partkey" < $"b.p_partkey" &&
              abs(length($"a.p_name") - length($"b.p_name")) <= 2)
          .withColumn("dist", levenshtein($"a.p_name", $"b.p_name", 2))
          .filter($"dist".between(0, 2)).count())
        val (nNew, tNew) = timed(Relational.queries("j7_fuzzy_block")(spark, d).count())
        println(f"[fuzzy-probe] $lbl brandOnly=$tOld%.2f s symspell=$tNew%.2f s " +
          f"(matches=$nNew%d, equal=${nOld == nNew})")
      }
    }

    def fuzzyRecall(): Unit = {
      // What each blocking stage gives up against UNBLOCKED ground truth:
      // every ed ≤ 2 pair across the whole catalog, any brand.
      val p = parts(small)
      val truth = p.as("a").crossJoin(p.as("b"))
        .filter($"a.p_partkey" < $"b.p_partkey" &&
          abs(length($"a.p_name") - length($"b.p_name")) <= 2 &&
          levenshtein($"a.p_name", $"b.p_name", 2).between(0, 2))
        .select(($"a.p_brand" === $"b.p_brand").as("same_brand"))
        .cache()
      val nTruth = truth.count()
      val nSameBrand = truth.filter($"same_brand").count()
      val nBlocked = Relational.queries("j7_fuzzy_block")(spark, small).count()
      println(f"[fuzzy-recall] 1x unblockedTruth=$nTruth withinBrand=$nSameBrand " +
        f"brandBlockRecall=${nSameBrand.toDouble / nTruth}%.4f symspellOutput=$nBlocked " +
        f"symspellRecallVsBrand=${nBlocked.toDouble / nSameBrand}%.4f")
    }

    def simhash(): Unit = {
      // Single-block 4 × 12-bit bands vs multi-index C(5,2) block-pair
      // bands (18-20-bit keys). Both have guaranteed recall at hamming
      // ≤ 3; what differs is the random-collision floor, n²/2^bits per
      // band, which goes quadratic for the 12-bit scheme at 10×.
      val widths = Seq(10, 10, 10, 9, 9)
      val offsets = widths.scanLeft(0)(_ + _).init
      def blk(b: Int) = shiftright($"simhash", offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
      val layouts = Seq(
        "single-block-4x12" -> (0 until 4).map(b =>
          shiftright($"simhash", b * 12).bitwiseAND(lit((1L << 12) - 1))),
        "block-pair-C(5,2)" -> (for { a <- 0 until 5; b <- (a + 1) until 5 }
          yield shiftleft(blk(a), widths(b)) + blk(b)))
      for ((lbl, d) <- Seq("1x" -> small, nx -> big)) {
        val sim = TextOps.simhashTable(load(d, "documents")).localCheckpoint()
        for ((name, bands) <- layouts) {
          val st = sim.select($"doc_id", posexplode(array(bands: _*)))
            .groupBy($"pos", $"col").agg(count(lit(1)).as("sz"))
            .filter($"sz" >= 2)
            .agg(sum($"sz" * ($"sz" - 1) / 2), max($"sz")).head()
          println(s"[simhash-probe] $lbl $name: genPairs=${st.get(0)} maxBucket=${st.get(1)}")
        }
        val (nOut, t) = timed(Dedup.simhashDedup(spark, d).count())
        println(f"[simhash-probe] $lbl simhashDedup(block-pair): outputPairs=$nOut time=$t%.2f s")
      }
    }

    def cc(): Unit = {
      // Posting-list + pointer-jumping dedup at factor× the corpus, in two
      // growth regimes:
      //  - shard (ScaleUp's output): copies are shingle-disjoint with the
      //    1× df distribution — everything should grow ~linearly, CC
      //    rounds ~O(log n);
      //  - homog: a per-copy marker token interleaved into the stream, so
      //    the (marker, token, marker) shingles have df = per-copy token
      //    df: COMMON shingles whose df grows with the corpus. The
      //    adversarial regime for an inverted-index join (pairs per list
      //    grow quadratically under the cap); maxShingleDf is the control.
      val homog = grown("cc-homog", "documents", "doc_id")((b, i) =>
        b.withColumn("text", regexp_replace($"text", " ", s" z$i ")))
      // per posting list under the cap: d·(d−1)/2 pairs in one batch, or
      // |old|·|new| + C(|new|,2) incrementally with batch = doc_id % 10 = 0
      def postings(d: String, cap: Long) = load(d, "documents")
        .select($"doc_id", explode(TextOps.shingles(TextOps.toks($"text"))).as("tok0"))
        .select($"doc_id", TextOps.hash48($"tok0").as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("d"), sum(($"doc_id" % 10 === 0).cast("long")).as("nn"))
        .filter($"d".between(2, cap))
      for ((label, d) <- Seq("1x" -> small, s"$nx-shard" -> big, s"$nx-homog" -> homog)) {
        for (cap <- Seq(1000L, 100L)) {
          val st = postings(d, cap)
            .agg(count(lit(1)), max($"d"), sum($"d" * ($"d" - 1) / 2)).head()
          val (n, t) = timed(Dedup.ngramJaccard(spark, d, maxShingleDf = cap).count())
          println(f"[cc-probe] $label ngram(df<=$cap): postingLists=${st.get(0)} " +
            f"maxDf=${st.get(1)} genPairs=${st.get(2)} survivingPairs=$n time=$t%.2f s")
        }
        val inc = postings(d, 100L).filter($"nn" >= 1)
          .agg(sum(($"d" - $"nn") * $"nn" + $"nn" * ($"nn" - 1) / 2)).head().get(0)
        val (nInc, tInc) = timed(Dedup.ngramJaccardIncremental(spark, d, _ % 10 === 0).count())
        println(f"[cc-probe] $label incremental(batch=10%%): incGenPairs=$inc " +
          f"survivingPairs=$nInc time=$tInc%.2f s")
        if (!label.endsWith("homog")) {
          // not on homog: its marker shingles fill half of every
          // signature's slots, far beyond any real Zipf tail
          val (nMh, tMh) = timed(Dedup.minhashDedup(spark, d).count())
          println(f"[cc-probe] $label minhash: survivingPairs=$nMh time=$tMh%.2f s")
        }
        val (_, tCc) = timed(Dedup.nearDupClusters(spark, d)
          .write.mode("overwrite").format("noop").save())
        println(f"[cc-probe] $label clusters(total incl. pair-gen): time=$tCc%.2f s")
      }
    }
  }
}
