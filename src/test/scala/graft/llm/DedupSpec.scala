package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup semantics on a corpus with PLANTED duplicates (the driver
  * testdata has organic near-dups; here we control ground truth). */
class DedupSpec extends SparkSpec {

  /** Tiny corpus: 0 and 1 exact dupes; 2 near-dup of 0 (one token
    * changed); 3 unrelated. Written as a documents.parquet table so the
    * operators run exactly as they do against driver testdata. */
  private lazy val dir: String = {
    import spark.implicits._
    val base = "spark makes big data simple and fast for everyone " +
      "catalyst optimizes the logical plan into physical stages " +
      "tungsten generates compact bytecode for modern hardware"
    val near = base.replace("modern", "current")
    val docs = Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (1L, base, "en", "s1", base.length.toLong),
      (2L, near, "en", "s2", near.length.toLong),
      (3L, "completely different words about cooking pasta with garlic " +
        "and olive oil in a cast iron pan over medium heat until golden",
        "en", "s3", 120L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("dedup-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("containment flags a doc quoted whole inside a larger one; jaccard misses it") {
    import spark.implicits._
    // doc 11 is a verbatim 12-token prefix of the 33-token doc 10:
    // every shingle of 11 is a shingle of 10 → containment 1.0, while
    // jaccard = 10/31 ≈ 0.32 — exactly the quote/wrapper case the
    // symmetric measure cannot see. doc 12 shares nothing.
    val big = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three " +
      "four five six seven"
    val small = big.split(" ").take(12).mkString(" ")
    val docs = Seq(
      (10L, big, "en", "s0", big.length.toLong),
      (11L, small, "en", "s1", small.length.toLong),
      (12L, "unrelated text about cooking pasta until golden and crisp",
        "en", "s2", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("contain-spec").toString
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Dedup.queries("dedup_containment")(spark, d)
      .select($"id_a", $"id_b", $"contained_id", $"containment", $"jaccard")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((10L, 11L, 11L, 1.0, 10.0 / 31.0)))
    // the jaccard query at its 0.8 threshold indeed misses the pair
    assert(Dedup.queries("dedup_ngram_jaccard")(spark, d).count() == 0L)
  }

  test("exact dedup groups identical texts under the smallest doc_id") {
    import spark.implicits._
    val out = Dedup.queries("dedup_exact")(spark, dir)
      .orderBy($"canonical_id")
      .select($"canonical_id", $"n_copies").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ngram jaccard finds the exact and near pair, not the unrelated doc") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccard(spark, dir, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH banding surfaces the same near-dup pairs") {
    import spark.implicits._
    val pairs = Dedup.minhashDedup(spark, dir, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash of near-dups is close in hamming distance, unrelated is far") {
    import spark.implicits._
    val sh = TextOps.queries("d_simhash")(spark, dir)
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) == 0)            // identical text
    assert(ham(sh(0L), sh(2L)) <= 6)            // one token changed
    assert(ham(sh(0L), sh(3L)) > 10)            // unrelated
  }

  test("minhash signature estimates jaccard for the near pair") {
    import spark.implicits._
    val sig = TextOps.queries("d_minhash_sig")(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val agree02 = sig(0L).zip(sig(2L)).count { case (a, b) => a == b }
    val agree03 = sig(0L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(sig(0L) == sig(1L))   // identical sets → identical signatures
    assert(agree02 >= 4)         // high-jaccard pair agrees on most slots
    assert(agree03 == 0)         // disjoint shingles
  }

  /** Skew corpus: 100 docs that share ONE planted stop-shingle ("aaa bbb
    * ccc") but are otherwise pairwise-unrelated, plus one genuine dup
    * pair. Uncapped, the stop-shingle's posting list alone emits
    * 100·99/2 = 4950 candidate pairs on a single key. */
  private lazy val skewDir: String = {
    import spark.implicits._
    val stop = "aaa bbb ccc"
    val docs = (0 until 100).map { i =>
      // 8 unique tokens per doc + the shared stop-shingle
      val uniq = (0 until 8).map(k => s"tok${i}_$k").mkString(" ")
      (i.toLong, s"$stop $uniq", "en", s"s$i", 50L)
    } ++ Seq(
      (100L, "genuine duplicate text content here repeated verbatim ok", "en", "s100", 50L),
      (101L, "genuine duplicate text content here repeated verbatim ok", "en", "s101", 50L))
    val d = Files.createTempDirectory("dedup-skew").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("shingle df cap bounds the stop-shingle pair blowup and reports the drop") {
    import spark.implicits._
    // Cap below the planted df: the 4950 stop-shingle pairs must vanish,
    // the genuine dup pair must survive (its shingles are rare).
    val pairs = Dedup.ngramJaccard(spark, skewDir, threshold = 0.5, maxShingleDf = 50L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
    // The cap is not silent: the diagnostic names the dropped shingle.
    val dropped = Dedup.stopShingles(spark, skewDir, maxShingleDf = 50L)
      .select($"df").as[Long].collect().toSeq
    assert(dropped == Seq(100L))
    // And uncapped (default 1000 > 100) the blowup is real — the planted
    // stop-shingle alone yields ≥ 4950 candidate pairs.
    val uncapped = Dedup.ngramJaccard(spark, skewDir, threshold = 0.0).count()
    assert(uncapped >= 4950L)
  }

  test("simhash banding finds identical docs at hamming 0, never unrelated ones") {
    import spark.implicits._
    val out = Dedup.simhashDedup(spark, dir, maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect()
    assert(out.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
    // pigeonhole guarantee: every emitted pair is within the radius
    assert(out.forall(_._3 <= 3L))
  }

  test("connected components assign one canonical id per near-dup group") {
    import spark.implicits._
    val canon = Dedup.nearDupClusters(spark, dir, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  /** Canonicalization policy on the shared fixture: cluster {0,1,2}
    * (0/1 identical, 2 one word longer) must keep doc 2 — the LONGEST
    * member, not the min-id label — and the unrelated doc 3 survives
    * as its own singleton. keep_chars cross-checked against the
    * documents table so the struct-max payload stays aligned. */
  test("canonical keep: longest member survives; singletons keep themselves") {
    import spark.implicits._
    val rows = Dedup.canonicalKeep(spark, dir, threshold = 0.5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val chars = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    assert(rows.keySet == Set(0L, 3L))
    assert(rows(0L) == ((2L, chars(2L), 3L)))
    assert(rows(3L) == ((3L, chars(3L), 1L)))
  }

  /** 30-doc CHAIN: doc i shares a token block only with doc i+1, so the
    * component's diameter is 29 — plain neighbor-min propagation needs
    * 29 rounds (past the 25-round cap → silently wrong); pointer
    * jumping must collapse it in O(log n). */
  test("connected components converge on a long chain (pointer jumping)") {
    import spark.implicits._
    def block(i: Int) = (0 until 10).map(k => s"b${i}w$k").mkString(" ")
    val docs = (0 until 30).map { i =>
      (i.toLong, block(i) + " " + block(i + 1), "en", s"s$i", 100L)
    }
    val d = Files.createTempDirectory("dedup-chain").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val canon = Dedup.nearDupClusters(spark, d, threshold = 0.2)
      .as[(Long, Long)].collect().toMap
    assert(canon.size == 30)
    assert(canon.values.forall(_ == 0L),
      s"chain not fully merged: ${canon.filter(_._2 != 0L)}")
  }

  test("connectedComponents throws instead of returning split components at its round cap") {
    import spark.implicits._
    // a 64-node chain needs ~log2(64) pointer-jumping rounds; one round
    // leaves it split, which must fail loudly rather than be returned
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxRounds = 1).collect())
    assert(e.getMessage.contains("not converged after 1 rounds"), e.getMessage)
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    // Property check of the distributed CC (incl. the monotone label-sum
    // convergence test) against a trivially-correct sequential oracle,
    // on seeded random graphs spanning sparse fragments to one giant
    // component.
    val rnd = new scala.util.Random(20260812L)
    for (nEdges <- Seq(15, 60, 150)) {
      val n = 60
      val edges = Seq.fill(nEdges)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap

      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minOfComp = (0 until n).groupBy(find).map { case (r, ms) => r -> ms.min }
      val inEdges = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = inEdges.map(i => i -> minOfComp(find(i.toInt)).toLong).toMap
      assert(got == want, s"nEdges=$nEdges: CC disagrees with union-find")
    }
  }

  test("cluster law on driver testdata: near-dup pair endpoints share a canonical id") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val canon = Dedup.nearDupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(canon(a) == canon(b), s"pair ($a,$b) split across components")
    }
    // canonical ids are component minima → idempotent under lookup
    canon.values.foreach(c => assert(canon(c) == c, s"canonical $c not a fixpoint"))
  }

  /** Property check on the pair expansion EVERY candidate generator
    * rides on (ngram, minhash, simhash, embedding-LSH posting lists):
    * a sorted distinct d-element list must emit exactly d(d-1)/2 pairs,
    * each strictly ordered, covering every 2-subset once. */
  test("orderedPairs emits exactly the d(d-1)/2 strict 2-subsets") {
    import spark.implicits._
    val lists: Seq[Seq[Long]] =
      Seq(Seq(), Seq(7L), Seq(1L, 2L), Seq(3L, 9L, 27L),
        (0L until 10L).toSeq, Seq(5L, 10L, 15L, 20L, 25L, 30L, 35L))
    lists.foreach { ids =>
      val got = Seq(ids).toDF("ids")
        .select(explode(Dedup.orderedPairs(col("ids"))).as("p"))
        .select($"p.id_a", $"p.id_b").as[(Long, Long)].collect().toSet
      val want = (for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))).toSet
      assert(got == want, s"ids=$ids")
      assert(got.size == ids.size * (ids.size - 1) / 2)
      assert(got.forall { case (a, b) => a < b })
    }
  }

  /** Cross-operator consistency on driver testdata: minhash banding is
    * the PROBABILISTIC candidate generator for the same exact-Jaccard
    * predicate ngramJaccard evaluates exhaustively, so at a SF where the
    * df cap drops nothing (sf0.01 max shingle df = 7) minhash pairs ⊆
    * ngram pairs MUST hold; and exact text duplicates (identical
    * shingles → identical signatures → same band buckets → Jaccard 1)
    * are GUARANTEED to surface in both. */
  test("cross-operator law: minhash ⊆ ngram; exact dups surface in both") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val ngram = Dedup.ngramJaccard(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val minhash = Dedup.minhashDedup(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(minhash.nonEmpty && ngram.nonEmpty)
    assert(minhash.subsetOf(ngram),
      s"minhash emitted pairs ngram rejects: ${minhash -- ngram}")
    // exact-dup guarantee on the planted corpus (driver testdata has
    // near-dups but no byte-identical texts): docs 0/1 are identical →
    // identical shingles → identical signatures → same buckets → both
    // detectors MUST emit the pair, at the default 0.8 threshold.
    val plantedNgram = Dedup.ngramJaccard(spark, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val plantedMinhash = Dedup.minhashDedup(spark, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(plantedNgram.contains((0L, 1L)))
    assert(plantedMinhash.contains((0L, 1L)))
    assert(plantedMinhash.subsetOf(plantedNgram))
  }

  /** The reliable-checkpoint mode (for real clusters, where a lost
    * executor kills localCheckpoint's un-replicated blocks mid-iteration)
    * must be a pure materialization-strategy switch: same rows, written
    * into the context's own checkpoint dir. */
  test("reliable checkpointDir mode matches localCheckpoint mode exactly") {
    import spark.implicits._
    val ckpt = new java.io.File(new java.net.URI(
      spark.sparkContext.getCheckpointDir.get))
    def rddDirs = ckpt.listFiles().map(_.getName).filter(_.startsWith("rdd-")).toSet
    val before = rddDirs
    val localClusters = Dedup.nearDupClusters(spark, dir, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    val reliableClusters = Dedup.nearDupClusters(spark, dir, threshold = 0.5,
        reliable = true)
      .as[(Long, Long)].collect().toMap
    assert(reliableClusters == localClusters)
    val localSim = Dedup.simhashDedup(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val reliableSimDf = Dedup.simhashDedup(spark, dir, reliable = true)
    val reliableSim = reliableSimDf.as[(Long, Long, Long)].collect().toSet
    assert(reliableSim == localSim)
    // the reliable mode really wrote RDD checkpoint files (the live
    // frame's checkpoint cannot have been cleaned yet)
    assert((rddDirs -- before).nonEmpty)
    assert(reliableSimDf.count() == reliableSim.size)
  }

  test("incremental dedup equals the full pass restricted to new-batch pairs") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val fast = Dedup.ngramJaccardIncremental(spark, sf, isNew = _ % 10 === 0)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val full = Dedup.ngramJaccard(spark, sf)
      .filter($"id_a" % 10 === 0 || $"id_b" % 10 === 0)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(fast == full)
    // and the batch path never emits a corpus-only pair
    assert(fast.forall { case (a, b, _) => a % 10 == 0 || b % 10 == 0 })
  }

  /** Short docs (<3 tokens → empty shingle set) must not pair with each
    * other through the identity MinHash signature, and must not produce
    * NULL/NaN Jaccard rows. */
  test("minhash banding excludes empty-shingle docs instead of all-pairing them") {
    import spark.implicits._
    val base = "spark makes big data simple and fast for everyone today"
    val docs = Seq(
      (0L, base, "en", "s0", 50L),
      (1L, base, "en", "s1", 50L),
      (2L, "hi", "en", "s2", 2L),      // <3 tokens: empty shingles
      (3L, "yo there", "en", "s3", 8L) // <3 tokens: empty shingles
    )
    val d = Files.createTempDirectory("dedup-short").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Dedup.minhashDedup(spark, d, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L))) // the dup pair, and ONLY it — no (2,3)
  }

  /** The bloom spelling must be row-identical to the broadcast spelling:
    * bloom false positives die in the exact verify join, so the sketch is
    * purely a pre-shuffle volume cut. On the planted corpus doc 0 is the
    * eval doc (0 % 50 == 0): its exact dup 1 and near-dup 2 share ≥ 2
    * shingles, unrelated 3 shares none. */
  test("bloom decontamination equals the broadcast spelling exactly") {
    import spark.implicits._
    val broadcastOut = Dedup.contamination(spark, dir)
      .select($"doc_id", $"eval_id", $"n_shared")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val bloomOut = Dedup.contaminationBloom(spark, dir)
      .select($"doc_id", $"eval_id", $"n_shared")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(bloomOut == broadcastOut)
    assert(bloomOut.map { case (d2, e, _) => (d2, e) } == Seq((1L, 0L), (2L, 0L)))
  }

  /** Exact JVM replication of the dedup_substring sampling rule: 40-char
    * windows anchored at position 1 and after every space. */
  private def sampledWindows(text: String): Seq[String] =
    (1 to text.length - 39)
      .filter(p => p == 1 || text.charAt(p - 2) == ' ')
      .map(p => text.substring(p - 1, p - 1 + 40))

  test("substring dedup: token-anchored windows catch a copy at a DIFFERENT offset") {
    import spark.implicits._
    // The shared run sits at char offset 12 in doc 10 and offset 3 in
    // doc 11 — a difference of 9, NOT a multiple of any fixed stride —
    // so a fixed-stride sampler would never align the two copies. The
    // token-boundary anchor is content-defined: both copies anchor the
    // same windows wherever they sit. Doc 12 shares nothing.
    val run = "the quick brown fox jumps over the lazy dog again and " +
      "again until the corpus repeats itself verbatim"
    val docs = Seq(
      (10L, "aaa bbbbbbb " + run + " unique-tail-one padding words", "en", "sA", 0L),
      (11L, "zz " + run + " other-tail-two entirely", "en", "sB", 0L),
      (12L, "completely unrelated content about databases and query " +
        "planners that shares no forty char span", "en", "sC", 0L))
    val d = Files.createTempDirectory("substr-spec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // planted truth, replayed exactly on the JVM
    val byDoc = docs.map { case (id, t, _, _, _) => id -> sampledWindows(t) }
    val dupSet = byDoc.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).collect { case (w, hits)
        if hits.map(_._2).distinct.size >= 2 => w }.toSet
    val expected = byDoc.map { case (id, ws) =>
      (id, ws.size.toLong, ws.count(dupSet).toLong) }.toSet
    val out = Dedup.queries("dedup_substring")(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == expected)
    // the planted truth is non-trivial: both copies detected, control clean
    val dupOf = out.map(r => r._1 -> r._3).toMap
    assert(dupOf(10L) > 0L && dupOf(11L) > 0L && dupOf(12L) == 0L)
  }

  test("sketch eval: the metric row is consistent with its two underlying pair queries") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val pred = Dedup.queries("dedup_minhash")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val truth = Dedup.queries("dedup_ngram_jaccard")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val Seq((nPred, nTrue, tp, fp, fn, prec, rec)) =
      Dedup.queries("dedup_sketch_eval")(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(nPred == pred.size && nTrue == truth.size)
    assert(tp == (pred intersect truth).size)
    assert(fp == nPred - tp && fn == nTrue - tp)
    assert(prec == (if (nPred > 0) tp * 1000000L / nPred else 0L))
    assert(rec == (if (nTrue > 0) tp * 1000000L / nTrue else 0L))
    assert(nTrue > 0, "testdata must contain true near-dup pairs")
  }

  /** SemDeDup law: full independent driver-side replay. Assignment,
    * priority, and the drop rule are recomputed from the SAME persisted
    * centroid artifact the engine reads, with plain Scala arithmetic,
    * and the engine output must match row-for-row. Non-vacuity (both
    * classes present) and determinism are asserted on top. */
  test("semdedup equals a driver-side replay from the persisted centroids") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val tau = 0.30
    val out = Dedup.semDedup(spark, sf, tau)
      .as[(Long, Long, Boolean)].collect().toSet
    val cents = graft.llm.AnnIndex.semCents(spark, sf)
      .select($"list_id", $"cent").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map { case (i, c) => (i.toLong, c.toArray) }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // same ‖v‖² + ‖c‖² − 2·v·c spelling (and fold order) as both engines
    def sqn(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }; s
    }
    val asg = vecs.map { case (id, v) =>
      val vn = sqn(v)
      val (li, d) = cents.map { case (li, c) => (li, vn + sqn(c) - 2.0 * dot(v, c)) }
        .minBy { case (li, d) => (d, li) }
      (id, li, d, v)
    }
    val byList = asg.groupBy(_._2)
    val want = asg.map { case (id, li, d, v) =>
      val dup = byList(li).exists { case (oid, _, od, ov) =>
        (od < d || (od == d && oid < id)) && dot(v, ov) >= tau
      }
      (id, li, dup)
    }.toSet
    assert(out == want, "engine disagrees with the driver-side replay")
    assert(out.exists(_._3) && out.exists(!_._3),
      "law is vacuous: need both dropped and kept vectors")
    assert(out.map(_._1).size == vecs.length, "output must partition the corpus")
    val again = Dedup.semDedup(spark, sf, tau)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(again == out, "semdedup must be deterministic")
  }
}
