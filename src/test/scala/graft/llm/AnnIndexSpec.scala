package graft.llm

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Laws for the persisted ANN index store's lifecycle plumbing (VERDICT
  * r11 Next #3/#4): the atomic-write failure contract, the store-hygiene
  * sweep, and the value-sensitivity of the corpus signature. These are
  * the non-query guarantees the serve-path oracles lean on — a silent
  * writeAtomic failure degrades serve to retrain-per-call, and an
  * insensitive signature serves a stale index for a regenerated corpus.
  */
class AnnIndexSpec extends SparkSpec {

  // Two corpora with the same row count (500 embeddings each) and
  // different sigs.
  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** The pq component dirs of the corpus at `dir`, trained if absent. */
  private def pqDirs(dir: String): Seq[Path] =
    AnnIndex.pqPaths(spark, dir).values.map(Paths.get(_)).toSeq

  private def df2 = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
  }

  test("writeAtomic rethrows when the rename fails and no artifact exists") {
    // Plant a real rename failure (VERDICT r11 Next #3): the target path
    // is occupied by a plain FILE, so ATOMIC_MOVE fails and ready() is
    // false — the old broad catch swallowed this and loaders then read
    // a missing artifact; the contract is rethrow.
    val d = tmpDir("graft-annidx-fail")
    val target = d.resolve("sig=1_1_1")
    Files.write(target, Array[Byte](1, 2, 3))
    val e = intercept[java.nio.file.FileSystemException] {
      AnnIndex.writeAtomic(df2, target.toString)
    }
    assert(e.getFile != null)
    // the loser's temp copy must not linger either way
    assert(!Files.list(d).anyMatch(p =>
      p.getFileName.toString.startsWith("_tmp-")))
    graft.util.Scratch.deleteRecursively(d)
  }

  test("writeAtomic stays silent on the exists-race (complete target)") {
    // The lost-race case: a concurrent writer completed the SAME
    // artifact first. The move fails, but ready(target) holds — the
    // loser discards its identical copy silently.
    val d = tmpDir("graft-annidx-race")
    val target = d.resolve("sig=1_1_1")
    AnnIndex.writeAtomic(df2, target.toString) // winner
    assert(AnnIndex.ready(target.toString))
    AnnIndex.writeAtomic(df2, target.toString) // loser: no throw
    assert(AnnIndex.ready(target.toString))
    assert(!Files.list(d).anyMatch(p =>
      p.getFileName.toString.startsWith("_tmp-")))
    graft.util.Scratch.deleteRecursively(d)
  }

  test("sweep prunes same-tier stale sigs and dead temps, keeps the rest") {
    val d = tmpDir("graft-annidx-sweep")
    val keep = d.resolve("sig=500_1_1")
    val staleSameTier = d.resolve("sig=500_9_9")
    val otherTier = d.resolve("sig=600_1_1")
    val deadTmp = d.resolve("_tmp-sig=500_9_9-999999999") // pid can't exist
    val liveTmp = d.resolve(
      s"_tmp-sig=500_8_8-${ProcessHandle.current().pid()}")
    Seq(keep, staleSameTier, otherTier, deadTmp, liveTmp)
      .foreach(Files.createDirectories(_))
    AnnIndex.sweep(keep.toString, "500_1_1", d.toString)
    assert(Files.exists(keep), "current artifact must survive")
    assert(!Files.exists(staleSameTier),
      "same-tier regenerated-corpus leftover must be pruned")
    assert(Files.exists(otherTier),
      "other sf tiers' artifacts must survive (bench would retrain)")
    assert(!Files.exists(deadTmp), "dead writer's temp must be swept")
    assert(Files.exists(liveTmp), "live writer's in-flight temp is not ours")
    graft.util.Scratch.deleteRecursively(d)
  }

  test("store stays bounded: one sig dir per corpus path after ensure") {
    // ensure prunes, so the oracle's componentGlob scans a file list
    // whose size is independent of how many generations of a corpus the
    // store has seen. Planted next to sf0.01's current artifacts: a
    // complete dir trained from an earlier sf0.01 (its only fingerprint
    // names sf0.01's path), and one that both an earlier sf0.01 and
    // another corpus path resolved to. The ensure needs no train, and
    // still prunes the first and drops sf0.01's line from the second.
    val cur = pqDirs(sf01)
    def plant(c: Path, sig: String, fp: String): Path = {
      val d = c.resolveSibling(s"sig=$sig")
      Files.createDirectories(d)
      Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.writeString(d.resolve("_FP"), fp + "\n")
      d
    }
    val mine = s"${Paths.get(sf01).toAbsolutePath.normalize}::"
    val stale = cur.map(plant(_, "500_1_1", mine + "an-earlier-listing"))
    // a live corpus path: the line of a deleted one is stale by itself
    val corpus = tmpDir("graft-annidx-elsewhere")
    val elsewhere = s"$corpus::listing"
    val other = cur.map(plant(_, "500_2_2",
      s"$elsewhere\n${mine}an-earlier-listing"))
    try {
      assert(pqDirs(sf01) == cur)
      assert(cur.forall(d => AnnIndex.ready(d.toString)))
      assert(stale.forall(!Files.exists(_)),
        "a leftover of an earlier sf0.01 must be pruned")
      assert(other.forall(Files.exists(_)),
        "another corpus path's artifact must survive")
      assert(other.forall(d =>
        Files.readAllLines(d.resolve("_FP")).asScala == Seq(elsewhere)),
        "sf0.01's stale fingerprint must be dropped")
    } finally (stale ++ other :+ corpus).foreach(graft.util.Scratch.deleteRecursively)
  }

  test("a deleted corpus's artifacts are pruned by the next ensure") {
    // A temp corpus of sf0.001's ids with shifted vectors: same row count,
    // its own sig, so its ensure trains its own dirs. Once the corpus is
    // deleted nothing ensures it again; the next ensure of another corpus
    // must still prune its dirs.
    import spark.implicits._
    val d = tmpDir("graft-annidx-gone")
    graft.Tables.load(spark, sf001, "embeddings")
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", x => x + 0.5f)
          .as("embedding"))
      .write.parquet(s"$d/embeddings.parquet")
    val gone = try pqDirs(d.toString) finally graft.util.Scratch.deleteRecursively(d)
    assert(gone.forall(g => AnnIndex.ready(g.toString)))
    val sig001 = s"sig=${AnnIndex.sig(spark, sf001)}"
    assert(gone.forall(_.getFileName.toString != sig001))
    try {
      pqDirs(sf001)
      assert(gone.forall(!Files.exists(_)),
        "the deleted corpus's artifacts must be pruned")
    } finally gone.foreach(graft.util.Scratch.deleteRecursively)
  }

  test("a corpus with the same row count keeps the other's artifacts") {
    // sf0.001 and sf0.01 both hold 500 embeddings: the sweep keyed on the
    // row count deleted one's artifacts on every ensure of the other.
    def inodes(ds: Seq[Path]) = ds.map(d =>
      Files.readAttributes(d, classOf[BasicFileAttributes]).fileKey())
    val small = pqDirs(sf001)
    val before = inodes(small)
    assert(before.forall(_ != null))
    // sf0.01's ensure must train, so that its sweep meets sf0.001's dirs
    pqDirs(sf01).foreach(graft.util.Scratch.deleteRecursively)
    AnnIndex.ensurePq(spark, sf01)
    assert(small.forall(d => AnnIndex.ready(d.toString)),
      "ensuring sf0.01 must keep sf0.001's artifacts")
    AnnIndex.ensurePq(spark, sf001)
    assert(inodes(small) == before, "the third ensure must train nothing")
  }

  test("a corpus regenerated at its path replaces its old artifacts") {
    // P first holds sf0.001's bytes. sf0.001's own dirs are removed so
    // that P's artifact is trained from P alone; then P is overwritten
    // with sf0.01's bytes, whose artifact already exists. A fixed P, so
    // that each run's first ensure drops the line the last run left in
    // sf0.01's `_FP`.
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft-annidx-regen")
    graft.util.Scratch.deleteRecursively(p)
    Files.createDirectories(p)
    val emb = p.resolve("embeddings.parquet")
    try {
      pqDirs(sf001).foreach(graft.util.Scratch.deleteRecursively)
      pqDirs(sf01)
      Files.copy(Paths.get(sf001, "embeddings.parquet"), emb)
      val old = pqDirs(p.toString)
      assert(old.forall(d => AnnIndex.ready(d.toString)))
      Files.copy(Paths.get(sf01, "embeddings.parquet"), emb,
        StandardCopyOption.REPLACE_EXISTING)
      assert(pqDirs(p.toString) == pqDirs(sf01))
      assert(old.forall(!Files.exists(_)),
        "the artifact trained from P's old bytes must be swept")
    } finally {
      graft.util.Scratch.deleteRecursively(p)
      pqDirs(sf001) // leave sf0.001's artifacts trained for later suites
    }
  }

  test("sig is read job-free from the _FP sidecar and rescanned after a corpus change") {
    // A BYTE copy of sf0.001's corpus: same sig, so it resolves to
    // sf0.001's artifacts and trains nothing. A fixed dir and the
    // source's mtime give the copy the same fingerprint on every run,
    // so the `_FP` line it records
    // does not pile up in the shared store run after run.
    val d = Paths.get(sys.props("java.io.tmpdir"), "graft-annidx-memo")
    graft.util.Scratch.deleteRecursively(d)
    Files.createDirectories(d)
    val copy = d.resolve("embeddings.parquet")
    Files.copy(Paths.get(sf001, "embeddings.parquet"), copy,
      StandardCopyOption.COPY_ATTRIBUTES)
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def jobsOf(f: => String): (String, Int) = {
      ListenerDrain(sc); jobs.set(0)
      val r = f
      ListenerDrain(sc); (r, jobs.get)
    }
    sc.addSparkListener(counter)
    try {
      AnnIndex.ensurePq(spark, d.toString) // records the copy's fingerprint
      val (memo, memoJobs) = jobsOf(AnnIndex.sig(spark, d.toString))
      assert(memoJobs == 0, s"a recorded fingerprint must not rescan ($memoJobs jobs)")
      Files.setLastModifiedTime(copy, FileTime.fromMillis(
        Files.getLastModifiedTime(copy).toMillis + 60000L))
      val (rescanned, scanJobs) = jobsOf(AnnIndex.sig(spark, d.toString))
      assert(scanJobs >= 1, "a changed file listing must rescan the corpus")
      assert(rescanned == memo, "same bytes, same sig")
    } finally {
      sc.removeSparkListener(counter)
      graft.util.Scratch.deleteRecursively(d)
    }
  }

  test("corpus signature is value-sensitive, not just id-sensitive") {
    import spark.implicits._
    // Two corpora with IDENTICAL vec_ids whose vectors differ — the
    // ADVICE r11 #2 scenario (generator change between rounds). The
    // (count, Σvec_id) signature was blind to this and served a stale
    // index; the third term must split them.
    val a = tmpDir("graft-annidx-siga")
    val b = tmpDir("graft-annidx-sigb")
    def corpus(shift: Float) = Seq(
      (0L, Array(0.25f + shift, 0.5f)),
      (1L, Array(-0.75f, 0.1f + shift))).toDF("vec_id", "embedding")
    corpus(0.0f).write.parquet(s"$a/embeddings.parquet")
    corpus(0.125f).write.parquet(s"$b/embeddings.parquet")
    val sa = AnnIndex.sig(spark, a.toString)
    val sb = AnnIndex.sig(spark, b.toString)
    assert(sa != sb, s"value change must change the signature ($sa)")
    assert(sa.split("_").take(2).sameElements(sb.split("_").take(2)),
      "count and id terms are identical by construction")
    graft.util.Scratch.deleteRecursively(a)
    graft.util.Scratch.deleteRecursively(b)
  }
}
