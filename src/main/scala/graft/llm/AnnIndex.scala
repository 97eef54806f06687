package graft.llm

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted ANN index artifacts.
  *
  * The IVF / PQ / IVF-PQ / SemDeDup tiers train their KMeans codebooks
  * once per corpus and serve many queries from the store: a fit inside
  * every query invocation would make every call fit-dominated. This
  * store materializes the artifact kinds as parquet tables:
  *
  *   ivf   : cents(list_id, cent DOUBLE[])            — coarse centroids
  *           codes(vec_id, list_id)                   — inverted lists
  *   pq    : books(sub, code, cent DOUBLE[])          — m×ncodes codebooks
  *           codes(vec_id, c0..c{m-1})                — 4 B/vector codes
  *   ivfpq : cents + books (residual) + codes(vec_id, list_id, c0..c{m-1})
  *   sem   : cents(list_id, cent DOUBLE[])            — SemDeDup clusters
  *
  * Layout contract:
  *  - one directory per (kind, component, corpus signature):
  *    `<tmpdir>/graft-index/<Version>/<kind>/<component>/sig=<sig>` —
  *    the sig= spelling is DELIBERATE hive partitioning: a DuckDB oracle
  *    reads the glob with hive_partitioning=1 and filters on the same
  *    [[sig]] signature it computes from the embeddings table,
  *    so the static oracle string finds the right corpus's artifact
  *    without knowing the sfDir. That is what makes the PQ/IVF tiers
  *    hash-checked although KMeans is engine-internal: the codebooks
  *    are a pinned parquet input BOTH engines read, and the ADC scan +
  *    shortlist + exact re-rank is plain arithmetic either side can
  *    replay bit-exactly (doubles round-trip parquet exactly).
  *  - [[Version]] pins the hyperparameters; any format/param change bumps
  *    it rather than silently reusing a stale artifact.
  *  - writes are write-to-temp + atomic rename, so a concurrent second
  *    JVM can never observe a half-written index; the loser of the
  *    rename race discards its copy (both trained the same artifact).
  *  - a tier trains only when its artifact is absent ([[ensure]]);
  *    [[trainIvfPq]] never reads the store — `sim_topk_ivfpq` stays the
  *    honest build-cost benchmark while `sim_topk_ivfpq_cached` (and the
  *    pq/ivf tiers) measure the serve path.
  *  - this object is the only place an artifact becomes a DataFrame
  *    ([[read]]); each public reader reads only the components its
  *    callers use, because every schema-inferring read is a Spark job.
  *
  * At 100 TB the codes tables live wherever the corpus lives (they are
  * the compressed corpus); only the codebooks/centroids — kilobytes —
  * are driver metadata. Scoring reads nprobe lists' codes, never vectors.
  */
object AnnIndex {

  // Hyperparameters — pinned into Version so artifacts can't go stale
  // silently. Mirrors Similarity's declared-query configuration.
  val NList = 16
  val M = 8
  val NCodes = 16
  val Dim = 64
  val SubDim: Int = Dim / M

  val Version = s"v1-nlist$NList-m$M-nc$NCodes"

  def base: String =
    Paths.get(sys.props("java.io.tmpdir"), "graft-index", Version).toString

  /** Corpus signature: row count + Σvec_id + Σ⌊1e6·embedding[0]⌋ —
    * cheap on both engines (a two-column scan), distinct across every
    * sf tier, and recomputed per invocation so a regenerated corpus
    * gets a fresh artifact. The third term is VALUE-sensitive: a corpus
    * regenerated with the same vec_ids but different vectors must not
    * silently serve a stale index. The micro-quantized integer sum is
    * bit-exact on both engines (float→double widening is exact, the
    * double multiply+floor are identical IEEE ops, the sum is exact
    * integer arithmetic). */
  def sig(spark: SparkSession, dir: String): String = sigFp(spark, dir)._1

  /** [[sig]] plus the fingerprint it was resolved under. [[ensure]]
    * hands that same fingerprint to [[recordFp]]: rescanning the files
    * after training could bind a corpus changed in the meantime to the
    * sig of the old one.
    *
    * The sig is memoized in the store itself, not in the process: each
    * persisted component dir records the corpus files' metadata
    * fingerprint in a `_FP` sidecar (written by recordFp after the
    * artifact exists; `_`-prefixed, so invisible to both parquet readers
    * and the oracle's `sig=*` parquet glob). A matching sidecar line
    * proves some persisted tier was trained from THIS exact file set, so
    * the sig can be read off the dir name instead of re-paid as a corpus
    * scan. A cold JVM gets the same answer at the same (filesystem-
    * metadata) cost as a warm one, and a regenerated corpus (new
    * sizes/mtimes) misses and rescans. */
  private def sigFp(spark: SparkSession, dir: String): (String, String) = {
    val fp = fsFingerprint(dir)
    (storedSig(fp).getOrElse {
      val r = Tables.load(spark, dir, "embeddings")
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sv"),
          sum(floor(col("embedding").getItem(0).cast("double") * 1000000)
            .cast("long")).as("ev")).head()
      s"${r.getLong(0)}_${r.getLong(1)}_${r.getLong(2)}"
    }, fp)
  }

  /** Every `<kind>/<component>/sig=*` dir in the store — a few directory
    * reads, never a data scan. */
  private def sigDirs(): Seq[Path] = {
    def subdirs(p: Path): Seq[Path] = {
      val st = Files.list(p)
      try st.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally st.close()
    }
    val b = Paths.get(base)
    if (!Files.isDirectory(b)) Nil
    else subdirs(b).flatMap(subdirs).flatMap(subdirs)
      .filter(_.getFileName.toString.startsWith("sig="))
  }

  private def fpLines(sigDir: Path): Set[String] = {
    val f = sigDir.resolve("_FP")
    if (Files.exists(f)) Files.readAllLines(f).asScala.toSet else Set.empty
  }

  /** The sig of a component dir whose `_FP` sidecar holds `fp`. */
  private def storedSig(fp: String): Option[String] =
    sigDirs().collectFirst {
      case sd if fpLines(sd).contains(fp) => sd.getFileName.toString.stripPrefix("sig=")
    }

  /** Record `fp`, the fingerprint [[sigFp]] resolved `s` under, into
    * every complete `sig=<s>` component dir (idempotent append). Called
    * by [[ensure]] AFTER its artifacts exist, so the sidecar always
    * describes a complete tier. Multiple fingerprints per sidecar are
    * fine — a corpus rewritten byte-identically (same sig, new mtimes)
    * appends a second line mapping to the same sig. */
  private def recordFp(s: String, fp: String): Unit =
    sigDirs()
      .filter(sd => sd.getFileName.toString == s"sig=$s" &&
        ready(sd.toString) && !fpLines(sd).contains(fp))
      .foreach(sd => Files.writeString(sd.resolve("_FP"), fp + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND))

  /** One line of filesystem metadata identifying the corpus: the dir
    * path (so two corpora with coincidentally identical listings can
    * never share a sidecar line) plus every data file's
    * (name, size, mtime). */
  private def fsFingerprint(dir: String): String =
    s"${Paths.get(dir).toAbsolutePath.normalize}::${fsListing(dir)}"

  private def fsListing(dir: String): String = {
    val p = Paths.get(dir, "embeddings.parquet")
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try st.iterator().asScala.toSeq.sortBy(_.toString)
        .map(f => s"${f.getFileName}:${Files.size(f)}:" +
          s"${Files.getLastModifiedTime(f).toMillis}")
        .mkString("|")
      finally st.close()
    } else if (Files.exists(p))
      s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    else "absent"
  }

  /** The DuckDB spelling of [[sig]] as a one-row CTE body. */
  val sigSql: String =
    "SELECT CAST(count(*) AS VARCHAR) || '_' || CAST(sum(vec_id) AS VARCHAR)" +
      " || '_' || CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)" +
      " AS BIGINT)) AS VARCHAR) AS s FROM embeddings"

  def componentPath(kind: String, component: String, s: String): String =
    s"$base/$kind/$component/sig=$s"

  /** Oracle-side glob for a component (all sigs; the oracle filters). */
  def componentGlob(kind: String, component: String): String =
    s"$base/$kind/$component/sig=*/*.parquet"

  private[llm] def ready(p: String): Boolean =
    Files.exists(Paths.get(p, "_SUCCESS"))

  /** Write-to-temp + atomic rename; the rename loser (target appeared
    * concurrently) discards its identical copy. The temp name must NOT
    * match the oracle's `sig=*` glob — a writer that died mid-write
    * would otherwise leave a half-written parquet file readable by the
    * glob; `_tmp-…` is skipped by both the glob and parquet dir rules.
    * A move failure is only swallowed when the target actually exists
    * complete (the lost-race case); otherwise it rethrows, so a loader
    * never reads a missing or half-written artifact. */
  private[llm] def writeAtomic(df: DataFrame, target: String): Unit = {
    val t = Paths.get(target)
    val tmp = t.resolveSibling(
      s"_tmp-${t.getFileName}-${ProcessHandle.current().pid()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    try Files.move(tmp, t, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        graft.util.Scratch.deleteRecursively(tmp)
        if (!ready(target)) throw e
    }
  }

  /** Store hygiene, run before any train:
    *  - prune sibling `sig=*` artifacts of the SAME TIER (identical
    *    row-count component, different value/id components) — those are
    *    regenerated-corpus leftovers, and they both grow the store
    *    unboundedly and shift the oracle's componentGlob file list
    *    (DuckDB cardinality estimates move with it — an oracle green in
    *    one environment could flip to a join-order bomb in another).
    *    OTHER tiers' artifacts are kept deliberately: a verify at one sf
    *    is routinely followed by a bench at another, and pruning across
    *    tiers would force a retrain inside the first TIMED bench entry
    *    after every verify. The store is therefore bounded at one dir per
    *    tier, stable across corpus regenerations.
    *  - sweep `_tmp-*` leftovers from writers that died between the
    *    parquet write and the rename. Only dead writers' temps are
    *    swept (pid suffix no longer alive) — a live concurrent
    *    trainer's in-flight temp is left alone. */
  private[llm] def sweep(component: String, keepSig: String): Unit = {
    val parent = Paths.get(component).getParent
    if (parent != null && Files.isDirectory(parent)) {
      val keep = s"sig=$keepSig"
      val tier = s"sig=${keepSig.takeWhile(_ != '_')}_"
      Files.list(parent).forEach { p =>
        val n = p.getFileName.toString
        val staleSig = n.startsWith(tier) && n != keep
        val deadTmp = n.startsWith("_tmp-") && {
          val pid = n.substring(n.lastIndexOf('-') + 1)
          pid.nonEmpty && pid.forall(_.isDigit) &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
        }
        if (staleSig || deadTmp) graft.util.Scratch.deleteRecursively(p)
      }
    }
  }

  // ---- training (shared with the inline-build query) ---------------

  /** `e` with its `v` array as the ML vector column `fv`. */
  private def withFv(e: DataFrame): DataFrame =
    e.withColumn("fv", array_to_vector(col("v")))

  /** KMeans over whole vectors, predicting `list_id`: the IVF coarse
    * quantizer and the SemDeDup partition. */
  private def listFit(e: DataFrame, k: Int, seed: Long): KMeansModel =
    new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("list_id")
      .fit(withFv(e))

  /** Subspace `s` of the `resCol` array as an ML vector. */
  private def sliceCol(resCol: String, s: Int): Column =
    array_to_vector(slice(col(resCol), s * SubDim + 1, SubDim))

  /** m independent per-subspace KMeans fits over `resCol` slices of the
    * hash-sampled training set, submitted from concurrent threads (the
    * fits are independent little jobs; serializing them pays m× the
    * fixed job latency). Codebooks are trained on a deterministic
    * ~20% hash sample — k·m centroids need thousands of points, not the
    * corpus; at 100 TB the sample rate shrinks with corpus size, the
    * fit cost doesn't grow. */
  private def fitBooks(trainSet: DataFrame, resCol: String,
                       seed0: Long): IndexedSeq[KMeansModel] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until M).map { s =>
      Future {
        new KMeans().setK(NCodes).setSeed(seed0 + s).setMaxIter(10)
          .setFeaturesCol("fv").setPredictionCol(s"c$s")
          .fit(trainSet.select(sliceCol(resCol, s).as("fv")))
      }
    }), Duration.Inf)
  }

  private def assignCodes(base: DataFrame, resCol: String,
                          books: Seq[KMeansModel]): DataFrame = {
    var coded = base
    books.zipWithIndex.foreach { case (b, s) =>
      coded = b.transform(coded.withColumn("fv", sliceCol(resCol, s))).drop("fv")
    }
    coded
  }

  /** The deterministic ~20% training sample, salted per tier. */
  private def sample(e: DataFrame, salt: String): DataFrame =
    e.filter(TextOps.hash48(concat(lit(salt), col("vec_id").cast("string"))) % 5 === 0)

  private def centsDf(spark: SparkSession, m: KMeansModel): DataFrame = {
    import spark.implicits._
    m.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toDF("list_id", "cent")
  }

  private def booksDf(spark: SparkSession,
                      books: Seq[KMeansModel]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (b, s) =>
      b.clusterCenters.zipWithIndex.map { case (c, j) =>
        (s, j, c.toArray.toSeq)
      }
    }.toDF("sub", "code", "cent")
  }

  /** The code columns c0..c{m-1} [[assignCodes]] adds. */
  private def codeCols: Seq[Column] = (0 until M).map(s => col(s"c$s"))

  /** IVF-PQ train (the Jégou IVFADC layout): coarse lists + residual
    * codebooks + (list, code) table; see Similarity.topkIvfPq's
    * scaladoc for the layout rationale. */
  def trainIvfPq(spark: SparkSession, dir: String)
      : (KMeansModel, IndexedSeq[KMeansModel], DataFrame) = {
    val e = Similarity.emb(spark, dir)
    val coarse = listFit(e, NList, seed = 42L)
    // ONE coarse-assigned + residual lineage feeds both the codebook
    // training sample and the full encode (the house pinned-base rule)
    val assigned = coarse.transform(withFv(e))
      .select(col("vec_id"), col("v"), col("list_id"))
      .join(broadcast(centsDf(spark, coarse)), "list_id")
      .withColumn("res", zip_with(col("v"), col("cent"), (x, y) => x - y))
      .select(col("vec_id"), col("list_id"), col("v"), col("res"))
      .localCheckpoint(false)
    val books = fitBooks(sample(assigned, "ivfpq:"), "res", seed0 = 142L)
    val codes = assignCodes(assigned, "res", books)
      .select(col("vec_id") +: col("list_id") +: codeCols: _*)
    (coarse, books, codes)
  }

  // ---- ensure (train-if-absent) and read ----------------------------
  //
  // Scoring ALWAYS reads the loaded parquet artifact — never the
  // in-memory models — so the engine and the DuckDB oracle consume
  // byte-identical codebooks even right after a fresh train.

  /** Train-if-absent for one tier: the `sig=` dir of each component for
    * this corpus, by component name. When any is missing, the components'
    * same-tier leftovers are swept, `train` (handed the sig) returns one
    * frame per component in `components` order, and each is written
    * atomically. The fingerprint is recorded after every component
    * exists, so a `_FP` sidecar always describes a complete tier. */
  private def ensure(spark: SparkSession, dir: String, kind: String,
                     components: String*)(
      train: String => Seq[DataFrame]): Map[String, String] = {
    val (s, fp) = sigFp(spark, dir)
    val paths = components.map(c => c -> componentPath(kind, c, s))
    if (!paths.forall(p => ready(p._2))) {
      paths.foreach(p => sweep(p._2, s))
      paths.zip(train(s)).foreach { case ((_, p), df) => writeAtomic(df, p) }
    }
    recordFp(s, fp)
    paths.toMap
  }

  /** PQ (raw-vector) tier: m per-subspace codebooks + per-vector codes. */
  private[llm] def pqPaths(spark: SparkSession, dir: String): Map[String, String] =
    ensure(spark, dir, "pq", "books", "codes") { _ =>
      val e = Similarity.emb(spark, dir)
      val books = fitBooks(sample(e, "pq:").localCheckpoint(false), "v", seed0 = 42L)
      Seq(booksDf(spark, books),
        assignCodes(e, "v", books).select(col("vec_id") +: codeCols: _*).coalesce(8))
    }

  /** IVF tier: coarse quantizer + inverted-list assignment. */
  private def ivfPaths(spark: SparkSession, dir: String): Map[String, String] =
    ensure(spark, dir, "ivf", "cents", "codes") { _ =>
      val e = Similarity.emb(spark, dir)
      val model = listFit(e, NList, seed = 42L)
      Seq(centsDf(spark, model),
        model.transform(withFv(e)).select(col("vec_id"), col("list_id")).coalesce(8))
    }

  private def ivfPqPaths(spark: SparkSession, dir: String): Map[String, String] =
    ensure(spark, dir, "ivfpq", "cents", "books", "codes") { _ =>
      val (coarse, books, codes) = trainIvfPq(spark, dir)
      Seq(centsDf(spark, coarse), booksDf(spark, books), codes.coalesce(8))
    }

  /** The one artifact reader: a persisted component as a DataFrame. */
  private def read(spark: SparkSession, p: String): DataFrame =
    spark.read.parquet(p)

  private def loadCents(spark: SparkSession,
                        p: String): Array[Array[Double]] =
    read(spark, p).select("list_id", "cent").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  private def loadBooks(spark: SparkSession,
                        p: String): Array[Array[Array[Double]]] =
    read(spark, p).select("sub", "code", "cent").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))

  /** PQ codebooks on the driver + the codes table. */
  def ensurePq(spark: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], DataFrame) = {
    val p = pqPaths(spark, dir)
    (loadBooks(spark, p("books")), read(spark, p("codes")))
  }

  /** The PQ codebook TABLE (sub, code, cent), for in-plan encoders. */
  def pqBooks(spark: SparkSession, dir: String): DataFrame =
    read(spark, pqPaths(spark, dir)("books"))

  /** IVF centroids on the driver + the inverted-list table. */
  def ensureIvf(spark: SparkSession, dir: String)
      : (Array[Array[Double]], DataFrame) = {
    val p = ivfPaths(spark, dir)
    (loadCents(spark, p("cents")), read(spark, p("codes")))
  }

  /** The IVF inverted-list table (vec_id, list_id) alone. */
  def ivfCodes(spark: SparkSession, dir: String): DataFrame =
    read(spark, ivfPaths(spark, dir)("codes"))

  /** IVF-PQ centroids and residual codebooks on the driver + codes. */
  def ensureIvfPq(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val p = ivfPqPaths(spark, dir)
    (loadCents(spark, p("cents")), loadBooks(spark, p("books")),
      read(spark, p("codes")))
  }

  // ---- SemDeDup cluster artifact (kind "sem") -----------------------

  /** Target cluster size for the SemDeDup partition ([[Dedup.semDedup]]).
    * k scales WITH the corpus (k ≈ n / target) — the published SemDeDup
    * configuration and the reason the method is linear at 100 TB:
    * within-cluster pair work is n·target/2 whatever the corpus size.
    * A fixed k (the IVF NList) would make clusters corpus-sized and the
    * pair stage quadratic — the same fixed-parameter failure mode the
    * adaptive LSH bits (Similarity.gateBits) exist to prevent. */
  val SemTarget = 512

  def semK(n: Long): Int =
    math.max(4, ((n + SemTarget - 1) / SemTarget).toInt)

  /** The SemDeDup centroid table (list_id, cent): one corpus-adaptive
    * KMeans fit on the deterministic 20% hash sample (the codebook
    * convention; k grows with n, so the sample keeps fit input at n/5
    * while k = n/512: ~102 training points per centroid at any sf).
    * ONLY the centroids persist — cluster assignment is an exact
    * in-plan argmin on BOTH engines (the sim_index_update rule: no
    * dependence on MLlib transform internals), so the cents parquet is
    * the complete replayable contract and the tier needs no codes
    * component. */
  def semCents(spark: SparkSession, dir: String): DataFrame =
    read(spark, semPaths(spark, dir)("cents"))

  private def semPaths(spark: SparkSession, dir: String): Map[String, String] =
    ensure(spark, dir, "sem", "cents") { s =>
      val k = semK(s.takeWhile(_ != '_').toLong)
      val e = sample(Similarity.emb(spark, dir), "sem:")
      Seq(centsDf(spark, listFit(e, k, seed = 7L)))
    }
}
