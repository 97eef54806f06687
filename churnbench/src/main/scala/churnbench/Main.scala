package churnbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry, Verify}
import graft.llm.AnnIndex
import graft.ml.ChurnML

/** One benchmark run inside one JVM. run.py launches it as
  *
  *   Main <workload> <inputDir> <seconds> <trace 0|1> <outDir> <seed>
  *
  * and reads `<outDir>/result.json` (plus `<outDir>/spans.jsonl` when
  * traced). The timed loop runs whole passes over the input until
  * `seconds` have passed. With trace=1 the bench's listener and job
  * groups are on for the loop.
  *
  *  - churn_train: a cold job. Session, one timed pass of the feature
  *    pipeline and the trainEval call, then the check dump.
  *  - feature_adhoc: a warm session. Session, the check dump of every
  *    request on that session (it is also the warm-up), ANN artifact
  *    training, the served entry's dump, one untimed warm-up pass, then
  *    the timed closed loop. */
object Main {
  /** One request of a pass: build returns the DataFrame, exec consumes it. */
  final case class Request(name: String, build: String => DataFrame,
                           exec: DataFrame => Unit)

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  // The paper's job: the feature pipeline, then one trainEval (split,
  // fit, persist/reload, score, AUC) of gradient boosting, the family
  // bound by its fit-job count, at 10 rounds instead of the bench entry's
  // 25. rf, lr and the 25 rounds are left out so that one cold run fits
  // the benchmark's time budget.
  val Families: Seq[String] = Seq("gbt")
  val GbtIter = 10

  // Short requests over the warm session, one or two per repo layer:
  // churn features (u4 is the reference's group flags), analytics, eval,
  // encode, a warehouse write (io) and a served-retrieval entry (llm)
  // whose ANN artifact is trained during set-up.
  val AdhocEntries: Seq[String] = Seq(
    "churn_features", "u4_group_flags", "a13_cube", "e5_pr_curve",
    "enc_feature_hash", "k1_save_as_table", "sim_topk_pq")
  val ServedEntries: Set[String] = Set("sim_topk_pq")

  def entry(name: String): Request = Request(name,
    dir => SparkEntry.queries(name)(SparkSession.active, dir), noop)

  def main(args: Array[String]): Unit = {
    val Array(workload, input, secondsS, traceS, outS, seedS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = Paths.get(outS)
    val check = out.resolve("check").toString
    Files.createDirectories(out)
    val res = new Json
    val heap = new HeapWatch

    def timed[T](key: String)(body: => T): T = {
      val t = System.nanoTime()
      val v = body
      res.num(key, (System.nanoTime() - t) / 1e9)
      v
    }
    val spark = timed("sessions_start_s")(Sessions.local(s"churnbench-$workload"))

    val mlRows = mutable.ArrayBuffer.empty[String]
    var passNo = 0
    // ChurnML.wideFrame memoizes per input path: every churn_train pass
    // reads its own hard-linked copy of the input directory
    def passDir(): String = workload match {
      case "churn_train" =>
        passNo += 1
        val d = out.resolve(s"pass-$passNo")
        Files.createDirectories(d)
        Files.list(Paths.get(input)).iterator().asScala.foreach(f =>
          Files.createLink(d.resolve(f.getFileName), f))
        d.toString
      case _ => input
    }
    def requests(pass: Int): Seq[Request] = workload match {
      case "churn_train" =>
        Request("ml.wide", d => ChurnML.wideFrame(SparkSession.active, d), _ => ()) +:
          Families.map(fam => Request(s"ml.$fam",
            d => ChurnML.trainEval(SparkSession.active, d, fam, gbtIter = GbtIter),
            df => mlRows ++= df.collect().map(_.toSeq.mkString("|"))))
      case "feature_adhoc" =>
        // closed loop, seeded request order, a new permutation per pass
        new Random(seedS.toLong * 1000003L + pass).shuffle(AdhocEntries).map(entry)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val oracled = workload match {
      case "churn_train" => Seq("churn_wide_table")
      case _ => AdhocEntries.filter(SparkEntry.oracleSql.contains)
    }
    // The oracled results for the DuckDB compare run.py makes after this
    // JVM exits, written as graft.Verify writes them but on this session:
    // Verify stops the session it used.
    def dump(names: Seq[String]): Unit = names.foreach { n =>
      try timed(s"dump_s.$n")(SparkEntry.queries(n)(spark, input).coalesce(1).write
        .mode("overwrite").parquet(s"$check/$n"))
      catch { case e: Exception => System.err.println(s"[churnbench] $n failed: $e") }
    }

    // ---- set-up of the warm session: the check dump runs every request
    // once on the session the loop uses and creates the warehouse table;
    // the PQ artifact is trained before its served entry is dumped, so
    // the dump does not train it; then one untimed pass --------------
    if (workload == "feature_adhoc") {
      timed("warm_s")(dump(oracled.filterNot(ServedEntries)))
      timed("ann_ensure_s")(AnnIndex.ensurePq(spark, input))
      timed("ann_sig_s")(AnnIndex.sig(spark, input))
      res.num("ann_store_mb", dirBytes(Paths.get(AnnIndex.base)) / 1048576.0)
      dump(oracled.filter(ServedEntries))
      Files.writeString(Paths.get(check, "oracle_sql.json"), oracled.map(n =>
        s"${Json.quote(n)}:${Json.quote(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
      // one run of a request does not warm it: a first timed pass right
      // after the dump is a quarter slower than the next
      timed("warm_pass_s")(requests(0).foreach(r => r.exec(r.build(input))))
    }
    val sc = spark.sparkContext

    // ---- timed loop ----------------------------------------------------
    val spans = new Spans
    val tracer = new Tracer(name =>
      if (name.startsWith("ml.")) Some("ml")
      else SparkEntry.queries.get(name).flatMap(f => Site.layerOf(f.getClass.getName)))
    def loop(traced: Boolean): Unit = {
      val reqs = new Json.Arr
      val passes = new Json.Arr
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      def gcMs = gcs.map(_.getCollectionTime).sum
      var gcInRequests = 0L
      var gcBetween = 0L
      heap.reset(); heap.on = true
      val start = System.nanoTime()
      var pass = 0
      var reqNo = 0
      while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        pass += 1
        val d = passDir()
        var wall = 0.0
        spans.open(s"pass-$pass")
        for (r <- requests(pass)) {
          reqNo += 1
          // every request starts on a collected heap, so one request's
          // garbage is not another's GC pause; the pause is not timed
          val g = System.nanoTime()
          System.gc()
          gcBetween += System.nanoTime() - g
          val gc0 = gcMs
          spans.open(r.name)
          def phase[T](ph: String)(body: => T): (T, Double) = {
            if (traced) sc.setJobGroup(s"${r.name}/$ph/$reqNo", ph, interruptOnCancel = false)
            spans.open(ph)
            val s = System.nanoTime()
            val v = body
            spans.close()
            (v, (System.nanoTime() - s) / 1e9)
          }
          val (df, b) = phase("build")(r.build(d))
          val (_, p) = phase("plan")(df.queryExecution.executedPlan)
          val (_, x) = phase("exec")(r.exec(df))
          if (traced) sc.clearJobGroup()
          spans.close()
          gcInRequests += gcMs - gc0
          reqs.add(new Json().str("name", r.name).num("build_s", b)
            .num("plan_s", p).num("exec_s", x).num("s", b + p + x))
          wall += b + p + x
        }
        spans.close()
        passes.addNum(wall)
        if (d != input) deleteTree(Paths.get(d))
      }
      heap.on = false
      res.raw("loop", new Json().raw("requests", reqs.render).raw("passes", passes.render)
        .num("gc_s", gcInRequests / 1e3).num("gc_between_s", gcBetween / 1e9)
        .num("heap_live_peak_mb", heap.peakMb).render)
    }

    res.num("setup_end_epoch_s", System.currentTimeMillis() / 1e3)
    if (!trace) loop(traced = false)
    else {
      sc.addSparkListener(tracer)
      loop(traced = true)
      BenchBus.drain(sc)
      sc.removeSparkListener(tracer)
      res.raw("layers", Layers.of(tracer).render)
      spans.write(out.resolve("spans.jsonl"), tracer,
        s"$workload-$seedS-${ProcessHandle.current().pid()}")
    }
    res.raw("ml_rows", mlRows.map(Json.quote).mkString("[", ",", "]"))
    res.raw("oracled", oracled.map(Json.quote).mkString("[", ",", "]"))
    res.num("cores", sc.defaultParallelism)
    // a cold job's check dump, through the engine's own dump path after
    // the timed pass
    if (workload == "churn_train") Verify.main(Array(input, check, oracled.mkString(",")))
    Files.writeString(out.resolve("result.json"), res.render)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Largest heap occupancy reported right after a GC while `on`. */
final class HeapWatch {
  @volatile var on = false
  @volatile private var peak = 0L
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }, null, null)
    case _ => ()
  }
}

/** Bench spans (name, start, end, parent) in epoch microseconds. */
final class Spans {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs = epochUs0 + (System.nanoTime() - nano0) / 1000L
  val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  def open(name: String): Unit =
    stack.push(Span(done.size + stack.size + 1, name,
      stack.headOption.map(_.id).getOrElse(0), nowUs, 0L))
  def close(): Unit = { val s = stack.pop(); done += s.copy(endUs = nowUs) }

  /** The spans plus one span per Spark job under the innermost bench
    * span open when the job started. */
  def write(to: Path, tracer: Tracer, runId: String): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    def line(id: String, name: String, parent: Int, s: Long, e: Long) =
      lines += new Json().str("run", runId).str("id", id).str("name", name)
        .int("parent", parent).int("start_us", s).int("end_us", e).render
    done.foreach(s => line(s.id.toString, s.name, s.parent, s.startUs, s.endUs))
    tracer.jobs.values.foreach { j =>
      val js = j.startMs * 1000L
      val parent = done.filter(s => s.startUs <= js && js <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(0)
      line(s"job-${j.id}", s"job ${j.site.layer}${if (j.site.kind.isEmpty) "" else "." + j.site.kind}",
        parent, js, j.endMs * 1000L)
    }
    Files.write(to, lines.asJava)
  }
}
