package churnbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Where a Spark job's work belongs: the repo layer of the innermost
  * `graft.*` frame in its call site, and for the ML layer which MLlib
  * step (`fit`, `persist`, `score`) that frame was in. */
final case class Site(layer: String, kind: String)

object Site {
  // graft.<pkg>.<Class> belongs to layer <pkg>; graft.Tables to "tables".
  // Helper packages (util, functions, plans, schemas) are skipped, so
  // their caller decides.
  private val packages = Set("queries", "encode", "ml", "eval", "llm", "io")
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(""".r

  val unknown: Site = Site("other", "")

  /** Parse a stage's long-form call site (one stack frame per line,
    * innermost first). */
  def of(details: String): Site = {
    val frames = details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)
      .map(m => (m.group(1), m.group(2)))).toVector
    val at = frames.indexWhere { case (cls, _) => layerOf(cls).nonEmpty }
    if (at < 0) unknown
    else {
      val layer = layerOf(frames(at)._1).get
      // the API the graft frame called is the frame just inside it
      val called = if (at > 0) frames(at - 1)._2 else ""
      val kind = if (layer != "ml") ""
        else called match {
          case "fit" => "fit"
          case "save" | "load" => "persist"
          case _ => "score"
        }
      Site(layer, kind)
    }
  }

  /** The layer of a `graft.*` class name (lambdas included). */
  def layerOf(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else cls.stripPrefix("graft.").split('.').toList match {
      case top :: Nil => Option.when(top.takeWhile(_ != '$') == "Tables")("tables")
      case pkg :: _ => Option.when(packages(pkg))(pkg)
      case Nil => None
    }
}

/** A timed region the bench opened around a call it made. */
final case class Span(id: Int, name: String, parent: Int,
                      startUs: Long, endUs: Long)

/** Bench-owned SparkListener: attributes every job, stage and task to
  * the job group the bench set around the call and to the [[Site]] of
  * the job's call site. A job whose stack holds no graft frame (the
  * bench's own noop write, or a job submitted from a Spark thread pool)
  * belongs to the layer of the entry named in its job group. */
class Tracer(entryLayer: String => Option[String]) extends SparkListener {
  final class Job(val id: Int, val group: String, val site: Site,
                  val callSite: Int, val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = startMs
    var failed = false
  }
  final class Stage(val job: Job) {
    var submitted = false
    var tasks, failedTasks = 0L
    var runMs, cpuNs, schedMs, shuffleRead, shuffleWrite, spill, written = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val result = e.stageInfos.maxBy(_.stageId)
    val site = Site.of(result.details) match {
      case Site.unknown => entryLayer(entryOf(group)).fold(Site.unknown)(Site(_, ""))
      case s => s
    }
    val job = new Job(e.jobId, group, site, result.details.hashCode, e.time,
      e.stageInfos.map(_.stageId))
    jobs(e.jobId) = job
    e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new Stage(job)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stages.get(e.stageInfo.stageId).foreach(_.submitted = true) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        // the Spark UI's scheduler delay: task wall not spent running,
        // deserializing, serializing the result or fetching it
        s.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
            e.taskInfo.gettingResultTime else 0L))
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.written += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Job groups read "<entry>/<phase>/<request number>". */
  def entryOf(group: String): String = group.split('/').head
  def phaseOf(j: Job): String = j.group.split('/').lift(1).getOrElse("")

  /** Per request, the seconds from the first start to the last end of
    * the matching jobs (the wall the layer held, the time between its
    * jobs included), summed over requests. */
  def interval(p: Job => Boolean): Double = synchronized {
    jobs.values.filter(p).groupBy(_.group).values.map(js =>
      js.map(_.endMs).max - js.map(_.startMs).min).sum / 1e3
  }
  /** Distinct call sites among the matching jobs, counted per request:
    * one Tables.load call runs its jobs from one call site. */
  def distinctCalls(p: Job => Boolean): Int = synchronized {
    jobs.values.filter(p).map(j => (j.group, j.callSite)).toSet.size
  }
  /** Summed job wall of the matching jobs, in seconds. */
  def jobSeconds(p: Job => Boolean): Double = synchronized {
    jobs.values.filter(p).map(j => j.endMs - j.startMs).sum / 1e3
  }
  def count(p: Job => Boolean): Int = synchronized(jobs.values.count(p))
  def stageSum(p: Job => Boolean)(f: Stage => Long): Long = synchronized {
    stages.values.filter(s => s.submitted && p(s.job)).map(f).sum
  }
}
