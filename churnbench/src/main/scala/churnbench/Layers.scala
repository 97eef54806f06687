package churnbench

/** The listener's per-layer totals for the traced loop. Times and counts
  * are sums over the loop's passes; run.py divides them by the pass
  * count. Interval metrics take, per request, the span from the first
  * matching job's start to the last one's end, so the work between a
  * fit's jobs counts towards the fit. */
object Layers {
  def of(t: Tracer): Json = {
    val j = new Json
    def mb(b: Long) = b / 1048576.0
    val all: t.Job => Boolean = _ => true
    def layer(l: String): t.Job => Boolean = _.site.layer == l
    def entry(e: String): t.Job => Boolean = x => t.entryOf(x.group) == e
    val family: t.Job => Boolean = x => Main.Families.exists(f => entry(s"ml.$f")(x))
    def and(a: t.Job => Boolean, b: t.Job => Boolean): t.Job => Boolean = x => a(x) && b(x)

    j.num("tables.load_s", t.jobSeconds(layer("tables")))
    j.num("tables.load_jobs", t.count(layer("tables")))
    j.num("tables.load_calls", t.distinctCalls(layer("tables")))
    for (ph <- Seq("build", "plan", "exec"))
      j.num(s"$ph.jobs", t.count(x => t.phaseOf(x) == ph))
    val refs = t.synchronized(t.jobs.values.map(_.stages.size).sum)
    val submitted = t.synchronized(t.stages.values.count(_.submitted))
    j.num("stages", submitted)
    j.num("stage_skip_ratio", if (refs == 0) 0.0 else 1.0 - submitted.toDouble / refs)
    j.num("tasks", t.stageSum(all)(_.tasks))
    j.num("task_run_s", t.stageSum(all)(_.runMs) / 1e3)
    j.num("task_cpu_s", t.stageSum(all)(_.cpuNs) / 1e9)
    j.num("sched_delay_s", t.stageSum(all)(_.schedMs) / 1e3)
    j.num("shuffle_write_mb", mb(t.stageSum(all)(_.shuffleWrite)))
    j.num("shuffle_read_mb", mb(t.stageSum(all)(_.shuffleRead)))
    j.num("spill_mb", mb(t.stageSum(all)(_.spill)))
    for (fam <- Main.Families) {
      val fit = and(entry(s"ml.$fam"), _.site.kind == "fit")
      j.num(s"ml.fit_s.$fam", t.interval(fit))
      j.num(s"ml.fit_jobs.$fam", t.count(fit))
    }
    j.num("ml.persist_s", t.interval(and(family, _.site.kind == "persist")))
    j.num("ml.score_s", t.interval(and(family, _.site.kind == "score")))
    j.num("eval.s", t.interval(layer("eval")))
    j.num("eval.jobs", t.count(layer("eval")))
    j.num("sinks.write_s", t.jobSeconds(layer("io")))
    j.num("sinks.output_mb", mb(t.stageSum(layer("io"))(_.written)))
    // the remaining layers; tables, eval and io have their own totals above
    for (l <- Seq("queries", "encode", "llm", "ml", "other")) {
      j.num(s"jobs.$l", t.count(layer(l)))
      j.num(s"job_s.$l", t.jobSeconds(layer(l)))
    }
    j.num("failed_tasks", t.stageSum(all)(_.failedTasks))
    j.num("failed_jobs", t.count(_.failed))
    j
  }
}
