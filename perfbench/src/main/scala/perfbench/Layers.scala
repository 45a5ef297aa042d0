package perfbench

/** Per-layer times and counts, averaged over traced cycles (passes or
  * lifecycle rounds). Each figure is taken at a layer boundary:
  *  - plan construction: the `construct` phase minus the artifact builds
  *    that ran inside it (its self time);
  *  - memo/artifact cache: `Tables.artifactBuildNanos` deltas;
  *  - Catalyst: the plan phase's `QueryPlanningTracker` phases;
  *  - codegen: `CodeGenerator.compileTime` and compile-count deltas. Task
  *    threads compile too, concurrently, so this overlaps the phase it ran
  *    in rather than being carved out of it;
  *  - stage execution: the `execute` phase, plus the listener's job, stage
  *    and task counts for the jobs it submitted;
  *  - shuffle and spill: task metrics of every phase's jobs;
  *  - JVM: garbage-collector time over the cycle. */
object Layers {
  def of(tr: Tracer, cycles: Seq[Span], cores: Int,
      perCycles: Int = 0): Seq[(String, Double)] = {
    val kids = tr.spans.groupBy(_.parent)
    def desc(s: Span): Seq[Span] =
      kids.getOrElse(s.id, Nil).toSeq.flatMap(k => k +: desc(k))
    val n = (if (perCycles > 0) perCycles else cycles.size).max(1).toDouble
    val all = cycles.flatMap(desc)
    val cons = all.filter(_.kind == "construct")
    val plan = all.filter(_.kind == "plan")
    val exec = all.filter(_.kind == "execute")
    val phases = cons ++ plan ++ exec
    def avg(ss: Seq[Span])(f: Span => Double): Double = ss.map(f).sum / n
    def cat(k: String)(s: Span): Double = s.catalystMs.getOrElse(k, 0L) / 1e3
    val execS = avg(exec)(_.wallS)
    val runS = avg(exec)(_.c(Cnt.RunMs) / 1e3)
    Seq(
      "plan.construct_s" -> avg(cons)(s => s.wallS - s.artifactNs / 1e9),
      "plan.construct_jobs" -> avg(cons)(_.c(Cnt.Jobs).toDouble),
      "tables.artifact_build_s" -> avg(phases)(_.artifactNs / 1e9),
      "catalyst.analysis_s" -> avg(plan)(cat("analysis")),
      "catalyst.optimization_s" -> avg(plan)(cat("optimization")),
      "catalyst.planning_s" -> avg(plan)(cat("planning")),
      "codegen.compiles" -> avg(phases)(_.compiles.toDouble),
      "codegen.compile_s" -> avg(phases)(_.compileNs / 1e9),
      "exec.s" -> execS,
      "exec.jobs" -> avg(exec)(_.c(Cnt.Jobs).toDouble),
      "exec.stages" -> avg(exec)(_.c(Cnt.Stages).toDouble),
      "exec.tasks" -> avg(exec)(_.c(Cnt.Tasks).toDouble),
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> avg(exec)(_.c(Cnt.CpuNs) / 1e9),
      "exec.busy_ratio" -> (if (execS > 0) runS / (execS * cores) else 0.0),
      "shuffle.write_mb" -> avg(phases)(_.c(Cnt.ShufWrite) / 1e6),
      "shuffle.read_mb" -> avg(phases)(_.c(Cnt.ShufRead) / 1e6),
      "shuffle.fetch_wait_s" -> avg(phases)(_.c(Cnt.FetchWaitMs) / 1e3),
      "spill.mb" -> avg(phases)(_.c(Cnt.Spill) / 1e6),
      "jvm.gc_s" -> avg(cycles)(_.gcMs / 1e3))
  }

  /** Largest gap between a traced operation's wall time and the sum of
    * its phases' wall times: time the phase split fails to account for. */
  def maxPhaseGapS(tr: Tracer, opKinds: Set[String]): Double = {
    val kids = tr.spans.groupBy(_.parent)
    tr.spans.iterator.filter(s => s.traced && opKinds(s.kind)).map { s =>
      s.wallS - kids.getOrElse(s.id, Nil).map(_.wallS).sum
    }.maxOption.getOrElse(0.0)
  }

  def json(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
}
