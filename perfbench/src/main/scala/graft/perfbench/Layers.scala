package graft.perfbench

import java.io.File

import scala.collection.mutable

/** Splits traced passes by layer: each job under the phase it started in,
  * each drain under the build that started it, each micro-batch under its
  * drain, and task counters under their stage's job. */
object Layers {
  type Events = (Seq[JobRec], Map[Int, TaskSums], Seq[DrainRec], Seq[BatchRec])

  /** One traced pass: its query runs, the events recorded during it, and
    * the size of the lakes left under the scratch directory at its end. */
  final case class PassTrace(runs: Seq[QueryRun], events: Events, lakes: (Long, Long))

  /** (bytes, files) under `tmp`, leaving out Spark's own scratch space. */
  def lakes(tmp: File): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      else (f.length, 1L)
    Option(tmp.listFiles).toSeq.flatten
      .filterNot(f => f.getName.startsWith("spark-") || f.getName.startsWith("blockmgr-"))
      .map(walk).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
  }

  private val Mb = 1048576.0
  private val ShortJobMs = 150L

  /** Per-job attribution within one pass: the stages that ran tasks for
    * the job, and their task counters. */
  private final case class Attributed(job: JobRec, phase: Option[PhaseSpan], stages: Seq[Int], sums: TaskSums)

  private def attribute(p: PassTrace): Seq[Attributed] = {
    val phases = p.runs.flatMap(_.phases)
    val (jobs, stages, _, _) = p.events
    // a stage listed by several jobs (a shuffle map stage a later job
    // reuses) ran its tasks for the first of them only
    val seen = mutable.Set.empty[Int]
    jobs.sortBy(_.id).map { j =>
      val own = j.stages.filter(st => stages.contains(st) && seen.add(st))
      val s = new TaskSums
      own.foreach(st => s.add(stages(st)))
      Attributed(j, Trace.phaseOf(j.startMs, j.endMs, phases), own, s)
    }
  }

  /** The metrics of one pass, unaveraged. */
  private[perfbench] def passMetrics(p: PassTrace, cores: Int): Map[String, Double] = {
    val ok = p.runs.filter(_.ok)
    val att = attribute(p)
    val (_, stages, drains, batches) = p.events
    def inPhase(ph: String) = att.filter(_.phase.exists(_.phase == ph))
    val build = inPhase("build")
    val exec = inPhase("exec")
    val buildS = ok.map(_.buildS).sum
    val execS = ok.map(_.execS).sum
    def jobS(a: Attributed) = (a.job.endMs - a.job.startMs) / 1e3
    def selfS(ph: String, js: Seq[Attributed]) = ok.flatMap(_.phases).filter(_.phase == ph).map { s =>
      (s.endMs - s.startMs - Trace.covered(s.startMs, s.endMs,
        js.filter(_.phase.contains(s)).map(a => (a.job.startMs, a.job.endMs)))) / 1e3
    }.sum
    val mlBuild = build.filter(_.phase.exists(s => Workloads.ml(s.query)))
    val allSums = stages.values.toSeq
    def dur(k: String) = batches.map(_.durationMs.getOrElse(k, 0L)).sum / 1e3
    val drainS = drains.map(d => (d.endMs - d.startMs) / 1e3).sum
    val (lakeBytes, lakeFiles) = p.lakes
    val outBytes = allSums.map(_.outBytes).sum
    val rowsOut = ok.flatMap(_.fp).map(_.rows).sum
    Map(
      "build.s" -> buildS,
      "build.self_s" -> selfS("build", build),
      "build.jobs" -> build.size.toDouble,
      "build.short_jobs" -> build.count(a => a.job.endMs - a.job.startMs < ShortJobMs).toDouble,
      "build.task_cpu_s" -> build.map(_.sums.cpuNs).sum / 1e9,
      "build.overlap" -> (if (buildS > 0) build.map(jobS).sum / buildS else 0.0),
      "stream.drains" -> drains.size.toDouble,
      "stream.batches" -> batches.size.toDouble,
      "stream.trigger_s" -> dur("triggerExecution"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.query_planning_s" -> dur("queryPlanning"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.commit_offsets_s" -> dur("commitOffsets"),
      "stream.latest_offset_s" -> dur("latestOffset"),
      "stream.get_batch_s" -> dur("getBatch"),
      "stream.lifecycle_s" -> (drainS - dur("triggerExecution")),
      "sink.output_mb" -> outBytes / Mb,
      "sink.lake_mb" -> lakeBytes / Mb,
      "sink.lake_files" -> lakeFiles.toDouble,
      "sink.write_amp" -> (if (lakeBytes > 0) outBytes.toDouble / lakeBytes else 0.0),
      "ml.build_s" -> ok.filter(r => Workloads.ml(r.query)).map(_.buildS).sum,
      "ml.jobs" -> mlBuild.size.toDouble,
      "plan.s" -> ok.map(_.planS).sum,
      "plan.analysis_s" -> ok.map(_.planPhases.getOrElse("analysis", 0.0)).sum,
      "plan.optimization_s" -> ok.map(_.planPhases.getOrElse("optimization", 0.0)).sum,
      "plan.planning_s" -> ok.map(_.planPhases.getOrElse("planning", 0.0)).sum,
      "exec.s" -> execS,
      "exec.self_s" -> selfS("exec", exec),
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stages.size).sum.toDouble,
      "exec.tasks" -> exec.map(_.sums.tasks).sum.toDouble,
      "exec.task_cpu_s" -> exec.map(_.sums.cpuNs).sum / 1e9,
      "exec.util" -> (if (execS > 0) exec.map(_.sums.runMs).sum / 1e3 / (cores * execS) else 0.0),
      "exec.deser_s" -> exec.map(_.sums.deserMs).sum / 1e3,
      "exec.gc_s" -> exec.map(_.sums.gcMs).sum / 1e3,
      "shuffle.read_mb" -> allSums.map(_.shuffleRead).sum / Mb,
      "shuffle.write_mb" -> allSums.map(_.shuffleWrite).sum / Mb,
      "shuffle.spill_mb" -> allSums.map(_.spill).sum / Mb,
      "sources.input_mb" -> allSums.map(_.inBytes).sum / Mb,
      "sources.rows_read_per_row_out" ->
        (if (rowsOut > 0) allSums.map(_.inRecords).sum.toDouble / rowsOut else 0.0))
  }

  private val units: String => String = {
    case k if k.endsWith("_s") || k == "build.s" || k == "exec.s" || k == "plan.s" => "s"
    case k if k.endsWith("_mb") => "MB"
    case k if k.endsWith("jobs") || k.endsWith("tasks") || k.endsWith("stages") ||
      k.endsWith("drains") || k.endsWith("batches") || k.endsWith("files") => "count"
    case _ => "ratio"
  }

  /** Per-pass means over the traced passes, plus the drain-latency
    * percentiles over every drain they ran. */
  def metrics(passes: Seq[PassTrace], cores: Int): Map[String, (Double, String)] = {
    val per = passes.map(passMetrics(_, cores))
    val means = per.head.keys.map(k => k -> (per.map(_(k)).sum / per.size, units(k))).toMap
    val waves = passes.flatMap(_.events._3).map(d => (d.endMs - d.startMs) / 1e3)
    means ++ Map(
      "stream.wave_p50_s" -> (if (waves.isEmpty) 0.0 else Stats.median(waves), "s"),
      "stream.wave_tail_s" -> (Stats.tail(waves).map(_._1).getOrElse(if (waves.isEmpty) 0.0 else waves.max), "s"))
  }

  /** Build/plan/exec seconds and job counts per query, averaged over the
    * traced passes: which layer dominates each query. */
  def byQuery(passes: Seq[PassTrace]): Seq[Map[String, Any]] = {
    val att = passes.flatMap(attribute)
    val runs = passes.flatMap(_.runs).filter(_.ok)
    runs.groupBy(_.query).toSeq.sortBy(-_._2.map(_.wallS).sum).map { case (q, rs) =>
      val n = rs.size.toDouble
      def jobs(ph: String) = att.count(a => a.phase.exists(s => s.query == q && s.phase == ph)) / n
      Map("query" -> q, "wall_s" -> rs.map(_.wallS).sum / n,
        "build_s" -> rs.map(_.buildS).sum / n, "plan_s" -> rs.map(_.planS).sum / n,
        "exec_s" -> rs.map(_.execS).sum / n, "build_jobs" -> jobs("build"), "exec_jobs" -> jobs("exec"))
    }
  }

  /** The span tree: query → build/plan/exec → job; drain under the phase
    * that started it; micro-batch under its drain. */
  def spans(passes: Seq[PassTrace]): Seq[Map[String, Any]] = passes.flatMap { p =>
    val phases = p.runs.flatMap(_.phases)
    def span(id: String, parent: String, name: String, s: Long, e: Long) =
      Map("id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> s, "end_ms" -> e)
    val queries = p.runs.filter(_.ok).map { r =>
      span(s"p${r.pass}/${r.query}", null, "query", r.phases.head.startMs, r.phases.last.endMs)
    }
    val phaseSpans = phases.map(s => span(s.id, s"p${s.pass}/${s.query}", s.phase, s.startMs, s.endMs))
    val jobs = attribute(p).map(a => span(s"job${a.job.id}", a.phase.map(_.id).getOrElse("other"),
      "job", a.job.startMs, a.job.endMs) ++ Map("tasks" -> a.sums.tasks))
    val (_, _, drains, batches) = p.events
    val drainSpans = drains.map(d => span(s"drain/${d.id}",
      Trace.phaseOf(d.startMs, d.endMs, phases).map(_.id).getOrElse("other"), "drain", d.startMs, d.endMs))
    val batchSpans = batches.map(b => span(s"drain/${b.drain}/b${b.batchId}", s"drain/${b.drain}", "batch",
      b.startMs, b.startMs + b.durationMs.getOrElse("triggerExecution", 0L)) ++ Map("duration_ms" -> b.durationMs))
    queries ++ phaseSpans ++ jobs ++ drainSpans ++ batchSpans
  }
}
