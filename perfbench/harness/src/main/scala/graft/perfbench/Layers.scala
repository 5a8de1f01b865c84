package graft.perfbench

/** Turns the benchmark's call spans plus the Spark events a [[Tracer]]
  * recorded into per-layer metrics — per operation, per pass and per
  * workload — and into the span tree written to `spans.jsonl`.
  *
  * Attribution is by time: with one client running one call at a time,
  * a job, stage or task belongs to the innermost call span that was open
  * when it started. */
final class Layers(calls: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
                   tasks: Seq[TaskRec], plans: Seq[PlanRec], cores: Int) {

  private def innermost(t: Long): Option[Span] =
    calls.filter(_.covers(t)).sortBy(s => (s.start, -s.end)).lastOption

  import Layers.median

  /** Length of the union of [start, end] intervals clipped to `in`. */
  private def covered(iv: Seq[(Long, Long)], in: Span): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, in.start), math.min(b, in.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def isCp(j: JobRec) = j.name.startsWith("localCheckpoint at Cp.scala")
  private def isAqe(j: JobRec) = j.name.contains("withThreadLocalCaptured")
  private def isMeta(j: JobRec) = j.name.startsWith("parquet at Tables.scala")

  /** Layer metrics of one operation: a query (with operators.build and
    * sink.run children) or one ingest step. */
  def ofOp(op: Span): Map[String, Double] = {
    val js = jobs.filter(j => op.covers(j.start))
    val ts = tasks.filter(t => op.covers(t.launch))
    val ss = stages.filter(s => op.covers(s.start))
    val kids = calls.filter(c => c.parent == op.id)
    def kid(kind: String) = kids.filter(_.kind == kind)
    def jobsIn(spans: Seq[Span]) = js.count(j => spans.exists(_.covers(j.start)))
    val busyMs = covered(js.map(j => (j.start, j.end)), op)
    val runS = ts.map(_.runMs).sum / 1e3
    val straggler = ts.groupBy(_.stage).values.map { g =>
      val d = g.map(t => (t.finish - t.launch).toDouble)
      d.max - median(d)
    }.sum / 1e3
    val ps = plans.filter(p => op.covers(p.start))
    Map(
      "operators.build_s" -> kid("build").map(_.dur).sum / 1e3,
      "operators.build_jobs" -> jobsIn(kid("build")).toDouble,
      "sink.run_s" -> kid("sink").map(_.dur).sum / 1e3,
      "sink.jobs" -> jobsIn(kid("sink")).toDouble,
      "cp.jobs" -> js.count(isCp).toDouble,
      "cp.busy_s" -> covered(js.filter(isCp).map(j => (j.start, j.end)), op) / 1e3,
      "aqe.jobs" -> js.count(isAqe).toDouble,
      "tables.meta_jobs" -> js.count(isMeta).toDouble,
      "tables.meta_s" -> covered(js.filter(isMeta).map(j => (j.start, j.end)), op) / 1e3,
      "scan.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "scan.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "driver.gap_s" -> (op.dur - busyMs) / 1e3,
      "planner.analysis_s" -> ps.map(_.analysisMs).sum / 1e3,
      "planner.optimize_s" -> ps.map(_.optimizeMs).sum / 1e3,
      "planner.physical_s" -> ps.map(_.physicalMs).sum / 1e3,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.job_s" -> busyMs / 1e3,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.core_busy" -> (if (op.dur > 0) runS / (op.dur / 1e3 * cores) else 0.0),
      "exec.straggler_s" -> straggler,
      "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "shuffle.write_records" -> ts.map(_.shWriteRecs).sum.toDouble,
      "shuffle.read_records" -> ts.map(_.shReadRecs).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "mem.spill_disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
      "mem.spill_mem_bytes" -> ts.map(_.spillMem).sum.toDouble,
      "mem.peak_exec_bytes" -> ts.map(_.peakExec).foldLeft(0L)(math.max).toDouble,
      "sources.write_bytes" -> ts.map(_.outBytes).sum.toDouble)
  }

  /** Sums a pass's operations; peaks take the maximum and core_busy is
    * recomputed over the pass's wall time. */
  def ofPass(pass: Span, ops: Seq[Map[String, Double]]): Map[String, Double] = {
    val keys = ops.flatMap(_.keys).distinct
    val sum = keys.map(k => k -> ops.map(_.getOrElse(k, 0.0)).sum).toMap
    val opWall = calls.filter(c => c.parent == pass.id).map(_.dur).sum / 1e3
    sum ++ Map(
      "mem.peak_exec_bytes" -> ops.map(_.getOrElse("mem.peak_exec_bytes", 0.0))
        .foldLeft(0.0)(math.max),
      "exec.core_busy" ->
        (if (opWall > 0) sum.getOrElse("exec.task_run_s", 0.0) / (opWall * cores) else 0.0))
  }

  /** The span tree: call spans, then jobs under the call they started
    * in, then stages under their job. Self time is a span's duration
    * minus its children's. */
  def spanTree(): Seq[Span] = {
    var next = calls.map(_.id).foldLeft(0)(math.max) + 1
    val jobSpans = jobs.sortBy(_.start).map { j =>
      val s = Span(next, innermost(j.start).map(_.id).getOrElse(0),
        j.name, "job", j.start, j.end)
      next += 1
      (j, s)
    }
    val stageSpans = stages.sortBy(_.start).map { st =>
      val parent = jobSpans.find { case (j, _) => j.stages.contains(st.id) }
        .map(_._2.id).orElse(innermost(st.start).map(_.id)).getOrElse(0)
      val s = Span(next, parent, st.name, "stage", st.start, st.end)
      next += 1
      s
    }
    calls ++ jobSpans.map(_._2) ++ stageSpans
  }

  /** Total self time per span kind, in seconds. */
  def selfTime(tree: Seq[Span]): Map[String, Double] = {
    val kids = tree.groupBy(_.parent)
    tree.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map(s => math.max(0L, s.dur - kids.getOrElse(s.id, Nil).map(_.dur).sum)).sum / 1e3
    }
  }
}

object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
