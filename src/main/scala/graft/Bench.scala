package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * The only query-timing main: `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` turns
  * it into the isolated run of the named queries.
  *
  * Queries are fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune unevaluated projections and under-measure.
  *
  * Every query runs ONCE untimed before its timed reps: first
  * execution absorbs JIT, whole-stage-codegen compilation and GC noise
  * (round-1 data: 80 s cold vs 31 s warm for the same plans), so a
  * cold rep=1 run measures the JVM, not the engine. The reported
  * number is the steady-state a long-running cluster job sees. Every
  * rep's seconds are printed as the query finishes.
  *
  * Each timed rep also records where its wall time went ([[Layers]]:
  * jobs, inter-job driver gaps, shuffle, spill, peak execution memory,
  * slowest stage), and the fastest rep's split is written to the
  * `layers` map of BENCH_FULL.json beside the `queries` seconds.
  *
  * The FINAL printed line is SIZE-BOUNDED (~1.9 KB): the harness that
  * consumes it keeps only the last 2000 chars of the process output
  * (measured: every BENCH_r*.json `tail` is exactly 2000 chars), and
  * a line carrying all ~258 queries at full double precision (~6 KB)
  * would get its head truncated and become unparseable — which is
  * exactly what happened to rounds 1–3. The final line reports the
  * total, EVERY query's timing as the compact `qms` integer array
  * (name-ascending order, unit declared in `qms_unit`), plus every
  * failed query and the slowest queries by name in the remaining
  * budget. The COMPLETE per-query NAMED map is also emitted two ways: (a)
  * written to BENCH_FULL.json next to the cwd (committed per round —
  * the durable history), and (b) printed as self-contained CHUNK
  * lines (`"metric":"chunk"`) immediately before the final line, so
  * a consumer that captures full stdout can reassemble all 258
  * timings without the repo checkout; a tail-only consumer still
  * parses the final line unchanged.
  */
object Bench {
  private def fmt(d: Double): String =
    if (d < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** 1-minute loadavg, read at sweep start and end and stamped into
    * every emitted artifact: per-query driver-sweep timings on this
    * shared host carry ±25%+ ambient variance (page cache, co-tenant
    * load — BASELINE.md documents the envelope), and every judged
    * round has had to re-derive "is this regression real or ambient"
    * from scratch. The stamp settles it at the artifact: a sweep whose
    * start/end loadavg is far above the query parallelism ran dirty,
    * and its per-query ratios are ambient until re-measured isolated. */
  def loadavg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Between measured units, outside every timed region. Frees
    * localCheckpoint blocks: the dedup family pins checkpointed RDDs
    * that the ContextCleaner only drops on GC, and 127 queries of
    * accumulated blocks tax storage memory for everything downstream
    * (the round-7 q_json_path 0.4→3.0 s sweep anomaly). BLOCKING:
    * async unpersist let multi-GB sf30 checkpoint blocks from prior
    * queries ride into the next query's heap (round-12 sweep OOM).
    * Broadcast hash relations (one per broadcast join) are reaped by
    * the ContextCleaner only after a DRIVER GC notices the weak refs;
    * the GC nudges it so they don't squat in storage memory. */
  def hygiene(spark: SparkSession): Unit = {
    if (!spark.sparkContext.isStopped)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Where one timed rep's wall time went. `gapS` is the inter-job
    * gap: time between one job's end and the next job's start, spent
    * in driver/AQE planning (job start order, overlapping jobs add
    * none); `jobS` sums the job walls, so concurrent jobs (parallel
    * broadcasts) can push gap + job seconds past the wall. Shuffle and spill are summed
    * over tasks, `peakExecB` is the largest task's peak execution
    * memory, and the slowest stage's task count exposes single-task
    * hot spots. */
  final case class Layers(jobs: Int, stages: Int, tasks: Int,
                          gapS: Double, jobS: Double,
                          shuffleReadB: Long, shuffleWriteB: Long,
                          spillB: Long, peakExecB: Long,
                          slowStageS: Double, slowStageTasks: Int) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""gap_s":${fmt(gapS)},"job_s":${fmt(jobS)},""" +
      s""""shuffle_read_b":$shuffleReadB,"shuffle_write_b":$shuffleWriteB,""" +
      s""""spill_b":$spillB,"peak_exec_b":$peakExecB,""" +
      s""""slow_stage_s":${fmt(slowStageS)},"slow_stage_tasks":$slowStageTasks}"""
  }

  /** Job, stage and task events, attributed to the job group the
    * driver thread carried when each job started (broadcast and
    * subquery threads inherit it). Events of jobs outside any group —
    * warm-up runs, hygiene — are ignored. */
  private final class Split extends SparkListener {
    private final class Rec {
      val jobs = mutable.Map.empty[Int, (Long, Long)] // id -> (start, end)
      var stages, tasks, slowTasks = 0
      var shRead, shWrite, spill, peak, slowMs = 0L
    }
    private val recs = mutable.Map.empty[String, Rec]
    private val groupOfJob = mutable.Map.empty[Int, String]
    private val groupOfStage = mutable.Map.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Bridge.jobGroup(e.properties).foreach { g =>
        recs.getOrElseUpdate(g, new Rec).jobs(e.jobId) = (e.time, -1L)
        groupOfJob(e.jobId) = g
        e.stageIds.foreach(groupOfStage(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (g <- groupOfJob.get(e.jobId); r <- recs.get(g))
        r.jobs(e.jobId) = (r.jobs(e.jobId)._1, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        for (g <- groupOfStage.get(si.stageId); r <- recs.get(g)) {
          r.stages += 1
          val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          if (ms > r.slowMs) { r.slowMs = ms; r.slowTasks = si.numTasks }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- groupOfStage.get(e.stageId); r <- recs.get(g)) {
        r.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          r.shRead += m.shuffleReadMetrics.totalBytesRead
          r.shWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.diskBytesSpilled
          r.peak = math.max(r.peak, m.peakExecutionMemory)
        }
      }
    }

    /** The split of group `g`, whose events must all be delivered;
      * forgets the group. */
    def take(g: String): Layers = synchronized {
      val r = recs.remove(g).getOrElse(new Rec)
      groupOfJob.filterInPlace((_, v) => v != g)
      groupOfStage.filterInPlace((_, v) => v != g)
      val js = r.jobs.values.filter(_._2 >= 0).toSeq.sortBy(_._1)
      val gapMs = js.sliding(2).collect {
        case Seq(a, b) if b._1 > a._2 => b._1 - a._2
      }.sum
      Layers(js.size, r.stages, r.tasks, gapMs / 1000.0,
        js.map(j => j._2 - j._1).sum / 1000.0, r.shRead, r.shWrite,
        r.spill, r.peak, r.slowMs / 1000.0, r.slowTasks)
    }
  }

  /** One query's timed reps: each rep's seconds (-1 if it threw) and
    * the fastest rep's split (None if any rep failed). */
  final case class Run(times: Seq[Double], layers: Option[Layers]) {
    def seconds: Double = if (times.contains(-1.0)) -1.0 else times.min
  }

  /** Runs `query` once untimed, then `reps` timed times, each under its
    * own job group so the split counts only that rep's jobs. The
    * listener bus is drained after each rep, outside the timed
    * region. */
  def measure(spark: SparkSession, name: String, reps: Int)
             (query: => DataFrame): Run = {
    val sc = spark.sparkContext
    val split = new Split
    sc.addSparkListener(split)
    try {
      val runs = (0 to reps).map { rep =>
        val group = s"graft-bench-$name-$rep"
        if (rep > 0) sc.setJobGroup(group, name)
        val t0 = System.nanoTime()
        val t = try { sink(query); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name: $e"); -1.0
          } finally sc.clearJobGroup()
        if (!sc.isStopped) Bridge.drainListeners(sc)
        (t, split.take(group))
      }.drop(1) // rep 0 is the per-query warmup, never reported
      val times = runs.map(_._1)
      Run(times, if (times.contains(-1.0)) None else Some(runs.minBy(_._1)._2))
    } finally sc.removeSparkListener(split)
  }

  private def onlyJson(only: Option[Seq[String]]): String =
    only.fold("null")(_.sorted.map(q => "\"" + q + "\"").mkString("[", ",", "]"))

  /** The size-bounded final line (see the object doc). `results` are
    * (name, seconds) with -1 for a failure; `only` is the
    * SPARK_GRAFT_BENCH_ONLY selection, reported by count when its
    * names would not fit, and `nRegistry` the size of the query
    * registry, so a subset run never reads as a full sweep. */
  def finalLine(results: Seq[(String, Double)], reps: Int, sfDir: String,
                loadavg: (Double, Double), gapS: Double, jobS: Double,
                only: Option[Seq[String]], nRegistry: Int): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0)
    // ALL queries' timings in the final line itself (round-13 verdict
    // item: n_reported must equal n_queries): full names don't fit the
    // 2000-char tail (names alone are 3.3 KB), so `qms` carries every
    // timing as an integer (-1 = failed) in ASCENDING NAME ORDER —
    // ~1.1 KB for 260 queries at sf0.1. A consumer recovers the names
    // by sorting the query registry (SURVEY §2 / SparkEntry.queries)
    // ascending. Unit is milliseconds; if big-SF magnitudes blow the
    // tail budget the unit degrades to deciseconds (declared in
    // qms_unit — 0.1 s resolution is fine once queries run 10 s+).
    val byName = results.sortBy(_._1)
    def qmsArr(mult: Double): String = byName
      .map { case (_, v) => if (v < 0) "-1" else math.round(v * mult).toString }
      .mkString("[", ",", "]")
    val lineCap = 1950 // whole final line must survive the 2000-char tail
    var qmsUnit = "ms"
    var qms = qmsArr(1000)
    if (qms.length > lineCap - 420) { qmsUnit = "ds"; qms = qmsArr(10) }
    def lineWith(onlyJs: String, qsObj: String, nNamed: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,""" +
      s""""queries":$qsObj,""" +
      s""""qms":$qms,"qms_order":"name_asc","qms_unit":"$qmsUnit",""" +
      s""""sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""n_reported":${byName.size},"n_named":$nNamed,""" +
      s""""only":$onlyJs,"n_registry":$nRegistry,""" +
      s""""gap_s":${fmt(gapS)},"job_s":${fmt(jobS)},""" +
      s""""loadavg":[${fmt(loadavg._1)},${fmt(loadavg._2)}],""" +
      s""""full":"BENCH_FULL.json"}"""
    val onlyJs =
      if (lineWith(onlyJson(only), "{}", results.size).length <= lineCap)
        onlyJson(only)
      else only.fold("null")(_.size.toString)
    // named `queries` object for readability: failures first (never
    // hidden), then slowest-first under whatever budget the full qms
    // array leaves in the line
    val budget = lineCap - lineWith(onlyJs, "{}", results.size).length
    val byCost = results.filter(_._2 >= 0).sortBy(-_._2)
    val picked = mutable.ArrayBuffer.empty[(String, Double)]
    var used = 2
    (failed ++ byCost).foreach { case (k, v) =>
      val w = k.length + fmt(v).length + 4
      if (used + w <= budget) { picked += ((k, v)); used += w }
    }
    val qs = picked.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    lineWith(onlyJs, qs, picked.size)
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var spark = GraftSession.getOrCreate("graft-bench")
    // session warmup: JIT/codegen + parquet footers for every table
    def warm(s: SparkSession): Unit = sink(SparkEntry.entry(s))
    warm(spark)
    // SPARK_GRAFT_BENCH_REPS reports the min of N timed runs. Default
    // is 2: reps=1 numbers on a shared host carry ±40% fixed-overhead
    // variance on sub-2 s queries (round-9 lesson — the regression scan
    // chased pure noise), while min-of-2 matches the BASELINE.md
    // discipline, so driver artifacts compare like-for-like.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the sweep — the isolated
    // run for sweep-vs-isolated anomalies and targeted scale evidence;
    // the round artifact always runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
    val selected = only.fold(SparkEntry.queries) { names =>
      val unknown = names.toSet -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"BENCH_ONLY names unknown queries: $unknown")
      SparkEntry.queries.view.filterKeys(names.toSet).toMap
    }
    val nRegistry = SparkEntry.queries.size
    val acc = mutable.ArrayBuffer.empty[(String, Run)]
    def suite(f: Layers => Double): Double = acc.flatMap(_._2.layers).map(f).sum
    def writeFull(): Unit = {
      // rewritten after EVERY query: a mid-sweep JVM death (the sf30
      // q_ngram_jaccard OOM, round 12) must not erase the completed
      // queries' timings — the partial map is the evidence trail
      val total = acc.map(_._2.seconds).filter(_ >= 0).sum
      val full = acc.map { case (k, r) => "\"" + k + "\":" + r.seconds }
        .mkString("{", ",", "}")
      val layers = acc.flatMap { case (k, r) =>
        r.layers.map(l => "\"" + k + "\":" + l.json) }
        .mkString("{\n", ",\n", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
         s""""queries":$full,"sf":"$sfDir","n_done":${acc.size},""" +
         s""""only":${onlyJson(only)},"n_registry":$nRegistry,""" +
         s""""cores":${GraftSession.cpus},""" +
         s""""gap_s":${fmt(suite(_.gapS))},"job_s":${fmt(suite(_.jobS))},""" +
         s""""loadavg_start":$loadStart,"loadavg_now":${loadavg1m()},""" +
         s""""layers":$layers}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def runOnce(): Run = measure(spark, name, reps)(fn(spark, sfDir))
      var run = runOnce()
      // In local mode a single task-level OutOfMemoryError STOPS the
      // whole SparkContext (SparkUncaughtExceptionHandler), and every
      // later query then fails with "stopped SparkContext" — 45
      // poisoned -1 entries in the round-12 sf30 sweep. A real driver
      // restarts the app; mirror that: recreate the session, re-warm,
      // and retry THIS query once on the fresh JVM state. A query that
      // fails again on a clean session is genuinely broken (-1); a
      // query that only died of a predecessor's corpse is not.
      if (run.seconds == -1.0 && spark.sparkContext.isStopped) {
        System.err.println(
          s"[bench] $name: context stopped — new session, one retry")
        spark = GraftSession.getOrCreate("graft-bench")
        warm(spark)
        run = runOnce()
      }
      // each query still pays its OWN checkpoint cost inside its reps
      hygiene(spark)
      println(s"[bench] $name: ${run.times.map(fmt).mkString(", ")} " +
        s"(min ${fmt(run.seconds)})" + run.layers.fold("")(l =>
          s" jobs ${l.jobs} gap ${fmt(l.gapS)} s"))
      acc += name -> run
      writeFull()
    }
    val line = finalLine(acc.map { case (k, r) => k -> r.seconds }.toSeq,
      reps, sfDir, (loadStart, loadavg1m()), suite(_.gapS), suite(_.jobS),
      only, nRegistry)
    // The harness keeps only the TAIL of the combined process output;
    // rounds 6-7 lost the JSON line because WARN chatter (WindowExec,
    // shutdown hooks) printed AFTER it. Silence ALL logging — the
    // SparkContext level and the log4j2 root logger (shutdown hooks log
    // through the root logger after main returns) — before emitting.
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    spark.stop()
    // after stop() so no Spark shutdown chatter can follow it on stdout.
    // Chunk lines first (full 258-query map for full-stdout consumers),
    // final bounded line LAST (the tail-parse contract).
    val all = acc.sortBy(_._1)
      .map { case (k, r) => "\"" + k + "\":" + fmt(r.seconds) }
    val chunks = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[String])
    all.foreach { s =>
      if (chunks.last.map(_.length + 1).sum + s.length > 1700)
        chunks += mutable.ArrayBuffer.empty[String]
      chunks.last += s
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"chunk","i":${i + 1},"of":${chunks.size},""" +
        s""""reps":$reps,"sf":"$sfDir","queries":${c.mkString("{", ",", "}")}}""")
    }
    println(line)
    System.out.flush()
  }
}
