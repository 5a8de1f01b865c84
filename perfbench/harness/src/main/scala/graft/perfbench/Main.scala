package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The graft benchmark's JVM side: one workload, one client, closed loop.
  *
  * Set-up runs once: it starts a session, then runs the untimed check
  * pass that digests every query result against the reference file, or
  * for ingest drops and rebuilds the stores.
  * `setup_s` spans JVM start to the end of set-up. Timed passes follow
  * until `--seconds` have elapsed. Each timed query is built by its graft query function and
  * materialized through the `noop` sink. With `--trace 1` a [[Tracer]]
  * listens to Spark, the per-layer split is written beside the result,
  * and the tracing overhead is measured at the end.
  *
  * Usage: graft.perfbench.Main --data DIR --queries LIST
  *   --seed N --seconds S --trace 0|1 --work DIR --ref FILE --out FILE
  *   [--write-ref 1] [--plant NAME]
  *
  * LIST is comma-separated graft query names, or `@ingest` for the
  * standing-store ingest loop ([[Ingest]]). */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val writeRef: Boolean = m.get("write-ref").contains("1")
    val work: String = apply("work")
    // a URI, so that input reads go to the local file system directly and
    // not through the view file system that holds the stores
    val data: String = "file://" + Paths.get(apply("data")).toAbsolutePath
  }

  /** The benchmark's own call spans plus op timings and failures. */
  final class Run {
    val calls = ArrayBuffer.empty[Span]
    private var stack = List(0)
    private var nextId = 1
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    val heldHeap = ArrayBuffer.empty[Double]

    /** Runs `f` as a span; returns its result and wall seconds. */
    def span[T](kind: String, name: String)(f: => T): (T, Double) = {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        val r = f
        (r, (System.nanoTime() - n0) / 1e9)
      } finally {
        stack = stack.tail
        calls += Span(id, parent, name, kind, t0, System.currentTimeMillis())
      }
    }

    /** Between operations, outside every timed region: drop cached and
      * checkpointed blocks, collect, and sample the heap that survives.
      * `settle` collects a second time after Spark's ContextCleaner has
      * had a moment to release what the first collection orphaned. */
    def hygiene(s: SparkSession, settle: Boolean = false): Unit = {
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      if (settle) { Thread.sleep(100); System.gc() }
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      heldHeap += used / 1048576.0
    }

    def fail(what: String): Unit = {
      failures += what
      System.err.println(s"[perfbench] FAILED $what")
    }
  }

  def newSession(o: Opts, tracer: Option[Tracer]): SparkSession = {
    val spark = GraftSession.builder("graft-perfbench")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"file://${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp")
      // graft writes its standing stores under the fixed path
      // /tmp/graft_fpstore; a Hadoop view file system mounts that path
      // inside the work directory. Other paths carry a file:// scheme and
      // so bypass it; any left without one fall through to file:///.
      .config("spark.hadoop.fs.defaultFS", "viewfs://perfbench/")
      .config(s"spark.hadoop.fs.viewfs.mounttable.perfbench.link./tmp/graft_fpstore",
        s"file://${o.work}/fpstore")
      .config("spark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback", "file:///")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.install(spark))
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val tracer = if (o.trace) Some(new Tracer) else None
    val run = new Run
    val names = o("queries").split(",").toSeq
    val ingest = names == Seq("@ingest")
    val ref = Ref.load(o.get("ref").filter(_ => !o.writeRef))
      .map(r => o.get("plant").fold(r)(Ref.plantWrong(r, _)))

    // set-up, from JVM start until the first timed pass can begin
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, createS) = run.span("setup", "session.create") { newSession(o, tracer) }
    val (checked, warmS) = run.span("setup", if (ingest) "store.build" else "session.warm") {
      if (ingest) { Ingest.rebuildStores(spark, o, run); Map.empty[String, String] }
      else checkPass(spark, o, run, names, ref)
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val result =
      if (ingest) Ingest.measure(spark, o, run, ref)
      else measureQueries(spark, o, run, names)
    // per operation (query or ingest step): the median over timed passes
    val opMedians = result.opS.values.map(xs => Layers.median(xs)).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> result.passS,
      "op_geomean_ms" -> 1e3 * math.exp(opMedians.map(math.log).sum / opMedians.size),
      "op_p50_ms" -> 1e3 * Layers.median(opMedians),
      "retained_heap_mb" -> Layers.median(run.heldHeap.toSeq))
    val setupInfo = Map(
      "session.create_s" -> createS,
      "session.warm_s" -> (if (ingest) 0.0 else warmS),
      "store.build_s" -> (if (ingest) warmS else 0.0))

    // tracing overhead: the same work timed detached, attached, attached
    // and detached, so that a steady drift of the host cancels out
    val overheadS = tracer.map { t =>
      val reps = Seq(false, true, true, false).zipWithIndex.map { case (on, i) =>
        if (on) t.attach(spark) else t.detach(spark)
        val (secs, _) = run.span("overhead", s"overhead${i + 1}") { result.rep() }
        run.hygiene(spark)
        on -> secs
      }
      def mean(on: Boolean) = Layers.mean(reps.filter(_._1 == on).map(_._2))
      mean(true) - mean(false)
    }
    val cores = spark.sparkContext.defaultParallelism
    spark.stop() // drains the listener bus

    val layerMetrics = tracer.map { t =>
      val (jobs, stages, tasks, plans) = t.snapshot()
      val layers = new Layers(run.calls.toSeq, jobs, stages, tasks, plans, cores)
      val opKind = if (ingest) "step" else "query"
      val passes = run.calls.filter(_.kind == "pass").toSeq
      val perOp = passes.flatMap(p => run.calls.filter(c => c.parent == p.id && c.kind == opKind)
        .map(op => op -> layers.ofOp(op)))
      val perPass = passes.map(p => layers.ofPass(p, perOp.filter(_._1.parent == p.id).map(_._2)))
      val keys = perPass.flatMap(_.keys).distinct
      val perWorkload = keys.map(k => k -> Layers.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
      val perQuery = perOp.groupBy(_._1.name).map { case (q, ms) =>
        q -> keys.map(k => k -> Layers.median(ms.map(_._2.getOrElse(k, 0.0)))).toMap
      }
      val tree = layers.spanTree()
      writeLines(s"${o.work}/spans.jsonl", tree.map(s => Json.obj(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start" -> s.start, "end" -> s.end))))
      val self = layers.selfTime(tree)
      val writeAmp = result.layerExtra.get("ingest.batch_bytes").filter(_ > 0)
        .map(perWorkload.getOrElse("sources.write_bytes", 0.0) / _).getOrElse(0.0)
      val all = perWorkload ++ setupInfo ++ result.layerExtra ++ Map(
        "sources.write_amp" -> writeAmp,
        "trace.overhead_s" -> overheadS.get,
        "trace.spans" -> tree.size.toDouble)
      writeLines(s"${o.work}/layers.json", Seq(Json.obj(Map(
        "workload" -> all, "per_query" -> perQuery, "self_s" -> self))))
      all
    }.getOrElse(Map.empty[String, Double])

    if (o.writeRef) Ref.save(o("ref"), checked ++ result.digests)
    val out = Json.obj(Map(
      "attempted" -> run.attempted,
      "failed" -> run.failures.size,
      "failures" -> run.failures.toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layerMetrics,
      "info" -> (setupInfo ++ result.info ++ Map(
        "spark" -> spark.version,
        "op_s" -> result.opS,
        "heap_samples" -> run.heldHeap.size,
        "passes" -> result.passCount))))
    writeLines(o("out"), Seq(out))
  }

  /** What a measurement loop hands back to [[main]]. `rep` repeats a
    * fixed share of the timed work and returns its seconds; the
    * tracing overhead is measured on it. */
  final case class Result(passS: Double, opS: Map[String, Seq[Double]], passCount: Int,
                          digests: Map[String, String],
                          layerExtra: Map[String, Double],
                          info: Map[String, Any],
                          rep: () => Double)

  /** Seeded query order of one pass: the seed fixes every pass's order,
    * and each pass gets its own. */
  def order[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  /** Timed passes a query run makes at least. The host's speed drifts
    * from one minute to the next, so a run must time enough work to
    * average over it; the first pass is also still warming up, and the
    * median over four leaves it out. */
  val MinPasses = 4

  /** The untimed check pass: every query's result digested against the
    * reference. Returns the digests. */
  private def checkPass(spark: SparkSession, o: Opts, run: Run, names: Seq[String],
                        ref: Option[Map[String, String]]): Map[String, String] = {
    val fns = SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    order(names, o.seed, 0).flatMap { q =>
      run.attempted += 1
      val d = try {
        val d = Digest.of(fns(q)(spark, o.data), rowsOnly = !SparkEntry.oracleSql.contains(q))
        ref.foreach { r =>
          if (!r.get(q).contains(d)) run.fail(s"$q: digest $d, reference ${r.getOrElse(q, "none")}")
        }
        Some(q -> d)
      } catch { case e: Throwable => run.fail(s"$q: ${e.getClass.getName}: ${e.getMessage}"); None }
      run.hygiene(spark)
      d
    }.toMap
  }

  /** One pass over `qs` in that order. Each query is timed from the call
    * of its graft query function to the end of its `noop` write; the
    * hygiene after it is not. Returns (query, seconds) of each query
    * that succeeded. */
  private def queryPass(spark: SparkSession, o: Opts, run: Run,
                        qs: Seq[String]): Seq[(String, Double)] = {
    val fns = SparkEntry.queries
    qs.flatMap { q =>
      run.attempted += 1
      val timed = try {
        val (_, secs) = run.span("query", q) {
          val (df, _) = run.span("build", "operators.build") { fns(q)(spark, o.data) }
          run.span("sink", "sink.run") { df.write.format("noop").mode("overwrite").save() }
        }
        Some(q -> secs)
      } catch { case e: Throwable => run.fail(s"$q: ${e.getClass.getName}: ${e.getMessage}"); None }
      run.hygiene(spark)
      timed
    }
  }

  /** Timed passes, whole passes only, until the time is up. */
  private def measureQueries(spark: SparkSession, o: Opts, run: Run,
                             names: Seq[String]): Result = {
    val passTimes = ArrayBuffer.empty[Double]
    val opS = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var p = 1
    while (p <= MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val (timed, _) = run.span("pass", s"pass$p") { queryPass(spark, o, run, order(names, o.seed, p)) }
      timed.foreach { case (q, secs) => opS.getOrElseUpdate(q, ArrayBuffer.empty) += secs }
      passTimes += timed.map(_._2).sum
      p += 1
    }
    Result(
      passS = Layers.median(passTimes.toSeq),
      opS = opS.map { case (q, xs) => q -> xs.toSeq }.toMap, passCount = passTimes.size,
      digests = Map.empty, layerExtra = Map.empty,
      info = Map("queries" -> names.size, "pass_times_s" -> passTimes.toSeq),
      rep = () => queryPass(spark, o, run, order(names, o.seed, 0)).map(_._2).sum)
  }

  def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
