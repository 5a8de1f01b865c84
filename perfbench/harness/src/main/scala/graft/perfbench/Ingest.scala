package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Sources

/** The standing-store ingest loop, driven through graft's store verbs.
  *
  * Set-up drops and rebuilds the five stores (fp, band, anchor, graph,
  * ivf). Each cycle probes a batch at the fp, band and anchor grains,
  * appends it to all five stores and serves one graph-ANN query from the
  * growing store; every second cycle then compacts all five. A batch is
  * the held-out `doc_id % 10 = 3` slice (and `vec_id % 10 = 3` for
  * vectors): half of it re-ingests standing content verbatim, the other
  * half is novelized with a per-cycle token. The seed picks one of
  * [[Variants]] batch sequences, which fixes which half of each cycle's
  * slice is novel and the token; the reference file holds every
  * variant's serve digests and store row counts from an uninterrupted
  * run of [[MaxCycles]] cycles. */
object Ingest {
  val Families: Seq[String] = Seq("fp", "band", "anchor", "graph", "ivf")
  val Variants = 2
  val CompactEvery = 2
  /** Cycles a run may take; the reference covers this many. */
  val MaxCycles = 6

  def tables(d: String): Map[String, Seq[String]] = {
    val g = Similarity.graphStoreTable(d)
    Map("fp" -> Seq(Dedup.fpStoreTable(d)), "band" -> Seq(Dedup.bandStoreTable(d)),
      "anchor" -> Seq(TextAnalysis.anchorStoreTable(d)),
      "graph" -> Seq(g, Similarity.graphNodesTable(g)),
      "ivf" -> Seq(Similarity.ivfStoreTable(d)))
  }

  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt

  /** Drops every store and its files, then builds all five. */
  def rebuildStores(spark: SparkSession, o: Main.Opts, run: Main.Run): Unit = {
    val d = o.data
    tables(d).values.flatten.foreach { t =>
      Seq("", "_cold", "_cstage").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $t$x"))
    }
    deleteTree(new java.io.File(s"${o.work}/fpstore"))
    run.span("build", "store.build_fp") { Dedup.ensureFpStore(spark, d) }
    run.span("build", "store.build_band") { Dedup.ensureBandStore(spark, d) }
    run.span("build", "store.build_anchor") { TextAnalysis.ensureAnchorStore(spark, d) }
    run.span("build", "store.build_graph") { Similarity.ensureGraphStore(spark, d) }
    run.span("build", "store.build_ivf") { Similarity.ensureIvfStore(spark, d) }
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def docsBatch(spark: SparkSession, d: String, c: Int, v: Int): DataFrame = {
    val slice = Tables.documents(spark, d).filter(pmod(col("doc_id"), lit(10)) === 3)
    val half = pmod(floor(col("doc_id") / 10), lit(2)) === (c + v) % 2
    val token = s"ing${c}v$v"
    slice.filter(half).unionByName(slice.filter(!half)
      .withColumn("doc_id", col("doc_id") + lit(c * 1000000000L))
      .withColumn("text", concat(lit(s"$token "), regexp_replace(col("text"), " ", s" $token "))))
  }

  private def vecsBatch(spark: SparkSession, d: String, c: Int, v: Int): DataFrame = {
    val slice = Tables.embeddings(spark, d).filter(pmod(col("vec_id"), lit(10)) === 3)
      .select(col("vec_id"), col("embedding"))
    val half = pmod(floor(col("vec_id") / 10), lit(2)) === (c + v) % 2
    val shift = (c + 0.25f * v) * 0.001f
    slice.filter(half).unionByName(slice.filter(!half)
      .withColumn("vec_id", col("vec_id") + lit(c * 1000000000L))
      .withColumn("embedding", transform(col("embedding"), x => x + lit(shift))))
  }

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, o: Main.Opts, run: Main.Run,
              ref: Option[Map[String, String]]): Main.Result = {
    val d = o.data
    val v = variant(o.seed)
    val t = tables(d)
    val g = t("graph").head
    val digests = scala.collection.mutable.Map.empty[String, String]
    def check(key: String, got: String): Unit = {
      run.attempted += 1
      digests(key) = got
      ref.foreach { r =>
        if (!r.get(key).contains(got)) run.fail(s"$key: $got, reference ${r.getOrElse(key, "none")}")
      }
    }
    val steps = ArrayBuffer.empty[(Int, String, Double)]
    def probes(docs: DataFrame): Seq[(String, () => Unit)] = Seq(
      "probe_fp" -> (() => sink(Dedup.incrementalDedupStoreOver(spark, d, docs))),
      "probe_band" -> (() => sink(Dedup.neardupAdmitStoreOver(spark, d, docs))),
      "probe_anchor" -> (() => sink(TextAnalysis.spanAdmitStoreOver(spark, d, docs))))
    val cycles = ArrayBuffer.empty[Double]
    val batchBytes = ArrayBuffer.empty[Double]
    // most data files in one bucket, just before each compaction
    val debt = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val t0 = System.nanoTime()
    var c = 1
    // a reference run makes every cycle a timed run may reach
    def more = c <= CompactEvery || (c <= MaxCycles &&
      (o.writeRef || (System.nanoTime() - t0) / 1e9 < o.seconds))
    while (more) {
      val docs = docsBatch(spark, d, c, v)
      val vecs = vecsBatch(spark, d, c, v)
      var serve: DataFrame = null
      def step(name: String)(f: => Unit): Unit = {
        run.attempted += 1
        try steps += ((c, name, run.span("step", name)(f)._2))
        catch { case e: Throwable => run.fail(s"cycle $c $name: ${e.getClass.getName}: ${e.getMessage}") }
      }
      run.span("pass", s"cycle$c") {
        probes(docs).foreach { case (name, f) => step(name)(f()) }
        step("append_fp") { Dedup.appendFpStore(spark, d, docs) }
        step("append_band") { Dedup.appendBandStore(spark, d, docs) }
        step("append_anchor") { TextAnalysis.appendAnchorStore(spark, d, docs) }
        step("append_graph") { Similarity.appendGraphStore(spark, g, vecs) }
        step("append_ivf") { Similarity.appendIvfStore(spark, d, vecs) }
        step("serve_graph") { serve = Similarity.qAnnGraphStore(spark, d); sink(serve) }
        // untimed
        if (serve != null) {
          val key = s"ingest.v$v.c$c.serve"
          try check(key, Digest.of(serve, rowsOnly = false))
          catch { case e: Throwable => run.fail(s"$key: ${e.getClass.getName}: ${e.getMessage}") }
        }
        if (c % CompactEvery == 0) {
          Families.foreach(f => debt(f) = math.max(debt(f), filesPerBucketMax(storeFiles(spark, t(f)))))
          step("compact_fp") { Sources.compactBucketed(spark, t("fp").head, "fp") }
          step("compact_band") { Sources.compactBucketed(spark, t("band").head, "bb") }
          step("compact_anchor") { Sources.compactBucketed(spark, t("anchor").head, "h") }
          step("compact_graph") { Similarity.compactGraphStore(spark, g) }
          step("compact_ivf") { Similarity.compactIvfStore(spark, d) }
        }
      }
      cycles += steps.filter(s => s._1 == c && !s._2.startsWith("compact")).map(_._3).sum
      // a reference run records the row counts after every cycle, since a
      // timed run may stop after any of them
      if (o.writeRef) Families.foreach { f =>
        digests(s"ingest.v$v.c$c.rows.$f") = spark.table(t(f).head).count().toString
      }
      batchBytes += docs.agg(sum(length(col("text")))).head().getLong(0).toDouble +
        vecs.agg(sum(size(col("embedding")) * 4)).head().getLong(0).toDouble
      // between cycles, as graft.IngestBench does it
      run.hygiene(spark, settle = true)
      c += 1
    }
    val last = c - 1
    val rows = Families.map(f => f -> spark.table(t(f).head).count()).toMap
    val bytes = Families.map(f => f -> storeFiles(spark, t(f)).map(_._2).sum).toMap
    Families.foreach(f => check(s"ingest.v$v.c$last.rows.$f", rows(f).toString))

    def med(xs: Seq[Double]) = Layers.median(xs)
    val perStep = steps.groupBy(_._2).map { case (k, xs) => k -> med(xs.map(_._3).toSeq) }
    val compactTotals = steps.filter(_._2.startsWith("compact")).groupBy(_._1).values
      .map(_.map(_._3).sum).toSeq
    val extra = Map(
      "ingest.cycle_s" -> med(cycles.toSeq),
      "ingest.serve_s" -> perStep.getOrElse("serve_graph", 0.0),
      "sources.compact_s" -> med(compactTotals),
      "store.mb" -> bytes.values.sum / 1048576.0,
      "ingest.batch_bytes" -> med(batchBytes.toSeq)) ++
      Seq("probe_fp", "probe_band", "probe_anchor", "append_fp", "append_band",
        "append_anchor", "append_graph", "append_ivf", "serve_graph")
        .map(k => s"ingest.${k}_s" -> perStep.getOrElse(k, 0.0)) ++
      Families.map(f => s"sources.compact_${f}_s" -> perStep.getOrElse(s"compact_$f", 0.0)) ++
      Families.flatMap { f =>
        Seq(s"store.$f.rows" -> rows(f).toDouble, s"store.$f.bytes" -> bytes(f).toDouble,
          s"store.$f.files_per_bucket_max" -> debt(f).toDouble)
      }
    Main.Result(
      passS = extra("ingest.cycle_s"),
      opS = steps.groupBy(_._2).map { case (k, xs) => k -> xs.map(_._3).toSeq },
      passCount = cycles.size,
      digests = digests.toMap,
      layerExtra = extra,
      info = Map("variant" -> v, "cycles" -> cycles.size,
        "cycle_times_s" -> cycles.toSeq) ++
        extra,
      // the read side of the last cycle: its probes and the serve query
      rep = () => {
        val docs = docsBatch(spark, d, last, v)
        (probes(docs) :+ ("serve_graph" -> (() => sink(Similarity.qAnnGraphStore(spark, d)))))
          .map { case (name, f) =>
            run.attempted += 1
            try run.span("step", name)(f())._2
            catch { case e: Throwable => run.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}"); 0.0 }
          }.sum
      })
  }

  /** (bucket or partition directory, bytes) of every data file of a
    * family's tables. */
  private def storeFiles(spark: SparkSession, tbls: Seq[String]): Seq[(String, Long)] =
    tbls.flatMap { t =>
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location").head().getString(1)
      val p = new Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val out = ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) {
          val bucket = "_(\\d{5})\\.c\\d+".r.findFirstMatchIn(f.getPath.getName)
            .map(_.group(1)).getOrElse(f.getPath.getParent.toString)
          out += ((s"$t/$bucket", f.getLen))
        }
      }
      out
    }

  private def filesPerBucketMax(files: Seq[(String, Long)]): Int =
    if (files.isEmpty) 0 else files.groupBy(_._1).values.map(_.size).max
}
