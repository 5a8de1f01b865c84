package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPOSED INGEST-SESSION benchmark — the production loop a
  * deployment actually runs, end-to-end, as ONE artifact instead of
  * four hand-assembled rows: per batch cycle, probe the incoming
  * batch at all three dedup grains (exact fingerprint, LSH near-dup,
  * span coverage), append the batch to all five standing stores
  * ([[graft.sources.Stores]]: fp / band / anchor / graph / ivf — the
  * appends do their own novelty anti-joins, so re-ingested duplicates
  * cost a probe, never an erosion), serve the fixed ANN query slice
  * from the growing graph and IVF stores (the "is serving still flat
  * while we ingest?" readout), and
  * compact every store after the middle cycle (the real lifecycle's
  * periodic maintenance, so the artifact shows both the multi-file
  * and compacted regimes). Each probe runs a batch of the same size
  * every cycle against a growing store, which is the standing stores'
  * production claim made measurable: PROBE TIME STAYS FLAT AS THE
  * STANDING CORPUS GROWS. Every cycle line carries each store's rows
  * after its append, and the compaction cycle's line each store's most
  * files in one bucket (1 once compaction restored the invariant).
  *
  * Batches are MIXED half-duplicate / half-novel (the shape real
  * ingest has after day one): the even half of the batch slice
  * re-ingests verbatim standing content, the odd half is novelized
  * with the per-cycle token idiom, so probes exercise both hit and
  * miss paths every cycle while the stores still grow monotonically.
  * The token is prepended unconditionally: a tokenless doc (empty or
  * one-word text) has no spaces for the replace to rewrite and would
  * otherwise be byte-identical, hence not novel, every cycle.
  *
  * Usage: tools/run.sh graft.IngestBench <sfDir> [cycles=3]
  * Output: one line with per-store build seconds, one JSON line per
  * cycle with per-stage seconds + one final summary line (stage
  * totals, loadavg stamps) — the BASELINE.md ingest-session table
  * source.
  */
object IngestBench {

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Most data files in one bucket (bucketed tables) or partition
    * directory (partitioned ones) across `tables`. */
  private def maxFilesPerBucket(spark: SparkSession,
                                tables: Seq[String]): Int =
    tables.flatMap { t =>
      val root = new org.apache.hadoop.fs.Path(sources.Stores.location(spark, t))
      val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(root, true)
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.startsWith("part-"))
          keys += "_(\\d{5})\\.c\\d+".r.findFirstMatchIn(p.getName)
            .map(_.group(1)).getOrElse(p.getParent.toString)
      }
      keys.groupBy(identity).values.map(_.size)
    }.max

  private def perStore(f: sources.Stores.Store => Any): String =
    sources.Stores.all.map(st => s""""${st.family}":${f(st)}""")
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 3
    val loadStart = Bench.loadavg1m()
    val spark = GraftSession.builder("graft-ingestbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docSlice = spark.read.parquet(s"$d/documents.parquet")
      .filter(pmod($"doc_id", lit(10)) === 3)
    val vecSlice = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(pmod($"vec_id", lit(10)) === 3)
      .select($"vec_id", $"embedding")
    def docsBatch(c: Int): DataFrame = {
      val dup = docSlice.filter(pmod($"doc_id", lit(2)) === 0)
      val nov = docSlice.filter(pmod($"doc_id", lit(2)) === 1)
        .withColumn("doc_id", $"doc_id" + lit(c * 1000000000L))
        .withColumn("text", concat(lit(s"ing$c "),
          regexp_replace($"text", " ", s" ing$c ")))
      dup.unionByName(nov)
    }
    def vecsBatch(c: Int): DataFrame = {
      val dup = vecSlice.filter(pmod($"vec_id", lit(2)) === 0)
      val nov = vecSlice.filter(pmod($"vec_id", lit(2)) === 1)
        .withColumn("vec_id", $"vec_id" + lit(c * 1000000000L))
        .withColumn("embedding",
          transform($"embedding", x => x + lit(c * 0.001f)))
      dup.unionByName(nov)
    }
    // a store's items live in its last table; the graph store's first
    // (edge) table shrinks when compaction re-prunes the degree
    def rows(st: sources.Stores.Store): Long = {
      st.tables(d).foreach(spark.catalog.refreshTable)
      spark.table(st.tables(d).last).count()
    }

    // cold start: drop + rebuild every standing store for the dir
    sources.Stores.all.flatMap(_.tables(d))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val builds = sources.Stores.all.map(st => st.family -> timed(st.ensure(spark, d)))
    val buildSec = builds.map(_._2).sum
    println(s"""{"cycle":0,${builds.map { case (f, v) =>
      s""""build_${f}_sec":$v,""" }.mkString}"build_all_sec":$buildSec,""" +
      s""""rows":${perStore(rows)}}""")

    val totals = scala.collection.mutable.LinkedHashMap
      .empty[String, Double].withDefaultValue(0.0)
    for (c <- 1 to cycles) {
      val batch = Map[sources.Stores.Grain, DataFrame](
        sources.Stores.Documents -> docsBatch(c),
        sources.Stores.Embeddings -> vecsBatch(c))
      val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      // admitting stores probe the incoming batch before the append;
      // the others serve their fixed query slice from the grown store
      for (st <- sources.Stores.all) {
        val b = batch(st.grain)
        st.admit.foreach(p =>
          stages(s"probe_${st.family}") = timed(Bench.sink(p(spark, d, b))))
        stages(s"append_${st.family}") = timed(st.append(spark, d, b))
        if (st.admit.isEmpty)
          stages(s"serve_${st.family}") = timed(Bench.sink(st.probe(spark, d)))
      }
      val storeRows = perStore(rows)
      val compacted = c == (cycles + 1) / 2
      stages("compact_all") = if (compacted)
        timed(sources.Stores.all.foreach(_.compact(spark, d)))
      else 0.0
      val filesPerBucket = if (!compacted) "" else
        s""","max_files_per_bucket":${
          perStore(st => maxFilesPerBucket(spark, st.tables(d)))}"""
      stages.foreach { case (k, v) => totals(k) += v }
      val cycleSec = stages.values.sum
      totals("cycle") += cycleSec
      val fields = stages.map { case (k, v) =>
        s""""${k}_sec":${math.rint(v * 1000) / 1000}""" }.mkString(",")
      println(s"""{"cycle":$c,$fields,"cycle_sec":${
        math.rint(cycleSec * 1000) / 1000},"compacted":$compacted,""" +
        s""""rows":$storeRows$filesPerBucket}""")
      // checkpoint blocks are already scoped-dropped by the append
      // verbs; broadcasts need the driver GC
      Bench.hygiene(spark)
    }
    val totalFields = totals.map { case (k, v) =>
      s""""${k}_sec":${math.rint(v * 1000) / 1000}""" }.mkString(",")
    println(s"""{"metric":"ingest_session","sf":"$d","cycles":$cycles,""" +
      s""""build_all_sec":${math.rint(buildSec * 1000) / 1000},""" +
      s"""$totalFields,"loadavg":[$loadStart,${Bench.loadavg1m()}]}""")
    spark.stop()
  }
}
