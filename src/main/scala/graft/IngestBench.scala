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
  * and compacted regimes).
  *
  * Batches are MIXED half-duplicate / half-novel (the shape real
  * ingest has after day one): the even half of the batch slice
  * re-ingests verbatim standing content, the odd half is novelized
  * with the per-cycle token idiom (prepended unconditionally — the
  * StoreSoak tokenless-doc lesson), so probes exercise both hit and
  * miss paths every cycle while the stores still grow monotonically.
  *
  * Usage: tools/run.sh graft.IngestBench <sfDir> [cycles=3]
  * Output: one JSON line per cycle with per-stage seconds + one final
  * summary line (stage totals, loadavg stamps) — the BASELINE.md
  * ingest-session table source.
  */
object IngestBench {

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 3
    val loadStart = loadavg1m()
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
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // cold start: drop + rebuild every standing store for the dir
    sources.Stores.all.flatMap(_.tables(d))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val buildSec = timed(sources.Stores.all.foreach(_.ensure(spark, d)))
    println(s"""{"cycle":0,"build_all_sec":$buildSec}""")

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
          stages(s"probe_${st.family}") = timed(sink(p(spark, d, b))))
        stages(s"append_${st.family}") = timed(st.append(spark, d, b))
        if (st.admit.isEmpty)
          stages(s"serve_${st.family}") = timed(sink(st.probe(spark, d)))
      }
      val compacted = c == (cycles + 1) / 2
      stages("compact_all") = if (compacted)
        timed(sources.Stores.all.foreach(_.compact(spark, d)))
      else 0.0
      stages.foreach { case (k, v) => totals(k) += v }
      val cycleSec = stages.values.sum
      totals("cycle") += cycleSec
      val fields = stages.map { case (k, v) =>
        s""""${k}_sec":${math.rint(v * 1000) / 1000}""" }.mkString(",")
      println(s"""{"cycle":$c,$fields,"cycle_sec":${
        math.rint(cycleSec * 1000) / 1000},"compacted":$compacted}""")
      // between cycles: the Bench hygiene pair (checkpoint blocks are
      // already scoped-dropped by the append verbs; broadcasts need
      // a driver GC)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val totalFields = totals.map { case (k, v) =>
      s""""${k}_sec":${math.rint(v * 1000) / 1000}""" }.mkString(",")
    println(s"""{"metric":"ingest_session","sf":"$d","cycles":$cycles,""" +
      s""""build_all_sec":${math.rint(buildSec * 1000) / 1000},""" +
      s"""$totalFields,"loadavg":[$loadStart,${loadavg1m()}]}""")
    spark.stop()
  }
}
