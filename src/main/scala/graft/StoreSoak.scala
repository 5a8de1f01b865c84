package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-cycle standing-store SOAK (benchmark tooling, not an oracle
  * query): drives ≥3 full ingest cycles — probe → append a novel
  * batch → (compact mid-run) — against ALL FIVE standing-store
  * families (fp / band / anchor at the document grain, graph / IVF at
  * the embedding grain) and reports per-cycle probe seconds plus
  * store growth, to verify
  * the production claim the stores were built on: PROBE TIME STAYS
  * FLAT AS THE STANDING CORPUS GROWS (the probe scales with the
  * batch; the store side streams off its bucketed files).
  *
  * Each cycle appends a derived all-novel batch (batch-slice docs with
  * shifted ids and a per-cycle text suffix — every fingerprint /
  * band signature / anchor hash is new), so the store grows by one
  * batch per cycle while the PROBED batch is held constant; cycle
  * timings are therefore directly comparable. Compaction runs after
  * the middle cycle, mirroring the real lifecycle (appends stack
  * per-bucket files and a store-side re-sort until the next
  * compaction — the mid-run compact shows both regimes in one soak).
  *
  * Usage: tools/run.sh graft.StoreSoak <sfDir> [cycles=3]
  * Output: one JSON line per (family, cycle) + a final summary line.
  */
object StoreSoak {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Most data files in one bucket (bucketed tables) or partition
    * directory (partitioned ones) across `tables` — 1 once compaction
    * has restored the invariant. */
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

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.builder("graft-storesoak").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // a derived ALL-NOVEL batch per cycle at each grain, so each
    // family's store grows by a full batch per cycle while the probe
    // stays fixed. Documents: ids shifted out of the key space, a
    // per-cycle token inserted between every word (the ScaleUp
    // universe-token idiom) so EVERY fingerprint, shingle, minhash
    // band, and anchor window is new. The cycle token is ALSO
    // prepended unconditionally: a tokenless doc (empty or one-word
    // text) has no spaces for the replace to rewrite and would
    // otherwise be byte-identical — hence NOT novel — every cycle,
    // flaking the monotone-growth assertions. Vectors: ids shifted
    // AND every component shifted by a per-cycle constant, so each
    // batch is new to the graph's node table (eh changes with the
    // bytes) and lands in real IVF cells.
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .filter(pmod($"doc_id", lit(10)) === 3)
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(pmod($"vec_id", lit(10)) === 3)
      .select($"vec_id", $"embedding")
    def novel(grain: sources.Stores.Grain, c: Int): DataFrame = grain match {
      case sources.Stores.Documents => docs
        .withColumn("doc_id", $"doc_id" + lit(c * 1000000000L))
        .withColumn("text", concat(lit(s"soak$c "),
          regexp_replace($"text", " ", s" soak$c ")))
      case sources.Stores.Embeddings => vecs
        .withColumn("vec_id", $"vec_id" + lit(c * 1000000000L))
        .withColumn("embedding",
          transform($"embedding", x => x + lit(c * 0.001f)))
    }

    for (st <- sources.Stores.all) {
      val tables = st.tables(d)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val (_, buildSec) = timed { st.ensure(spark, d) }
      println(s"""{"family":"${st.family}","cycle":0,"build_sec":$buildSec}""")
      for (c <- 1 to cycles) {
        // probe the CONSTANT slice against the growing store; min of
        // 2 reps (first run also settles AQE / code cache)
        val (_, p1) = timed {
          st.probe(spark, d).write.format("noop").mode("overwrite").save()
        }
        val (_, p2) = timed {
          st.probe(spark, d).write.format("noop").mode("overwrite").save()
        }
        val (_, aSec) = timed { st.append(spark, d, novel(st.grain, c)) }
        tables.foreach(spark.catalog.refreshTable)
        val rows = spark.table(tables.head).count()
        val compacted = c == (cycles + 1) / 2
        val cSec = if (compacted) timed { st.compact(spark, d) }._2 else 0.0
        println(s"""{"family":"${st.family}","cycle":$c,""" +
          s""""probe_sec":${math.min(p1, p2)},"append_sec":$aSec,""" +
          s""""store_rows":$rows,"compacted":$compacted,""" +
          s""""compact_sec":$cSec}""")
      }
      // final hygiene: compact, then check one file per bucket/cell
      st.compact(spark, d)
      println(s"""{"family":"${st.family}",""" +
        s""""final_max_files_per_bucket":${maxFilesPerBucket(spark, tables)}}""")
    }
    spark.stop()
  }
}
