package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Multi-cycle standing-store soak MECHANICS at gate SF (the timing
  * harness is graft.IngestBench: per-cycle probe seconds, store rows
  * and post-compaction files per bucket for every family): across 3 probe → append → (compact) cycles the fp store
  * must grow by a full all-novel batch per cycle, the CONSTANT probed
  * batch's census must never change (novel appends alias nothing),
  * compaction mid-run must preserve both, and the final compaction
  * must restore one file per bucket. */
class StoreSoakSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  test("3-cycle fp-store soak: monotone growth, stable census, single-file finish") {
    val d = "/tmp/graft_storesoak_spec"
    spark.read.parquet(sf + "/documents.parquet")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    val tbl = operators.Dedup.fpStoreTable(d)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val batch = spark.read.parquet(d + "/documents.parquet")
      .filter(pmod($"doc_id", lit(10)) === 3)
    // cycle token prepended unconditionally (not just between words):
    // a tokenless doc would otherwise be byte-identical — not novel —
    // every cycle, flaking the monotone-growth assertion below
    def novel(c: Int) = batch
      .withColumn("doc_id", $"doc_id" + lit(c * 1000000000L))
      .withColumn("text", concat(lit(s"soak$c "),
        regexp_replace($"text", " ", s" soak$c ")))
    def census(): Seq[String] =
      operators.Dedup.qIncrementalDedupStore(spark, d)
        .collect().map(_.toString).sorted.toSeq
    val c0 = census() // builds the store
    assert(c0.nonEmpty)
    var lastRows = spark.table(tbl).count()
    for (c <- 1 to 3) {
      operators.Dedup.appendFpStore(spark, d, novel(c))
      spark.catalog.refreshTable(tbl)
      val rows = spark.table(tbl).count()
      assert(rows > lastRows,
        s"cycle $c: store must grow (was $lastRows, now $rows)")
      lastRows = rows
      if (c == 2) {
        graft.sources.Sources.compactBucketed(spark, tbl, "fp")
        assert(spark.table(tbl).count() === rows,
          "mid-run compaction must not change the store row count")
      }
      assert(census() === c0,
        s"cycle $c: the constant batch's census must never change " +
          "(novel appends alias nothing in it)")
    }
    graft.sources.Sources.compactBucketed(spark, tbl, "fp")
    assert(census() === c0, "final compaction must preserve the census")
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter($"col_name" === "Location").head.getString(1)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .count(_.getPath.getName.startsWith("part-"))
    assert(files <= graft.sources.Sources.bucketCountOf(spark, tbl),
      s"post-compaction the store must be one file per bucket, got $files")
  }
}
