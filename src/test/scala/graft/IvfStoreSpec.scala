package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec

/** The standing IVF index store (SURVEY §2 rows 37e/48d): correctness —
  * the store-backed search is bit-identical to the in-session
  * [[graft.operators.Similarity.qAnnIvf]] — and the scale property that
  * justifies the cell-partitioned layout: a probe's scan reads ONLY the
  * probed cells' files (partition pruning), the ~nProbe/cells I/O bound
  * that makes ANN serving viable on a standing corpus. */
class IvfStoreSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("q_ann_ivf_store results equal q_ann_ivf") {
    val a = operators.Similarity.qAnnIvfStore(spark, sf).collect()
    val b = operators.Similarity.qAnnIvf(spark, sf).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
    assert(a.nonEmpty)
  }

  test("ivf store ingest cycle: appended vector becomes the top neighbor") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // private corpus dir — this test appends to its store
    val d2 = "/tmp/graft_ivfstore_cycle"
    spark.read.parquet(sf + "/embeddings.parquet")
      .write.mode("overwrite").parquet(d2 + "/embeddings.parquet")
    val tbl = operators.Similarity.ivfStoreTable(d2)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val before = operators.Similarity.ivfStoreSearch(spark, d2, 2).collect()
    assert(!before.exists(r => r.getLong(1) == 999999L))
    // ingest a verbatim clone of query 0's vector under a new id: it
    // lands in query 0's own best cell (same vector → same argmax),
    // which is always probed, so the next search must rank it first
    val clone = spark.read.parquet(d2 + "/embeddings.parquet")
      .filter($"vec_id" === 0L)
      .select(lit(999999L).as("vec_id"), $"embedding")
    operators.Similarity.appendIvfStore(spark, d2, clone)
    spark.catalog.refreshTable(tbl)
    val after = operators.Similarity.ivfStoreSearch(spark, d2, 2).collect()
    val top0 = after.filter(r => r.getLong(0) == 0L && r.getLong(2) == 1L)
    assert(top0.length == 1 && top0.head.getLong(1) == 999999L,
      s"query 0's top neighbor must be the appended clone: ${after.mkString(", ")}")
    assert(top0.head.getDouble(3) == 1.0)
    // compaction collapses the touched cells' files and keeps every row
    val n = spark.table(tbl).count()
    operators.Similarity.compactIvfStore(spark, d2)
    assert(spark.table(tbl).count() === n,
      "compaction must not change the store row count")
  }

  test("probe scan is partition-pruned to the probed cells") {
    val tbl = operators.Similarity.ivfStoreTable(sf)
    // AQE off for the assertion only: the pruning is STATIC (the probed
    // cell set is a literal partition filter, no runtime planning
    // involved), and the non-adaptive plan exposes the scan node
    // directly instead of burying it inside query-stage wrappers
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a 2-query probe touches at most 4 of the 16 cells
      val df = operators.Similarity.ivfStoreSearch(spark, sf, 2)
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(tbl)) => s
      }.headOption.getOrElse(
        fail("no file scan over the IVF store in:\n" +
          df.queryExecution.executedPlan))
      assert(scan.toString.contains("PartitionFilters: [cell"),
        "store scan must carry the probed-cell partition filter:\n" + scan)
      val readFiles = scan.metrics("numFiles").value
      val allFiles = spark.table(tbl).inputFiles.length.toLong
      assert(readFiles < allFiles,
        s"pruned scan must read fewer files than the table holds " +
          s"($readFiles of $allFiles) — the directory layout IS the index")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
