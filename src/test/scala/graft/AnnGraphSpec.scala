package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graph-based ANN (SURVEY §2 row 37f). Exactness is the DuckDB
  * oracle's job (every beam hop mirrored); here we gate the property
  * the oracle can't see — that the graph walk actually FINDS the true
  * neighbors. Measured recall@5 vs brute: 1.00 / 0.99 / 0.94 at
  * sf0.001 / 0.01 / 0.1 with M=12, beam=48, hops=5 (uniform random
  * vectors — the hardest case: cosine concentrates and the graph has
  * no cluster structure to navigate). */
class AnnGraphSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("graph ANN recall@5 vs brute force >= 0.9") {
    val g = operators.Similarity.qAnnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = operators.Similarity.qKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b.nonEmpty)
    val recall = (g & b).size.toDouble / b.size
    assert(recall >= 0.9, s"graph-ANN recall@5 degraded to $recall")
  }

  test("replica-heavy corpus: rep-grain graph keeps id-exact recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5× verbatim replicas with shifted ids — the duplicate-heavy
    // corpus shape that fragments an uncanonicalized neighbor graph
    // into clone cliques (measured distance-recall 0.2 on 100×-replica
    // data before the rep-grain build; this pins the fix)
    val d2 = "/tmp/graft_anngraph_replicas"
    val base = spark.read.parquet(sf + "/embeddings.parquet")
    val n = base.agg(max($"vec_id")).head.getLong(0) + 1
    (0 until 5).map(r => base.withColumn("vec_id", $"vec_id" + lit(r * n)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(d2 + "/embeddings.parquet")
    val g = operators.Similarity.qAnnGraph(spark, d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = operators.Similarity.qKnnBrute(spark, d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b.nonEmpty)
    val recall = (g & b).size.toDouble / b.size
    assert(recall == 1.0,
      s"replica corpus must stay id-exact (clone families are found " +
        s"via their rep and expanded by id), got $recall")
  }

  test("q_ann_graph_store walk equals the in-session walk") {
    val a = operators.Similarity.qAnnGraphStore(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val b = operators.Similarity.qAnnGraph(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(a === b && a.nonEmpty)
  }

  test("incremental ingest matches a from-scratch rebuild after 2 append cycles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // corpus shape: base slice + cycle-1 batch of VERBATIM replicas
    // (zero new reps — pure member growth, the no-op insert path) +
    // cycle-2 batch of 20 NOVEL near-duplicates of the query vectors
    // (cos ≈ 1 but distinct — each becomes its query's true #1
    // neighbor, findable ONLY through the inserted edges)
    val d = "/tmp/graft_anngraph_ingest"
    // keep the FULL embeddings schema (Tables.embeddings validates it)
    val base = spark.read.parquet(sf + "/embeddings.parquet")
    val n = base.agg(max($"vec_id")).head.getLong(0) + 1
    val b1 = base.withColumn("vec_id", $"vec_id" + lit(n))
    val b2 = base.filter($"vec_id" < 20)
      .withColumn("vec_id", $"vec_id" + lit(2 * n))
      .withColumn("embedding",
        transform($"embedding", (x, i) =>
          when(i === 0, (x + lit(0.001f)).cast("float"))
            .otherwise(x)))
    val full = base.unionByName(b1).unionByName(b2)
    full.write.mode("overwrite").parquet(d + "/embeddings.parquet")
    val emb = spark.read.parquet(d + "/embeddings.parquet")
    val inc = operators.Similarity.graphStoreTable(d + "!spec_inc")
    val reb = operators.Similarity.graphStoreTable(d + "!spec_reb")
    for (t <- Seq(inc, reb)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}n")
    }
    operators.Similarity.ensureGraphStoreOver(spark, base, inc)
    operators.Similarity.appendGraphStore(spark, inc, b1)
    operators.Similarity.appendGraphStore(spark, inc, b2)
    operators.Similarity.ensureGraphStoreOver(spark, emb, reb)
    def recall(tbl: String): Double = {
      val g = operators.Similarity.graphSearch(emb, spark.table(tbl))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = operators.Similarity.qKnnBrute(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(b.nonEmpty)
      (g & b).size.toDouble / b.size
    }
    val rReb = recall(reb)
    val rInc = recall(inc)
    assert(rReb >= 0.9, s"rebuild recall degraded to $rReb")
    assert(rInc >= rReb,
      s"incremental ingest recall $rInc must match the rebuild $rReb " +
        "(the planted near-dups are reachable only via inserted edges)")
    // re-appending an ingested batch is a no-op (novelty anti-join)
    val edgesBefore = spark.table(inc).count()
    operators.Similarity.appendGraphStore(spark, inc, b2)
    spark.catalog.refreshTable(inc)
    assert(spark.table(inc).count() === edgesBefore,
      "re-appending an already-ingested batch must add zero edges")
    // compaction re-applies the degree cap and keeps the recall
    operators.Similarity.compactGraphStore(spark, inc)
    val maxDeg = spark.table(inc).groupBy($"src").count()
      .agg(max($"count")).head.getLong(0)
    assert(maxDeg <= 16, // GraphM + GraphDivSlots
      s"post-compaction out-degree $maxDeg must respect the cap")
    assert(recall(inc) >= rReb, "compaction must not lose the planted recall")
  }

  test("q_ann_graph_ingest walks the appended store with full-corpus members") {
    val rows = operators.Similarity.qAnnGraphIngest(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 5L),
        s"query $q ranks must be 1..5")
    }
  }

  test("each query returns exactly K ranked neighbors") {
    val rows = operators.Similarity.qAnnGraph(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 5L),
        s"query $q ranks must be 1..5")
    }
  }
}
