package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Stores

/** Crash recovery of every registered standing store. A compaction
  * rotates catalog names live → `_cold`, stage → live
  * ([[graft.sources.Sources.rewriteBucketed]] /
  * [[graft.sources.Sources.compactPartitioned]]); a crash between the
  * two renames leaves no table under the live name. The family's
  * ensure must then restore the store WITH its appended batches — not
  * rebuild it from the corpus split — and a replayed append must add
  * nothing. Each table of a family is crashed on its own (the graph
  * store compacts its edge and node tables in two rotations). */
class StoresSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  private val d = "/tmp/graft_stores_crash"

  private lazy val corpus: Unit = Seq("documents", "embeddings").foreach { t =>
    spark.read.parquet(s"$sf/$t.parquet")
      .write.mode("overwrite").parquet(s"$d/$t.parquet")
  }

  /** An all-novel batch at the grain: shifted ids, and every token /
    * component changed, so each store grows by it. */
  private def novel(grain: Stores.Grain): DataFrame = grain match {
    case Stores.Documents => spark.read.parquet(s"$d/documents.parquet")
      .filter(pmod($"doc_id", lit(10)) === 3)
      .withColumn("doc_id", $"doc_id" + lit(1000000000L))
      .withColumn("text", concat(lit("crash "),
        regexp_replace($"text", " ", " crash ")))
    case Stores.Embeddings => spark.read.parquet(s"$d/embeddings.parquet")
      .filter(pmod($"vec_id", lit(10)) === 3)
      .select(($"vec_id" + lit(1000000000L)).as("vec_id"),
        transform($"embedding", x => x + lit(0.001f)).as("embedding"))
  }

  private def counts(tbls: Seq[String]): Seq[Long] = tbls.map { t =>
    spark.catalog.refreshTable(t)
    spark.table(t).count()
  }

  for (st <- Stores.all; i <- st.tables(d).indices) {
    val n = st.tables(d).size
    test(s"crash mid-rotation: ${st.family} store, table ${i + 1} of $n, " +
         "keeps its appended rows") {
      corpus
      val tbls = st.tables(d)
      for (t <- tbls; x <- Seq("", "_cold", "_cstage"))
        spark.sql(s"DROP TABLE IF EXISTS $t$x")
      st.ensure(spark, d)
      val built = counts(tbls)
      val batch = novel(st.grain)
      st.append(spark, d, batch)
      val appended = counts(tbls)
      assert(appended.head > built.head,
        s"the novel batch must grow the store ($built -> $appended)")
      val live = tbls(i)
      spark.sql(s"ALTER TABLE $live RENAME TO ${live}_cold")
      assert(!spark.catalog.tableExists(live))
      st.ensure(spark, d)
      assert(counts(tbls) === appended,
        "ensure must restore the appended store, not rebuild the corpus split")
      assert(!spark.catalog.tableExists(live + "_cold"))
      st.append(spark, d, batch)
      assert(counts(tbls) === appended,
        "the replayed append after recovery must add nothing")
    }
  }
}
