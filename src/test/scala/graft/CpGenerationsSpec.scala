package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Cp

/** The checkpoint-generation policy of graft.functions.Cp: `rounds`
  * keeps an iterative loop to two live generations without cutting
  * the lineage of the frame it returns, `scoped` drops a one-shot
  * verb's checkpoints whatever way the verb exits, and
  * `localReplacing` drops the checkpoints its frame was built from. */
class CpGenerationsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an N-round loop keeps at most two rounds' checkpoints live, " +
       "and its final frame still evaluates") {
    val base = persisted
    val round = Cp.rounds(spark)
    val gens = scala.collection.mutable.ArrayBuffer[Set[Int]]()
    var df = spark.range(50).toDF("x")
    for (r <- 1 to 6) {
      val before = persisted
      df = round {
        val next = df.select(($"x" + 1).as("x")).transform(Cp.local)
        // a convergence-style read of the previous generation after
        // the new one materialized: it must still be live here
        assert(next.join(df, Seq("x"), "left_anti").count() == 1)
        next
      }
      gens += persisted -- before
      assert(gens.last.nonEmpty, s"round $r made no checkpoint")
      val live = persisted -- base
      assert(live.subsetOf(gens.takeRight(2).reduce(_ ++ _)),
        s"round $r: live $live outside the last two generations $gens")
    }
    assert(gens.take(4).forall(_.intersect(persisted).isEmpty),
      "superseded generations must be dropped")
    assert(df.as[Long].collect().sorted.toSeq === (6L until 56L))
  }

  test("Cp.scoped drops what its body created, also when the body throws") {
    val base = persisted
    var made = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Cp.scoped(spark) {
        Cp.local(spark.range(10).toDF("x")).count()
        made = persisted -- base
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(made.nonEmpty, "the body's checkpoint must have materialized")
    assert(made.intersect(persisted).isEmpty)
  }

  test("near-dup graph queries drop the pair pipeline's posting " +
       "checkpoints, and a shared pair build survives them") {
    import org.apache.spark.sql.execution.RDDScanExec
    import graft.operators.Dedup
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val queries = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "q_label_prop" -> Dedup.qLabelProp, "q_triangles" -> Dedup.qTriangles,
      "q_dup_depth" -> Dedup.qDupDepth, "q_reachability" -> Dedup.qReachability)
    for ((name, q) <- queries) {
      // the posting tables are the (doc_id, n, s) checkpoints the
      // recorded checkpoint inputs scan
      var recorded = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
      Cp.startRecording()
      val df = try q(spark, sf) finally recorded = Cp.stopRecording()
      val posting = recorded.flatMap(_.collect {
        case r: RDDScanExec if r.output.map(_.name) == Seq("doc_id", "n", "s") =>
          r.rdd.id
      }).toSet
      val first = rows(df)
      assert(posting.nonEmpty, s"$name built no posting table")
      assert(posting.intersect(persisted).isEmpty,
        s"$name: posting checkpoints $posting outlive the query")
      assert(rows(df) === first, s"$name must re-evaluate to the same rows")
      val base = persisted
      Dedup.withSharedPairs(spark, sf) {
        val shared = persisted -- base
        assert(shared.nonEmpty)
        assert(rows(q(spark, sf)) === first, name)
        assert(shared.subsetOf(persisted),
          s"$name dropped the shared pair build")
      }
    }
  }
}
