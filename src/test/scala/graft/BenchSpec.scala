package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

/** [[Bench]]'s two contracts: the final line survives the consumer's
  * 2,000-char tail at the full registry size, and each query's
  * execution split counts that query's timed rep and nothing else. */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  private val names = (0 until 268).map(i => f"q_synthetic_$i%03d" + "_x" * (i % 6))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def line(secs: Seq[Double], only: Option[Seq[String]] = None) =
    Bench.finalLine(names.zip(secs), 2, "/data/corpora/tpch/sf10", (3.5, 2.25),
      12.5, 40.25, only, names.size)

  test("final line fits the tail budget at 268 queries, sf0.1 and sf10 magnitudes") {
    val rnd = new scala.util.Random(7)
    val failed = Set(3, 77, 150, 222, 267)
    def secs(lo: Double, hi: Double) = names.indices.map(i =>
      if (failed(i)) -1.0 else lo + rnd.nextDouble() * (hi - lo))
    for ((lo, hi, unit) <- Seq((0.1, 12.6, "ms"), (5.0, 900.0, "ds"))) {
      val l = line(secs(lo, hi))
      assert(l.length <= 1950, s"${l.length} chars")
      val j = mapper.readTree(l)
      assert(j.get("qms").size === 268)
      assert(j.get("qms_unit").asText === unit)
      assert(j.get("n_failed").asInt === failed.size)
      failed.foreach(i => assert(j.get("queries").get(names(i)).asInt === -1))
      assert(j.get("only").isNull && j.get("n_registry").asInt === 268)
      assert(j.get("gap_s").asDouble === 12.5 && j.get("job_s").asDouble === 40.25)
    }
  }

  test("a subset run names its selection and the registry size") {
    val sub = names.take(5)
    val j = mapper.readTree(Bench.finalLine(sub.map(_ -> 1.0), 2, "sf",
      (1.0, 1.0), 0.0, 0.0, Some(sub.reverse), names.size))
    assert(j.get("n_queries").asInt === 5 && j.get("n_registry").asInt === 268)
    assert((0 until 5).map(j.get("only").get(_).asText) === sub)
    // a selection whose names would overflow the line is reported by count
    val all = line(names.indices.map(_ => 1.0), Some(names))
    assert(all.length <= 1950, s"${all.length} chars")
    assert(mapper.readTree(all).get("only").asInt === 268)
  }

  test("each query's split counts its own timed rep, never the warm-up or a neighbour") {
    var seen = 0
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { seen += 1 }
    }
    def measured(q: String): (Bench.Layers, Int) = {
      Bridge.drainListeners(spark.sparkContext)
      seen = 0
      spark.sparkContext.addSparkListener(counter)
      val run = try Bench.measure(spark, q, 1)(SparkEntry.queries(q)(spark, sf))
        finally {
          Bridge.drainListeners(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counter)
        }
      Bench.hygiene(spark)
      assert(run.times.size === 1 && run.seconds > 0, q)
      (run.layers.getOrElse(fail(s"$q has no split")), counter.synchronized(seen))
    }
    val (q1, q1Seen) = measured("q1_pricing_summary")
    val (lp, lpSeen) = measured("q_label_prop")
    val (q1Again, _) = measured("q1_pricing_summary")
    for ((l, all) <- Seq(q1 -> q1Seen, lp -> lpSeen)) {
      assert(l.jobs >= 1 && l.gapS >= 0 && l.tasks >= l.stages)
      // the untimed warm-up ran the same jobs outside any group
      assert(l.jobs * 2 <= all, s"${l.jobs} of $all jobs attributed")
    }
    assert(lp.jobs > q1.jobs)
    assert(q1Again.jobs === q1.jobs, "q_label_prop's jobs bled into q1")
  }
}
