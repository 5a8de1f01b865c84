package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{TopK, TopKPerGroupExec}

class TopKSpec extends AnyFunSuite {
  import TestSpark._

  test("custom top-k operator matches the window formulation") {
    import spark.implicits._
    val win = graft.operators.Relational.qTopNPerGroup(spark, sf)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
    val custom = TopK.perGroup(
      Tables.customer(spark, sf).select($"c_mktsegment", $"c_custkey", $"c_acctbal"),
      3, Seq($"c_mktsegment"), Seq($"c_acctbal".desc, $"c_custkey".asc))
    assert(custom.collect().toSet === win.collect().toSet)
  }

  test("plan contains partial and final TopKPerGroupExec phases") {
    import spark.implicits._
    val custom = TopK.perGroup(
      Tables.customer(spark, sf).select($"c_mktsegment", $"c_custkey"),
      2, Seq($"c_mktsegment"), Seq($"c_custkey".asc))
    custom.collect() // finalize the adaptive plan
    val plan = custom.queryExecution.executedPlan.toString
    // partial (false) feeding the exchange, final (true) above it
    assert("""TopKPerGroup .*, false""".r.findFirstIn(plan).isDefined, plan)
    assert("""TopKPerGroup .*, true""".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("ascending default and k larger than group size") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 9)).toDF("g", "v")
    val top = TopK.perGroup(df, 2, Seq($"g"), Seq($"v"))
    assert(top.collect().map(r => (r.getString(0), r.getInt(1))).toSet
      === Set(("a", 1), ("a", 2), ("b", 9)))
  }

  test("empty group key computes global top-k") {
    import spark.implicits._
    val top = TopK.perGroup(
      Tables.customer(spark, sf).select($"c_custkey", $"c_acctbal"),
      3, Seq(), Seq($"c_acctbal".desc, $"c_custkey".asc))
    val want = Tables.customer(spark, sf)
      .orderBy($"c_acctbal".desc, $"c_custkey".asc).limit(3)
      .select($"c_custkey", $"c_acctbal").collect().toSet
    assert(top.collect().toSet === want)
  }

  test("top-k with expression group key and multi-column ordering") {
    import spark.implicits._
    val top = TopK.perGroup(
      Tables.orders(spark, sf),
      1, Seq(pmod($"o_custkey", lit(10))), Seq($"o_totalprice".desc, $"o_orderkey".asc))
    assert(top.count() === 10)
  }
}
