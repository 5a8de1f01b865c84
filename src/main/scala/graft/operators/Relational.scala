package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Det._

/** Relational core: the scan/filter/project/aggregate/join/sort surface
  * a Hadoop-3.0-era batch-analytics stack (Hive-on-MR style) provides,
  * re-expressed as declarative DataFrame plans so Catalyst handles
  * pushdown, pruning, join planning and AQE handles runtime skew.
  *
  * Scale notes (100 TB):
  * - dimension tables (region/nation/supplier/part, and customer at
  *   most SFs) are broadcast — no shuffle on the fact side;
  * - fact aggregations rely on partial (map-side) aggregation;
  * - every top-k carries a unique tie-break key so results are
  *   deterministic under any partitioning.
  */
object Relational {
  private def ts(s: String) = lit(s).cast("timestamp")

  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 8 decimal aggregates over every surviving row — stage-probed r17
    // at 1.77 s in ONE non-empty split; the shipdate filter still
    // pushes to the scan through the fan-out exchange. Spread keys are
    // columns the query already reads (near-unique jointly), so the
    // scan stays pruned to exactly the aggregate inputs.
    Tables.fanOut(Tables.lineitem(s, d),
        "l_extendedprice", "l_shipdate", "l_quantity")
      .filter($"l_shipdate" <= ts("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  def q3TopUnshipped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(s, d).filter($"o_orderdate" < ts("1998-01-01"))
    val l = Tables.lineitem(s, d).filter($"l_shipdate" > ts("1998-01-01"))
    // customer is small relative to the facts: broadcast it so the
    // orders->lineitem join is the only shuffle.
    broadcast(c).join(o, $"c_custkey" === $"o_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  def q5RegionRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r = Tables.region(s, d).filter($"r_name" === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1997-01-01"))
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    // region⋈nation⋈customer collapses to a broadcast dim; supplier is
    // broadcast too; the only shuffle is orders⋈lineitem on orderkey.
    val dim = broadcast(r.join(n, $"r_regionkey" === $"n_regionkey"))
    c.join(dim, $"c_nationkey" === $"n_nationkey")
      .join(o, $"c_custkey" === $"o_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(sup),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  def q6Forecast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1997-01-01") && $"l_shipdate" < ts("1998-01-01") &&
        $"l_discount" >= 0.02 && $"l_discount" <= 0.06 && $"l_quantity" < 24.0)
      .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H q7 VOLUME SHIPPING shape: bidirectional trade flow between
    * two nations by ship year. Both nation dims are pre-filtered to
    * the pair BEFORE their joins (supplier and customer shrink ~2/25
    * each side, and broadcast), so the only large shuffle is
    * lineitem ⋈ orders on orderkey; the cross-side pair predicate
    * runs after both sides are bound. */
  def q7NationTrade(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(s, d).filter($"n_name".isin(pair: _*))
      .select($"n_nationkey".as("snk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, d).filter($"n_name".isin(pair: _*))
      .select($"n_nationkey".as("cnk"), $"n_name".as("cust_nation"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n1), $"s_nationkey" === $"snk")
    val cust = Tables.customer(s, d)
      .join(broadcast(n2), $"c_nationkey" === $"cnk")
    val l = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1999-01-01"))
    l.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  /** TPC-H q8 NATIONAL MARKET SHARE shape: of the revenue from orders
    * placed by customers in one region, what fraction is supplied by
    * one nation, per order year. The share is engine-exact: both
    * decimal sums are materialized as micro-unit BIGINTs and divided
    * as doubles — two exact integers < 2⁵³, so the IEEE quotient is
    * identical on both engines (no order-dependent float sum
    * anywhere). */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = broadcast(Tables.region(s, d).filter($"r_name" === "EUROPE")
      .join(Tables.nation(s, d), $"r_regionkey" === $"n_regionkey"))
    val cust = Tables.customer(s, d)
      .join(dim, $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supN = broadcast(Tables.supplier(s, d)
      .join(Tables.nation(s, d).select($"n_nationkey".as("snk"),
        $"n_name".as("supp_nation")), $"s_nationkey" === $"snk")
      .select($"s_suppkey", $"supp_nation"))
    val o = Tables.orders(s, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1998-01-01"))
    Tables.lineitem(s, d)
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey", "left_semi")
      .join(supN, $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        (sum(when($"supp_nation" === "NATION_3",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(Dec))
          .otherwise(lit(0).cast(Dec))) * 1000000).cast("long").as("num_e6"),
        (sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(Dec))
          * 1000000).cast("long").as("den_e6"))
      .select($"o_year", $"num_e6", $"den_e6",
        ($"num_e6".cast("double") / $"den_e6".cast("double")).as("mkt_share"))
  }

  /** TPC-H q10 RETURNED-ITEM LOSS shape: the 20 customers with the
    most revenue on returned lineitems in one quarter; unique custkey
    tie-break under the (deterministic, decimal-exact) revenue sort. */
  def q10Returns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1996-04-01"))
    val l = Tables.lineitem(s, d).filter($"l_returnflag" === "R")
    val nat = broadcast(Tables.nation(s, d))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(nat, $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
  }

  /** TPC-H q19 DISJUNCTIVE PREDICATE shape: an OR-of-ANDs across both
    * join sides. Catalyst extracts the common p_brand/p_size bounds
    * below the join and evaluates the residual disjunction above it —
    * the predicate-pushdown stress test. Quantity bounds are integer
    * constants compared against the double column (integer-exact
    * boundaries, SURVEY §6). */
  def q19Disjunct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = broadcast(Tables.part(s, d))
    Tables.lineitem(s, d)
      .join(p, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#11" && $"p_size".between(1, 15) &&
          $"l_quantity" >= 1.0 && $"l_quantity" <= 11.0) ||
        ($"p_brand" === "Brand#22" && $"p_size".between(1, 25) &&
          $"l_quantity" >= 10.0 && $"l_quantity" <= 20.0) ||
        ($"p_brand" === "Brand#6" && $"p_size".between(1, 35) &&
          $"l_quantity" >= 20.0 && $"l_quantity" <= 30.0))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H q4 ORDER PRIORITY shape (adapted: the testdata carries no
    * commit/receipt dates, so "late" is shipment >30 days after the
    * order date): count of one quarter's orders with at least one
    * late lineitem, by priority. The correlated EXISTS is a left-semi
    * join whose residual inequality binds both sides; the quarter
    * filter pushes to the orders scan, so the semi join probes a
    * small slice and the fact side never materializes matches. */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .filter($"o_orderdate" >= ts("1996-07-01") && $"o_orderdate" < ts("1996-10-01"))
    o.join(Tables.lineitem(s, d),
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL '30' DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H q12 SHIP MODE shape (adapted: no shipmode column — the
    * return flag plays the mode; lateness is shipment >60 days after
    * the order date): per flag, how many of a year's late lines
    * belong to critical (URGENT/HIGH) vs other orders. One fact-fact
    * shuffle join on orderkey; both counts come out of a single
    * pass as exact BIGINTs. */
  def q12LateLines(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val crit = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter($"l_returnflag".isin("A", "R") &&
        $"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01"))
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL '60' DAY"))
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin(crit: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority".isin(crit: _*), 0L).otherwise(1L))
          .as("low_line_count"))
  }

  /** TPC-H q14 PROMO REVENUE shape: monthly share of revenue from
    * promo-type parts. Part is a broadcast dim; the share is exact —
    * both sums leave the agg as micro-unit BIGINTs (the q8 recipe)
    * and the final division is one IEEE op on exact integers, so the
    * double is bit-identical on any engine and partitioning. */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1997-01-01") && $"l_shipdate" < ts("1997-07-01"))
      .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
      .groupBy(date_trunc("month", $"l_shipdate").as("ship_month"))
      .agg(
        (sum(when($"p_type" === "PROMO",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(Dec))
          .otherwise(lit(0).cast(Dec))) * 1000000).cast("long").as("promo_e6"),
        (sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(Dec))
          * 1000000).cast("long").as("total_e6"))
      .select($"ship_month", $"promo_e6", $"total_e6",
        (lit(100.0) * $"promo_e6".cast("double") / $"total_e6".cast("double"))
          .as("promo_share"))
  }

  /** TPC-H q15 TOP SUPPLIER shape: the supplier(s) whose quarterly
    * revenue equals the maximum. Revenue stays DECIMAL through the
    * max and the equality (bit-exact tie semantics); the max itself
    * is a 1-row broadcast scalar — no global window, and ties
    * surface as multiple rows exactly as in the spec. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(Dec))
        .as("rev_dec"))
    val top = rev.agg(max($"rev_dec").as("max_dec"))
    rev.crossJoin(broadcast(top))
      .filter($"rev_dec" === $"max_dec")
      .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"rev_dec".cast("double").as("total_rev"))
  }

  /** TPC-H q18 LARGE ORDER shape: orders whose total quantity tops
    * 300, with customer detail and the re-aggregated quantity. The
    * HAVING probe is a self-contained agg on the fact; only its
    * survivors (a tiny set) reach the detail joins, and customer is
    * broadcast. Integer-exact threshold on a decimal-exact sum
    * (SURVEY §6); unique orderkey tie-break under the price sort. */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 300.0)
    big.join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(100)
  }

  /** TPC-H q22 GLOBAL SALES OPPORTUNITY shape (adapted: nationkey
    * plays the country code; inactivity is "no order since 2000"):
    * well-funded idle customers per nation. The above-average filter
    * is division-free — `bal_e2 * cnt > sum_e2` on exact BIGINTs
    * against a 1-row broadcast scalar (round-to-cents makes the
    * balance integer-exact) — and the inactivity probe is a
    * left-anti join against the date-pruned orders slice. */
  def q22IdleCustomers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pool = Tables.customer(s, d)
      .filter($"c_nationkey".isin(1, 3, 5, 7, 9, 11, 13))
      .withColumn("bal_e2", round($"c_acctbal" * 100).cast("long"))
    val stats = pool.filter($"bal_e2" > 0)
      .agg(sum($"bal_e2").as("sum_e2"), count(lit(1)).as("cnt"))
    val recent = Tables.orders(s, d)
      .filter($"o_orderdate" >= ts("2000-01-01"))
    pool.crossJoin(broadcast(stats))
      .filter($"bal_e2" * $"cnt" > $"sum_e2")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey".as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum($"c_acctbal").as("totacctbal"))
  }

  /** DATA-QUALITY CENSUS (Deequ-style constraint suite): one report of
    * violation counts a pipeline gates on before training — primary-key
    * uniqueness, referential integrity both directions, null
    * completeness, domain and range conformance. Every check is a
    * shuffle agg or a broadcast/shuffle anti-join — no windows, no
    * collect; at 100 TB each check is one pass and they share scans
    * where Catalyst can. All counts are exact BIGINTs (0 = pass). */
  def qDqChecks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val c = Tables.customer(s, d)
    val checks = Seq(
      o.agg((count(lit(1)) - countDistinct($"o_orderkey")).as("v"))
        .select(lit("orders_pk_dupes").as("check_name"), $"v".as("violations")),
      o.join(c, $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(lit("orders_fk_orphans").as("check_name"), $"v".as("violations")),
      l.join(o, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(lit("lineitem_fk_orphans").as("check_name"), $"v".as("violations")),
      o.agg(sum(when($"o_orderstatus".isin("F", "O", "P"), 0L)
          .otherwise(1L)).as("v"))
        .select(lit("orders_status_domain").as("check_name"), $"v".as("violations")),
      l.agg(sum(when($"l_quantity".isNull || $"l_quantity" < 1.0 ||
          $"l_quantity" > 50.0, 1L).otherwise(0L)).as("v"))
        .select(lit("lineitem_qty_range").as("check_name"), $"v".as("violations")),
      c.agg(sum(when($"c_name".isNull || length($"c_name") === 0, 1L)
          .otherwise(0L)).as("v"))
        .select(lit("customer_name_complete").as("check_name"), $"v".as("violations")),
      l.agg(sum(when($"l_discount" < 0.0 || $"l_discount" > 1.0, 1L)
          .otherwise(0L)).as("v"))
        .select(lit("lineitem_discount_range").as("check_name"), $"v".as("violations")))
    checks.reduce(_.unionAll(_))
  }

  def qSemiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).filter($"o_totalprice" > 300000.0)
    Tables.customer(s, d)
      .join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  def qAntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  def qDistinctAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey").as("n_nations"),
        count(lit(1)).as("n_cust"),
        dsum($"c_acctbal").as("sum_bal"))
  }

  def qHaving(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_spent"))
      .filter($"n_orders" >= 15)
  }

  def qCaseBucket(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .withColumn("band",
        when($"o_totalprice" < 50000.0, "small")
          .when($"o_totalprice" < 200000.0, "medium")
          .otherwise("large"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  def qStringOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .filter($"p_name".like("%ol%"))
      .select($"p_partkey",
        upper($"p_brand").as("brand_u"),
        substring($"p_name", 1, 8).as("name8"),
        concat($"p_type", lit("/"), $"p_brand").as("type_brand"),
        length($"p_name").as("name_len"))
  }

  def qDateTruncMonth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
  }

  def qUnionAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
      .select(lit("customer").as("src"), $"c_name".as("name"), $"c_acctbal".as("bal"))
    val sup = Tables.supplier(s, d)
      .select(lit("supplier").as("src"), $"s_name".as("name"), $"s_acctbal".as("bal"))
    c.unionByName(sup)
  }

  def qIntersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_nationkey".as("nk"))
      .intersect(Tables.supplier(s, d).select($"s_nationkey".as("nk")))
  }

  /** INTERSECT ALL — multiset intersection (each value kept with its
    * minimum multiplicity across the two sides), the bag-semantics
    * counterpart of [[qIntersect]]. */
  def qIntersectAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d).select($"p_size".cast("long").as("k"))
      .intersectAll(Tables.customer(s, d).select($"c_nationkey".cast("long").as("k")))
  }

  /** EXCEPT (set difference) — part sizes that no small-size order of
    * the cheapest bracket covers (non-empty at every SF). */
  def qExcept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d).select($"p_size".cast("long").as("k"))
      .except(Tables.customer(s, d).select($"c_nationkey".cast("long").as("k")))
  }

  /** EXCEPT ALL — multiset difference (each value keeps
    * max(0, n_left − n_right) copies). */
  def qExceptAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d).select($"p_size".cast("long").as("k"))
      .exceptAll(Tables.customer(s, d).select($"c_nationkey".cast("long").as("k")))
  }

  /** FULL OUTER join: per-nation customer/supplier counts, keeping
    * nations present on either side only. */
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"))
    val sup = Tables.supplier(s, d).groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supp"))
    c.join(sup, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"),
        coalesce($"n_supp", lit(0L)).as("n_supp"))
  }

  /** Date arithmetic: shipping delay stats per order priority
    * (datediff + interval comparison). */
  def qDateArith(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate")
    Tables.orders(s, d)
      .join(l, $"o_orderkey" === $"l_orderkey")
      .select($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").cast("long").as("ship_days"),
        when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L).as("late"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"ship_days").as("sum_ship_days"),
        sum($"late").as("n_late"))
  }

  def qPivotStatus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        count(when($"o_orderstatus" === "O", 1)).as("n_open"),
        count(when($"o_orderstatus" === "F", 1)).as("n_finished"),
        count(when($"o_orderstatus" === "P", 1)).as("n_pending"))
  }

  /** UNPIVOT/melt — the inverse of [[qPivotStatus]]'s wide shape: a
    * per-segment metrics row unpivots to (segment, metric, value)
    * long form. Balance totals ride as exact integer cents (decimal
    * sum × 100 → BIGINT) so every melted value shares one engine-exact
    * LONG type — unpivot requires a common value type anyway, and
    * floats would put a rounding ulp on the gate. */
  def qUnpivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct($"c_nationkey").as("n_nations"),
        (sum($"c_acctbal".cast("decimal(18,2)")) * 100).cast("long")
          .as("bal_cents"))
      .unpivot(Array($"c_mktsegment"),
        Array($"n_customers", $"n_nations", $"bal_cents"),
        "metric", "value")
  }

  /** SKYLINE (Pareto frontier): parts no other part dominates on
    * (cheaper price, larger size) — the multi-objective shortlist
    * operator. No pairwise join and NO single-partition pass:
    * skyline(S) = skyline(∪ skyline(Sᵢ)), and the strict-inequality
    * running-max filter makes the two-level composition EXACT — for
    * any row, the first predecessor attaining the global running max
    * is itself locally undominated, so the max over surviving
    * candidates equals the max over all predecessors. Level 1 runs
    * the ordered filter per input partition (window keyed by a
    * materialized spark_partition_id — parallel, shuffles only by
    * pid); level 2 reruns it once over the union of local frontiers,
    * which is bounded by |skyline| × partitions, orders of magnitude
    * smaller than the table. That final window is keyed by the
    * constant pid of a 1-partition exchange — a non-empty partition
    * spec, so no `WindowExec: No Partition Defined` scan-the-world
    * plan at any scale. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def frontier(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"pid")
        .orderBy($"p_retailprice".asc, $"p_partkey".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("best_prev", max($"p_size").over(w))
        .filter($"best_prev".isNull || $"p_size" > $"best_prev")
        .select($"p_partkey", $"p_retailprice", $"p_size")
    }
    val base = Tables.part(s, d)
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val local = frontier(base.withColumn("pid", spark_partition_id()))
    frontier(local.repartition(1).withColumn("pid", spark_partition_id()))
  }

  def qRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
  }

  def qCube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
  }

  /** Explicit GROUPING SETS (beyond rollup/cube) with grouping_id to
    * disambiguate the aggregation level of each output row. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  COUNT(*) AS n
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |""".stripMargin)
  }

  def qInSubquery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hot = Tables.lineitem(s, d).filter($"l_quantity" > 45.0)
      .select($"l_partkey").distinct()
    Tables.part(s, d)
      .filter($"p_size".isin(1, 5, 9, 13))
      .join(hot, $"p_partkey" === $"l_partkey", "left_semi")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"))
  }

  /** Correlated scalar subquery (TPC-H q17 shape): revenue impact of
    * lineitems whose quantity is below 20% of their part's average
    * quantity, for one brand. Catalyst decorrelates such subqueries
    * into a per-key aggregate + join; we declare that decorrelated
    * form directly — and apply the semi-join reduction first, so the
    * per-part aggregate runs over the brand's lineitems only (the
    * brand filter doesn't change any part's lineitem set, so the
    * aggregate is identical and the 100 TB scan shrinks ~25×). The
    * oracle uses the genuine correlated subquery. Threshold is the
    * integer comparison 5·qty·n < Σqty (quantities are integral), so
    * the boundary is engine-exact. */
  def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, d).filter($"p_brand" === "Brand#23")
    val lp = broadcast(p)
      .join(Tables.lineitem(s, d), $"p_partkey" === $"l_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val agg = lp.groupBy($"l_partkey".as("agg_pk"))
      .agg(sum($"l_quantity".cast("long")).as("sum_qty"),
        count(lit(1)).as("n_li"))
    lp.join(agg, $"l_partkey" === $"agg_pk")
      .filter(lit(5) * $"l_quantity".cast("long") * $"n_li" < $"sum_qty")
      .agg(round(dsum($"l_extendedprice") / 7.0, 2).as("avg_yearly"))
  }

  def qQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .groupBy($"c_mktsegment")
      .agg(
        round(expr("percentile(c_acctbal, 0.5)"), 6).as("median_bal"),
        round(expr("percentile(c_acctbal, 0.9)"), 6).as("p90_bal"),
        count(lit(1)).as("n"))
  }

  /** stddev/variance from exact decimal moments — order-independent,
    * unlike the built-in streaming (Welford) implementations which are
    * partitioning-dependent in their last few FP bits.
    *
    * The squared term is computed entirely in DECIMAL: cast the 2-dp
    * price to DECIMAL(18,2) first, square in decimal arithmetic
    * (exact at 4 dp), sum exactly, and convert to double once at the
    * end. Squaring in double and casting the product would round twice
    * and can disagree with the oracle on cast boundaries. */
  def qStatsMoments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p2 = $"o_totalprice".cast("decimal(18,2)")
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        dsum($"o_totalprice").as("sx"),
        sum(p2 * p2).cast("double").as("sxx"))
      .select($"o_orderstatus", $"n", $"sx",
        round(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1), 2).as("variance"))
  }

  /** PEARSON CORRELATION per group, engine-exact: every moment
    * (Σx, Σy, Σxy, Σx², Σy²) accumulates in DECIMAL (exact,
    * order-independent — the built-in corr() is a float stream that
    * differs run-to-run in partial-agg order), converts to double
    * once, and the final r = cov/√(varx·vary) is the identical IEEE
    * expression in both engines. Products are squared IN decimal at
    * (18,2)×(18,2) → (37,4), inside both engines' 38-digit cap. One
    * map-combinable shuffle agg — linear at 100 TB. */
  def qCorrelation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast("decimal(18,2)")
    val y = $"l_extendedprice".cast("decimal(18,2)")
    Tables.fanOut(Tables.lineitem(s, d), "l_orderkey", "l_linenumber")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
      .select($"l_returnflag", $"n".cast("long").as("n"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r"))
  }

  /** SPEARMAN RANK CORRELATION per segment — the outlier-robust
    * monotone-association twin of [[qCorrelation]], fully
    * engine-exact: tie-averaged ranks are kept INTEGER as
    * 2·avgrank = 2·rank() + ties − 1 (Pearson is invariant under the
    * linear map r → 2r, so doubling changes nothing), every moment is
    * an exact BIGINT sum (safe to ~1.3M rows per group; beyond that
    * the sums move to DECIMAL(38,0)), and only the final closed-form
    * arithmetic runs in doubles — identical exact inputs, identical
    * IEEE ops on both engines. Scale shape: two partitioned windows
    * (rank within segment, tie count within (segment, value)) and one
    * grouped agg — shuffles on the segment key only. */
  def qSpearman(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Ranks NEVER touch row grain: tie-averaged 2·avgrank =
    // 2·cumBelow + t + 1 comes from the per-segment VALUE histogram
    // (the medianOfHist idiom), so each rank window sorts the distinct-
    // value spine, not the table — at 100× SF lineitem has ~100×
    // fewer distinct prices than rows, and segment-partition skew
    // (3 segments = 3-way parallelism on a row-grain sort) vanishes.
    // Moments then accumulate on the joint (seg, x, y) grain weighted
    // by cnt — same exact integers as the row-grain sum.
    val joint = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_quantity".as("x"),
        $"l_extendedprice".as("y"))
      .groupBy($"l_returnflag", $"x", $"y")
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.functions.Cp.local) // feeds both marginals + moments
    def rank2(vc: String, rc: String): DataFrame = {
      val cumW = Window.partitionBy($"l_returnflag").orderBy(col(vc).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      joint.groupBy($"l_returnflag", col(vc))
        .agg(sum($"cnt").as("t"))
        .withColumn("below", coalesce(sum($"t").over(cumW), lit(0L)))
        .select($"l_returnflag", col(vc),
          (lit(2) * $"below" + $"t" + 1).as(rc))
    }
    // rank products overflow BIGINT once groups pass ~1M rows (rank ≤
    // 2n, so Σ rx·ry ~ 4n³): compute products and sums in DECIMAL(38,0)
    // — exact at any SF — and convert once at the end. The oracle's
    // BIGINT sums widen to HUGEINT in DuckDB; both engines then
    // correctly-round the same exact integer to the same double.
    val c = $"cnt".cast("decimal(19,0)")
    val dx = $"rx".cast("decimal(19,0)")
    val dy = $"ry".cast("decimal(19,0)")
    joint
      .join(rank2("x", "rx"), Seq("l_returnflag", "x"))
      .join(rank2("y", "ry"), Seq("l_returnflag", "y"))
      .groupBy($"l_returnflag")
      .agg(
        sum($"cnt").cast("double").as("n"),
        sum(c * dx).cast("double").as("sx"),
        sum(c * dy).cast("double").as("sy"),
        sum(c * dx * dy).cast("double").as("sxy"),
        sum(c * dx * dx).cast("double").as("sxx"),
        sum(c * dy * dy).cast("double").as("syy"))
      .select($"l_returnflag", $"n".cast("long").as("n"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("rho"))
  }

  /** GINI CONCENTRATION of customer spend per nation — the inequality
    * audit run on revenue (and, in the LLM-pipeline reading, on
    * per-source token mass before mixture rebalancing). Fully
    * engine-exact: spend rides as integer cents, each nation's
    * customers get a UNIQUE rank i (spend, custkey — deterministic
    * ties), and G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) is evaluated as
    * one truncating integer division at 10⁹ scale. Σi·xᵢ ≈ n²·x̄/2
    * passes BIGINT at ~100× SF, so the moment accumulates in
    * DECIMAL(38,0) (oracle: HUGEINT — different exact types, identical
    * quotient). Chebyshev's sum inequality makes the numerator
    * non-negative, so Spark div ≡ DuckDB // ≡ floor. Scale shape: one
    * customer-keyed agg, one per-nation rank window (the q_spearman
    * per-segment sort family), one 25-row agg + broadcast dim join. */
  def qGini(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = "DECIMAL(38,0)"
    val spend = Tables.orders(s, d)
      .select($"o_custkey", round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"o_custkey").agg(sum($"cents").as("x"))
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
    spend
      .withColumn("i", row_number().over(
        Window.partitionBy($"c_nationkey")
          .orderBy($"x".asc, $"c_custkey".asc)).cast("long"))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum($"x").as("total_cents"),
        sum($"i".cast(D) * $"x".cast(D)).as("six"))
      .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"n_cust", $"total_cents",
        expr(s"(CAST(2 AS $D) * six - CAST(n_cust + 1 AS $D) " +
          s"* CAST(total_cents AS $D)) * CAST(1000000000 AS $D) " +
          s"div (CAST(n_cust AS $D) * CAST(total_cents AS $D))")
          .as("gini_e9"))
      .orderBy($"n_name".asc)
  }

  /** NONPARAMETRIC MEDIAN CONFIDENCE INTERVAL via order statistics —
    * the distribution-free CI (binomial argument: the j-th and
    * (n−j+1)-th order statistics bracket the true median with ≥95%
    * coverage for j = ⌊(n − z√n)/2⌋, z = 1.959964): exact at any
    * scale because the order statistics come from the value-histogram
    * cum ≥ rank compare (the medianOfHist idiom — never a per-group
    * sort of rows), and the rank indices are the SAME IEEE expression
    * in both engines (sqrt/mult/floor are correctly-rounded, so the
    * floor'd integer agrees bit-for-bit). One row-grain agg + one
    * spine window. */
  def qMedianCi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = Tables.fanOut(Tables.lineitem(s, d),
        "l_orderkey", "l_linenumber").select($"l_returnflag",
      ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"cents").agg(count(lit(1)).as("t"))
    cumTot(h, "l_returnflag", "cents", "t", tot = "n")
      .withColumn("lo_rank", greatest(lit(1L),
        floor(($"n" - lit(1.959964) * sqrt($"n".cast("double"))) / 2)
          .cast("long")))
      .withColumn("hi_rank", $"n" - $"lo_rank" + 1)
      .groupBy($"l_returnflag")
      .agg(min($"n").as("n"),
        min(when($"cum" >= $"lo_rank", $"cents")).as("ci_lo_cents"),
        min(when($"cum" >= $"hi_rank", $"cents")).as("ci_hi_cents"))
      .orderBy($"l_returnflag".asc)
  }

  /** Bootstrap replica count and the cumulative Poisson(1) weight
    * table at 1/1000 resolution (e⁻¹·Σ1/k! rounded to integers —
    * fixed mirrored CONSTANTS, never computed in-engine): a hash
    * bucket h∈[0,1000) maps to weight w = #thresholds ≤ h. */
  private val BootReplicas = 32
  private val PoissonCum1000 = Seq(368L, 736L, 920L, 981L, 996L, 999L)

  /** POISSON-BOOTSTRAP CONFIDENCE SPREAD — resampling statistics made
    * fully deterministic and engine-exact: each of [[BootReplicas]]
    * replicas draws every order with weight w ~ Poisson(1) (the
    * standard streaming/distributed bootstrap, where resampling n of n
    * rows is approximated row-independently so NO global coordination
    * is needed), but w comes from md5(orderkey:replica) against the
    * fixed cumulative table — reproducible on any cluster, any
    * partitioning, any retry, and recomputable by the oracle. Replica
    * sums ride as exact integer cents; only the final replica-mean is
    * an IEEE division downstream. Scale shape: the replica explode is
    * map-side (32× rows into a map-combinable partial agg → 32·groups
    * rows after combine, NOT 32× shuffle volume); one narrow scan at
    * any SF.
    *
    * The explode is DELIBERATE — measured, not assumed: two
    * explode-free rewrites were benchmarked at sf0.1 (round 10) and
    * both lost. (a) 32 per-replica weight columns into one
    * 64-accumulator HashAggregate: 7.3 s vs 4.8 s — the 32-md5-wide
    * projection generates a giant per-row method that defeats JIT,
    * while the explode form evaluates ONE hot md5 per exploded row.
    * (b) transform(sequence(0,31), …) per-row fold: 56 s — interpreted
    * HigherOrderFunction lambda. The md5 count (32/row) is identical
    * in every form and is the floor; the explode adds rows only inside
    * a map-combined stage, so no shape is cheaper at any SF. */
  def qBootstrap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val thresholds = PoissonCum1000.map(t => s"CASE WHEN h >= $t THEN 1 ELSE 0 END")
      .mkString(" + ")
    // 32 md5s/row of map-side work above a potentially 1-split scan:
    // the measured poster child for Tables.fanOut (5.1 → 1.9 s sf0.1)
    Tables.fanOut(Tables.orders(s, d), "o_orderkey")
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .withColumn("replica",
        explode(expr(s"sequence(0L, ${BootReplicas - 1}L)")))
      .withColumn("h", graft.functions.TextFunctions.md5Prefix60(
        concat($"o_orderkey".cast("string"), lit(":"), $"replica".cast("string")))
        % 1000L)
      .withColumn("w", expr(s"CAST($thresholds AS BIGINT)"))
      .groupBy($"o_orderpriority", $"replica")
      .agg(sum($"w").as("n_eff"),
        sum($"w" * $"cents").as("sum_cents"))
      .withColumn("mean_cents_e3",
        expr("sum_cents * 1000 DIV n_eff"))
      .orderBy($"o_orderpriority".asc, $"replica".asc)
  }

  private val BenfordE9 = Seq(301029996L, 176091259L, 124938737L,
    96910013L, 79181246L, 66946790L, 57991947L, 51152522L, 45757491L)

  /** BENFORD FIRST-DIGIT AUDIT — the fraud/synthetic-data smell test:
    * the leading-digit distribution of order totals vs Benford's law.
    * Digit extraction is exact (floor to BIGINT, first character);
    * observed shares are exact integer ratios n·10⁹ div total; the
    * Benford expectations are mirrored integer CONSTANTS (log10
    * pre-evaluated, never computed in-engine), so deviations are pure
    * BIGINT arithmetic. Scale shape: one narrow map + a 9-row agg;
    * the total is a window over the 9-row digit frame (bounded by the
    * DIGIT domain, not the data). */
  def qBenford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, d)
      .select(substring(floor($"o_totalprice").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val bf = array(BenfordE9.map(lit): _*)
    counts
      .withColumn("total", sum($"n").over(Window.partitionBy()))
      .select($"digit", $"n",
        expr("n * 1000000000 div total").as("share_e9"),
        element_at(bf, $"digit".cast("int")).as("benford_e9"))
      .withColumn("dev_e9", abs($"share_e9" - $"benford_e9"))
  }

  /** INCREMENTAL VIEW MAINTENANCE — the MV-refresh contract: the
    * stored aggregate state for history plus a partial aggregate over
    * only the NEW slice, merged by re-aggregation, must equal a full
    * recompute. Both partials keep sums in DECIMAL(28,6)→(38,6) (the
    * exact, associative representation — merging through doubles
    * would NOT re-associate exactly), and the cutover is mid-month so
    * January 1998 genuinely exercises the same-group merge path. The
    * oracle is the straight full-table aggregate — equality IS the
    * refresh-correctness proof. Scale shape: the delta slice is the
    * only new scan a production refresh pays; the merge is an agg
    * over |groups| rows. */
  def qMvRefresh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def partial(df: DataFrame) = df
      .groupBy(date_trunc("month", $"l_shipdate").as("ship_month"),
        $"l_returnflag")
      .agg(sum($"l_quantity".cast(Dec)).as("s"), count(lit(1)).as("c"))
    val cut = ts("1998-01-15")
    val state = partial(Tables.lineitem(s, d).filter($"l_shipdate" < cut))
    val delta = partial(Tables.lineitem(s, d).filter($"l_shipdate" >= cut))
    state.unionAll(delta)
      .groupBy($"ship_month", $"l_returnflag")
      .agg(sum($"s").cast("double").as("sum_qty"), sum($"c").as("n"))
  }

  /** Hive LATERAL VIEW explode: one row per (order, lineitem-ish token).
    * Here: explode the words of o_comment-like priority text — shaped as
    * explode over a computed array with the parent row retained. */
  def qLateralExplode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", explode(split($"o_orderpriority", "-")).as("pri_tok"))
      .groupBy($"pri_tok")
      .agg(count(lit(1)).as("n"), countDistinct($"o_orderkey").as("n_orders"))
  }

  /** collect_set-style aggregation with deterministic ordering. */
  def qCollectSet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, d)
      .groupBy($"n_regionkey")
      .agg(array_join(array_sort(collect_set($"n_name")), ",").as("nations"),
        count(lit(1)).as("n"))
  }

  /** Global total order with unique tie-break — the ORDER BY surface.
    * Spark range-partitions on the sort key (sampled bounds), so the
    * sort is distributed, never a single-node gather. */
  def qGlobalSort(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, d)
      .orderBy($"s_acctbal".desc, $"s_suppkey".asc)
      .select($"s_suppkey", $"s_name", $"s_acctbal")
  }

  /** Sketch-based aggregates for interactive scale: HyperLogLog++
    * distinct counts and t-digest-ish percentiles are one pass, fixed
    * memory, and mergeable across partitions — at 100 TB the exact
    * versions need a full shuffle of distinct values; these don't.
    * No SQL oracle (sketch internals are engine-specific); the spec
    * asserts relative error against the exact values. */
  def qApproxStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        approx_count_distinct($"o_custkey").as("approx_cust"),
        percentile_approx($"o_totalprice", lit(0.5), lit(1000)).as("approx_median"))
  }

  // ---- window functions -------------------------------------------------

  def qTopNPerGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal", $"rn".cast("long").as("rn"))
  }

  /** Same result as [[qTopNPerGroup]], computed by graft's custom
    * [[graft.plans.TopKPerGroupNode]] operator: bounded per-partition
    * heaps + a K·groups-row shuffle instead of a full window sort.
    * The rank is recovered afterwards on the already-reduced rows. */
  def qTopNCustom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, d)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
    val top = graft.plans.TopK.perGroup(base, 3,
      Seq($"c_mktsegment"), Seq($"c_acctbal".desc, $"c_custkey".asc))
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    top.withColumn("rn", row_number().over(w))
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal", $"rn".cast("long").as("rn"))
  }

  def qRunningTotal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        sum($"o_totalprice".cast(Dec)).over(w).cast("double").as("running_total"))
  }

  def qLagLead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"))
  }

  /** RANGE-frame window (vs the ROWS frames elsewhere): per customer,
    * the rolling 30-day spend — every order whose day falls within the
    * 30 days before the current order's day is in the frame, however
    * many rows that is. Same-day peers are all included, so the result
    * is deterministic under any tie order. */
  def qWindowRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val day = datediff($"o_orderdate", to_date(lit("1990-01-01"))).cast("long")
    val w = Window.partitionBy($"o_custkey").orderBy(day)
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", day.as("day"),
        sum($"o_totalprice".cast(Dec)).over(w).cast("double").as("sum_30d"))
  }

  /** first_value / last_value / nth_value over an explicit
    * unbounded-both-ways frame (last_value defaults to a
    * current-row-bounded frame in both engines — the classic trap). */
  def qFirstLast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal",
        first($"c_custkey").over(w).as("poorest"),
        last($"c_custkey").over(w).as("richest"),
        nth_value($"c_custkey", 2).over(w).as("second_poorest"))
  }

  def qPercentRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal",
        round(percent_rank().over(w), 6).as("pr"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** The remaining ANSI window verbs in one pass — nth_value over the
    * FULL partition frame (the "second order ever placed" shape) and
    * cume_dist under a UNIQUE total order (price, custkey tie-break —
    * unique ordering makes cume_dist the exact rational i/n, the same
    * single IEEE division in both engines; with ties it would still
    * agree, but uniqueness keeps the tie-break story uniform with
    * every other top-k in the library). Frame note: nth_value needs
    * the explicit unbounded-following frame — the default
    * running frame would return NULL until row 2. Both windows
    * partition on nationkey — shuffle once, both verbs evaluate in
    * the same sort, no global window anywhere. */
  def qWindowVerbs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wSeq = Window.partitionBy($"c_nationkey")
      .orderBy($"c_custkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wBal = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal",
        nth_value($"c_acctbal", 2).over(wSeq).as("second_bal"),
        round(cume_dist().over(wBal), 9).as("bal_cume"))
  }

  /** Correlated LATERAL subquery join — the per-row-subquery SQL
    * surface (Catalyst LateralJoin + decorrelation): for every nation,
    * its top-3 customers by balance, expressed as the correlated
    * `ORDER BY … LIMIT 3` subquery a SQL user writes rather than the
    * window/TopKPerGroup formulations the library also offers
    * ([[qTopnPerGroup]], [[qTopnCustom]] — three spellings, one
    * answer shape). Unique (acctbal, custkey) tie-break keeps the
    * pick deterministic; balances are compared, never computed on, so
    * raw doubles are engine-safe. */
  def qLateralJoin(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_lat")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
    s.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM graft_nation_lat n,
        |LATERAL (SELECT c_name, c_acctbal FROM graft_customer_lat c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) t
        |""".stripMargin)
  }

  /** Chained correlated EXISTS + NOT EXISTS on the same key (TPC-H q21
    * flavor): orders with a late-shipped lineitem but no bulk lineitem.
    * Declared as a semi join followed by an anti join — exactly how
    * Catalyst decorrelates the two subqueries. */
  def qMultiExists(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, d)
    val late = l.filter($"l_shipdate" > ts("1998-06-01")).select($"l_orderkey")
    val bulk = l.filter($"l_quantity" > 45.0)
      .select($"l_orderkey".as("b_orderkey"))
    Tables.orders(s, d)
      .join(late, $"o_orderkey" === late("l_orderkey"), "left_semi")
      .join(bulk, $"o_orderkey" === bulk("b_orderkey"), "left_anti")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  /** The Hive collection-functions surface: build a sorted array per
    * group, then size / element_at / contains / slice+join over it —
    * all mirrored by DuckDB list functions. */
  def qArrayOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, d)
      .groupBy($"n_regionkey")
      .agg(sort_array(collect_list($"n_name")).as("arr"))
      .select($"n_regionkey",
        size($"arr").cast("long").as("n"),
        element_at($"arr", 1).as("first_nation"),
        array_contains($"arr", "CHINA").as("has_china"),
        array_join(slice($"arr", 1, 2), ",").as("first_two"))
  }

  /** HIGHER-ORDER array functions — the lambda surface (transform /
    * filter / aggregate / exists) Spark codegens over arrays, exercised
    * end-to-end: per order, the sorted quantity vector; from it, a
    * filtered count, a lambda-fold total, a transform-then-fold sum of
    * squares, and an existence probe — then rolled up per order
    * priority. Quantities are whole numbers stored as double, so the
    * int cast is exact and all arithmetic is integer-exact. One shuffle
    * for the per-order collect, one for the small final rollup. */
  def qHigherOrder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perOrder = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_quantity".cast("int").as("q"))
      .groupBy($"l_orderkey")
      .agg(array_sort(collect_list($"q")).as("qtys"))
      .select($"l_orderkey",
        size(filter($"qtys", x => x >= 30)).cast("long").as("n_big"),
        aggregate($"qtys", lit(0L), (acc, x) => acc + x).as("total_qty"),
        aggregate(transform($"qtys", x => (x * x).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sum_sq"),
        exists($"qtys", x => x >= 49).cast("int").as("has_huge"))
    perOrder.join(Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"n_big").as("sum_big"),
        sum($"total_qty").as("sum_qty"),
        sum($"sum_sq").as("sum_sq"),
        sum($"has_huge").as("n_with_huge"))
  }

  /** MAP-typed column surface: per order priority, build an
    * orderstatus→count map (map_from_entries over a sorted entry
    * list), then consume it with size / element_at / map_values and a
    * lambda fold — the Hive map<k,v> workflow. The map is built from
    * an already-aggregated (priority, status) frame, so its entry list
    * is bounded by the status domain, never by row count. */
  def qMapOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .groupBy($"o_orderpriority")
      .agg(map_from_entries(
        sort_array(collect_list(struct($"o_orderstatus", $"n")))).as("m"))
      .select($"o_orderpriority",
        size($"m").cast("long").as("n_statuses"),
        coalesce(element_at($"m", "O"), lit(0L)).as("n_open"),
        coalesce(element_at($"m", "F"), lit(0L)).as("n_fulfilled"),
        coalesce(element_at($"m", "P"), lit(0L)).as("n_pending"),
        aggregate(map_values($"m"), lit(0L), _ + _).as("n_total"))
  }

  /** Fixed-width VALUE HISTOGRAM of order totals — the profiling
    * primitive behind data-quality dashboards. Buckets are computed in
    * integer CENTS (round to cents, then integer-divide by the $25k
    * bucket width) so boundary assignment is engine-exact — a raw
    * double divide could land boundary values on either side of the
    * bucket edge depending on rounding. One map + one tiny agg. */
  def qHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 2500000")
        .as("bucket"), $"o_totalprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
  }

  /** Skew-safe TWO-STAGE aggregation as a gate-visible query: the
    * group key (l_returnflag, 3 values over the whole fact table) is
    * exactly the extreme-low-cardinality shape where even map-side
    * combine leaves one hot reducer per key — [[Skew.saltedSum]]
    * spreads each key over 16 salted partials first. The oracle is a
    * PLAIN GROUP BY: salting is an execution detail that must be
    * result-invariant, and the decimal-exact sum makes that
    * bit-checkable. */
  def qSaltedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Skew.saltedSum(
        Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_extendedprice".cast(Dec).as("v")),
        "l_returnflag", $"v")
      .withColumn("sum_value", $"sum_value".cast("double"))
  }

  /** Double aggregation (TPC-H q13 shape): how many customers placed
    * 0, 1, 2… orders. LEFT OUTER join keeps zero-order customers; the
    * first aggregation is per customer, the second over the counts —
    * both shuffle on uniform keys. */
  def qCustDistribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** Uncorrelated scalar subquery (TPC-H q22 flavor): segment stats of
    * above-average-balance customers with at least one high-value
    * order. The scalar average is decimal-exact, so the comparison
    * boundary is identical on both engines; Spark plans the scalar as
    * a broadcast. */
  def qUncorrelatedScalar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    val avgBal = c.agg(davg($"c_acctbal").as("avg_bal"))
    val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > 300000.0)
    c.join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("sum_bal"))
  }

  /** Centered 3-row moving average (1 preceding, 1 following) of each
    * customer's order prices — the symmetric-frame smoothing window.
    * The divisor is the frame's ACTUAL row count (2 at partition
    * edges), via count over the identical frame. */
  def qMovingAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(-1, 1)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        round(sum($"o_totalprice".cast(Dec)).over(w).cast("double") /
          count(lit(1)).over(w), 6).as("mavg3"))
  }

  /** dense_rank + cume_dist over a NON-unique ordering: both depend
    * only on the ORDER BY value (ties share a rank; peers count
    * together in cume_dist), so the result is deterministic without a
    * tie-break key — the one window family where that's true. */
  def qRankVariants(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"s_nationkey").orderBy($"s_acctbal".asc)
    Tables.supplier(s, d)
      .select($"s_suppkey", $"s_nationkey", $"s_acctbal",
        dense_rank().over(w).cast("long").as("drank"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  /** NTILE decile banding per segment (the remaining rank-family
    * window verb): unique (bal, custkey) order so band edges are
    * deterministic, then per-decile counts and exact integer-cent
    * balance totals. */
  def qNtile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(s, d)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"c_mktsegment", $"decile")
      .agg(count(lit(1)).as("n"),
        (sum($"c_acctbal".cast("decimal(18,2)")) * 100).cast("long")
          .as("bal_cents"))
  }

  /** INTERVAL-CONCURRENCY SWEEP: how many orders are "open" each day,
    * where an order stays open 30 days from o_orderdate. The classic
    * sweep-line: +1 at the open day, −1 at the close day, running sum
    * over days. Scale shape: the ±1 deltas are AGGREGATED PER DAY first
    * (a plain shuffle agg over the fact table — map-side combinable),
    * so the ordered running-sum window runs over the bounded CALENDAR
    * domain (a few thousand rows regardless of fact size), never over
    * raw orders. The single-partition window is on a frame whose size
    * is set by the calendar, not the data — the one case where a
    * global window is scale-safe by construction. */
  def qOpenInterval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select(date_trunc("day", $"o_orderdate").cast("date").as("d0"))
    val deltas = o.select($"d0".as("day"), lit(1L).as("delta"))
      .unionAll(o.select(date_add($"d0", 30).as("day"), lit(-1L).as("delta")))
      .groupBy($"day").agg(sum($"delta").as("delta"))
    val w = Window.orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.select($"day", $"delta", sum($"delta").over(w).as("n_open"))
  }

  /** Exact WEIGHTED MEDIAN per segment: the account balance (in
    * integer cents) at which half the segment's ORDER VOLUME sits on
    * either side — weight = the customer's order count. Histogram
    * form, not row form: weights are pre-aggregated per distinct
    * (segment, cents) value, so the cumulative window runs over the
    * value-histogram (distinct cents per segment), orders of magnitude
    * smaller than the customer table, and the median is the smallest
    * value whose cumulative weight reaches half the total. Everything
    * is integer (cents, counts) — no float at the pick boundary. */
  def qWeightedMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wgt = Tables.orders(s, d)
      .groupBy($"o_custkey").agg(count(lit(1)).as("w"))
    val hist = Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment",
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
      .join(wgt, $"c_custkey" === $"o_custkey")
      .groupBy($"c_mktsegment", $"bal_cents").agg(sum($"w").as("w"))
    cumTot(hist, "c_mktsegment", "bal_cents", "w")
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"c_mktsegment")
      .agg(min($"bal_cents").as("median_cents"), max($"tot").as("total_w"))
  }

  /** DETERMINISTIC MODE per group — most frequent value with a unique
    * (count desc, value asc) tie-break, because the built-in `mode()`
    * returns an arbitrary winner on ties and is therefore not
    * reproducible across runs/engines. Shape: one shuffle agg to the
    * (group, value) grain, then a row_number window over the
    * value-domain-sized count table — never over raw facts. */
  def qMode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, d)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"n".desc, $"o_orderpriority".asc)
    counts.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"),
        $"n".as("n_mode"))
  }

  /** Running and total count over a (key, value, count) histogram
    * spine: adds `cum` (the key's `cnt` summed over values up to this
    * row's) and `tot` (the key's whole `cnt`) — what every exact
    * rank/quantile pick here compares against, so windows run on the
    * distinct-value spine, never on rows. Both frames share
    * partitioning AND ordering (the ordering is irrelevant to a
    * full-frame sum) so Catalyst fuses them into ONE WindowExec — an
    * unordered tot frame planned a second window pass over the whole
    * spine (one extra stage per quantile). */
  private[graft] def cumTot(h: DataFrame, key: String, v: String,
                            cnt: String, cum: String = "cum",
                            tot: String = "tot"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(v).asc)
    h.withColumn(cum, sum(col(cnt)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(tot, sum(col(cnt)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Exact median `med` per key from a pre-built (key, value, count)
    * histogram: the interpolated pick (v⌈n/2⌉ + v⌊n/2⌋₊₁)/2 over
    * [[cumTot]] — identical to `quantile_cont(0.5)` but with per-task
    * state bounded by the partial-agg hash map, never a per-group
    * all-values buffer (Spark's `percentile` builds one; on a
    * near-continuous 100 TB column that map is executor-memory-sized).
    * `extra` aggregates run over the same spine. */
  private[graft] def medianOfHist(h: DataFrame, key: String, v: String,
                                  cnt: String, extra: Column*): DataFrame = {
    import h.sparkSession.implicits._
    cumTot(h, key, v, cnt)
      .groupBy(col(key))
      .agg(((min(when($"cum" >= expr("(tot + 1) div 2"), col(v))) +
        min(when($"cum" >= expr("tot div 2 + 1"), col(v)))) / 2.0).as("med"),
        extra: _*)
  }

  /** ROBUST OUTLIER DETECTION via median absolute deviation — the
    * skew-immune anomaly gate (mean/stddev outlier rules break under
    * the very outliers they hunt; median/MAD don't). Medians via
    * [[medianOfHist]]'s histogram form, so no per-group value buffer
    * anywhere. Medians of integer cents land on exact .0/.5 doubles,
    * deviations on .0/.5, 3×MAD on .25 multiples — every comparison is
    * between exactly-representable doubles, so the strict `>`
    * threshold is bit-deterministic in both engines. The two per-group
    * median frames broadcast back (groups × 1 row each). */
  def qOutlierMad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE row-grain shuffle total: the corpus collapses to the
    // (flag, cents) histogram once, the deviation histogram is DERIVED
    // from it by re-grouping the value spine around the median (never
    // a second corpus pass), and the final census is a spine-sized agg
    // — at 100× SF lineitem has ~100× fewer distinct prices than rows,
    // so everything after the first agg is two orders smaller.
    val h = Tables.lineitem(s, d).select($"l_returnflag",
      ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"cents").agg(count(lit(1)).as("t"))
      .transform(graft.functions.Cp.local)
    val med = medianOfHist(h, "l_returnflag", "cents", "t")
    // materialized: read twice (the MAD median + the final census) —
    // unchecked, both consumers re-run the h⋈med join AND med's two
    // window passes (12 Window nodes in the r17 before-plan)
    val hdev = h.join(broadcast(med), "l_returnflag")
      .groupBy($"l_returnflag", $"med", abs($"cents" - $"med").as("dev"))
      .agg(sum($"t").as("t"))
      .transform(graft.functions.Cp.local)
    val mad = medianOfHist(hdev, "l_returnflag", "dev", "t")
      .withColumnRenamed("med", "mad")
    hdev.join(broadcast(mad), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(sum($"t").as("n"),
        min($"med").as("median_cents"),
        min($"mad").as("mad_cents"),
        sum(when($"dev" > $"mad" * 3, $"t").otherwise(0L)).as("n_outliers"))
  }

  /** Explicit CROSS JOIN surface — the dense-grid pattern: every
    * (region × order status) cell, INCLUDING empty ones, so downstream
    * pivots/charts see a complete matrix. The cross join multiplies
    * two tiny domains (never fact×fact); the fact table arrives
    * pre-aggregated to the same grain, left-joined onto the grid.
    * Scale shape: fact side is one shuffle agg; the grid is
    * dims-only and broadcasts. */
  def qCrossJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = Tables.region(s, d).select($"r_regionkey", $"r_name")
      .crossJoin(Tables.orders(s, d).select($"o_orderstatus").distinct())
    val counts = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_regionkey", $"o_orderstatus".as("st"))
      .agg(count(lit(1)).as("n_orders"))
    grid.join(counts,
        $"r_regionkey" === $"n_regionkey" && $"o_orderstatus" === $"st",
        "left")
      .select($"r_name", $"o_orderstatus",
        coalesce($"n_orders", lit(0L)).as("n_orders"))
  }

  /** TPC-H q2 MINIMUM COST SUPPLIER shape (adapted: the testdata has
    * no partsupp table, so the part↔supplier relation is the DISTINCT
    * (l_partkey, l_suppkey) bridge observed in lineitem, and the
    * "cost" being minimized is s_acctbal). Correlated-min via a
    * partkey window over the already-filtered candidate set — one
    * shuffle on partkey; part/supplier/nation all broadcast. The
    * report carries the full unique tie-break chain (…, p_partkey,
    * s_suppkey) so the top-100 cut is deterministic.
    *
    * The ~4%-selective part predicate semi-joins the raw pair stream
    * BEFORE the distinct (distinct commutes with any filter on its own
    * columns), so the pair shuffle carries only surviving partkeys —
    * at sf30 the old distinct-the-whole-fact form shuffled ~180 M
    * pairs to keep ~4% (the round-13 5.2× super-linear watch item). */
  def q2MinSupplier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = broadcast(Tables.part(s, d)
      .filter($"p_type" === "ECONOMY" && $"p_size" < 15))
    val bridge = Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey")
      .join(broadcast(p.select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_semi")
      .distinct()
    val cand = bridge.join(p, $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
    val w = Window.partitionBy($"p_partkey")
    cand.withColumn("min_bal", min($"s_acctbal").over(w))
      .filter($"s_acctbal" === $"min_bal")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_name",
        $"s_suppkey")
      .orderBy($"s_acctbal".desc, $"n_name".asc, $"s_name".asc,
        $"p_partkey".asc, $"s_suppkey".asc)
      .limit(100)
  }

  /** TPC-H q9 PRODUCT TYPE PROFIT shape (adapted: no partsupp, so
    * supply cost is the p_retailprice/10 surrogate): profit by
    * supplier nation × order year over parts whose name matches.
    * The per-row profit double is exact at 3 dp (0-dp qty × 2-dp
    * price × 1-dp constant), so the [[dsum]] decimal accumulation is
    * engine-exact. part/supplier/nation broadcast; the only fact
    * shuffle is lineitem ⋈ orders on orderkey. */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = broadcast(Tables.part(s, d).filter($"p_name".contains("gear")))
    Tables.lineitem(s, d)
      .join(p, $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"),
        year($"o_orderdate").cast("long").as("o_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
        $"l_quantity" * $"p_retailprice" * lit(0.1)).as("sum_profit"))
  }

  /** TPC-H q11 IMPORTANT STOCK shape (adapted: "stock value" is the
    * shipped value sum(l_quantity × p_retailprice) of one nation's
    * suppliers, partsupp being absent): parts whose value exceeds
    * 1/10000 of the nation total. All money flows as exact BIGINT
    * cents (decimal-cast price × 100), the global total is a 1-row
    * broadcast (no partition-less window), and the threshold is the
    * integer-exact value·10⁴ > total compare. */
  def q11ImportantStock(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sup = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey"))
    val p = broadcast(Tables.part(s, d).select($"p_partkey",
      ($"p_retailprice".cast("decimal(18,2)") * 100).cast("long").as("cents")))
    val perPart = Tables.lineitem(s, d)
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(p, $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey")
      .agg(sum($"l_quantity".cast("long") * $"cents").as("value_cents"))
    val total = perPart.agg(sum($"value_cents").as("total_cents"))
    perPart.crossJoin(broadcast(total))
      .filter($"value_cents" * 10000 > $"total_cents")
      .select($"l_partkey".as("p_partkey"), $"value_cents")
      .orderBy($"value_cents".desc, $"p_partkey".asc)
  }

  /** TPC-H q16 PARTS/SUPPLIER RELATIONSHIP shape (adapted via the
    * lineitem bridge; the "complaints" exclusion is suppliers with
    * negative balance): distinct supplier count per surviving
    * (brand, type, size) cell. The brand/type/size predicates push
    * into the broadcast part dim; the exclusion is a broadcast
    * left-anti join, so the only shuffle is the distinct + the final
    * cell-grain count-distinct agg. */
  def q16SupplierCnt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = broadcast(Tables.part(s, d)
      .filter($"p_brand" =!= "Brand#4" && $"p_type" =!= "SMALL" &&
        $"p_size".isin(1, 5, 11, 20, 35, 49)))
    val badSupp = Tables.supplier(s, d)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    // Both broadcast filters (part semi, bad-supplier anti) run on the
    // RAW pair stream before the distinct — distinct commutes with
    // filters on its own columns, and the old full-fact distinct was
    // the round-13 4.3× super-linear watch item at sf30.
    Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey")
      .join(broadcast(p.select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_semi")
      .join(broadcast(badSupp), $"l_suppkey" === $"s_suppkey", "left_anti")
      .distinct()
      .join(p, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand".asc, $"p_type".asc,
        $"p_size".asc)
  }

  /** TPC-H q20 POTENTIAL PART PROMOTION shape (adapted: with no
    * partsupp availqty, a supplier "qualifies" when it shipped MORE
    * THAN HALF of a matching part's total 1996 volume — the dominance
    * form of the original's correlated half-of-volume threshold):
    * qualifying suppliers, by name. Quantities are exact BIGINTs;
    * the per-part total comes from a partkey window over the
    * pair-grain pre-agg (never a second scan); the 2·sq > total
    * compare is integer-exact. */
  def q20DominantSupplier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = broadcast(Tables.part(s, d)
      .filter($"p_name".contains("bolt")).select($"p_partkey"))
    val perPair = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1996-01-01") &&
        $"l_shipdate" < ts("1997-01-01"))
      .join(p, $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity".cast("long")).as("sq"))
    val w = Window.partitionBy($"l_partkey")
    perPair.withColumn("pt", sum($"sq").over(w))
      .filter($"sq" * 2 > $"pt")
      .select($"l_suppkey").distinct()
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal")
      .orderBy($"s_name".asc)
  }

  /** ANALYZE-style COLUMN STATISTICS census — the numbers a
    * cost-based optimizer (and every data-quality dashboard) reads:
    * per column of lineitem, row count, null count, EXACT distinct
    * count, and min/max. One pass: the columns unpivot to (col,
    * value) rows via stack (values carried as strings — date and
    * integer renderings are byte-identical in both engines, and
    * min/max compare in STRING order on both sides, so the census is
    * deterministic; doubles are deliberately excluded from min/max
    * for that reason), then one grouped agg with a distinct count per
    * column group. Scale shape: narrow map + 7-group distinct agg —
    * the same shuffle ANALYZE TABLE pays. */
  def qColStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")
    val stackExpr = cols.map(c => s"'$c', CAST($c AS STRING)")
      .mkString(s"stack(${cols.size}, ", ", ", ") AS (col, v)")
    // two-phase: first collapse to the (col, value) histogram — the
    // map-side combine kills per-value duplication BEFORE the wide
    // shuffle (7×-unpivoted raw rows never cross the wire), then the
    // 7-group rollup reads counts off the distinct grain. 12.7→~4 s
    // at sf1 vs the countDistinct-over-raw-rows formulation.
    // fanOut: the 7× stack + partial agg is heavy map work (2.0 → 1.5 s)
    Tables.fanOut(Tables.lineitem(s, d), "l_orderkey", "l_linenumber")
      .select(expr(stackExpr))
      .groupBy($"col", $"v").agg(count(lit(1)).as("cnt"))
      .groupBy($"col")
      .agg(sum($"cnt").as("n_rows"),
        sum(when($"v".isNull, $"cnt").otherwise(0L)).as("n_null"),
        count(when($"v".isNotNull, lit(1))).as("ndv"),
        min($"v").as("min_str"),
        max($"v").as("max_str"))
      .orderBy($"col".asc)
  }

  /** EXACT GROUPED PERCENTILES via the histogram form — the
    * scale-correct alternative to sorting values per group (and the
    * exact counterpart of [[qQuantiles]]'s approx sketches):
    * nearest-rank p25/p50/p75/p95 as the smallest value whose
    * cumulative count reaches ⌈p·N/100⌉, found with the division-free
    * cum·100 ≥ p·tot compare on exact BIGINT cents. The window runs
    * over (group, value)-grain HISTOGRAM rows — the same medianOfHist
    * shape q_weighted_median/q_outlier_mad use, never a per-row value
    * buffer, so group size doesn't bound memory at 100 TB. */
  def qPercentilesExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.orders(s, d)
      .select($"o_orderpriority",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"o_orderpriority", $"cents").agg(count(lit(1)).as("cnt"))
    cumTot(hist, "o_orderpriority", "cents", "cnt")
      .groupBy($"o_orderpriority")
      .agg(max($"tot").as("n"),
        min(when($"cum" * 100 >= $"tot" * 25, $"cents")).as("p25_cents"),
        min(when($"cum" * 100 >= $"tot" * 50, $"cents")).as("p50_cents"),
        min(when($"cum" * 100 >= $"tot" * 75, $"cents")).as("p75_cents"),
        min(when($"cum" * 100 >= $"tot" * 95, $"cents")).as("p95_cents"))
  }

  /** WINSORIZED MEAN per order status — the robust-mean companion to
    * [[qOutlierMad]]/[[qPercentilesExact]]: clip order totals to the
    * exact [P5, P95] nearest-rank band and average the clipped cents.
    * Everything is integer-exact: the thresholds come from the same
    * division-free cum·100 ≥ p·tot histogram compare, clipping is
    * greatest/least on BIGINT cents, and the mean leaves integers
    * exactly once as Σ(clipped·cnt)·1000 div n milli-cents (sums in
    * DECIMAL(38,0)/HUGEINT — scale-proof past 2⁶³). Scale shape: one
    * histogram shuffle at (status, cents) grain, windows over the
    * VALUE domain, thresholds broadcast back onto the histogram (never
    * onto raw rows — the clip+mean runs at histogram grain too). */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.orders(s, d)
      .select($"o_orderstatus",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"o_orderstatus", $"cents").agg(count(lit(1)).as("cnt"))
    val bounds = cumTot(hist, "o_orderstatus", "cents", "cnt")
      .groupBy($"o_orderstatus")
      .agg(min(when($"cum" * 100 >= $"tot" * 5, $"cents")).as("p05"),
        min(when($"cum" * 100 >= $"tot" * 95, $"cents")).as("p95"))
    hist.join(broadcast(bounds), Seq("o_orderstatus"))
      .select($"o_orderstatus", $"cnt", $"p05", $"p95",
        greatest(least($"cents", $"p95"), $"p05").as("w"))
      .groupBy($"o_orderstatus")
      .agg(sum($"cnt").as("n"), max($"p05").as("p05_cents"),
        max($"p95").as("p95_cents"),
        sum($"w".cast("decimal(38,0)") * $"cnt").as("sw"))
      .select($"o_orderstatus", $"n", $"p05_cents", $"p95_cents",
        expr("CAST(sw * 1000 div n AS BIGINT)").as("wmean_milli"))
  }

  /** RFM CUSTOMER SEGMENTATION — the classic warehouse marketing
    * census: per customer, Recency (days since last order vs the
    * corpus max date), Frequency (order count) and Monetary (exact
    * lifetime cents), each banded into quintiles, then the 3-digit
    * segment census. Banding NEVER ranks customers: each metric is
    * collapsed to its distinct-VALUE histogram and the band is
    * ceil(5·F(v)/N) via the integer (5·cum + tot − 1) div tot — the
    * q_curriculum idiom. The value spines are DOMAIN-bounded by
    * construction (calendar days; small order counts; monetary
    * rounded to whole currency units so the spine is price-range-,
    * not customer-, sized) and the three tiny value→band maps
    * broadcast back. One customer-grain shuffle, everything after is
    * bounded. Band 1 = most recent / fewest orders / lowest spend. */
  def qRfm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ref = Tables.orders(s, d).agg(max($"o_orderdate").as("refd"))
    val cust = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("lastd"), count(lit(1)).as("freq"),
        sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      .crossJoin(broadcast(ref))
      .select($"o_custkey",
        datediff($"refd", $"lastd").cast("long").as("rec"),
        // monetary banded at 100-currency-unit granularity: the spine
        // must be bounded by the PRICE RANGE, not by customer count
        // (cents div 100 would make nearly every lifetime total a
        // distinct spine row — a data-sized global window)
        $"freq", $"cents", expr("cents div 10000").as("units"))
    def bandMap(metric: String): DataFrame = {
      val h = cust.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val cumW = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum($"cnt").over(cumW))
        .withColumn("tot", sum($"cnt").over(Window.partitionBy()))
        .select($"v".as(metric),
          expr("(5 * cum + tot - 1) div tot").as(s"${metric}_band"))
    }
    cust
      .join(broadcast(bandMap("rec")), Seq("rec"))
      .join(broadcast(bandMap("freq")), Seq("freq"))
      .join(broadcast(bandMap("units")), Seq("units"))
      .groupBy($"rec_band", $"freq_band", $"units_band")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("sum_cents"))
  }

  /** GROUPING_ID over a CUBE — the remaining grouping-metadata verb
    * (q_rollup/q_cube/q_grouping_sets cover the lattices themselves):
    * the bitmask that lets one materialized cube serve per-level
    * consumers (gid = 0 detail, 3 grand total; first grouping column
    * is the high bit in BOTH engines), plus a single-column
    * grouping() flag. One pass, cube expansion handled by the
    * engine's Expand operator — no unions of re-aggregations. */
  def qGroupingId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"),
        grouping($"o_orderstatus").cast("long").as("g_status"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grouping_id" -> (qGroupingId _),
    "q_winsorize" -> (qWinsorize _),
    "q_rfm" -> (qRfm _),
    "q_window_verbs" -> (qWindowVerbs _),
    "q_percentiles_exact" -> (qPercentilesExact _),
    "q_col_stats" -> (qColStats _),
    "q2_min_supplier" -> (q2MinSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q20_dominant_supplier" -> (q20DominantSupplier _),
    "q_cross_join" -> (qCrossJoin _),
    "q_open_interval" -> (qOpenInterval _),
    "q_weighted_median" -> (qWeightedMedian _),
    "q_outlier_mad" -> (qOutlierMad _),
    "q_mode" -> (qMode _),
    "q_ntile" -> (qNtile _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_unshipped" -> (q3TopUnshipped _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q6_forecast" -> (q6Forecast _),
    "q7_nation_trade" -> (q7NationTrade _),
    "q8_market_share" -> (q8MarketShare _),
    "q10_returns" -> (q10Returns _),
    "q19_disjunct" -> (q19Disjunct _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q12_late_lines" -> (q12LateLines _),
    "q14_promo_share" -> (q14PromoShare _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q22_idle_customers" -> (q22IdleCustomers _),
    "q_spearman" -> (qSpearman _),
    "q_gini" -> (qGini _),
    "q_benford" -> (qBenford _),
    "q_bootstrap" -> (qBootstrap _),
    "q_median_ci" -> (qMedianCi _),
    "q_mv_refresh" -> (qMvRefresh _),
    "q_dq_checks" -> (qDqChecks _),
    "q_semi_join" -> (qSemiJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_having" -> (qHaving _),
    "q_case_bucket" -> (qCaseBucket _),
    "q_string_ops" -> (qStringOps _),
    "q_date_trunc_month" -> (qDateTruncMonth _),
    "q_union_all" -> (qUnionAll _),
    "q_intersect" -> (qIntersect _),
    "q_intersect_all" -> (qIntersectAll _),
    "q_except_all" -> (qExceptAll _),
    "q_window_range" -> (qWindowRange _),
    "q_first_last" -> (qFirstLast _),
    "q_pivot_status" -> (qPivotStatus _),
    "q_unpivot" -> (qUnpivot _),
    "q_skyline" -> (qSkyline _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_in_subquery" -> (qInSubquery _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_quantiles" -> (qQuantiles _),
    "q_stats_moments" -> (qStatsMoments _),
    "q_correlation" -> (qCorrelation _),
    "q_lateral_explode" -> (qLateralExplode _),
    "q_collect_set" -> (qCollectSet _),
    "q_global_sort" -> (qGlobalSort _),
    "q_except" -> (qExcept _),
    "q_full_outer" -> (qFullOuter _),
    "q_date_arith" -> (qDateArith _),
    "q_approx_stats" -> (qApproxStats _),
    "q_topn_per_group" -> (qTopNPerGroup _),
    "q_topn_custom" -> (qTopNCustom _),
    "q_running_total" -> (qRunningTotal _),
    "q_lag_lead" -> (qLagLead _),
    "q_percent_rank" -> (qPercentRank _),
    "q_rank_variants" -> (qRankVariants _),
    "q_cust_distribution" -> (qCustDistribution _),
    "q_uncorrelated_scalar" -> (qUncorrelatedScalar _),
    "q_multi_exists" -> (qMultiExists _),
    "q_lateral_join" -> (qLateralJoin _),
    "q_array_ops" -> (qArrayOps _),
    "q_higher_order" -> (qHigherOrder _),
    "q_map_ops" -> (qMapOps _),
    "q_histogram" -> (qHistogram _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_moving_avg" -> (qMovingAvg _)
  )

  val oracle: Map[String, String] = Map(
    "q_col_stats" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")
      val arms = cols.map(c =>
        s"SELECT '$c' AS col, CAST($c AS VARCHAR) AS v FROM lineitem")
        .mkString("\nUNION ALL\n")
      s"""WITH u AS ($arms)
         |SELECT col, COUNT(*) AS n_rows,
         |CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_null,
         |CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
         |MIN(v) AS min_str, MAX(v) AS max_str
         |FROM u GROUP BY 1 ORDER BY 1 ASC""".stripMargin
    },
    "q_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_winsorize" ->
      """WITH h AS (SELECT o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT *,
        |  CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS tot
        |  FROM h),
        |b AS (SELECT o_orderstatus,
        |  MIN(CASE WHEN cum * 100 >= tot * 5 THEN cents END) AS p05,
        |  MIN(CASE WHEN cum * 100 >= tot * 95 THEN cents END) AS p95
        |  FROM c GROUP BY 1),
        |w AS (SELECT h.o_orderstatus, h.cnt, b.p05, b.p95,
        |  greatest(least(h.cents, b.p95), b.p05) AS w
        |  FROM h JOIN b USING (o_orderstatus))
        |SELECT o_orderstatus, CAST(SUM(cnt) AS BIGINT) AS n,
        |  MAX(p05) AS p05_cents, MAX(p95) AS p95_cents,
        |  CAST(SUM(CAST(w AS HUGEINT) * cnt) * 1000 // SUM(cnt) AS BIGINT)
        |    AS wmean_milli
        |FROM w GROUP BY 1""".stripMargin,
    "q_rfm" -> {
      def bandCte(metric: String) =
        s"""h_$metric AS (SELECT $metric AS v, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM cust GROUP BY 1),
           |b_$metric AS (SELECT v AS $metric,
           |  (5 * CAST(SUM(cnt) OVER (ORDER BY v ASC
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |   + CAST(SUM(cnt) OVER () AS BIGINT) - 1)
           |  // CAST(SUM(cnt) OVER () AS BIGINT) AS ${metric}_band
           |  FROM h_$metric)""".stripMargin
      s"""WITH refd AS (SELECT MAX(o_orderdate) AS refd FROM orders),
         |cust AS (SELECT o_custkey,
         |  CAST(date_diff('day', MAX(o_orderdate), (SELECT refd FROM refd))
         |    AS BIGINT) AS rec,
         |  CAST(COUNT(*) AS BIGINT) AS freq,
         |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS BIGINT) AS cents,
         |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS BIGINT) // 10000 AS units
         |  FROM orders GROUP BY 1),
         |${bandCte("rec")},
         |${bandCte("freq")},
         |${bandCte("units")}
         |SELECT rec_band, freq_band, units_band,
         |  CAST(COUNT(*) AS BIGINT) AS n_customers,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM cust
         |JOIN b_rec USING (rec) JOIN b_freq USING (freq)
         |JOIN b_units USING (units)
         |GROUP BY 1, 2, 3""".stripMargin
    },
    "q_percentiles_exact" ->
      """WITH h AS (SELECT o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT *,
        |  CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS tot
        |  FROM h)
        |SELECT o_orderpriority, MAX(tot) AS n,
        |  MIN(CASE WHEN cum * 100 >= tot * 25 THEN cents END) AS p25_cents,
        |  MIN(CASE WHEN cum * 100 >= tot * 50 THEN cents END) AS p50_cents,
        |  MIN(CASE WHEN cum * 100 >= tot * 75 THEN cents END) AS p75_cents,
        |  MIN(CASE WHEN cum * 100 >= tot * 95 THEN cents END) AS p95_cents
        |FROM c GROUP BY 1""".stripMargin,
    "q2_min_supplier" ->
      """WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |cand AS (SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        |  FROM bridge
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_type = 'ECONOMY' AND p_size < 15)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey
        |FROM (SELECT *, MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS mb
        |      FROM cand)
        |WHERE s_acctbal = mb
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        |LIMIT 100""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)" +
             " - l_quantity * p_retailprice * 0.1")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2""".stripMargin,
    "q11_important_stock" ->
      """WITH pc AS (SELECT p_partkey,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM part),
        |per AS (SELECT l_partkey AS p_partkey,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * cents) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN pc ON l_partkey = pc.p_partkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS t FROM per)
        |SELECT p_partkey, value_cents FROM per, tot
        |WHERE value_cents * 10000 > t""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'SMALL'
        |AND p_size IN (1, 5, 11, 20, 35, 49)
        |AND l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH pp AS (SELECT l_partkey, l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%bolt%'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |q AS (SELECT DISTINCT l_suppkey FROM
        |  (SELECT *, CAST(SUM(sq) OVER (PARTITION BY l_partkey) AS BIGINT) AS pt
        |   FROM pp)
        |  WHERE sq * 2 > pt)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM q JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q_cross_join" ->
      """WITH grid AS (SELECT r_regionkey, r_name, st
        |  FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS st
        |    FROM orders)),
        |c AS (SELECT n_regionkey, o_orderstatus AS st, COUNT(*) AS n
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT g.r_name, g.st AS o_orderstatus,
        |COALESCE(c.n, 0) AS n_orders
        |FROM grid g LEFT JOIN c
        |ON g.r_regionkey = c.n_regionkey AND g.st = c.st""".stripMargin,
    "q_open_interval" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        |    1 AS delta FROM orders
        |  UNION ALL
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) + 30,
        |    -1 FROM orders),
        |g AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
        |  FROM d GROUP BY 1)
        |SELECT day, delta,
        |CAST(SUM(delta) OVER (ORDER BY day ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS n_open
        |FROM g""".stripMargin,
    "q_weighted_median" ->
      """WITH w AS (SELECT o_custkey, COUNT(*) AS w FROM orders GROUP BY 1),
        |h AS (SELECT c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
        |  CAST(SUM(w.w) AS BIGINT) AS w
        |  FROM customer JOIN w ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |c AS (SELECT c_mktsegment, bal_cents,
        |  CAST(SUM(w) OVER (PARTITION BY c_mktsegment ORDER BY bal_cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(w) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tot
        |  FROM h)
        |SELECT c_mktsegment, MIN(bal_cents) AS median_cents,
        |  MAX(tot) AS total_w
        |FROM c WHERE cum * 2 >= tot GROUP BY 1""".stripMargin,
    "q_outlier_mad" ->
      """WITH li AS (SELECT l_returnflag,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |med AS (SELECT l_returnflag, quantile_cont(cents, 0.5) AS med
        |  FROM li GROUP BY 1),
        |dev AS (SELECT li.l_returnflag, abs(cents - med.med) AS dev, med.med
        |  FROM li JOIN med USING (l_returnflag)),
        |mad AS (SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT dev.l_returnflag, COUNT(*) AS n,
        |  MIN(dev.med) AS median_cents, MIN(mad.mad) AS mad_cents,
        |  CAST(SUM(CASE WHEN dev > mad.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev JOIN mad USING (l_returnflag) GROUP BY 1""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY n DESC, o_orderpriority ASC) AS rk FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_mode
        |FROM r WHERE rk = 1""".stripMargin,
    "q_ntile" ->
      """WITH t AS (SELECT c_mktsegment, c_acctbal,
        |  ntile(10) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
        |  FROM customer)
        |SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS bal_cents
        |FROM t GROUP BY c_mktsegment, decile""".stripMargin,
    "q_map_ops" ->
      """SELECT o_orderpriority,
        |CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_open,
        |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_fulfilled,
        |CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_pending,
        |COUNT(*) AS n_total
        |FROM orders GROUP BY 1""".stripMargin,
    "q_salted_agg" ->
      s"""SELECT l_returnflag, ${sqlSum("l_extendedprice")} AS sum_value
         |FROM lineitem GROUP BY 1""".stripMargin,
    "q_histogram" ->
      s"""SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket,
         |COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${sqlSum("l_quantity")} AS sum_qty,
         |${sqlSum("l_extendedprice")} AS sum_base_price,
         |${sqlSum("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
         |${sqlSum("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")} AS sum_charge,
         |${sqlAvg("l_quantity")} AS avg_qty,
         |${sqlAvg("l_extendedprice")} AS avg_price,
         |${sqlAvg("l_discount")} AS avg_disc,
         |COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_unshipped" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |${sqlSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |AND o_orderdate < TIMESTAMP '1998-01-01'
         |AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, ${sqlSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM region JOIN nation ON r_regionkey = n_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |WHERE r_name = 'ASIA'
         |AND o_orderdate >= TIMESTAMP '1996-01-01'
         |AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name""".stripMargin,
    "q7_nation_trade" ->
      s"""WITH base AS (SELECT n1.n_name AS supp_nation,
         |  n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  l_extendedprice * (1.0 - l_discount) AS vol
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |AND l_shipdate >= TIMESTAMP '1996-01-01'
         |AND l_shipdate < TIMESTAMP '1999-01-01')
         |SELECT supp_nation, cust_nation, l_year,
         |${sqlSum("vol")} AS revenue
         |FROM base GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""WITH base AS (SELECT
         |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  sn.n_name AS supp_nation,
         |  l_extendedprice * (1.0 - l_discount) AS vol
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE o_custkey IN (SELECT c_custkey FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE')
         |AND o_orderdate >= TIMESTAMP '1996-01-01'
         |AND o_orderdate < TIMESTAMP '1998-01-01'),
         |a AS (SELECT o_year,
         |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
         |    THEN CAST(vol AS DECIMAL(28,6))
         |    ELSE CAST(0 AS DECIMAL(28,6)) END) * 1000000 AS BIGINT)
         |    AS num_e6,
         |  CAST(SUM(CAST(vol AS DECIMAL(28,6))) * 1000000 AS BIGINT)
         |    AS den_e6
         |  FROM base GROUP BY 1)
         |SELECT o_year, num_e6, den_e6,
         |CAST(num_e6 AS DOUBLE) / CAST(den_e6 AS DOUBLE) AS mkt_share
         |FROM a""".stripMargin,
    "q10_returns" ->
      s"""SELECT c_custkey, c_name, n_name,
         |${sqlSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |AND o_orderdate >= TIMESTAMP '1996-01-01'
         |AND o_orderdate < TIMESTAMP '1996-04-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q_spearman" ->
      """WITH rk AS (SELECT l_returnflag,
        |  2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |    - 1 AS rx,
        |  2 * rank() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice)
        |    + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |    - 1 AS ry
        |FROM lineitem),
        |m AS (SELECT l_returnflag,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(rx) AS DOUBLE) AS sx, CAST(SUM(ry) AS DOUBLE) AS sy,
        |  CAST(SUM(rx*ry) AS DOUBLE) AS sxy,
        |  CAST(SUM(rx*rx) AS DOUBLE) AS sxx,
        |  CAST(SUM(ry*ry) AS DOUBLE) AS syy
        |FROM rk GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |ROUND((n * sxy - sx * sy) /
        |  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS rho
        |FROM m""".stripMargin,
    "q_median_ci" ->
      """WITH h AS (SELECT l_returnflag,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |    AS BIGINT) AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS t
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, t,
        |  CAST(SUM(t) OVER (PARTITION BY l_returnflag ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |  CAST(SUM(t) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM h),
        |r AS (SELECT *, GREATEST(1,
        |    CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2)
        |      AS BIGINT)) AS lo_rank
        |  FROM c)
        |SELECT l_returnflag, MIN(n) AS n,
        |MIN(CASE WHEN cum >= lo_rank THEN cents END) AS ci_lo_cents,
        |MIN(CASE WHEN cum >= n - lo_rank + 1 THEN cents END)
        |  AS ci_hi_cents
        |FROM r GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_bootstrap" -> {
      val wSql = PoissonCum1000
        .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         |r AS (SELECT o_orderkey, o_orderpriority, cents,
         |  unnest(range(0, $BootReplicas)) AS replica FROM o),
         |hh AS (SELECT o_orderpriority, replica, cents,
         |  CAST(('0x' || substr(md5(o_orderkey || ':' || replica), 1, 15))
         |    AS BIGINT) % 1000 AS h FROM r),
         |w AS (SELECT o_orderpriority, replica, cents,
         |  CAST($wSql AS BIGINT) AS w FROM hh)
         |SELECT o_orderpriority, replica,
         |CAST(SUM(w) AS BIGINT) AS n_eff,
         |CAST(SUM(w * cents) AS BIGINT) AS sum_cents,
         |CAST(SUM(w * cents) AS BIGINT) * 1000 // CAST(SUM(w) AS BIGINT)
         |  AS mean_cents_e3
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q_gini" ->
      """WITH spend AS (SELECT o_custkey,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT c_nationkey, c_custkey, x,
        |  CAST(row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY x ASC, c_custkey ASC) AS BIGINT) AS i
        |  FROM spend JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(x) AS BIGINT) AS total_cents,
        |  SUM(i * x) AS six
        |  FROM r GROUP BY 1)
        |SELECT n_name, n_cust, total_cents,
        |CAST(((2 * six - (n_cust + 1) * CAST(total_cents AS HUGEINT))
        |  * 1000000000)
        |  // (n_cust * CAST(total_cents AS HUGEINT)) AS BIGINT) AS gini_e9
        |FROM m JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name ASC""".stripMargin,
    "q_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1),
        |t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total,
        |  CAST(([301029996, 176091259, 124938737, 96910013, 79181246,
        |    66946790, 57991947, 51152522, 45757491])[digit] AS BIGINT)
        |    AS benford_e9
        |FROM c)
        |SELECT digit, n, n * 1000000000 // total AS share_e9,
        |benford_e9, abs(n * 1000000000 // total - benford_e9) AS dev_e9
        |FROM t""".stripMargin,
    "q_mv_refresh" ->
      s"""SELECT date_trunc('month', l_shipdate) AS ship_month,
         |l_returnflag, ${sqlSum("l_quantity")} AS sum_qty,
         |COUNT(*) AS n
         |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |AND o_orderdate < TIMESTAMP '1996-10-01'
        |AND EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin,
    "q12_late_lines" ->
      """SELECT l_returnflag,
        |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A','R')
        |AND l_shipdate >= TIMESTAMP '1996-01-01'
        |AND l_shipdate < TIMESTAMP '1997-01-01'
        |AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "q14_promo_share" ->
      """WITH m AS (SELECT date_trunc('month', l_shipdate) AS ship_month,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))
        |    ELSE CAST(0 AS DECIMAL(28,6)) END) * 1000000 AS BIGINT)
        |    AS promo_e6,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6)))
        |    * 1000000 AS BIGINT) AS total_e6
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |AND l_shipdate < TIMESTAMP '1997-07-01'
        |GROUP BY 1)
        |SELECT ship_month, promo_e6, total_e6,
        |100.0 * CAST(promo_e6 AS DOUBLE) / CAST(total_e6 AS DOUBLE)
        |  AS promo_share
        |FROM m""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |  SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6)))
        |    AS rev_dec
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |AND l_shipdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)""".stripMargin,
    "q18_large_orders" ->
      s"""WITH big AS (SELECT l_orderkey, ${sqlSum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY 1)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  sum_qty
         |FROM big JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE sum_qty > 300
         |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q22_idle_customers" ->
      s"""WITH pool AS (SELECT c_nationkey, c_custkey, c_acctbal,
         |  CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_e2
         |FROM customer WHERE c_nationkey IN (1,3,5,7,9,11,13)),
         |stats AS (SELECT CAST(SUM(bal_e2) AS BIGINT) AS sum_e2,
         |  COUNT(*) AS cnt FROM pool WHERE bal_e2 > 0)
         |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
         |${sqlSum("c_acctbal")} AS totacctbal
         |FROM pool, stats
         |WHERE bal_e2 * cnt > sum_e2
         |AND NOT EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey
         |  AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY 1""".stripMargin,
    "q19_disjunct" ->
      s"""SELECT ${sqlSum("l_extendedprice*(1.0-l_discount)")} AS revenue,
         |COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity >= 1 AND l_quantity <= 11)
         |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
         |    AND l_quantity >= 10 AND l_quantity <= 20)
         |   OR (p_brand = 'Brand#6' AND p_size BETWEEN 1 AND 35
         |    AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    "q_dq_checks" ->
      """SELECT 'orders_pk_dupes' AS check_name,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |    AS violations FROM orders
        |UNION ALL SELECT 'orders_fk_orphans', CAST(COUNT(*) AS BIGINT)
        |  FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)
        |UNION ALL SELECT 'lineitem_fk_orphans', CAST(COUNT(*) AS BIGINT)
        |  FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)
        |UNION ALL SELECT 'orders_status_domain',
        |  CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0
        |    ELSE 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'lineitem_qty_range',
        |  CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |    OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |UNION ALL SELECT 'customer_name_complete',
        |  CAST(SUM(CASE WHEN c_name IS NULL OR length(c_name) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM customer
        |UNION ALL SELECT 'lineitem_discount_range',
        |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem""".stripMargin,
    "q6_forecast" ->
      s"""SELECT ${sqlSum("l_extendedprice*l_discount")} AS revenue,
         |COUNT(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |AND l_shipdate < TIMESTAMP '1998-01-01'
         |AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24.0""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_distinct_agg" ->
      s"""SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
         |COUNT(*) AS n_cust, ${sqlSum("c_acctbal")} AS sum_bal
         |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q_having" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |${sqlSum("o_totalprice")} AS total_spent
         |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15""".stripMargin,
    "q_case_bucket" ->
      s"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
         |WHEN o_totalprice < 200000.0 THEN 'medium' ELSE 'large' END AS band,
         |COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1""".stripMargin,
    "q_string_ops" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u,
        |SUBSTR(p_name, 1, 8) AS name8,
        |CONCAT(p_type, '/', p_brand) AS type_brand,
        |LENGTH(p_name) AS name_len
        |FROM part WHERE p_name LIKE '%ol%'""".stripMargin,
    "q_date_trunc_month" ->
      s"""SELECT DATE_TRUNC('month', o_orderdate) AS month,
         |COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1""".stripMargin,
    "q_union_all" ->
      """SELECT 'customer' AS src, c_name AS name, c_acctbal AS bal FROM customer
        |UNION ALL
        |SELECT 'supplier' AS src, s_name AS name, s_acctbal AS bal FROM supplier""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier""".stripMargin,
    "q_intersect_all" ->
      """SELECT CAST(p_size AS BIGINT) AS k FROM part
        |INTERSECT ALL
        |SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer""".stripMargin,
    "q_except_all" ->
      """SELECT CAST(p_size AS BIGINT) AS k FROM part
        |EXCEPT ALL
        |SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d
        |FROM orders""".stripMargin,
    "q_first_last" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |FIRST_VALUE(c_custkey) OVER w AS poorest,
        |LAST_VALUE(c_custkey) OVER w AS richest,
        |NTH_VALUE(c_custkey, 2) OVER w AS second_poorest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal ASC, c_custkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q_skyline" ->
      """WITH s AS (SELECT p_partkey, p_retailprice, p_size,
        |  MAX(p_size) OVER (ORDER BY p_retailprice ASC, p_partkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
        |  FROM part)
        |SELECT p_partkey, p_retailprice, p_size FROM s
        |WHERE best_prev IS NULL OR p_size > best_prev""".stripMargin,
    "q_unpivot" ->
      """WITH w AS (SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS bal_cents
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, 'n_customers' AS metric,
        |  n_customers AS value FROM w
        |UNION ALL SELECT c_mktsegment, 'n_nations', n_nations FROM w
        |UNION ALL SELECT c_mktsegment, 'bal_cents', bal_cents FROM w""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
        |COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
        |COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_except" ->
      """SELECT CAST(p_size AS BIGINT) AS k FROM part
        |EXCEPT
        |SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer""".stripMargin,
    "q_full_outer" ->
      """WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
        |  CAST(l_shipdate AS DATE))) AS BIGINT) AS sum_ship_days,
        |CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q_in_subquery" ->
      """SELECT p_brand, COUNT(*) AS n FROM part
        |WHERE p_size IN (1, 5, 9, 13)
        |AND p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45.0)
        |GROUP BY p_brand""".stripMargin,
    "q_scalar_subquery" ->
      s"""SELECT ROUND(${sqlSum("l_extendedprice")} / 7.0, 2) AS avg_yearly
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#23'
         |AND 5 * CAST(l_quantity AS BIGINT) *
         |    (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
         |  < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
         |     FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q_quantiles" ->
      """SELECT c_mktsegment,
        |ROUND(QUANTILE_CONT(c_acctbal, 0.5), 6) AS median_bal,
        |ROUND(QUANTILE_CONT(c_acctbal, 0.9), 6) AS p90_bal,
        |COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q_stats_moments" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |${sqlSum("o_totalprice")} AS sx,
         |ROUND((CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
         |    * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |  - ${sqlSum("o_totalprice")} * ${sqlSum("o_totalprice")} / COUNT(*))
         |  / (COUNT(*) - 1), 2) AS variance
         |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_correlation" -> {
      def dsum2(e: String) =
        s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
      def dprod(a: String, b: String) =
        s"CAST(SUM(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)"
      s"""WITH m AS (SELECT l_returnflag,
         |  CAST(COUNT(*) AS DOUBLE) AS n,
         |  ${dsum2("l_quantity")} AS sx,
         |  ${dsum2("l_extendedprice")} AS sy,
         |  ${dprod("l_quantity", "l_extendedprice")} AS sxy,
         |  ${dprod("l_quantity", "l_quantity")} AS sxx,
         |  ${dprod("l_extendedprice", "l_extendedprice")} AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |ROUND((n * sxy - sx * sy) /
         |  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r
         |FROM m""".stripMargin
    },
    "q_lateral_explode" ->
      """SELECT pri_tok, COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM (SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS pri_tok
        |  FROM orders) GROUP BY pri_tok""".stripMargin,
    "q_collect_set" ->
      """SELECT n_regionkey,
        |array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
        |COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    "q_global_sort" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |ORDER BY s_acctbal DESC, s_suppkey ASC""".stripMargin,
    "q_topn_custom" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) t WHERE rn <= 3""".stripMargin,
    "q_topn_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) t WHERE rn <= 3""".stripMargin,
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running_total
        |FROM orders""".stripMargin,
    "q_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
        |LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_price
        |FROM orders""".stripMargin,
    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
        |  / COUNT(*) OVER w, 6) AS mavg3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin,
    "q_lateral_join" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) t""".stripMargin,
    "q_multi_exists" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |${sqlSum("o_totalprice")} AS total
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey
         |  AND l_shipdate > TIMESTAMP '1998-06-01')
         |AND NOT EXISTS (SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
         |GROUP BY o_orderpriority""".stripMargin,
    "q_array_ops" ->
      """WITH a AS (SELECT n_regionkey,
        |  list_sort(list(n_name)) AS arr FROM nation GROUP BY 1)
        |SELECT n_regionkey, CAST(len(arr) AS BIGINT) AS n,
        |arr[1] AS first_nation,
        |list_contains(arr, 'CHINA') AS has_china,
        |array_to_string(arr[1:2], ',') AS first_two
        |FROM a""".stripMargin,
    "q_higher_order" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys
        |  FROM lineitem GROUP BY l_orderkey),
        |m AS (SELECT l_orderkey,
        |  CAST(len(list_filter(qtys, x -> x >= 30)) AS BIGINT) AS n_big,
        |  CAST(list_sum(qtys) AS BIGINT) AS total_qty,
        |  CAST(list_sum(list_transform(qtys, x -> CAST(x AS BIGINT) * x))
        |    AS BIGINT) AS sum_sq,
        |  CASE WHEN len(list_filter(qtys, x -> x >= 49)) > 0
        |    THEN 1 ELSE 0 END AS has_huge
        |  FROM per_order)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |CAST(SUM(n_big) AS BIGINT) AS sum_big,
        |CAST(SUM(total_qty) AS BIGINT) AS sum_qty,
        |CAST(SUM(sum_sq) AS BIGINT) AS sum_sq,
        |CAST(SUM(has_huge) AS BIGINT) AS n_with_huge
        |FROM m JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_cust_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_uncorrelated_scalar" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
         |FROM customer
         |WHERE c_acctbal > (SELECT ${sqlAvg("c_acctbal")} FROM customer)
         |AND EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         |GROUP BY c_mktsegment""".stripMargin,
    "q_rank_variants" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        |ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC)""".stripMargin,
    "q_percent_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal ASC, c_custkey ASC), 6) AS pr,
        |NTILE(4) OVER (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
        |FROM customer""".stripMargin,
    "q_window_verbs" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |NTH_VALUE(c_acctbal, 2) OVER (PARTITION BY c_nationkey
        |  ORDER BY c_custkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |  AS second_bal,
        |ROUND(CUME_DIST() OVER (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal ASC, c_custkey ASC), 9) AS bal_cume
        |FROM customer""".stripMargin
  )
}
