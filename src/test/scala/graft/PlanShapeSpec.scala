package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Guards the 100 TB plan PROPERTIES, not just results: filter/column
  * pushdown reaching the scans, dimension joins broadcast, bounded
  * top-k instead of global sorts, and shuffle counts that don't creep.
  * A refactor that keeps answers right but regresses one of these
  * would pass every oracle and still be 100× slower at scale — these
  * assertions make PLANS.md's claims test-enforced. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE settles to the final plan
    // AdaptiveSparkPlanExec.toString prints the Final Plan AND repeats
    // the Initial Plan below it — counting tokens over both sections
    // double-counts every operator; keep only what actually executed
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
  }

  private def countOf(plan: String, token: String): Int =
    plan.sliding(token.length).count(_ == token)

  test("q1: filter pushed to the lineitem scan, columns pruned") {
    val p = formatted("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // projection pruning: the scan must not read the full 10+ column row
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
    // partial→final aggregation pair around a single exchange
    assert(countOf(p, "HashAggregate") >= 2)
  }

  test("q5: every dimension join is broadcast; one shuffle for the final agg") {
    val p = executed("q5_region_revenue")
    assert(countOf(p, "BroadcastHashJoin") >= 4,
      "region/nation/customer/supplier must broadcast")
    assert(!p.contains("SortMergeJoin"), "no dimension should shuffle-join")
  }

  test("q_top_ngrams: bounded top-k, never a global sort of the gram table") {
    val p = executed("q_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalLimit"), "global sort+limit would materialize all grams")
  }

  test("q_topn_custom: the TopKPerGroup operator is actually in the plan") {
    val p = executed("q_topn_custom")
    assert(p.contains("TopKPerGroup"))
  }

  test("q_cross_source_dups: doc-grain source joins stay merge-pinned") {
    // the two corpus-grown source joins carry explicit merge hints (the
    // sf10 driver-OOM class); the pair pipeline's internal self-join is
    // deliberately left to AQE over checkpoint-accurate stats (the
    // lowered 8 MB threshold bounds it — jaccardPairsOf scaladoc)
    val p = executed("q_cross_source_dups")
    assert(countOf(p, "SortMergeJoin") >= 2,
      "source joins must not AQE-broadcast")
  }

  test("q_hopping: map-combined agg, no window, no join") {
    val p = executed("q_hopping")
    assert(countOf(p, "HashAggregate") >= 2, "partial+final agg pair")
    assert(!p.contains("Window [") && !p.contains("Join"),
      "the hop expansion must stay a narrow map into one agg")
  }

  test("q_distinct_ngrams: partial distinct aggs, no cartesian") {
    val p = executed("q_distinct_ngrams")
    assert(p.contains("count(distinct"), "distinct must aggregate, not dedup-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_asof_physical: the dedicated exec, exactly two input shuffles") {
    val p = executed("q_asof_physical")
    assert(p.contains("AsofJoin"))
    assert(countOf(p, "Exchange") <= 3, // one per side + AQE read
      s"as-of join shuffle count crept up:\n$p")
  }

  test("q_decontaminate: benchmark side broadcast, corpus side never shuffled") {
    val p = executed("q_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "contamination probe must be a broadcast semi-join")
  }

  test("q_neardup_lsh: one bucket shuffle feeds window and join (no extra exchange)") {
    val p = formatted("q_neardup_lsh")
    // the (t, bucket) exchange for the window; the self-join reuses the
    // partitioning (or AQE broadcasts one side) — a second full
    // hashpartitioning of the banded table would double shuffle volume
    assert(countOf(p, "hashpartitioning(t#") + countOf(p, "hashpartitioning(t,") <= 1 ||
      countOf(p, "Exchange") <= 3,
      s"banded table shuffled more than once:\n$p")
  }

  test("q_bloom_decontam: bloom filter applied BEFORE the exact semi-join") {
    val p = executed("q_bloom_decontam")
    assert(p.contains("might_contain"),
      "the bloom prefilter must appear in the executed plan")
    val bloomAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0 && bloomAt > joinAt,
      // executedPlan prints top-down: the join consumes the filter, so
      // the filter must appear BELOW (after) the join node
      "might_contain must sit under the exact verify join, pruning its input")
  }

  test("q_salted_agg: two aggregation stages, salt never reaches the scan") {
    val p = formatted("q_salted_agg")
    // partial/final for the salted stage AND for the de-salting stage
    assert(countOf(p, "HashAggregate") >= 3)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_extendedprice") && !readSchema.contains("l_orderkey"))
  }

  test("q_pmi_bigrams: bounded top-k; unigram/bigram scans prune to text only") {
    val p = executed("q_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      "PMI ranking must be a bounded top-k, not a global sort")
    formatted("q_pmi_bigrams").linesIterator
      .filter(_.contains("ReadSchema")).foreach { s =>
        assert(!s.contains("doc_id") && !s.contains("source"),
          "PMI needs only the text column")
      }
  }

  test("q_streak: shuffles only on user_id — no time-spine materialization") {
    val p = executed("q_streak")
    assert(!p.contains("Generate"), "streaks must not explode a spine")
    // exactly: distinct on (user_id, h), the user_id window sort, the
    // final histogram agg — the three per-user aggregations in between
    // reuse the window's user_id partitioning with NO extra exchange
    assert(countOf(p, "Exchange") <= 3, s"shuffle count crept up:\n$p")
  }

  test("q_substring_dedup: bounded top-k over the span index, pruned scan") {
    val p = executed("q_substring_dedup")
    assert(p.contains("TakeOrderedAndProject"),
      "duplicated-span report must be top-k, not a global sort")
    val scans = formatted("q_substring_dedup").linesIterator
      .filter(_.contains("ReadSchema")).toList
    scans.foreach(s => assert(!s.contains("lang") && !s.contains("source"),
      "span index needs doc_id+text only"))
  }

  test("q_quality_model: scoring is a narrow map — one shuffle for the lang rollup") {
    val p = executed("q_quality_model")
    assert(countOf(p, "Exchange") == 1,
      "hashed-feature scoring must not shuffle; only the final groupBy(lang) may")
    assert(!p.contains("Generate"), "score must come from aggregate(transform(..)), not explode")
  }

  test("q_outlier_mad: both median frames broadcast back to the fact table") {
    // checkpoint-transparent (r17: the deviation histogram is
    // materialized through Cp.local, hiding the med broadcast join
    // from the final plan): count over the final plan AND every
    // recorded checkpointed subtree
    val plans = allPlans(SparkEntry.queries("q_outlier_mad")(spark, sf))
      .map(_.toString)
    assert(plans.map(countOf(_, "BroadcastHashJoin")).sum >= 2,
      "med and mad (groups×1 rows) must broadcast, never shuffle-join the facts")
    plans.foreach(p => assert(!p.contains("SortMergeJoin")))
  }

  test("span family: corpus-grown sides merge-join, report stays bounded") {
    val p = executed("q_substring_spans")
    assert(p.contains("SortMergeJoin"),
      "the anchor self-join must be a merge join (corpus-grown sides)")
    assert(!p.contains("BroadcastHashJoin"),
      "no span-grain side may broadcast (the q_bigram_lm AQE lesson)")
    val pt = executed("q_longest_dup_span")
    assert(pt.contains("TakeOrderedAndProject"),
      "the longest-span report must be top-k bounded before the text join")
  }

  // The bounded-spine window invariant: an UNPARTITIONED WindowExec
  // funnels its whole input through ONE task — fine over a bounded
  // spine (value histogram, calendar, top-k pool, vocabulary), fatal
  // over data-sized rows at 100 TB. Every query whose physical plan
  // contains a global window must be here, with the bound that makes
  // it safe. Anything new that plans a global window fails the test
  // until its input is argued (and listed) as bounded.
  private val globalWindowWhitelist: Map[String, String] = Map(
    "q_allocation" -> "one row per lang (bounded label domain)",
    "q_benford" -> "9 leading-digit rows",
    "q_budget_mix" -> "one row per source (bounded label domain)",
    "q_calibration" -> ("clamped score-bin spine (2·CalClamp/CalBinW rows; " +
      "hidden under Cp.local until round 11's transparency fix)"),
    "q_chisq" -> "contingency cells = langs x sources",
    "q_cumulative_uniques" -> "daily calendar spine",
    "q_curate_full" -> ("DSIR score-bucket histogram (bounded, the " +
      "q_dsir spine) inside the stage-5 selection"),
    "q_dsir" -> "score-bucket histogram (range/2^14 rows, bounded)",
    "q_ks_drift" -> "value-histogram grain (bounded value domain)",
    "q_mann_whitney" -> "value-histogram grain (bounded value domain)",
    "q_open_interval" -> "daily calendar spine",
    "q_rfm" -> "value-histogram grain per metric (bounded)",
    "q_rrf" -> "rank pools LIMIT-bounded before the window",
    "q_survival" -> "duration-k spine (bounded day domain)",
    "q_vocab_coverage" -> "term table (vocabulary-bounded, sublinear)")

  private def globalWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        w.windowExpression.map(_.sql).mkString("; ").take(80)
    }

  /** All physical plans a query builds: the final plan PLUS every
    * subtree materialized through Cp.local while constructing it.
    * Eager checkpoints truncate lineage, so without the recorded
    * subtrees a data-sized global window (or a broadcast of a
    * corpus-grown side) hidden under a checkpoint would be invisible
    * to every invariant below — the round-10 q_dsir lesson. */
  private def allPlans(
      build: => DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    graft.functions.Cp.startRecording()
    try {
      val df = build
      df.queryExecution.sparkPlan +: graft.functions.Cp.stopRecording()
    } finally graft.functions.Cp.stopRecording() // no-op if already stopped
  }

  test("global windows appear ONLY over documented bounded spines " +
       "(checkpoint-transparent)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val gw = allPlans(fn(spark, sf)).flatMap(globalWindows)
        if (gw.nonEmpty && !globalWindowWhitelist.contains(name))
          Some(s"$name: ${gw.mkString(" || ")}")
        else None
    }
    assert(offenders.isEmpty,
      s"undocumented unpartitioned WindowExec (one-task funnel at " +
        s"100 TB) in:\n${offenders.mkString("\n")}")
    // the whitelist must not go stale: every entry still plans one
    // (final plan OR a checkpointed subtree)
    for ((name, why) <- globalWindowWhitelist)
      assert(allPlans(SparkEntry.queries(name)(spark, sf))
        .flatMap(globalWindows)
        .nonEmpty, s"$name no longer plans a global window ($why) — " +
        "remove it from the whitelist")
  }

  test("histogram cum/tot: both frames fuse into ONE WindowExec") {
    import org.apache.spark.sql.functions._
    val h = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"), col("o_totalprice"))
      .agg(count(lit(1)).as("cnt"))
    val plan = graft.operators.Relational
      .cumTot(h, "o_orderstatus", "o_totalprice", "cnt").queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, plan.toString)
  }

  test("the global-window detector catches a data-sized offender") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val bad = Tables.lineitem(spark, sf)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("l_orderkey"), col("l_linenumber"))))
    assert(globalWindows(bad.queryExecution.sparkPlan).nonEmpty)
  }

  test("the detector sees through Cp.local: a checkpointed offender fails") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // window BEFORE the checkpoint: the final plan is a bare scan of
    // the materialized RDD, so the pre-fix detector passed this
    val plans = allPlans {
      graft.functions.Cp.local(
        Tables.lineitem(spark, sf).limit(100)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("l_orderkey"), col("l_linenumber")))))
        .select(col("rn"))
    }
    assert(globalWindows(plans.head).isEmpty,
      "the final plan must NOT show the window (it was checkpointed away)")
    assert(plans.flatMap(globalWindows).nonEmpty,
      "the recorded checkpoint subtree must expose the global window")
  }

  test("span family: no corpus-grown broadcast inside checkpointed subtrees") {
    // the merge-join assertion on the final plan (above) is blind to
    // anything Cp.local materialized; scan the recorded subtrees too
    val plans = allPlans(SparkEntry.queries("q_substring_spans")(spark, sf))
    assert(plans.tail.nonEmpty,
      "q_substring_spans is expected to checkpoint its pair pipeline")
    plans.tail.foreach { p =>
      assert(!p.toString.contains("BroadcastHashJoin"),
        s"corpus-grown span side broadcast inside a checkpointed subtree:\n$p")
    }
  }

  test("pair pipeline: posting volume shuffles exactly once (clustered checkpoints)") {
    // jaccardPairsOf declares its layout (Cp.localClustered): across
    // the final plan AND every checkpointed subtree, the only shuffle
    // exchanges allowed are (1) the posting build's REPARTITION_BY_NUM
    // and (2) the pair-grain aggregation — the df-agg, the semi-join
    // and both self-join sides must ride the declared clustering. A
    // third exchange means a checkpoint stopped declaring its layout
    // and the posting table is being re-shuffled again at every SF.
    val plans = allPlans(SparkEntry.queries("q_ngram_jaccard")(spark, sf))
    val shuffles = plans.map(p =>
      countOf(p.toString, "Exchange hashpartitioning")).sum
    assert(shuffles <= 2, s"posting-volume shuffle count crept to $shuffles:\n" +
      plans.map(_.toString).mkString("\n---\n"))
  }

  test("pair generators keep scans pruned to the columns they use") {
    // the banded/simhash tables are materialized (localCheckpoint),
    // which hides the parquet scan from the outer plan — assert
    // pruning over the final plan PLUS the recorded checkpoint
    // subtrees, where the scan actually lives
    val builderPlans = Seq(
      "minhashBandedOf" -> (() => Seq(graft.operators.Dedup
        .minhashBandedOf(Tables.documents(spark, sf))
        .queryExecution.sparkPlan)),
      "q_simhash_pairs" -> (() =>
        allPlans(SparkEntry.queries("q_simhash_pairs")(spark, sf))))
    for ((name, mk) <- builderPlans) {
      val scans = mk().flatMap(
        _.toString.linesIterator.filter(_.contains("ReadSchema")))
      assert(scans.nonEmpty, name)
      // doc text + id only — never lang/source/n_chars
      scans.foreach(s => assert(!s.contains("n_chars") && !s.contains("source"), name))
    }
  }
}
