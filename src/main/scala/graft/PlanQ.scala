package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` plans.
  *
  * - `tools/run.sh graft.PlanQ [sfDir]` (no query names) writes
  *   PLANS.md to the working directory: the plans of
  *   the [[Headline]] queries, each section capped at 20 KB.
  * - `tools/run.sh graft.PlanQ <sfDir> <outDir> <suffix> <query>...`
  *   writes one uncapped file per named query — the optimization-round
  *   evidence trail (plans/rN/<query>_<suffix>.txt).
  */
object PlanQ {
  val Headline = Seq(
    "q1_pricing_summary", "q5_region_revenue", "q_minhash_pairs",
    "q_ngram_jaccard", "q_knn_brute", "q_topn_custom", "q_asof_join",
    "q_neardup_lsh", "q_scalar_subquery", "q_dup_clusters", "q_asof_physical",
    "q_range_join", "q_decontaminate", "q_lsh_bucket_stats", "q_simhash_pairs",
    "q_bloom_decontam", "q_salted_agg", "q_pmi_bigrams", "q_streak",
    "q_jaccard_est", "q_incremental_dedup", "q_pii_scrub", "q_tfidf",
    "q_event_transition", "q_seq_pattern", "q_anomaly", "q_unpivot",
    "q_skyline", "q_ntile", "q_seq_pack", "q_shard_assign",
    "q_corpus_stats", "q_interpolate", "q_cross_join", "q_range_physical",
    "q_interval_overlap", "q_range_anti", "q_fuzzy_match", "q_correlation",
    "q_fuzzy_exact", "q_range_full", "q_pagerank", "q_countmin",
    "q_hll_registers", "q7_nation_trade", "q8_market_share",
    "q10_returns", "q19_disjunct", "q_dq_checks", "q_zorder",
    "q_posting_index", "q_ks_drift", "q_ewma", "q_scd2",
    "q_triangles", "q_lateral_join",
    "q2_min_supplier", "q9_product_profit", "q11_important_stock",
    "q16_supplier_cnt", "q20_dominant_supplier", "q_bigram_lm",
    "q_source_overlap", "q_curriculum", "q_sax", "q_rrf",
    "q_percentiles_exact", "q_abtest",
    "q_bpe_merge", "q_bpe_apply", "q_gini", "q_allocation",
    "q_assoc_rules", "q_zorder3", "q_spearman", "q_outlier_mad",
    "q_prefix_join",
    "q_wordpiece", "q_kanon", "q_theilsen", "q_bootstrap",
    "q_median_ci", "q_audio_energy", "q_video_frames", "q_span_mask",
    "q_unigram_lm", "q_kmv", "q_kendall", "q_cusum", "q_length_buckets",
    "q_jaro_linkage", "q_hilbert", "q_mutual_nn", "q_label_prop",
    "q_qq", "q_isotonic", "q_image_resize",
    "q_kmv_setops", "q_calibration", "q_dp_counts", "q_normalize_dedup",
    "q_ngram_novelty", "q_minhash_recall", "q_reachability",
    "q_worst_slice", "q_threshold_sweep", "q_col_stats",
    "q_substring_spans", "q_longest_dup_span", "q_span_coverage",
    "q_unigram_em", "q_fuzzy_phonetic", "q_span_trim", "q_span_admit",
    "q_semdedup", "q_curate_funnel",
    "q_incremental_store", "q_span_admit_store", "q_neardup_admit_store",
    "q_ann_ivf_store", "q_ann_graph", "q_ann_graph_ingest",
    "q_dsir", "q_containment", "q_rouge", "q_mmr", "q_split_leakage",
    "q_triplets", "q_path_census", "q_winnow")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-planq")
    def plan(n: String): String = SparkEntry.queries(n)(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val names = args.drop(3).toSeq
    if (names.isEmpty) {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of headline queries " +
        s"(${Paths.get(sfDir).getFileName})\n\n")
      sb.append("Regenerate with `tools/run.sh graft.PlanQ`. What to look for: " +
        "`PushedFilters`/`ReadSchema` on every scan (pushdown + pruning), " +
        "`BroadcastHashJoin` on dimension joins, partial→final HashAggregate " +
        "pairs, and `TopKPerGroup` partial/final around a K·groups-row " +
        "exchange.\n")
      for (n <- Headline) {
        // minhash-family plans inline 16 hash formulas per signature
        // column and balloon to hundreds of KB — cap each section so the
        // document stays reviewable; the full plan is always one
        // explain() away
        val p = plan(n)
        val Cap = 20000
        sb.append(s"\n## $n\n\n```\n")
        sb.append(if (p.length <= Cap) p
          else p.take(Cap) + s"\n… [truncated ${p.length - Cap} chars]\n")
        sb.append("```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"[planq] wrote PLANS.md (${sb.length} chars)")
    } else {
      Files.createDirectories(Paths.get(args(1)))
      names.foreach { n =>
        Files.writeString(Paths.get(args(1), s"${n}_${args(2)}.txt"), plan(n))
        println(s"[planq] wrote $n")
      }
    }
    spark.stop()
  }
}
