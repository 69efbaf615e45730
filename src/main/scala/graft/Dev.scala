package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Scratch runner for local iteration (not part of the driver contract).
  * Currently: dumps formatted physical plans for the headline queries to
  * PLANS.md (plan-shape evidence: pushdown, broadcast, codegen spans).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark32 = Harness.session()
    val dir = "/root/testdata/sf0.01"
    val interesting = Seq(
      "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
      "q04_dedup_keepfirst", "q05_incremental_scan", "q08_semi_join",
      "q16_hourly_rollup", "q25_minhash_lsh", "q27_knn_brute", "q33_asof_join",
      "q36_embed_neardup_lsh", "q38_dedup_clusters", "q39_subqueries",
      "q40_sliding_window",
      "q42_stratified_sample", "q44_repetition_stats", "q45_vocab_df",
      "q47_decontaminate",
      "q50_segment_dedup", "q51_unigram_logprob", "q52_filter_funnel",
      "q53_topk_per_group", "q59_bm25", "q60_interval_join",
      "q62_running_total", "q63_chunking", "q64_label_cohesion",
      "q65_attribution_join", "q66_bloom_decontaminate", "q67_funnel",
      "q68_weighted_sample", "q69_cohort_retention", "q70_bpe_pair_counts",
      "q71_heavy_hitters", "q72_temperature_mixing", "q73_source_dup_matrix",
      "q74_hybrid_rerank", "q75_adaptive_filter", "q76_trailing_rate",
      "q77_event_paths", "q78_topk_native", "q79_share_of_user",
      "q80_group_zscore", "q81_token_ids", "q82_winnow_dedup",
      "q84_bpe_encode", "q85_pack_bpe", "q86_bigram_logprob",
      "q87_source_quota", "q88_dup_pagerank", "q89_char_entropy",
      "q90_contamination_rate", "q91_canonical_pick", "q92_kmeans",
      "q93_top_ngram_frac", "q94_mix_resample", "q95_segment_rebuild",
      "q96_embed_whiten", "q97_kmeans_seeded", "q98_kmeans_minibatch",
      "q99_semantic_dedup", "q100_int8_quantize", "q101_nb_classifier",
      "q102_zorder_code", "q103_data_audit", "q104_robust_stats",
      "q105_srp_project", "q106_incremental_agg", "q107_fuzzy_join",
      "q108_scd2_build", "q109_profile", "q110_triangle_count",
      "q111_kneser_ney", "q112_minhash_doph", "q113_kmv_overlap",
      "q114_fuzzy_lookup",
      "q115_equidepth_hist", "q116_cdc_apply", "q117_pmi_collocations",
      "q118_sorted_neighborhood", "q119_robust_outliers",
      "q120_markov_transitions", "q121_containment_dedup",
      "q122_tfidf_keywords", "q123_doc_novelty", "q124_indoc_dedup",
      "q125_snapshot_diff", "q126_dup_substring_coverage",
      "q127_dup_substring_cut", "q128_hard_negatives",
      "q129_quality_ensemble", "q24_ngram_jaccard", "q130_normalize_text",
      "q131_knn_label_eval", "q132_script_mix", "q133_kcenter_select",
      "q134_decay_score", "q135_key_skew", "q136_ann_multiprobe",
      "q137_suffix_array", "q138_longest_dup_substring",
      "q139_phrase_search", "q140_tfidf_neardup", "q141_scd2_asof_enrich",
      "q142_index_merge", "q143_dedup_cut", "q144_ann_recall",
      "q145_dedup_sweep", "q146_ivf_merge", "q147_matryoshka_eval",
      "q148_dedup_quality_audit", "q149_gopher_repetition",
      "q150_token_fertility", "q151_cluster_topics",
      "q152_cms_estimates", "q153_label_propagation", "q154_gap_fill",
      "q155_dedup_savings", "q156_ann_ivfpq", "q157_media_inventory",
      "q158_audio_features", "q159_video_frames", "q160_kcore",
      "q161_pack_batches", "q162_lsh_probe", "q163_source_quantile_norm",
      "q164_chi2_drift", "q165_vocab_growth", "q166_boilerplate_strip",
      "q167_mix_quota", "q168_cc_incremental", "q169_hash_sample",
      "q170_sole_late_supplier", "q171_top_p_select", "q172_rfm_segments",
      "q173_langid_nb",
      // q174 executes its per-shard kernels EAGERLY on call (the driver
      // loop is the operator), so its top-level "plan" here is the
      // union read of the per-shard cut sidecar — the kernel's plan
      // shapes are q137/q138's, dumped above
      "q174_sharded_dedup_cut",
      // q176 rides q174's cached cut; its OWN plan is the winnow-span
      // tier (fingerprint UDF pass + keyed count + semi join) unioned
      // with the cached cut, through the shared islands window
      "q176_cross_shard_dedup_cut")
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.Dev: " +
      "static intent at sf0.01, AQE-final shapes at sf0.1)\n\n")
    sb.append("What to look for: `PushedFilters` reaching the parquet scan,\n")
    sb.append("`ReadSchema` pruned to referenced columns, `BroadcastHashJoin`\n")
    sb.append("on every dimension/lookup join, `WholeStageCodegen` spans over\n")
    sb.append("the expression-heavy stages, `TakeOrderedAndProject` for top-k.\n")
    interesting.foreach { name => Harness.queryLifetime(spark32) {
      sb.append(s"\n## $name\n\n```\n")
      sb.append(SparkEntry.queries(name)(spark32, dir)
        .queryExecution.explainString(FormattedMode).trim)
      sb.append("\n```\n")
    }}
    // AQE FINAL plans at sf0.1 for the most expensive queries (r12
    // verdict #8): the static sf0.01 dump above shows what the planner
    // INTENDS; AQE's broadcast-vs-shuffle decisions differ by scale, so
    // the shapes that matter for the 100 TB argument are the
    // post-execution ones (isFinalPlan=true) at the bench SF under the
    // bench configuration (local[32], 32 shuffle partitions). Each
    // query executes through ITS OWN QueryExecution (toRdd.foreach —
    // a noop write would wrap the plan in a fresh QueryExecution and
    // leave this one unexecuted) so explainString reflects the final
    // adaptive physical plan.
    val heaviest = Seq(
      "q137_suffix_array", "q127_dup_substring_cut", "q110_triangle_count",
      "q126_dup_substring_coverage", "q140_tfidf_neardup",
      "q149_gopher_repetition", "q109_profile", "q119_robust_outliers",
      "q148_dedup_quality_audit", "q145_dedup_sweep", "q173_langid_nb")
    sb.append("\n# AQE final plans at sf0.1 (post-execution, local[32])\n\n")
    sb.append("The shapes AQE actually chose at the bench scale —\n")
    sb.append("`isFinalPlan=true`; compare against the static sf0.01\n")
    sb.append("intent above (broadcast joins here may become shuffled\n")
    sb.append("hash/sort-merge at another decade, and vice versa).\n")
    heaviest.foreach { name => Harness.queryLifetime(spark32) {
      sb.append(s"\n## $name @ sf0.1 (final)\n\n```\n")
      val df = SparkEntry.queries(name)(spark32, "/root/testdata/sf0.1")
      df.queryExecution.toRdd.foreach(_ => ())
      sb.append(df.queryExecution.explainString(FormattedMode).trim)
      sb.append("\n```\n")
    }}
    spark32.stop()
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("PLANS_WRITTEN")
  }
}
