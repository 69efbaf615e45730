package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Headline set = EVERY registered query (since r9), so each one has
  * wall-clock + shuffle-bytes regression tracking. The deliberately-
  * brute oracle form (q30 all-pairs embedding near-dup) is measured
  * ONCE in a separate oracle tier, excluded from the 3-pass loop and
  * the headline total: its cost sits in the artifact next to its scale
  * path (q36) as a measured statement of what the banded plan avoids,
  * without letting a quarantined O(n²) oracle triple the bench
  * wall-clock or masquerade as a total-time regression. (q24 exact
  * Jaccard was in this tier through r8 at 260–306 s; its r9
  * prefix-filtered rewrite is exact AND bench-speed, so it rejoined
  * the headline loop.)
  *
  * Robustness (the r2/r3 artifacts were poisoned by machine contention —
  * different queries spiked each round with byte-identical plans):
  *  - THREE timed passes, per-query minimum reported. A transient CPU
  *    spike hits one pass; the min is the engine's actual cost (r4's
  *    recorded q01 was 5.6 s across both of two passes under driver-side
  *    contention vs 1.3 s warm on a quiet machine).
  *  - the JSON line is also written to `SPARK_GRAFT_BENCH_OUT` if set, so
  *    the driver parses a file instead of scraping sbt-prefixed stdout.
  *  - per-query shuffle WRITE bytes via SparkListener: plan regressions
  *    (new exchanges) are visible even when wall-clock noise isn't, and
  *    shuffle volume is the metric that predicts 100 TB cost. Write-only
  *    since r14 — read volume includes AQE skew-split re-reads and retry
  *    re-fetches, which are remediation, not plan-requested movement
  *    (the rehearsal artifact still publishes reads as the skew
  *    diagnostic).
  *
  * WALL-CLOCK GOVERNOR (r14 verdict #1: the round's official bench was
  * rc=124/parsed:null because the default invocation outgrew the
  * driver's slot). The whole run works against one total budget
  * (`SPARK_GRAFT_BENCH_BUDGET`, default 3600 s, measured from main()
  * entry), degrades gracefully — the optional stages (pinned gate
  * bases, then the forked scale rehearsal, trimming its decade-2 tier
  * first via per-stage child budgets) shrink to the remaining time —
  * and every stage boundary re-writes bench_out.json AND
  * BENCH_r<N>.json, so a kill at ANY point after the 3 headline passes
  * leaves a complete headline artifact on disk instead of
  * `parsed: null`. Whatever is skipped is recorded in the artifact
  * (`pinned_base_skipped`, `rehearsal_skipped_budget`), never silent.
  *
  * Each query is fully materialized via a noop write (count() could skip
  * projection work under column pruning).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
    "q04_dedup_keepfirst", "q05_incremental_scan", "q06_inlist_filter",
    "q07_anti_join", "q08_semi_join", "q09_left_join_enrich",
    "q10_norm_casewhen", "q11_concat_hash", "q12_minmax_guard",
    "q13_conditional_count", "q14_multikey_sort", "q15_scalar_shaping",
    "q16_hourly_rollup", "q17_sessionization", "q18_json_extract",
    "q19_dedup_exact", "q20_token_stats", "q21_quality_score",
    "q22_langid", "q23_fingerprint", "q24_ngram_jaccard",
    "q25_minhash_lsh", "q26_simhash",
    "q27_knn_brute", "q28_embed_stats", "q29_ann_lsh",
    "q30_embed_neardup", "q34_ann_ivf",
    "q35_simhash_neardup", "q36_embed_neardup_lsh",
    "q31_set_ops", "q32_rollup", "q33_asof_join", "q37_pii_redact",
    "q38_dedup_clusters", "q39_subqueries", "q40_sliding_window",
    "q41_embed_clusters",
    "q42_stratified_sample", "q43_corpus_stats", "q44_repetition_stats",
    "q45_vocab_df", "q46_leakage_safe_split", "q47_decontaminate",
    "q48_pack_offsets", "q49_mixing_weights",
    "q50_segment_dedup", "q51_unigram_logprob", "q52_filter_funnel",
    "q53_topk_per_group", "q54_global_shuffle",
    "q55_sketches", "q56_event_deltas", "q57_pivot", "q58_cube",
    "q59_bm25", "q60_interval_join", "q61_exact_k_sample",
    "q62_running_total", "q63_chunking", "q64_label_cohesion",
    "q65_attribution_join", "q66_bloom_decontaminate", "q67_funnel",
    "q68_weighted_sample", "q69_cohort_retention", "q70_bpe_pair_counts",
    "q71_heavy_hitters", "q72_temperature_mixing", "q73_source_dup_matrix",
    "q74_hybrid_rerank", "q75_adaptive_filter", "q76_trailing_rate",
    "q77_event_paths", "q78_topk_native", "q79_share_of_user",
    "q80_group_zscore", "q81_token_ids", "q82_winnow_dedup",
    "q83_bpe_train", "q84_bpe_encode", "q85_pack_bpe",
    "q86_bigram_logprob", "q87_source_quota", "q88_dup_pagerank",
    "q89_char_entropy", "q90_contamination_rate", "q91_canonical_pick",
    "q92_kmeans", "q93_top_ngram_frac", "q94_mix_resample",
    "q95_segment_rebuild", "q96_embed_whiten",
    "q97_kmeans_seeded", "q98_kmeans_minibatch", "q99_semantic_dedup",
    "q100_int8_quantize", "q101_nb_classifier", "q102_zorder_code",
    "q103_data_audit", "q104_robust_stats", "q105_srp_project",
    "q106_incremental_agg", "q107_fuzzy_join", "q108_scd2_build",
    "q109_profile", "q110_triangle_count", "q111_kneser_ney",
    "q112_minhash_doph", "q113_kmv_overlap", "q114_fuzzy_lookup",
    "q115_equidepth_hist", "q116_cdc_apply", "q117_pmi_collocations",
    "q118_sorted_neighborhood", "q119_robust_outliers",
    "q120_markov_transitions", "q121_containment_dedup",
    "q122_tfidf_keywords", "q123_doc_novelty", "q124_indoc_dedup",
    "q125_snapshot_diff", "q126_dup_substring_coverage",
    "q127_dup_substring_cut", "q128_hard_negatives",
    "q129_quality_ensemble", "q130_normalize_text", "q131_knn_label_eval",
    "q132_script_mix", "q133_kcenter_select", "q134_decay_score",
    "q135_key_skew", "q136_ann_multiprobe", "q137_suffix_array",
    "q138_longest_dup_substring", "q139_phrase_search",
    "q140_tfidf_neardup", "q141_scd2_asof_enrich", "q142_index_merge",
    "q143_dedup_cut", "q144_ann_recall", "q145_dedup_sweep",
    "q146_ivf_merge", "q147_matryoshka_eval", "q148_dedup_quality_audit",
    "q149_gopher_repetition", "q150_token_fertility", "q151_cluster_topics",
    "q152_cms_estimates", "q153_label_propagation", "q154_gap_fill",
    "q155_dedup_savings", "q156_ann_ivfpq", "q157_media_inventory",
    "q158_audio_features", "q159_video_frames", "q160_kcore",
    "q161_pack_batches", "q162_lsh_probe", "q163_source_quantile_norm",
    "q164_chi2_drift", "q165_vocab_growth", "q166_boilerplate_strip",
    "q167_mix_quota", "q168_cc_incremental", "q169_hash_sample",
    "q170_sole_late_supplier", "q171_top_p_select", "q172_rfm_segments",
    "q173_langid_nb", "q174_sharded_dedup_cut",
    "q175_sharded_dup_coverage", "q176_cross_shard_dedup_cut",
    "q177_curation_pipeline", "q178_cross_shard_dup_coverage",
    "q179_importance_resample", "q180_eval_substring_decontaminate")

  /** Single-measurement tier: excluded from the 3-pass loop and the
    * headline total, measured once, reported in the queries map. Two
    * membership reasons, both cost-vs-information:
    *  - q30: the quarantined brute-force oracle form (deliberately
    *    O(n²), kept as the measured statement of what the banded plan
    *    avoids — see class doc). q24 left this tier in r9 — its exact
    *    path is now the prefix-filtered join, no longer O(n²).
    *  - q174: the sharded exact-substring kernel runs 4 FRESH
    *    per-shard SA builds + LCP walks by construction (riding the
    *    session SA caches would make a timed run a cache probe —
    *    q137's invalidate-first rule, ×4 shards), ~37 s warm at sf0.1,
    *    nearly all per-shard fixed round cost. Three passes would
    *    cost ~2 min of the driver slot and buy no information the
    *    scale rehearsal's tiered runs don't already measure; its
    *    1×/10×/100× exponents are the evidence that matters.
    *  - q175/q176/q178 ride q174's cached cut table (r16 verdict #2 —
    *    the family costs ONE kernel run), so they live in the same
    *    tier: in the 3-pass loop their pass-1 sample would re-run the
    *    whole kernel whenever the cache was invalidated, and their
    *    warm samples would be pure cache probes — neither is a number
    *    worth three passes. The tier runs in headline order (q174
    *    first), so the kernel cost lands on q174's measurement; the
    *    artifact's `sharded_cut_cache_warm` map records whether each
    *    family member actually found the cache warm (r17 ADVICE: under
    *    a query filter that excludes q174, a "1 s" q175 would
    *    silently become a full kernel run).
    */
  val oracleTier: Set[String] = Set("q30_embed_neardup",
    "q174_sharded_dedup_cut", "q175_sharded_dup_coverage",
    "q176_cross_shard_dedup_cut", "q178_cross_shard_dup_coverage")

  /** The sharded-kernel family whose members share one session-cached
    * cut table (see [[oracleTier]]'s cache-warm telemetry).
    */
  private val shardedCutFamily: Set[String] = Set(
    "q174_sharded_dedup_cut", "q175_sharded_dup_coverage",
    "q176_cross_shard_dedup_cut", "q178_cross_shard_dup_coverage")

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    // machine-load sample at run start (r15 verdict #4): rides in the
    // artifact so a wall regression can be weighed against box
    // contention without a quiet-box rerun (r14's "suffix-family
    // regression" and r15's driver-vs-builder 195 vs 172 s were both
    // uniform contention, diagnosable only by re-running)
    val loadAvgStart: String =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(' ').take(3).mkString(",")
      catch { case _: Exception => "" }
    // Total wall budget for the WHOLE bench (headline + pinned bases +
    // forked rehearsal), sized to the observed driver slot: r13's full
    // run passed at 3077 s TOTAL sbt wall (BENCH_r13.json's success
    // line), r14's drew rc=124 — so the slot is bounded below by
    // ~3100 s and the natural guess is 3600 s. This budget is measured
    // from main() entry, i.e. AFTER sbt launch + compile, so it must
    // leave room for that overhead inside the slot: 3300 s + warm
    // startup (~30 s) stays inside 3600 s, and even a cold compile
    // (~200 s) keeps the total at ~3530 s.
    val totalBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "3300").toDouble
    def elapsed: Double = (System.nanoTime() - tStart) / 1e9
    def remaining: Double = totalBudget - elapsed

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle.partitions is FIXED (default 32 = the default run's value,
    // so default-run numbers stay comparable across rounds), decoupled
    // from SPARK_GRAFT_CPUS (r18 verdict item 2a): the driver varies
    // CPUS to measure core scaling, and partitions-follow-cores cancels
    // exactly the signal it is probing — fewer cores ⇒ fewer tasks ⇒
    // flat ratios regardless of how the engine actually scales. With
    // partitions held constant, only the core count varies between the
    // 32- and 8-CPU runs. Env-overridable for deployments whose data
    // needs a different granularity (AQE coalescing handles the
    // small-partition side either way).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shuffle = new ShuffleBytesListener
    spark.sparkContext.addSparkListener(shuffle)

    // A failed query must NEVER look like a fast success (round 7: 13
    // broken queries were recorded as ~0.06 s / 0-shuffle-byte wins with
    // rc=0). runOne reports failure; timed passes record -1 for any query
    // that failed in any pass, and the JSON carries an explicit errors key.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOne(name: String, dir: String): Boolean =
      SparkEntry.queries.get(name) match {
        case None =>
          // an unregistered headline name must fail loudly, not record
          // a ~0s/0-shuffle "success" (the round-7 artifact-lie mode)
          System.err.println(s"[bench] $name is not in SparkEntry.queries")
          false
        case Some(fn) =>
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
          // release query-transient persists (LSH shingle tables):
          // without this, 173 queries x 3 passes accumulate dozens of
          // un-evictable MEMORY_AND_DISK tables and the storage
          // pressure makes later passes of unrelated queries spike
          // (the r13 q112 variance — see TransientPersists)
          finally graft.operators.TransientPersists.releaseAll()
      }

    // Untimed warmup: run every headline plan once at the smallest SF so
    // the timed passes measure the engine, not JIT + codegen compilation
    // (measured: q25 21.7s cold vs 2.6s warm on identical data).
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      headline.foreach(runOne(_, warmupDir))

    def timeOne(name: String): (String, Double, Long) = {
      val b0 = shuffle.bytes.get()
      val t0 = System.nanoTime()
      val ok = runOne(name, sfDir)
      if (!ok) failed += name
      (name, (System.nanoTime() - t0) / 1e9, shuffle.bytes.get() - b0)
    }
    def timedPass(): Seq[(String, Double, Long)] =
      headline.filterNot(oracleTier).map(timeOne)
    val passes = Seq.fill(3)(timedPass())
    val passResults = passes.transpose.map { samples =>
      val name = samples.head._1
      if (failed.contains(name)) (name, -1.0, -1L)
      else (name, samples.map(_._2).min, samples.map(_._3).min)
    }
    // oracle tier: one measurement each, reported but not totaled;
    // sharded-family members snapshot cache state first so the
    // artifact shows which timing rode q174's cached cut table
    val shardedCacheWarm =
      scala.collection.mutable.LinkedHashMap[String, Boolean]()
    // r19: the winnow tier gained its own family cache (q176 computes,
    // q178 rides) — snapshot its warmth too, same attribution rule
    val winnowCacheWarm =
      scala.collection.mutable.LinkedHashMap[String, Boolean]()
    val winnowFamily = Set("q176_cross_shard_dedup_cut",
      "q178_cross_shard_dup_coverage")
    val oracleResults = headline.filter(oracleTier).map { name =>
      if (shardedCutFamily.contains(name))
        shardedCacheWarm(name) = graft.operators.SuffixArray.isCached(spark,
          graft.queries.IndexQueries.q174CutKey(sfDir))
      if (winnowFamily.contains(name))
        winnowCacheWarm(name) = graft.operators.SuffixArray.isCached(spark,
          graft.queries.IndexQueries.q176WinnowKey(sfDir))
      val r = timeOne(name)
      if (failed.contains(name)) (name, -1.0, -1L) else r
    }
    val results = passResults ++ oracleResults

    // ---- incremental artifact writer ----------------------------------
    // Called at every stage boundary from here on: the full headline map
    // is durable the moment the 3 passes finish, and each later stage
    // only ever REPLACES the artifact with a strictly richer one. A
    // driver kill at any point after this line can no longer produce
    // `parsed: null`.
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sb = results.map { case (k, _, s) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val total = passResults.filter(_._2 >= 0).map(_._2).sum
    // reconciliation field (r16 verdict #6): the headline `total`
    // excludes the oracle tier by design, so an auditor summing the
    // queries map lands `oracle_tier_secs` above it — publish the
    // difference explicitly instead of making them read this file
    val oracleTierSecs = oracleResults.filter(_._2 >= 0).map(_._2).sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val oracleList = headline.filter(oracleTier)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val round: Option[Int] = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
      .orElse {
        // explicit UTF-8: the forked JVM's default charset follows the
        // POSIX locale (US-ASCII), and VERDICT.md's first line holds an
        // em-dash — the silent MalformedInputException here is exactly
        // how r11's first artifact write was lost
        try {
          val head = scala.io.Source.fromFile("VERDICT.md")(scala.io.Codec.UTF8)
            .getLines().take(1).mkString
          "round (\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt + 1)
        } catch { case e: Exception =>
          System.err.println(s"[bench] round detection failed: $e")
          None
        }
      }
    // stage → governor-elapsed at the stage's artifact write: the
    // budget-tuning evidence (how long each stage ACTUALLY costs in a
    // driver run) rides along in every artifact.
    val stageElapsed = scala.collection.mutable.LinkedHashMap[String, Double]()
    // extras accumulate across stages: each artifact write REPLACES the
    // file, so a later stage must re-carry earlier stages' keys or the
    // final artifact silently loses them (pinned_base_skipped /
    // nobroadcast_base_failed were written at the pinned stage and
    // dropped by the final rewrite)
    val stickyExtra = scala.collection.mutable.LinkedHashMap[String, String]()
    def writeArtifacts(stage: String, newExtra: Seq[(String, String)],
                       rehearsalJson: String): String = {
      newExtra.foreach { case (k, v) => stickyExtra(k) = v }
      val extra = stickyExtra.toSeq
      stageElapsed(stage) = elapsed
      val stagesJson = stageElapsed.map { case (k, v) =>
        "\"" + k + "\":" + f"$v%.1f" }.mkString("{", ",", "}")
      val extraJson = extra.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(",")
      val sep = if (extra.isEmpty) "" else ","
      val line = s"""{"metric":"total","value":$total,"unit":"sec","oracle_tier_secs":$oracleTierSecs,"stage":"$stage","budget":$totalBudget,"stage_elapsed":$stagesJson,"queries":$qs,"shuffle_bytes":$sb,"errors":$errs,"oracle_tier":$oracleList,${extraJson}${sep}"scale_rehearsal":$rehearsalJson,"sf":"$sfDir"}"""
      val outPaths = Seq("bench_out.json") ++ sys.env.get("SPARK_GRAFT_BENCH_OUT")
      outPaths.foreach { path =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case e: Exception =>
          System.err.println(s"[bench] could not write $path: ${e.getMessage}")
        }
      }
      // Also write the per-round artifact BENCH_r<N>.json in the
      // driver's schema with `parsed` populated — every driver-captured
      // artifact through r10 had `parsed: null` because the JSON line
      // outgrew the stdout tail capture. `producer` marks it as
      // bench-written and `rc` is null, not 0: this process cannot
      // claim an exit code for itself (r14 verdict #3 — the driver's
      // own overwrite carries the real rc). Only at the driver's sf0.1 —
      // a local sf0.01 iteration must not overwrite the round artifact.
      // Non-default CPU counts write a SUFFIXED artifact (r18 verdict
      // item 2b: the driver's 8-CPU scaling run used to CLOBBER the
      // round artifact, leaving BENCH_r18.json holding the cpus:8 run
      // while PERF compared the 32-CPU one; the `_c8` suffix matches
      // the driver's own BENCH_r18_c8.json naming).
      if (sfDir.endsWith("sf0.1")) round.foreach { n =>
        val artifact =
          s"""{"n": $n, "rc": null, "producer": "bench-self", "stage": "$stage", "cpus": $cpus, "sf": 0.1, "tail": "(written by Bench.scala)", "parsed": $line}"""
        val suffix = if (cpus == "32") "" else s"_c$cpus"
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(f"BENCH_r$n%02d$suffix%s.json"),
          (artifact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case e: Exception =>
          System.err.println(s"[bench] could not write BENCH_r$n: ${e.getMessage}")
        }
      }
      line
    }
    // per-query raw samples across the 3 passes (r15 verdict #4): min
    // is the reported number, but the SPREAD is what distinguishes a
    // real 10 % regression from a noisy box — contention inflates all
    // three samples uniformly; a plan regression moves the min.
    val rawJson = passes.transpose.map { samples =>
      "\"" + samples.head._1 + "\":" +
        samples.map(s => f"${s._2}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    writeArtifacts("headline", Seq(
      "loadavg_start" -> ("\"" + loadAvgStart + "\""),
      "sharded_cut_cache_warm" -> shardedCacheWarm
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}"),
      "winnow_span_cache_warm" -> winnowCacheWarm
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}"),
      "queries_raw" -> rawJson), "null")

    // ---- pinned 1× gate bases (budget-guarded) ------------------------
    // Scale rehearsal (VERDICT r8 #5, re-architected r13 per VERDICT
    // r12 #1): the heaviest operators run at derived 10× and 100×
    // tiers (disjoint replicas — see ScaleData) in a DEDICATED FORKED
    // JVM (fresh heap, fresh SparkSession — no residual block-manager
    // state from the 172-query headline loop, which r12 showed can
    // swing identical plans 22–165 s), with symmetric multi-run
    // sampling, raw samples, and shuffle-byte exponents all published.
    // See ScaleRehearsal for the protocol. Opt out with
    // SPARK_GRAFT_SCALE_REHEARSAL=0.
    val rehearse = sys.env.getOrElse("SPARK_GRAFT_SCALE_REHEARSAL", "1") == "1" &&
      sfDir.endsWith("sf0.1")
    // Governor reserves: the fork needs at least this much to produce a
    // usable 10× tier; below it the rehearsal (and the pinned bases that
    // only exist to feed it) is skipped outright — explicitly recorded.
    val MinForkSecs = 500.0
    val FinalMargin = 90.0 // println + artifact write + spark.stop()
    val compactFallback =
      if (!rehearse) ("null", "null", "null", "[]")
      else if (remaining < MinForkSecs + FinalMargin) {
        System.err.println(f"[bench] BUDGET: skipping rehearsal entirely " +
          f"(remaining ${remaining}%.0f s < ${MinForkSecs + FinalMargin}%.0f)")
        writeArtifacts("rehearsal_skipped_budget",
          Seq("rehearsal_skipped_budget" -> "true"), "null")
        ("null", "null", "null", "[]")
      } else {
      try {
        // Like-for-like q138 exponent (round-11 verdict): the adaptive
        // LCP dispatch picks broadcast-descent at 1× and hash-walk at
        // 10× (the 10× corpus crosses the 256 MB boundary), so the
        // naive exponent compares two different algorithms. Pin the
        // hash-walk path and measure a fresh 1× base under the pin in
        // THIS session (the headline SA cache is still warm, so this
        // times the walk, not the build — matching the scaled run,
        // which rides q137's 10× build); the child keeps the same pin.
        // Pinned-base protocol (r14 ADVICE #2): gate bases get TWO runs
        // (min) when the budget allows — the 1.1 gate threshold sits
        // within single-run bytes variance for small queries — and a
        // base whose every run fails is recorded in
        // `nobroadcast_base_failed` and written as -1/-1 so the child
        // lists the query as gate_not_evaluated instead of silently
        // gating it against the unpinned (cross-plan) base.
        val pinnedSkipped = scala.collection.mutable.ArrayBuffer[String]()
        val nbBaseFailed = scala.collection.mutable.ArrayBuffer[String]()
        val InitNumKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        // child-granularity + no-broadcast pinned measurement of one query
        def pinnedRuns(n: String, noBc: Boolean, maxRuns: Int): Option[(Double, Long)] = {
          val prevBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
          val prevABc = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
          val prevInit = spark.conf.getOption(InitNumKey)
          if (noBc) {
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          }
          // The pinned bases match the CHILD's shuffle granularity
          // (initialPartitionNum=256): lz4 shuffle blocks compress worse
          // at 8× smaller block size, and measured on identical 1× data
          // the 256-granularity session writes 7–13% more bytes (q107
          // 12.69→14.29 MB, q123 17.37→18.58 MB) — enough to push a
          // truly-linear exponent to 1.10–1.12 and trip the gate on
          // compression framing instead of plans.
          spark.conf.set(InitNumKey, "256")
          try {
            val samples = (1 to maxRuns).flatMap { i =>
              // second run only if the budget still has fork + margin room
              if (i > 1 && remaining < MinForkSecs + FinalMargin + 60) None
              else {
                val b0 = shuffle.bytes.get()
                val t0 = System.nanoTime()
                val ok = runOne(n, sfDir)
                val dt = (System.nanoTime() - t0) / 1e9
                if (ok) Some((dt, shuffle.bytes.get() - b0)) else None
              }
            }
            if (samples.isEmpty) None
            else Some((samples.map(_._1).min, samples.map(_._2).min))
          } finally {
            def restore(key: String, v: Option[String]): Unit = v match {
              case Some(x) => spark.conf.set(key, x)
              case None => spark.conf.unset(key)
            }
            restore("spark.sql.autoBroadcastJoinThreshold", prevBc)
            restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevABc)
            restore(InitNumKey, prevInit)
          }
        }
        // the hash pin stays up through the nbBases loop below: q174's
        // sharded kernel is in NoBroadcastBase and its 1× base must be
        // measured under the same lcp path the child pins at every
        // tier (the only other adjacentLcp caller there is q138,
        // handled here); cleared after the loop.
        System.setProperty("graft.lcp.path", "hash")
        // r18: the SA build's adaptive dispatch takes the single-task
        // path at sf0.1 while every rehearsal tier pins distributed —
        // re-measure q137's 1× base under the same pin (the q138
        // precedent) so its exponent compares one algorithm. Runs
        // BEFORE q138's pinned walk so the distributed rebuild lands
        // on q137's base and the walk base rides its cache, exactly
        // the tier-stage order.
        System.setProperty("graft.sa.path", "distributed")
        val q137Pinned: Option[(Double, Long)] =
          if (remaining < MinForkSecs + FinalMargin + 90) {
            pinnedSkipped += "q137_suffix_array"; None
          } else pinnedRuns("q137_suffix_array", noBc = false, maxRuns = 1)
        val q138Pinned: Option[(Double, Long)] =
          if (remaining < MinForkSecs + FinalMargin + 60) {
            pinnedSkipped += "q138_longest_dup_substring"; None
          } else pinnedRuns("q138_longest_dup_substring", noBc = false, maxRuns = 1)
        // Like-for-like 1× bases for the data-scaled-broadcast class
        // (ScaleRehearsal.NoBroadcastBase): re-measure each with
        // broadcast joins disabled — the join strategy every scaled
        // tier (and any real 100 TB run) uses — so the child's
        // exponent compares the same algorithm at both tiers. The
        // headline numbers above stay unpinned.
        val nbBases: Map[String, (Double, Long)] =
          ScaleRehearsal.NoBroadcastBase.iterator
            .filter(n => headline.contains(n) && !failed.contains(n))
            .flatMap { n =>
              if (remaining < MinForkSecs + FinalMargin + 30) {
                pinnedSkipped += n; None
              } else pinnedRuns(n, noBc = true,
                // two-run min exists because the 1.1 gate sits within
                // single-run bytes variance for SMALL queries; q174's
                // fresh 4-shard kernel is ~40 s/run with 300 MB of
                // writes — variance is relatively tiny and a second
                // run costs real slot
                maxRuns = if (n == "q174_sharded_dedup_cut") 1 else 2) match {
                case Some(r) => Some(n -> r)
                case None =>
                  System.err.println(s"[bench] WARNING: no-broadcast base " +
                    s"re-measurement FAILED for $n — query will be " +
                    "gate_not_evaluated, not gated against the unpinned base")
                  nbBaseFailed += n
                  None
              }
            }.toMap
        System.clearProperty("graft.lcp.path")
        System.clearProperty("graft.sa.path")
        // 1× bases for the child: headline min-of-3 secs + min bytes;
        // q138 overridden by the lcp-path pin, NoBroadcastBase queries
        // by the no-broadcast pin. A query whose pinned base failed or
        // was budget-skipped gets -1/-1 — the child maps that to
        // gate_not_evaluated rather than a silent cross-plan exponent.
        val baseLines = results.map {
          case ("q137_suffix_array", _, _) =>
            val (s, b) = q137Pinned.getOrElse((-1.0, -1L))
            s"q137_suffix_array\t$s\t$b"
          case ("q138_longest_dup_substring", _, _) =>
            val (s, b) = q138Pinned.getOrElse((-1.0, -1L))
            s"q138_longest_dup_substring\t$s\t$b"
          case (n, _, _) if nbBases.contains(n) =>
            s"$n\t${nbBases(n)._1}\t${nbBases(n)._2}"
          case (n, _, _) if ScaleRehearsal.NoBroadcastBase.contains(n) =>
            s"$n\t-1\t-1" // pinned base missing: never gate cross-plan
          case (n, t, b) => s"$n\t$t\t$b"
        }
        val pinnedExtra = Seq(
          "pinned_base_skipped" -> pinnedSkipped.distinct
            .map("\"" + _ + "\"").mkString("[", ",", "]"),
          "nobroadcast_base_failed" -> nbBaseFailed
            .map("\"" + _ + "\"").mkString("[", ",", "]"))
        writeArtifacts("pinned_bases", pinnedExtra, "null")

        val baseFile = "scale_rehearsal_base.tsv"
        val outFile = "scale_rehearsal_out.json"
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outFile))
        java.nio.file.Files.write(java.nio.file.Paths.get(baseFile),
          (baseLines.mkString("\n") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // Child budgets from the governor's remaining wall, not fixed
        // defaults (r14: fixed 700+1500+1200 s on top of the headline
        // loop overflowed the slot → rc=124). Overhead covers child JVM
        // start + sf0.001 warmup + ScaleData.ensure on existing data;
        // tier-10 gets its measured need (~1100 s incl tie-breaks)
        // capped by what's left; decade-2 gets the rest. Explicit env
        // overrides still win (round-tooling full-budget runs).
        // reserve the core-scaling probe's slice BEFORE the main fork
        // (the fork consumes its whole budget whenever decade-2 has
        // work, which is always on a full run — without the reserve
        // the probe would be structurally budget-starved). The probe
        // is a luxury next to the byte gates: it only takes its slice
        // from wall the rehearsal fork would have ABOVE a 1800 s
        // floor, so a tight driver slot gives the gates everything
        // and records the probe as skipped_budget.
        val probeReserve =
          if (sys.env.getOrElse("SPARK_GRAFT_CORE_PROBE", "1") == "1")
            math.min(420.0, math.max(0.0, remaining - FinalMargin - 1800.0))
          else 0.0
        val forkBudget = remaining - FinalMargin - probeReserve
        val childOverhead = 250.0
        // 0.50 split since r16 (was 0.45): tier-10 gained q174 (~220 s
        // cold single), and a tier-10 budget-out costs MORE than a
        // decade-2 one — the tier-10 sample is also the member's
        // decade-2 base, while skipped decade-2 members carry
        // committed evidence inline (evidence_prior)
        val budget10 = sys.env.get("SPARK_GRAFT_REHEARSAL_BUDGET")
          .map(_.toDouble)
          .getOrElse(math.min(1600.0, math.max(300.0, (forkBudget - childOverhead) * 0.50)))
        val budget100 = sys.env.get("SPARK_GRAFT_DECADE2_BUDGET")
          .map(_.toDouble)
          .getOrElse(math.max(0.0, forkBudget - childOverhead - budget10))
        val forked = ScaleRehearsal.fork(sfDir, baseFile, outFile,
          timeoutSecs = math.max(60, forkBudget.toLong),
          childEnv = Map(
            "SPARK_GRAFT_REHEARSAL_BUDGET" -> budget10.toLong.toString,
            "SPARK_GRAFT_DECADE2_BUDGET" -> budget100.toLong.toString))
        if (!forked) {
          // fallback: same protocol in-process, but on a FRESH session
          // (stop the headline session first — its block-manager state
          // is exactly what the fork isolates against)
          System.err.println("[bench] rehearsal fork unavailable; " +
            "running in-process on a fresh SparkSession")
          spark.stop()
          val spark2 = SparkSession.builder()
            .master(s"local[$cpus]")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
          spark2.sparkContext.setLogLevel("WARN")
          try ScaleRehearsal.runAll(spark2, sfDir, baseFile, outFile,
            freshJvm = false, budget10Override = Some(budget10),
            budget100Override = Some(budget100))
          finally spark2.stop()
        }
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(outFile)),
          java.nio.charset.StandardCharsets.UTF_8).trim
        // compact-line exponents: the tier10 exponent map (first
        // "exponent" object in the child JSON)
        val exps = "\"exponent\":(\\{[^}]*\\})".r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse("null")
        // the deterministic shuffle-bytes gate (r13 verdict #8): union
        // of every tier's failures — non-empty means a plan got
        // superlinear in BYTES, which no amount of wall-clock noise can
        // explain away. Carried on the compact line AND shouted to
        // stderr so the regression cannot land silently.
        val gateFails = "\"bytes_gate_failures\":(\\[[^\\]]*\\])".r
          .findAllMatchIn(json).map(_.group(1)).toSeq
        val failing = gateFails.flatMap(
          "\"([^\"]+)\"".r.findAllMatchIn(_).map(_.group(1))).distinct
        if (failing.nonEmpty)
          System.err.println("[bench] BYTES-EXPONENT GATE FAILED (exp > " +
            s"${ScaleRehearsal.BytesGateMax}): ${failing.mkString(", ")}")
        // queries the gate never evaluated (r14 ADVICE #1): the child
        // publishes the union list; shout it so an ungated query can't
        // read as a pass
        val notEval = "\"gate_not_evaluated\":(\\[[^\\]]*\\])".r
          .findFirstMatchIn(json).map(_.group(1)).getOrElse("[]")
        val notEvalNames = "\"([^\"]+)\"".r.findAllMatchIn(notEval)
          .map(_.group(1)).toSeq
        if (notEvalNames.nonEmpty)
          System.err.println("[bench] BYTES GATE NOT EVALUATED for: " +
            notEvalNames.mkString(", "))
        val gate = failing.map("\"" + _ + "\"").mkString("[", ",", "]")
        (json, exps, gate, notEval)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale rehearsal failed: ${e.getMessage}")
        System.clearProperty("graft.lcp.path")
        System.clearProperty("graft.sa.path")
        ("null", "null", "null", "[]")
      }
    }
    val (rehearsalJson, rehearsalExps, rehearsalBytesGate, rehearsalNotEval) =
      compactFallback

    // ---- core-scaling probe at the 10× tier (r18 verdict item 2) ----
    // The driver's 8-vs-32-CPU comparison runs at sf0.1, where nearly
    // every query is per-stage-scheduling-bound — structurally unable
    // to show core scaling (r18's all-0.93–1.13 ratios). Real evidence
    // needs data-bound work: re-run three data-bound queries at the 10×
    // tier in a FRESH 8-CPU child (same pins, same fixed
    // shuffle.partitions — only the core count differs from the main
    // rehearsal's tier-10 samples) and publish both sides plus the
    // wall ratio. Budget-guarded and additive: skipping it changes
    // nothing else in the artifact.
    val coreProbeJson: String = {
      val probeQs = Seq("q24_ngram_jaccard", "q121_containment_dedup",
        "q127_dup_substring_cut")
      val MinProbeSecs = 300.0
      def tier10Queries(json: String): Map[String, Double] =
        "\"tier10\":\\{\"queries\":(\\{[^{}]*\\})".r
          .findFirstMatchIn(json).map(_.group(1)) match {
          case Some(m) =>
            "\"([^\"]+)\":([-0-9.eE]+)".r.findAllMatchIn(m)
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
          case None => Map.empty
        }
      val ref = tier10Queries(rehearsalJson)
        .filter { case (k, v) => probeQs.contains(k) && v > 0 }
      if (sys.env.getOrElse("SPARK_GRAFT_CORE_PROBE", "1") != "1" ||
          ref.isEmpty) "null"
      else if (remaining < MinProbeSecs + FinalMargin) {
        System.err.println(f"[bench] BUDGET: skipping core-scaling probe " +
          f"(remaining $remaining%.0f s < ${MinProbeSecs + FinalMargin}%.0f)")
        "\"skipped_budget\""
      } else try {
        val probeOut = "scale_rehearsal_core_probe.json"
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(probeOut))
        val probeBudget = math.min(900.0, remaining - FinalMargin - 30.0)
        val okFork = ScaleRehearsal.fork(sfDir, "scale_rehearsal_base.tsv",
          probeOut, timeoutSecs = math.max(60, probeBudget.toLong),
          childEnv = Map(
            "SPARK_GRAFT_CPUS" -> "8",
            "SPARK_GRAFT_REHEARSAL_QUERIES" -> probeQs.mkString(","),
            "SPARK_GRAFT_REHEARSAL_BUDGET" ->
              math.max(60, (probeBudget - 150).toLong).toString,
            "SPARK_GRAFT_DECADE2_BUDGET" -> "0"),
          logFile = "scale_rehearsal_core_probe.log")
        if (!okFork) "\"fork_unavailable\""
        else {
          val probeJson = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(probeOut)),
            java.nio.charset.StandardCharsets.UTF_8)
          val c8 = tier10Queries(probeJson).filter(_._2 > 0)
          val entries = probeQs.filter(n => ref.contains(n) && c8.contains(n))
          if (entries.isEmpty) "\"probe_incomplete\""
          else {
            def m(vals: Map[String, Double]): String = entries
              .map(n => "\"" + n + "\":" + f"${vals(n)}%.3f")
              .mkString("{", ",", "}")
            val ratios = entries
              .map(n => "\"" + n + "\":" + f"${c8(n) / ref(n)}%.3f")
              .mkString("{", ",", "}")
            s"""{"tier":"10x","cpus_ref":$cpus,"cpus_probe":8,"secs_ref":${m(ref)},"secs_probe":${m(c8)},"wall_ratio_probe_over_ref":$ratios}"""
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] core-scaling probe failed: ${e.getMessage}")
        "\"probe_failed\""
      }
    }

    val line = writeArtifacts("final",
      Seq("core_scaling_10x" -> coreProbeJson), rehearsalJson)
    // stdout gets a COMPACT line that fits the driver's ~2 KB stdout
    // tail capture (the full line is >10 KB; every round's driver
    // artifact through r11 recorded `parsed: null` because only a
    // truncated suffix of it survived the capture). The compact form
    // keeps the driver contract — one JSON line with metric/value/
    // queries — carrying the 10 slowest queries plus the rehearsal
    // exponents; the complete per-query data still lands in
    // bench_out.json and the directly-written BENCH_r<N>.json.
    val topQ = passResults.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // n_queries counts the full queries map (r15 verdict #3: the
    // compact line said 172 while bench_out.json and CORRECTNESS held
    // 173 — passResults excludes the oracle tier, `results` doesn't)
    val compact =
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","oracle_tier_secs":$oracleTierSecs%.1f,"n_queries":${results.size},"queries":$topQ,"errors":$errs,"scale_exponent":$rehearsalExps,"bytes_gate_failures":$rehearsalBytesGate,"gate_not_evaluated":$rehearsalNotEval,"sf":"$sfDir","full":"bench_out.json"}"""
    println(compact)
    val _ = line
    spark.stop()
  }
}
