package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}
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
  *  - the full JSON artifact goes to `bench_out.json` (sf0.1 runs only,
  *    so a local sf0.01 run cannot replace the round artifact) and to
  *    `SPARK_GRAFT_BENCH_OUT` if set, so a caller parses a file
  *    instead of scraping sbt-prefixed stdout.
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
  * (`SPARK_GRAFT_BENCH_BUDGET`, default 3300 s, measured from main()
  * entry), degrades gracefully — the optional stages (pinned gate
  * bases, then the forked scale rehearsal, trimming its decade-2 tier
  * first via per-stage child budgets) shrink to the remaining time —
  * and every stage boundary re-writes bench_out.json AND, when
  * `SPARK_GRAFT_ROUND` names the round, BENCH_r<N>.json, so a kill at ANY point after the 3 headline passes
  * leaves a complete headline artifact on disk instead of
  * `parsed: null`. Whatever is skipped is recorded in the artifact
  * (`pinned_base_skipped`, `rehearsal_skipped_budget`), never silent.
  *
  * `main` runs four stages in order: the headline ([[headlineStage]]),
  * the pinned 1× gate bases ([[pinnedBasesStage]]), the forked
  * rehearsal ([[rehearsalStage]]), and the final artifact with the
  * compact stdout line ([[compactLine]]); [[Artifacts]] writes the
  * artifact at each boundary.
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

  /** One measured headline query: (name, secs, shuffle write bytes);
    * -1/-1 when it failed in any pass.
    */
  private[graft] type Sample = (String, Double, Long)

  /** The headline stage's outcome. `failed` names every query that
    * failed in any run; the cache-warm maps record, per sharded-family
    * member, whether its oracle-tier run rode a warm family cache.
    */
  private final case class Headline(passes: Seq[Seq[Sample]],
      passResults: Seq[Sample], oracleResults: Seq[Sample], failed: Seq[String],
      shardedCacheWarm: Seq[(String, Boolean)],
      winnowCacheWarm: Seq[(String, Boolean)]) {
    /** the headline minimums, then the oracle tier's single runs */
    val results: Seq[Sample] = passResults ++ oracleResults
    val total: Double = passResults.filter(_._2 >= 0).map(_._2).sum
    // reconciliation field (r16 verdict #6): the headline `total`
    // excludes the oracle tier by design, so an auditor summing the
    // queries map lands `oracle_tier_secs` above it — publish the
    // difference explicitly instead of making them read this file
    val oracleTierSecs: Double = oracleResults.filter(_._2 >= 0).map(_._2).sum
  }

  /** The pinned 1× gate bases that were measured (see
    * [[pinnedBasesStage]]), the queries the budget skipped and the
    * no-broadcast queries whose every pinned run failed.
    */
  private[graft] final case class PinnedBases(bases: Map[String, (Double, Long)],
      skipped: Seq[String], failed: Seq[String])

  /** The queries whose 1× base is re-measured under the rehearsal's
    * lcp/SA path pins, each with the budget reserve its run needs.
    */
  private val PathPinned: Seq[(String, Double)] = Seq(
    "q137_suffix_array" -> 90.0, "q138_longest_dup_substring" -> 60.0)

  /** The wall-clock governor: one total budget, measured from main() entry. */
  private final class Governor(val budget: Double) {
    private val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def remaining: Double = budget - elapsed
  }

  // Governor reserves: the fork needs at least this much to produce a
  // usable 10× tier; below it the rehearsal (and the pinned bases that
  // only exist to feed it) is skipped outright — explicitly recorded.
  private val MinForkSecs = 500.0
  private val FinalMargin = 90.0 // println + artifact write + spark.stop()
  private val BaseFile = "scale_rehearsal_base.tsv"

  def main(args: Array[String]): Unit = {
    // Total wall budget for the WHOLE bench (headline + pinned bases +
    // forked rehearsal), sized to the observed driver slot: r13's full
    // run passed at 3077 s TOTAL sbt wall (BENCH_r13.json's success
    // line), r14's drew rc=124 — so the slot is bounded below by
    // ~3100 s and the natural guess is 3600 s. This budget is measured
    // from main() entry, i.e. AFTER sbt launch + compile, so it must
    // leave room for that overhead inside the slot: 3300 s + warm
    // startup (~30 s) stays inside 3600 s, and even a cold compile
    // (~200 s) keeps the total at ~3530 s.
    val gov = new Governor(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "3300").toDouble)
    // machine-load sample at run start (r15 verdict #4): rides in the
    // artifact so a wall regression can be weighed against box
    // contention without a quiet-box rerun (r14's "suffix-family
    // regression" and r15's two-box 195 vs 172 s were both uniform
    // contention, diagnosable only by re-running)
    val loadAvgStart: String =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(' ').take(3).mkString(",")
      catch { case _: Exception => "" }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the round artifacts belong to the sf0.1 benchmark run: a local
    // sf0.01 iteration must not overwrite them
    val atBenchSf = sfDir.endsWith("sf0.1")
    val spark = Harness.session()

    // ---- stage 1: headline ----
    val h = headlineStage(spark, sfDir)
    val out = new Artifacts(h, sfDir, atBenchSf, gov)
    // per-query raw samples across the 3 passes (r15 verdict #4): min
    // is the reported number, but the SPREAD is what distinguishes a
    // real 10 % regression from a noisy box — contention inflates all
    // three samples uniformly; a plan regression moves the min.
    val rawJson = Harness.obj(h.passes.transpose.map { samples =>
      samples.head._1 -> samples.map(s => Harness.fixed(s._2, 3))
    }: _*)
    out.write("headline", Seq(
      "loadavg_start" -> loadAvgStart,
      "sharded_cut_cache_warm" -> Harness.obj(h.shardedCacheWarm: _*),
      "winnow_span_cache_warm" -> Harness.obj(h.winnowCacheWarm: _*),
      "queries_raw" -> rawJson), NullNode.instance)

    // ---- stages 2 and 3: pinned 1× gate bases, then the rehearsal fork ----
    // Opt out with SPARK_GRAFT_SCALE_REHEARSAL=0.
    val rehearse = sys.env.getOrElse("SPARK_GRAFT_SCALE_REHEARSAL", "1") == "1" &&
      atBenchSf
    val rehearsal: JsonNode =
      if (!rehearse) NullNode.instance
      else if (gov.remaining < MinForkSecs + FinalMargin) {
        System.err.println(f"[bench] BUDGET: skipping rehearsal entirely " +
          f"(remaining ${gov.remaining}%.0f s < ${MinForkSecs + FinalMargin}%.0f)")
        out.write("rehearsal_skipped_budget",
          Seq("rehearsal_skipped_budget" -> true), NullNode.instance)
        NullNode.instance
      } else rehearsalStage(spark, sfDir, h, out, gov)

    // ---- stage 4: final artifact and the compact stdout line ----
    val line = compactLine(h, rehearsal, sfDir, out.paths.headOption)
    out.write("final", Nil, rehearsal)
    println(Harness.json.writeValueAsString(line))
    spark.stop()
  }

  /** The headline: an untimed warmup, THREE timed passes (per-query
    * minimum), then the oracle tier's single runs.
    */
  private def headlineStage(spark: SparkSession, sfDir: String): Headline = {
    // A failed query must NEVER look like a fast success: Harness.run
    // reports failure, timed passes record -1 for any query that failed
    // in any pass, and the JSON carries an explicit errors key.
    val failed = scala.collection.mutable.LinkedHashSet[String]()

    // Untimed warmup: run every headline plan once at the smallest SF so
    // the timed passes measure the engine, not JIT + codegen compilation
    // (measured: q25 21.7s cold vs 2.6s warm on identical data).
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      headline.foreach(Harness.run(spark, _, warmupDir))

    def timeOne(name: String): Sample = {
      val r = Harness.run(spark, name, sfDir)
      if (!r.ok) failed += name
      (name, r.secs, r.writeBytes)
    }
    def timedPass(): Seq[Sample] =
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
      timeOne(name)
    }
    Headline(passes, passResults, oracleResults, failed.toSeq,
      shardedCacheWarm.toSeq, winnowCacheWarm.toSeq)
  }

  /** The incremental artifact writer, called at every stage boundary
    * from the headline on: the full headline map is durable the moment
    * the 3 passes finish, and each later stage only ever REPLACES the
    * artifact with a strictly richer one. A kill at any point after the
    * headline can no longer produce `parsed: null`.
    */
  private final class Artifacts(h: Headline, sfDir: String, atBenchSf: Boolean,
                                gov: Governor) {
    private val roundFile = roundArtifact(sys.env.get("SPARK_GRAFT_ROUND"), atBenchSf, Harness.cpus)
    val paths: Seq[String] =
      (if (atBenchSf) Seq("bench_out.json") else Nil) ++ sys.env.get("SPARK_GRAFT_BENCH_OUT")
    // stage → governor-elapsed at the stage's artifact write: the
    // budget-tuning evidence (how long each stage ACTUALLY costs in a
    // driver run) rides along in every artifact.
    private val stageElapsed = scala.collection.mutable.LinkedHashMap[String, Double]()
    // extras accumulate across stages: each artifact write REPLACES the
    // file, so a later stage must re-carry earlier stages' keys or the
    // final artifact silently loses them (pinned_base_skipped /
    // nobroadcast_base_failed were written at the pinned stage and
    // dropped by the final rewrite)
    private val stickyExtra = scala.collection.mutable.LinkedHashMap[String, Any]()

    def write(stage: String, newExtra: Seq[(String, Any)], rehearsal: JsonNode): Unit = {
      newExtra.foreach { case (k, v) => stickyExtra(k) = v }
      stageElapsed(stage) = gov.elapsed
      val line = Harness.obj(Seq(
        "metric" -> "total", "value" -> h.total, "unit" -> "sec",
        "oracle_tier_secs" -> h.oracleTierSecs, "stage" -> stage,
        "budget" -> gov.budget,
        "stage_elapsed" -> Harness.obj(stageElapsed.toSeq.map {
          case (k, v) => k -> Harness.fixed(v, 1) }: _*),
        "queries" -> Harness.obj(h.results.map(r => r._1 -> r._2): _*),
        "shuffle_bytes" -> Harness.obj(h.results.map(r => r._1 -> r._3): _*),
        "errors" -> h.failed,
        "oracle_tier" -> headline.filter(oracleTier)) ++ stickyExtra ++ Seq(
        "scale_rehearsal" -> rehearsal, "sf" -> sfDir): _*)
      paths.foreach { path =>
        try Harness.writeJson(path, line)
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
      // own overwrite carries the real rc).
      roundFile.foreach { case (n, file) =>
        try Harness.writeJson(file, Harness.obj(
          "n" -> n, "rc" -> None, "producer" -> "bench-self", "stage" -> stage,
          "cpus" -> Harness.cpus.toInt, "sf" -> 0.1, "tail" -> "(written by Bench.scala)",
          "parsed" -> line))
        catch { case e: Exception =>
          System.err.println(s"[bench] could not write $file: ${e.getMessage}")
        }
      }
    }
  }

  /** The round artifact's number and file name, BENCH_r<N>.json: only
    * when the round is named (`SPARK_GRAFT_ROUND`) and the run is at the
    * bench SF, so a local run never rewrites a committed round artifact.
    * A non-default CPU count writes a suffixed file (`_c8` at 8 CPUs),
    * so a scaling run cannot overwrite the 32-CPU artifact.
    */
  private[graft] def roundArtifact(round: Option[String], atBenchSf: Boolean,
                                   cpus: String): Option[(Int, String)] =
    round.filter(_ => atBenchSf).map(_.toInt).map { n =>
      val suffix = if (cpus == "32") "" else s"_c$cpus"
      n -> f"BENCH_r$n%02d$suffix%s.json"
    }

  /** The pinned 1× gate bases, measured in THIS session (budget-guarded).
    *
    * Like-for-like q138 exponent (round-11 verdict): the adaptive LCP
    * dispatch picks broadcast-descent at 1× and hash-walk at 10× (the
    * 10× corpus crosses the 256 MB boundary), so the naive exponent
    * compares two different algorithms. Pin the hash-walk path and
    * measure a fresh 1× base under the pin (the headline SA cache is
    * still warm, so this times the walk, not the build — matching the
    * scaled run, which rides q137's 10× build); the child keeps the
    * same pin. Pinned-base protocol (r14 ADVICE #2): gate bases get TWO
    * runs (min) when the budget allows — the 1.1 gate threshold sits
    * within single-run bytes variance for small queries — and a base
    * whose every run fails is recorded in `nobroadcast_base_failed` and
    * written as -1/-1 so the child lists the query as
    * gate_not_evaluated instead of silently gating it against the
    * unpinned (cross-plan) base.
    */
  private def pinnedBasesStage(spark: SparkSession, sfDir: String, h: Headline,
                               gov: Governor): PinnedBases = {
    val pinnedSkipped = scala.collection.mutable.ArrayBuffer[String]()
    val nbBaseFailed = scala.collection.mutable.ArrayBuffer[String]()
    // child-granularity (ScaleRehearsal.ChildGranularity) +
    // no-broadcast pinned measurement of one query
    def pinnedRuns(n: String, noBc: Boolean, maxRuns: Int): Option[(Double, Long)] =
      Harness.withConf(spark, (if (noBc) ScaleRehearsal.NoBroadcastPins else Nil) :+
          ScaleRehearsal.ChildGranularity: _*) {
        val samples = (1 to maxRuns).flatMap { i =>
          // second run only if the budget still has fork + margin room
          if (i > 1 && gov.remaining < MinForkSecs + FinalMargin + 60) None
          else Some(Harness.run(spark, n, sfDir)).filter(_.ok)
            .map(r => (r.secs, r.writeBytes))
        }
        if (samples.isEmpty) None
        else Some((samples.map(_._1).min, samples.map(_._2).min))
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
    try {
      val pathBases: Seq[(String, (Double, Long))] = PathPinned.flatMap {
        case (n, reserve) =>
          if (gov.remaining < MinForkSecs + FinalMargin + reserve) {
            pinnedSkipped += n; None
          } else pinnedRuns(n, noBc = false, maxRuns = 1).map(n -> _)
      }
      // Like-for-like 1× bases for the data-scaled-broadcast class
      // (ScaleRehearsal.NoBroadcastBase): re-measure each with
      // broadcast joins disabled — the join strategy every scaled
      // tier (and any real 100 TB run) uses — so the child's
      // exponent compares the same algorithm at both tiers. The
      // headline numbers stay unpinned.
      val nbBases: Map[String, (Double, Long)] =
        ScaleRehearsal.NoBroadcastBase.iterator
          .filter(n => headline.contains(n) && !h.failed.contains(n))
          .flatMap { n =>
            if (gov.remaining < MinForkSecs + FinalMargin + 30) {
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
      PinnedBases(pathBases.toMap ++ nbBases, pinnedSkipped.distinct.toSeq,
        nbBaseFailed.toSeq)
    } finally {
      System.clearProperty("graft.lcp.path")
      System.clearProperty("graft.sa.path")
    }
  }

  /** The rehearsal child's 1× bases, one `name<TAB>secs<TAB>bytes` line
    * per result: the headline min-of-3 secs and min bytes, except that
    * q137/q138 and the NoBroadcastBase queries take their pinned base.
    * A query whose pinned base failed or was budget-skipped gets -1/-1 —
    * the child maps that to gate_not_evaluated rather than a silent
    * cross-plan exponent.
    */
  private[graft] def baseLines(results: Seq[Sample], pinned: PinnedBases): Seq[String] =
    results.map { case (n, t, b) =>
      pinned.bases.get(n) match {
        case Some((s, w)) => s"$n\t$s\t$w"
        case None if PathPinned.exists(_._1 == n) ||
            ScaleRehearsal.NoBroadcastBase.contains(n) =>
          s"$n\t-1\t-1" // pinned base missing: never gate cross-plan
        case None => s"$n\t$t\t$b"
      }
    }

  /** The pinned bases, then the scale rehearsal in a forked child; the
    * child's artifact, or null when it left no readable artifact (each
    * case says so on stderr).
    *
    * Scale rehearsal (VERDICT r8 #5, re-architected r13 per VERDICT
    * r12 #1): the heaviest operators run at derived 10× and 100× tiers
    * (disjoint replicas — see ScaleData) in a DEDICATED FORKED JVM
    * (fresh heap, fresh SparkSession — no residual block-manager state
    * from the 172-query headline loop, which r12 showed can swing
    * identical plans 22–165 s), with symmetric multi-run sampling, raw
    * samples, and shuffle-byte exponents all published. See
    * ScaleRehearsal for the protocol.
    */
  private def rehearsalStage(spark: SparkSession, sfDir: String, h: Headline,
                             out: Artifacts, gov: Governor): JsonNode =
    try {
      val pinned = pinnedBasesStage(spark, sfDir, h, gov)
      out.write("pinned_bases", Seq(
        "pinned_base_skipped" -> pinned.skipped,
        "nobroadcast_base_failed" -> pinned.failed), NullNode.instance)

      val outFile = "scale_rehearsal_out.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(BaseFile),
        (baseLines(h.results, pinned).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // Child budgets from the governor's remaining wall, not fixed
      // defaults (r14: fixed 700+1500+1200 s on top of the headline
      // loop overflowed the slot → rc=124). Overhead covers child JVM
      // start + sf0.001 warmup + ScaleData.ensure on existing data;
      // tier-10 gets its measured need (~1100 s incl tie-breaks)
      // capped by what's left; decade-2 gets the rest. Explicit env
      // overrides still win (round-tooling full-budget runs).
      val forkBudget = gov.remaining - FinalMargin
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
      // The rehearsal child: a fresh JVM on the same classpath. 48g
      // default heap (box: 128 GiB; the idle parent holds 32g): the
      // 100× tier's SA build OOMed at 32g when identical 64-char start
      // keys landed in ONE range partition. That ceiling is since fixed
      // at the source (headRank range-partitions on (key, gid), so
      // equal keys split — see SuffixArray.rangeByKeyGid); the headroom
      // stays because the 100× tier's other sorts/joins are sized for
      // it. The child's output goes to its log file: this process's
      // stdout carries the one-line JSON contract and must stay clean.
      val forked = Harness.fork("graft.ScaleRehearsal", Seq(sfDir, BaseFile, outFile),
        new java.io.File(outFile),
        new java.io.File("scale_rehearsal_tmp").getAbsoluteFile,
        sys.env.getOrElse("SPARK_GRAFT_CHILD_MEM", "48g"),
        timeoutSecs = math.max(60, forkBudget.toLong),
        ProcessBuilder.Redirect.to(new java.io.File("scale_rehearsal_child.log")),
        env = Map(
          "SPARK_GRAFT_REHEARSAL_BUDGET" -> budget10.toLong.toString,
          "SPARK_GRAFT_DECADE2_BUDGET" -> budget100.toLong.toString))
      if (forked) Harness.readJson(outFile)
      else {
        System.err.println("[bench] scale rehearsal failed: the child " +
          s"wrote no $outFile (see scale_rehearsal_child.log)")
        NullNode.instance
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scale rehearsal failed: ${e.getMessage}")
      NullNode.instance
    }

  /** The stdout line, COMPACT to fit a ~2 KB stdout tail capture (the
    * full line is >10 KB; every round's captured artifact through r11
    * recorded `parsed: null` because only a truncated suffix of it
    * survived the capture). It keeps the one-line contract —
    * one JSON line with metric/value/queries — carrying the 10 slowest
    * queries plus the rehearsal exponents; the complete per-query data
    * lands in the artifact named by `full` and the directly-written
    * BENCH_r<N>.json.
    *
    * The deterministic shuffle-bytes gate (r13 verdict #8) rides on it:
    * the union of every tier's failures — non-empty means a plan got
    * superlinear in BYTES, which no amount of wall-clock noise can
    * explain away — and the queries the gate never evaluated (r14
    * ADVICE #1), both also shouted to stderr so neither can land
    * silently or read as a pass.
    */
  private def compactLine(h: Headline, rehearsal: JsonNode, sfDir: String,
                          full: Option[String]): ObjectNode = {
    def strings(arr: JsonNode): Seq[String] = arr.asScala.map(_.asText).toSeq
    val failing = Seq("tier10", "decade2")
      .flatMap(t => strings(rehearsal.path(t).path("bytes_gate_failures"))).distinct
    if (failing.nonEmpty)
      System.err.println("[bench] BYTES-EXPONENT GATE FAILED (exp > " +
        s"${ScaleRehearsal.BytesGateMax}): ${failing.mkString(", ")}")
    val notEval = strings(rehearsal.path("gate_not_evaluated"))
    if (notEval.nonEmpty)
      System.err.println("[bench] BYTES GATE NOT EVALUATED for: " +
        notEval.mkString(", "))
    val topQ = h.passResults.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _) => k -> Harness.fixed(v, 2) }
    // n_queries counts the full queries map (r15 verdict #3: the
    // compact line said 172 while bench_out.json and CORRECTNESS held
    // 173 — passResults excludes the oracle tier, `results` doesn't)
    Harness.obj(
      "metric" -> "total", "value" -> Harness.fixed(h.total, 1), "unit" -> "sec",
      "oracle_tier_secs" -> Harness.fixed(h.oracleTierSecs, 1),
      "n_queries" -> h.results.size, "queries" -> Harness.obj(topQ: _*),
      "errors" -> h.failed,
      // compact-line exponents: the child's tier10 exponent map
      "scale_exponent" -> rehearsal.path("tier10").path("exponent"),
      "bytes_gate_failures" -> (if (rehearsal.isObject) Some(failing) else None),
      "gate_not_evaluated" -> notEval,
      "sf" -> sfDir, "full" -> full)
  }
}
