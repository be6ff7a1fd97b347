package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Queries execute to a `noop` sink — `count()` would let Catalyst
  * prune projections and undercount the real work (e.g. a regex-clean
  * query "counts" without ever running the regex).
  *
  * Trust measures (the build box suffers documented 10-30× host CPU
  * contention, and it can arrive MID-RUN — a start-of-run gate alone
  * cannot be audited after the fact):
  *  - a single-thread calm-check gates the timed region and anchors
  *    `quietMs`, the box's quiet spin time;
  *  - EVERY query re-gates against `quietMs` (bounded wait) and
  *    records its own pre-run calibration spin + /proc/loadavg into
  *    the JSON (`"calib"` / `"load"` maps keyed like `"queries"`), so
  *    a contended timing is identifiable per-query after the fact;
  *  - the heavy block (q_dedup_groups onward — the long-running dedup
  *    /packing/embedding queries) re-gates with a longer budget and is
  *    timed best-of-3; the rest stay best-of-2;
  *  - a query that throws is reported in a "failures" list and the
  *    process exits nonzero — a crash must never *improve* the total.
  */
object Bench {

  /** Representative subset across the engine's surface: relational
    * agg/join/top-k, the text pipeline (split, stem chain, TF-IDF),
    * dedup (LSH), similarity, window/session analytics.
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_topk_orders",
    "q_top_words", "q_pipeline_tokens", "q_tfidf",
    "q_dedup_minhash", "q_ann_topk",
    "q_events_window", "q_sessions",
    // round-2 additions (new keys only — earlier keys stay comparable)
    "q_sessionize_op", "q_dedup_groups", "q_dedup_spans",
    "q_pack_sequences", "q_dedup_embedding",
    // round-6 additions: temporal/range/skew joins
    "q_asof_join", "q_range_join", "q_skew_join",
    // round-7 additions: curation operators (new keys only — earlier
    // keys stay comparable across rounds)
    "q_decontaminate", "q_repetition", "q_redact",
    "q_lm_score", "q_mix_sources", "q_select_quality",
    "q_dedup_incremental", "q_diversity_sample",
    "q_hard_negatives", "q_curriculum", "q_quarantine", "q_assign_ids",
    "q_dedup_keep", "q_token_budget", "q_stream_curate",
    "q_funnel", "q_cohort_retention",
    // round-8 additions: the relational surface that had no bench
    // coverage, plus the batch-curation composite front door
    "q_window_funcs", "q_setops", "q_cube_orders", "q_percentiles",
    "q_distinct_sketch", "q_curate",
    "q_grouping_sets", "q_range_frame", "q_full_outer",
    // late round-8 additions: semantic dedup, the z-order curve, and
    // bounded-memory frequent items
    "q_dedup_semantic", "q_zorder", "q_heavy_hitters", "q_quantize",
    "q_snapshot_diff", "q_pagerank", "q_agg_merge",
    "q_retrieval_metrics", "q_bloom_join",
    // session-3 additions: lexical retrieval, label propagation,
    // bigram perplexity filtering
    "q_bm25", "q_knn_classify", "q_bigram_score",
    "q_scd2", "q_dedup_sources", "q_mix_temperature",
    "q_stream_scd2", "q_collocations", "q_ewma",
    "q_quality_calibrated", "q_corpus_drift",
    "q_weighted_sample", "q_group_regression", "q_quantile_sketch",
    "q_dedup_keep_best",
    // round-9 additions: tokenizer training stats, repeated-CV fold
    // dealing, epoch shuffle, plot-data histogram
    "q_bpe_pairs", "q_cv_folds", "q_epoch_shuffle", "q_length_histogram",
    "q_ann_pq", "q_ann_ivfpq",
    // round-9 additions: exact NB classifier filtering, cross-modal
    // alignment, skew profiling, compaction planning
    "q_nb_classify", "q_nb_confusion", "q_modal_align",
    "q_key_skew", "q_compaction_plan",
    "q_dedup_containment", "q_tokenizer_fertility", "q_stream_classify",
    "q_apply_changes", "q_eval_allocation", "q_k_anonymity",
    "q_event_anomaly", "q_cohens_kappa", "q_source_overlap",
    "q_winsorize", "q_budget_select", "q_stream_anomaly",
    // round-9 additions: fuzzy matching, boilerplate strip, DSIR
    // selection, interval overlap, journey mining
    "q_fuzzy_join", "q_boilerplate", "q_dsir_weights",
    "q_interval_join", "q_session_paths",
    "q_triangles", "q_feature_mi", "q_rolling_features",
    // round-9 additions: label propagation, nucleus truncation, rank
    // normalization, attribution, debounce
    "q_label_prop", "q_top_p", "q_rank_normalize",
    "q_attribution", "q_debounce", "q_token_entropy",
    "q_stream_attribution", "q_join_delta", "q_skipgrams", "q_ab_test",
    "q_holt", "q_bootstrap_ci", "q_mann_whitney", "q_correlation",
    "q_gini", "q_lorenz", "q_confidence_bins", "q_stream_holt",
    "q_stream_ewma", "q_step_latency", "q_lexical_profile",
    "q_stream_debounce", "q_chi_square", "q_ks_test",
    // this round's additions: storage layout, positional/phrase IR,
    // intra-doc dedup, reshaping, graphs-over-text, sketches, robust
    // stats, streaming outer join
    "q_bucketed_join", "q_partitioned_scan", "q_phrase_search",
    "q_chunk_dedup", "q_unpivot", "q_mad", "q_keywords",
    "q_star_join", "q_cms_counts", "q_rolling_distinct",
    "q_reservoir", "q_robust_outliers", "q_stream_left_join",
    "q_clustering", "q_semantic_diversity", "q_stream_enrich",
    // this round's additions: inference stats, readability, skyline,
    // idf-weighted dedup
    "q_welch_t", "q_cramers_v", "q_spearman", "q_readability",
    "q_pareto", "q_dedup_weighted",
    "q_seasonality", "q_summarize", "q_stream_topk", "q_l_diversity",
    "q_zipf", "q_assortativity",
    "q_transitions", "q_join_cardinality", "q_label_noise",
    "q_heaps", "q_prf_expand",
    "q_entity_counts", "q_burstiness", "q_negative_sampling",
    "q_simpson", "q_lang_mix", "q_stream_transitions",
    "q_period_delta",
    // this round's additions: Kneser-Ney scoring, ANOVA, t-closeness,
    // graph core/reachability, trigram-index search, SAX motifs
    "q_kneser_ney", "q_anova", "q_t_closeness", "q_kcore",
    "q_bfs_hops", "q_trigram_search", "q_sax",
    "q_bpe_merge", "q_span_corruption", "q_length_buckets",
    "q_table_fingerprint", "q_stream_funnel",
    "q_minhash_calibration", "q_kendall", "q_percolate",
    "q_holt_winters", "q_stream_holt_winters", "q_rbo",
    "q_stream_fingerprint", "q_stream_percolate", "q_unicode_normalize",
    "q_theil_sen", "q_conformal", "q_neyman_alloc",
    "q_dbscan", "q_silhouette",
    "q_tpch_q3", "q_tpch_q5", "q_rfm", "q_funnel_steps",
    "q_assoc_rules",
    "q_survival", "q_hill_tail", "q_embedding_drift",
    "q_power_analysis", "q_dedup_threshold_sweep",
    "q_lsh_operating_point", "q_backtest",
    "q_link_prediction", "q_entity_clusters",
    "q_ann_filtered", "q_modality_budget",
    "q_sliced_accuracy", "q_mcnemar",
    "q_coreset", "q_ngram_novelty",
    "q_median_survival", "q_session_entropy",
    "q_source_anomaly", "q_interarrival",
    "q_funnel_rates", "q_coverage_gaps",
    "q_lang_purity", "q_dedup_savings", "q_lof",
    // round-10 additions: nonparametric inference (trend, effect
    // size, rank ANOVA)
    "q_mann_kendall", "q_cliffs_delta", "q_kruskal",
    // round-11 additions: the ICU-fidelity tokenizer mode, blocked
    // rank ANOVA, robust variance homogeneity
    "q_tokenize_icu", "q_friedman", "q_brown_forsythe", "q_jonckheere",
    "q_stream_mann_kendall", "q_page", "q_kendall_w", "q_cochran_q",
    "q_seasonal_mk", "q_sprt", "q_cuped", "q_stream_sprt",
    // round-12 additions: paired/dispersion/weighted-block rank
    // tests, FDR control, and the web-corpus URL layer
    "q_wilcoxon_signed", "q_ansari_bradley", "q_mood_median",
    "q_brunner_munzel", "q_quade", "q_hodges_lehmann",
    "q_stream_wilcoxon", "q_fdr_battery",
    "q_url_canonical", "q_domain_cap", "q_domain_share",
    "q_url_dedup", "q_cvm_test", "q_energy_test",
    "q_stream_energy", "q_krippendorff", "q_isotonic", "q_logrank",
    "q_kmv_setops", "q_format_roundtrip", "q_weighted_quantiles",
    "q_msprt", "q_stream_msprt", "q_psi", "q_stream_psi",
    "q_conover_posthoc", "q_friedman_posthoc", "q_icc",
    // round-13 additions: parametric post-hoc + sketch-free PSI bins,
    // then the whiteness/drift/survival completions
    "q_anova_posthoc", "q_psi_binned",
    "q_kuiper", "q_ad_test", "q_gtest",
    "q_ljung_box", "q_durbin_watson", "q_rmst",
    "q_cmh", "q_tpch_q6", "q_stream_gtest", "q_stream_cmh",
    "q_wasserstein", "q_bartlett", "q_wilson_ci", "q_pacf",
    "q_js_divergence", "q_dispersion", "q_lift_curve",
    "q_auc", "q_smd_balance", "q_stream_wasserstein",
    "q_stream_dispersion", "q_tpch_q14", "q_tpch_q18",
    "q_ann_matryoshka", "q_dickey_fuller", "q_granger",
    "q_stream_smd", "q_stuart_maxwell", "q_stream_dickey_fuller",
    "q_tpch_q17", "q_adf", "q_stream_adf",
    "q_tpch_q4", "q_tpch_q22",
    "q_tpch_q7", "q_tpch_q8", "q_tpch_q10", "q_tpch_q15", "q_tpch_q19",
    "q_tpch_q2", "q_tpch_q13", "q_tpch_q21",
    // round-17 additions: multi-merge BPE training (VERDICT r16 #4),
    // its applied-segmentation twin, and the leakage-safe split
    "q_bpe_train", "q_bpe_segment", "q_leakage_safe_split",
    // round-18 additions: persisted-merge BPE round-trip, the BPE
    // vocabulary artifact, and the incremental (pair-store-driven)
    // leakage-safe split
    "q_bpe_roundtrip", "q_bpe_vocab", "q_bpe_compression",
    "q_leakage_split_incremental", "q_dedup_group_sizes",
    // round-19 additions: the 12-merge twins riding the BATCHED
    // trainer (VERDICT r18 #1) and the native bpe_apply segmentation
    // kernel — deep enough that batch-safety or rank-frontier
    // regressions move these timings and their verify rows
    "q_bpe_train_deep", "q_bpe_segment_deep")

  /** At-scale WITNESS queries (VERDICT r16 #1, completed per r17 #2):
    * run once per bench, timed and reported under a separate
    * `witnesses` map EXCLUDED from the headline total — their claims
    * are oracle-checked COLUMNS (the CC round count, the dedup
    * candidate budget, the derived nlist), not wall-clock, and
    * q_cc_diameter_scale's deliberate 21-round worst-case chain was
    * 30% of the r16 total, masking every real regression ratio. As of
    * r18 ALL `*_scale` witnesses live here (r17 still carried the ANN
    * and dedup witnesses in the headline, where the dedup witness was
    * the single largest entry at 3.7%). The full-scale rows stay in
    * Verify/CORRECTNESS and the sf0.1 smoke — the witnesses are
    * unweakened; only the bench accounting moves.
    */
  val witnesses: Seq[String] = Seq(
    "q_cc_diameter_scale", "q_ann_ivf_scale", "q_dedup_minhash_scale")

  /** Fleet-level contention index (VERDICT r18 #2): the MEDIAN
    * per-query ratio of this run's times against the last committed
    * round's, over the common set. The r18 failure mode this closes:
    * the driver's final refresh drifted +5.6% across the whole common
    * set (flagship +47%) while `quiet_ms`/`post_spin` read calm — the
    * spin probe misses SUSTAINED host core-stealing, but the run's
    * own fleet ratio cannot. The median (not the sum-based
    * `common_set_ratio`) is robust to genuine single-query plan
    * changes and to a handful of big queries dominating the sum;
    * sustained contention moves every CPU-bound query, and therefore
    * the median. Queries under 0.5 s previous time are excluded as
    * timer noise unless fewer than five usable ratios remain.
    * Returns -1 when there is no usable common set (first round).
    */
  def contentionIndex(
      cur: Seq[(String, Double)],
      prev: Map[String, Double]): Double = {
    def ratios(floor: Double): Seq[Double] = cur.collect {
      case (k, v) if prev.getOrElse(k, 0.0) >= floor => v / prev(k)
    }.sorted
    val strong = ratios(0.5)
    val use = if (strong.size >= 5) strong else ratios(1e-9)
    if (use.isEmpty) -1.0
    else if (use.size % 2 == 1) use(use.size / 2)
    else (use(use.size / 2 - 1) + use(use.size / 2)) / 2.0
  }

  /** A run is CONTENDED when the fleet slowed past the band — its
    * flagship headline is refused by roundguard (correctness and the
    * oracle-checked witnesses are unaffected; wall-clock is the only
    * casualty of a stolen box). A fleet-wide SPEEDUP is not
    * contention — genuine optimization rounds land there.
    *
    * 1.05 (was 1.10, VERDICT r19 #1): the r19 run read index 1.088
    * with 16 drift retries and stamped itself calm while its flagship
    * came out 2.2× over the same driver's 8-core artifact — a ~9%-hot
    * fleet is already untrustworthy for the flagship headline. A
    * retry SPIKE (see [[RetrySpikeCount]]) independently stamps the
    * run: sustained contention forces many queries past the 1.4×
    * drift band even when the median survives under 1.05.
    */
  val ContendedBand = 1.05
  def isContended(idx: Double): Boolean = idx > ContendedBand

  /** Drift-retried queries at/above this count mark the run contended
    * regardless of the median index (r19: 16 retried vs 2 on the calm
    * r18 run — each retry means a query landed >1.4× its calm
    * baseline even after re-gating).
    */
  val RetrySpikeCount = 10

  /** The newest committed bench_full artifact that is NOT stamped
    * contended — the drift baseline (comparing against a contended
    * round would mask a second contended run as ratio ~1.0). Pre-r19
    * artifacts carry no stamp and are trusted as-is.
    */
  def calmBaselineFile(
      dir: java.io.File, prevRound: Int): Option[java.io.File] =
    (prevRound to 1 by -1).iterator
      .map(n => new java.io.File(dir, s"bench_full_r$n.json"))
      .find { f =>
        f.exists() && {
          val t = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          !t.contains("\"contended\":true")
        }
      }

  /** The long-running queries: minutes of wall under contention, so
    * these get the stricter calm re-gate, an extra repetition, AND
    * post-rep spin verification (a rep is only trusted when the box
    * was quiet both before and after it — contention arriving
    * MID-RUN is invisible to a pre-gate alone; the r10 artifact's
    * q_pipeline_tokens/q_dedup_minhash "regressions" on untouched
    * code were exactly that).
    */
  private val heavy: Set[String] = Set(
    "q_dedup_groups", "q_dedup_spans", "q_pack_sequences",
    "q_dedup_embedding", "q_curate",
    "q_pipeline_tokens", "q_dedup_minhash")
  // The *_scale witnesses are `witnesses` entries (see above): their
  // claims are oracle-checked columns (contention can't change them),
  // so each runs exactly ONCE and its wall time lands in the separate
  // witnesses map — load-gated or repeated ~40 s reps of deliberate
  // worst-case fixtures would buy artifact precision nothing consumes.

  /** Fixed single-thread spin (~0.2 s on a calm modern core); the
    * wall-time in ms is the contention gauge.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var i = 0L
    var x = 0L
    while (i < 400000000L) { x ^= i; i += 1 }
    if (x == 42L) print("") // keep the loop observable
    (System.nanoTime() - t0) / 1e6
  }

  /** Eight concurrent copies of the calibration spin, wall-clocked.
    * On an uncapped multicore box the wall ≈ the single-thread spin
    * (the copies ride free cores); under a host-level CPU cap —
    * which the single-thread spin CANNOT see — the wall inflates by
    * the capped parallelism factor. Motivating measurement (r11):
    * the flagship fit read 12.6 s isolated vs 29.7 s in-suite with
    * CLEAN single-thread bracket spins on both runs; only a parallel
    * probe distinguishes those after the fact, so flagship reps are
    * bracketed with this too and the values land in the artifact.
    */
  private def parallelCalibrate(threads: Int = 8): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        var i = 0L
        var x = 0L
        while (i < 400000000L) { x ^= i; i += 1 }
        if (x == 42L) print("")
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors —
    * deltas around a rep attribute wall-time variance to GC instead of
    * leaving it a coin flip (VERDICT r15 #2: the flagship fit stage
    * read 6.3 → 10.7 s on untouched code with clean bracket spins).
    */
  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  }

  /** First field of /proc/loadavg (1-min load), or -1 off-Linux. */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Re-measure the spin until two consecutive runs sit within 25% of
    * the best seen (the box stopped improving ⇒ likely quiet), up to
    * `maxWaitSec`. Returns the final calibration in ms.
    */
  private def calmCheck(maxWaitSec: Int): Double = {
    var best = calibrate()
    var last = best
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var ok = false
    while (!ok && System.nanoTime() < deadline) {
      val c = calibrate()
      best = math.min(best, c)
      ok = c < best * 1.25 && last < best * 1.25
      last = c
      if (!ok) Thread.sleep(5000)
    }
    last
  }

  /** ~60k synthetic profiles matching the reference corpus's PUBLISHED
    * shape (BASELINE.md anchors, out.txt:1), not just its row count:
    *
    *  - vocabulary is a two-regime mixture — a bounded-Zipf (s=1.1)
    *    core of 11,500 stems that survives the (25,35) dfm_trim, plus
    *    a 130k-word rare tail (10% of tokens, ~7 occurrences each)
    *    that inflates the RAW vocabulary but never clears the trim.
    *    Calibrated by simulation to the anchors: raw ≈153,385 features
    *    (−0.3%), trimmed ≈12,857 (−3.7%) — real corpora show the
    *    same two-regime Zipf break, which is WHY a single power law
    *    cannot reproduce the published raw:trimmed ratio of 11.9 (a
    *    pure Zipf pins distinct:trimmed near 25 at any exponent);
    *  - class balance is the reference's f 0.40 / m 0.60 (out.txt
    *    class-balance anchor), not 50/50;
    *  - every 20th word of an 'f' doc is flipped to a mirrored word id
    *    (class-exclusive mid-frequency terms) so the tree has real but
    *    imperfect signal;
    *  - ~3% of docs have an empty essay0 (the real corpus has empty
    *    essays; exercises the ""-token quirk path at bench scale).
    *
    * Deterministic (xxhash64 of the row id), generated distributed by
    * native expressions — no driver data. The trimmed DFM is now the
    * reference's actual 59,946 × ~12.9k training shape, making the
    * rpart-baseline comparison apples-to-apples.
    */
  def syntheticProfiles(spark: SparkSession, n: Long): DataFrame = {
    val coreV = 12000L // Zipf core: survives the (25,35) trim
    val tailV = 131000L // rare tail: raw-vocab mass below the trim
    val pTail = 0.1
    val s = 1.1 // core Zipf exponent
    val wordsPerDoc = 160
    // f 0.40 / m 0.60, deterministic per row
    val isF = pmod(xxhash64(col("id")), lit(5)) < 2
    val emptyDoc = pmod(xxhash64(col("id"), lit(999)), lit(100)) < 3
    val essay = array_join(
      transform(sequence(lit(1), lit(wordsPerDoc)), i => {
        // 1e9 granularity: at 1e-6 the tail inverse-CDF could reach
        // only 100k distinct ids (floor(k·1.3) over 100k lattice
        // points) and the raw vocabulary fell 20% short of its anchor
        val u = pmod(xxhash64(col("id"), i), lit(1000000000L))
          .cast("double") / lit(1e9)
        // tail branch: uniform over tailV ids above the core
        val tailId = lit(coreV) + lit(1L) +
          floor(u / lit(pTail) * lit(tailV)).cast("long")
        // core branch: bounded-Zipf rank via the continuous inverse
        // CDF x = (1 − t·(1 − V^(1−s)))^(1/(1−s)), t ∈ (0,1)
        val t = (u - lit(pTail)) / lit(1.0 - pTail)
        val x = pow(
          lit(1.0) - t * lit(1.0 - math.pow(coreV.toDouble, 1.0 - s)),
          lit(1.0 / (1.0 - s)))
        val coreId = least(floor(x).cast("long"), lit(coreV))
        // class signal: every 10th CORE word of an f doc mirrors into
        // a class-exclusive id space (stays above the trim thresholds
        // because mirrored ids inherit the head ranks' draw frequency)
        val mirrored = lit(coreV + tailV) + (lit(coreV) + 1L - coreId)
        val id = when(u < pTail, tailId)
          .when(isF && pmod(i, lit(20)) === 0, mirrored)
          .otherwise(coreId)
        concat(lit("w"), id.cast("string"))
      }), " ")
    spark.range(n).select(
      Seq(when(isF, "f").otherwise("m").as("sex"),
        when(emptyDoc, "").otherwise(essay).as("essay0")) ++
        (1 to 9).map(j => lit("").as(s"essay$j")): _*)
  }

  /** The flagship comparison: the reference's only published timing is
    * 27-30 min single-threaded rpart training on the 59,946-doc DFM
    * (reference README:14, out.txt:1; BASELINE.md). Same shape here:
    * feature pipeline fit + transform, stratified 70/30, tree grown to
    * depth 8 then cp=0.02 weakest-link pruned (rpart's own capacity
    * control), confusion matrix — end-to-end, distributed, sparse.
    */
  private var vocabPrinted = false

  /** One-time corpus-shape report against the BASELINE.md anchors
    * (raw 153,385 / trimmed 12,857): raw vocabulary and (25,35)-trim
    * survivors of the synthetic corpus. Synthetic word ids pass the
    * token chain unchanged, so the space-split DFM equals the
    * pipeline's. Runs outside the timed region.
    */
  private def printVocabShape(profiles: DataFrame): Unit = {
    import org.apache.spark.sql.Row
    val Row(raw: Long, trimmed: Long) = profiles
      .select(monotonically_increasing_id().as("d"), col("essay0"))
      .select(col("d"), explode(split(col("essay0"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(countDistinct(col("d")).as("df"), count(lit(1)).as("tf"))
      .agg(count(lit(1)),
        sum(when(col("df") >= 25 && col("tf") >= 35, 1L).otherwise(0L)))
      .head()
    System.err.println(
      s"[bench] corpus raw_vocab=$raw trimmed_vocab=$trimmed " +
        "(anchors 153385 / 12857)")
  }

  /** Returns (total seconds, per-stage seconds, accuracy) — the
    * stage split (featurize / fit / prune_eval) makes a tree-time
    * regression attributable instead of a coin flip on one
    * ~85%-of-wall number, and the accuracy rides into the bench JSON
    * as an artifact instead of a log line.
    */
  private def benchOkCupidTree(
      spark: SparkSession,
      rows: Long = 59946L): (Double, Seq[(String, Double)], Double) = {
    val profiles = syntheticProfiles(spark, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      profiles.count() // materialize the corpus outside the timed region
      if (!vocabPrinted) { vocabPrinted = true; printVocabShape(profiles) }
      val t0 = System.nanoTime()
      val (confusion, acc, stages) =
        OkCupidPipeline.trainAndEvaluateTimed(profiles)
      confusion.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] q_okcupid_tree accuracy=$acc%.4f")
      (sec, stages, acc)
    } finally profiles.unpersist()
  }

  def main(args: Array[String]): Unit = {
    // Optional args: query names to run (subset of `headline` plus
    // "q_okcupid_tree") — iteration aid; the driver passes none.
    val wanted: Option[Set[String]] =
      if (args.isEmpty) None else Some(args.toSet)
    def selected(name: String): Boolean = wanted.forall(_.contains(name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timed region
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    val calibMs = calmCheck(maxWaitSec = 120)
    // Quiet anchor for per-query re-gates: the best spin seen at gate
    // time. If later spins exceed it by 40%+ the box got noisy again.
    var quietMs = calibMs

    var failures = List.empty[String]
    var perCalib = Vector.empty[(String, Double)]
    var perLoad = Vector.empty[(String, Double)]
    // post-rep calibration spins for the strictly-gated queries —
    // contention arriving DURING a rep shows up here, per attempt
    var perPost = Vector.empty[(String, Double)]
    // VERDICT r16 #2: the bench consumes its own contention
    // telemetry. Previous committed round's per-query times (from
    // bench_full_r{N-1}.json — N-1 = the highest committed
    // BENCH_r*.json): any query landing over 1.4× its previous value
    // earns re-gated retries, stamped per query in `retried`.
    val prevTimes: Map[String, Double] =
      try {
        val dir = new java.io.File(".")
        val pat = "BENCH_r(\\d+)\\.json".r
        val prevRound = Option(dir.list()).getOrElse(Array.empty[String])
          .collect { case pat(n) => n.toInt }
          .foldLeft(0)(math.max)
        // Baseline = the newest CALM committed artifact (VERDICT r18
        // #2 follow-through): comparing against a round that was
        // itself contended masks sustained contention — a second
        // slammed run would read ratio ~1.0 against the first.
        val f = calmBaselineFile(dir, prevRound)
          .getOrElse(new java.io.File(s"bench_full_r$prevRound.json"))
        if (prevRound == 0 || !f.exists()) Map.empty
        else {
          System.err.println(s"[bench] drift baseline: ${f.getName}")
          val txt = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          val qObj = "\"queries\":\\{([^}]*)\\}".r
            .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          val parsed = "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(qObj)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          // ADVICE r17: an empty parse of an EXISTING file means the
          // format drifted out from under the regex — that silently
          // disables drift retries and common_set_ratio, so say so
          // loudly instead of leaving only the exception path noisy.
          if (parsed.isEmpty) System.err.println(
            s"[bench] WARNING: ${f.getName} exists but the queries " +
              "map parsed EMPTY - bench_full format drift? drift " +
              "retries and common_set_ratio are disabled this run")
          parsed
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prev-round times unavailable: $e")
        Map.empty
      }
    var perRetried = Vector.empty[(String, Double)]
    // per-stage seconds + per-rep bracket spins of q_okcupid_tree
    var treeStages = Seq.empty[(String, Double)]
    // accuracy of the best flagship rep — an artifact, not a log line
    var treeAccuracy = -1.0

    /** Per-query calm re-gate: spin once; while contended (>1.4× the
      * quiet anchor) sleep-and-respin up to `maxWaitSec`. Returns the
      * last spin — recorded in the JSON so a timing taken under
      * contention is self-incriminating rather than silent.
      */
    def gate(maxWaitSec: Int): Double = {
      var c = calibrate()
      quietMs = math.min(quietMs, c)
      val deadline = System.nanoTime() + maxWaitSec * 1000000000L
      while (c > quietMs * 1.4 && System.nanoTime() < deadline) {
        Thread.sleep(5000)
        c = calibrate()
        quietMs = math.min(quietMs, c)
      }
      c
    }

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Operators persist multi-consumer intermediates (shingles, LSH
    // buckets, CC labels); drop them between queries so a query's
    // leftover cache can't starve — or subsidize — the next timing.
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      System.gc()
    }

    // Deep clean between query families: with 200+ queries in one
    // JVM, heap and ContextCleaner backlog accumulate and the r09
    // run showed +38% drift on the shared query set. A double GC
    // with a drain pause lets the ContextCleaner actually release
    // broadcast blocks before the next family is timed.
    var sinceDeepClean = 0
    def maybeDeepClean(): Unit = {
      sinceDeepClean += 1
      if (sinceDeepClean >= 25) {
        sinceDeepClean = 0
        clearCaches()
        Thread.sleep(500)
        System.gc()
      }
    }

    /** Best-of-`reps` timing. For the `heavy` set the reps are also
      * POST-verified: a calibration spin after each rep detects
      * contention that arrived mid-run (invisible to the pre-gate),
      * and when no rep was clean the query earns up to two re-gated
      * retries. The minimum over ALL attempts is still the reported
      * time — contention only ever inflates a rep, so extra attempts
      * can only improve the floor — and every post-spin is recorded
      * in the JSON, making a contended timing self-incriminating.
      */
    def bestOf(name: String, reps: Int, gateSec: Int): Option[Double] =
      try {
        val strict = heavy(name)
        // heavy queries also get the flagship's LOAD refusal (≤ 1.0
        // on this 32-cpu box, bounded wait): the r14 "+1-2.5 s on 22
        // untouched queries" drift was pure co-tenancy the spin gate
        // alone passed. Applied PER REP, not just rep 1 (ADVICE r15:
        // a first-rep-only gate let later reps start hot with no
        // record or refusal), and EVERY rep's start load is recorded
        // (rep 1 under the plain query key for artifact continuity,
        // later reps as name_rK) so consumers can filter hot reps.
        def loadGate(): Double = {
          var l = loadAvg()
          if (strict) {
            val deadline = System.nanoTime() + gateSec * 1000000000L
            while (l > 1.0 && l >= 0.0 && System.nanoTime() < deadline) {
              Thread.sleep(5000)
              l = loadAvg()
            }
          }
          l
        }
        perCalib :+= (name -> gate(gateSec))
        var best = Double.MaxValue
        var clean = 0
        var attempts = 0
        while (attempts < reps ||
            (strict && clean == 0 && attempts < reps + 2)) {
          if (attempts >= reps) gate(gateSec) // retry path: re-quiet first
          val repLoad = loadGate()
          perLoad :+= ((if (attempts == 0) name
            else s"${name}_r${attempts + 1}") -> repLoad)
          val t = runOnce(name); clearCaches()
          attempts += 1
          if (strict) {
            val post = calibrate()
            quietMs = math.min(quietMs, post)
            perPost :+= (s"${name}_r$attempts" -> post)
            // a rep is clean only if it ENDED quiet and STARTED cool
            // -1 off-Linux sentinel passes <= 1.0 (no gating there)
            if (post <= quietMs * 1.4 && repLoad <= 1.0)
              clean += 1
          }
          best = math.min(best, t)
        }
        // drift retry (VERDICT r16 #2): a query landing over 1.4× its
        // previous committed round's time — on a floor of 0.5 s so
        // sub-second noise can't churn — gets up to two re-gated
        // retries; the min over ALL attempts is still reported
        // (contention only ever inflates), and the retry count is
        // stamped into the artifact so a drift that SURVIVES retries
        // reads as real, not as an ungated hot rep.
        // witnesses are exempt: their claim is an oracle-checked
        // column, so re-running a deliberate worst-case to chase a
        // wall-clock drift nothing consumes would only burn minutes
        var driftRetries = 0
        while (!witnesses.contains(name) && prevTimes.get(name).exists(p =>
            best > p * 1.4 && best - p > 0.5) && driftRetries < 2) {
          gate(gateSec)
          val t = runOnce(name); clearCaches()
          driftRetries += 1
          best = math.min(best, t)
        }
        if (driftRetries > 0) perRetried :+= (name -> driftRetries.toDouble)
        maybeDeepClean()
        Some(best)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failures ::= name
          clearCaches()
          None
      }

    // The flagship runs FIRST: it is the one number compared against
    // BASELINE.md's 27-min anchor, and measuring it on a heap that
    // just survived 200+ queries conflates JVM aging with the
    // algorithm (the r09 3.4x "regression" was exactly that).
    val treeResult: Seq[(String, Option[Double])] =
      if (!selected("q_okcupid_tree")) Nil
      else Seq("q_okcupid_tree" -> (
        try {
          // The flagship is the ONE number compared against
          // BASELINE.md, and its recorded value whipsawed 12 → 41 →
          // 153 s across rounds while judge-isolated re-runs measured
          // ~55 s: contention arriving DURING a 1-2 min rep is
          // invisible to a pre-gate alone. So every rep is BRACKETED
          // by calibration spins — a rep is trusted only when both
          // surrounding spins sit within 1.4× the quiet anchor — and
          // reps repeat (bounded at 5) until two are trusted. The
          // reported time is the minimum over ALL reps (contention
          // only ever inflates a rep), and each rep's wall + bracket
          // spins land in tree_stages, so a contended artifact is
          // self-incriminating instead of silently wrong.
          perLoad :+= ("q_okcupid_tree" -> loadAvg())
          // (wall, preSpin, postSpin, parPre, parPost, load, stages,
          //  acc, gcMs)
          var reps = Vector.empty[(Double, Double, Double, Double,
            Double, Double, Seq[(String, Double)], Double, Double)]
          var parQuiet = Double.MaxValue
          parallelCalibrate() // JIT-warm the probe: its first run
          // measures compilation of the thread lambda, not the box
          // BENCH_r12 proved the spin/par probes alone pass
          // contaminated reps (rep2: spins within 1.09x of quiet,
          // fit 8x distorted — partial multi-core contention starves
          // a 30-way stage but leaves 1-8 spare cores for the
          // probes). /proc/loadavg DOES see it: the r12 artifact
          // recorded 1-min load 4.2 at the flagship. So each rep is
          // additionally REFUSED at start while load > 1.0 on this
          // 32-cpu box (bounded wait, refusals recorded), and a rep
          // that still started hot is never trusted. r14 tightened
          // nothing and 22 untouched queries drifted +1-2.5 s under
          // load 3.5-5.7; 1.0 ≈ 0.03 × cpus is the judge-prescribed
          // ceiling for a trustworthy flagship rep.
          var loadRefusals = 0.0
          def loadGate(maxWaitSec: Int): Double = {
            var l = loadAvg()
            val deadline = System.nanoTime() + maxWaitSec * 1000000000L
            while (l > 1.0 && l >= 0.0 && System.nanoTime() < deadline) {
              loadRefusals += 1
              Thread.sleep(10000)
              l = loadAvg()
            }
            l
          }
          // JIT warm-up rep, EXCLUDED by policy (VERDICT r15 #2): the
          // first full-scale rep otherwise pays whole-stage-codegen +
          // MLlib JIT compilation that no later rep pays — the
          // dominant rep1-vs-rep2 spread on a quiet box. A 8,192-row
          // pass compiles the same plans/kernels at ~1/7 the cost and
          // is discarded; the reported time stays min-over-timed-reps.
          loadGate(120)
          benchOkCupidTree(spark, rows = 8192L)
          clearCaches()
          var trusted = 0
          var trustedFlags = Vector.empty[Boolean]
          def takeRep(): Boolean = {
            val repLoad = loadGate(120)
            val pre = gate(120)
            val parPre = parallelCalibrate()
            parQuiet = math.min(parQuiet, parPre)
            val gc0 = gcMs()
            val r = benchOkCupidTree(spark); clearCaches()
            val repGc = gcMs() - gc0
            val post = calibrate()
            quietMs = math.min(quietMs, post)
            val parPost = parallelCalibrate()
            parQuiet = math.min(parQuiet, parPost)
            reps :+= ((r._1, pre, post, parPre, parPost, repLoad,
              r._2, r._3, repGc))
            pre <= quietMs * 1.4 && post <= quietMs * 1.4 &&
              parPre <= parQuiet * 1.4 && parPost <= parQuiet * 1.4 &&
              repLoad <= 1.0
          }
          while (trusted < 2 && reps.size < 5) {
            val repTrusted = takeRep()
            trustedFlags :+= repTrusted
            if (repTrusted) trusted += 1
          }
          // Flagship drift re-reps (VERDICT r19 #1): the r19 artifact
          // committed a 38.8 s headline while the same driver's
          // 8-core run read 17.5 s — every rep of that run was taken
          // in the same hot window, so min-over-reps couldn't save
          // it. When the best rep still sits over 1.4× the calm
          // baseline's flagship, take up to 2 more fully-gated reps
          // (same spin/load/parallel brackets); contention only ever
          // inflates a rep, so extra attempts can only lower the
          // floor, and a drift that SURVIVES them reads as real.
          val prevTree = prevTimes.get("q_okcupid_tree")
          var treeDriftReps = 0
          while (prevTree.exists(p =>
              reps.map(_._1).min > p * 1.4 && reps.map(_._1).min - p > 0.5)
              && treeDriftReps < 2) {
            trustedFlags :+= takeRep()
            treeDriftReps += 1
          }
          if (treeDriftReps > 0)
            perRetried :+= ("q_okcupid_tree" -> treeDriftReps.toDouble)
          // trust flags were judged against a RUNNING quiet floor —
          // re-judge every rep against the FINAL floor so an early
          // rep bracketed by spins that later reps proved inflated
          // doesn't ride into the trusted headline
          trustedFlags = reps.map { case (_, pre, post, parPre,
              parPost, ld, _, _, _) =>
            pre <= quietMs * 1.4 && post <= quietMs * 1.4 &&
              parPre <= parQuiet * 1.4 && parPost <= parQuiet * 1.4 &&
              ld <= 1.0
          }
          perCalib :+= ("q_okcupid_tree" -> reps.head._2)
          val best = reps.minBy(_._1)
          // VERDICT r16 #3: the headline the verdicts track —
          // min over TRUSTED reps only (min-over-all still reported
          // for continuity; -1 when no rep earned trust, loudly)
          val trustedBest = reps.zip(trustedFlags)
            .collect { case (r, true) => r._1 }
            .foldLeft(Double.MaxValue)(math.min)
          val trustedBestSec =
            if (trustedBest == Double.MaxValue) -1.0 else trustedBest
          // every rep's stage split + GC delta lands in the artifact
          // (not only the best rep's), so a fit-stage outlier is
          // attributable — scan fold-in vs GC vs contention — after
          // the fact (VERDICT r15 #2).
          treeStages = best._7 ++ reps.zipWithIndex.flatMap {
            case ((sec, pre, post, parPre, parPost, ld, stg, _, gc),
                i) => Seq(
              s"rep${i + 1}_sec" -> sec,
              s"rep${i + 1}_pre_spin_ms" -> pre,
              s"rep${i + 1}_post_spin_ms" -> post,
              s"rep${i + 1}_par_pre_ms" -> parPre,
              s"rep${i + 1}_par_post_ms" -> parPost,
              s"rep${i + 1}_load" -> ld,
              s"rep${i + 1}_gc_ms" -> gc) ++
              stg.map { case (k, v) => s"rep${i + 1}_$k" -> v }
          } ++ Seq("par_quiet_ms" -> parQuiet,
            "load_refusals" -> loadRefusals,
            "trusted_best_sec" -> trustedBestSec,
            "trusted_reps" -> trustedFlags.count(identity).toDouble)
          treeAccuracy = best._8
          Some(best._1)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] q_okcupid_tree FAILED: ${e.getMessage}")
            failures ::= "q_okcupid_tree"
            None
        }))

    val results: Seq[(String, Option[Double])] =
      treeResult ++
        headline.filter(selected).map { n =>
          val reps = if (heavy(n)) 3 else 2
          val gateSec = if (heavy(n)) 120 else 30
          n -> bestOf(n, reps, gateSec)
        }

    // Witness queries (VERDICT r16 #1): timed ONCE each — their
    // claims are oracle-checked columns, a second ~40 s rep of a
    // deliberate worst-case buys nothing — and reported under a
    // separate `witnesses` map excluded from the headline total.
    val witnessResults: Seq[(String, Option[Double])] =
      witnesses.filter(selected).map(n => n -> bestOf(n, 1, 30))

    // The derived-nlist scale ledger (VERDICT r14 #8): q_ann_ivf_scale
    // RETURNS (n_corpus, nlist, n_candidates, n_results, checksum) —
    // collect it once, outside the timed region, so the bench artifact
    // records the measured candidate-pair budget next to the wall time
    // (the linearity claim is then a number in BENCH_r{N}, not only a
    // spec assertion).
    val annScale: Seq[(String, Double)] =
      if (!witnessResults.exists { case (n, t) => n == "q_ann_ivf_scale" &&
          t.isDefined }) Nil
      else try {
        val r = SparkEntry.queries("q_ann_ivf_scale")(spark, sfDir).head()
        clearCaches()
        Seq("n_corpus" -> r.getLong(0).toDouble,
          "nlist" -> r.getLong(1).toDouble,
          "n_candidates" -> r.getLong(2).toDouble,
          "n_results" -> r.getLong(3).toDouble)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ann_scale ledger failed: $e"); Nil
      }

    // The dedup scale ledger (VERDICT r15 #3): the measured MinHash
    // candidate budget on the 8× corpus. ONE untimed run of the
    // shared operator ledger (bucket/hot/candidate counts — the
    // linearity claim); n_docs/all_pairs are plain arithmetic on a
    // documents count, and the verified-pair count is NOT repeated
    // here — it is the oracle-checked n_pairs column of the
    // witness's own correctness row. (Previously this block re-ran
    // the WHOLE verified-Jaccard chain a 4th time just to restate
    // those numbers.) Collected outside the timed region, like
    // ann_scale.
    val dedupScale: Seq[(String, Double)] =
      if (!witnessResults.exists { case (n, t) =>
          n == "q_dedup_minhash_scale" && t.isDefined }) Nil
      else try {
        val nDocs = 8L * graft.Tables.documents(spark, sfDir).count()
        val l = graft.queries.ExtensionQueries
          .dedupScaleCandidateLedger(spark, sfDir).head()
        clearCaches()
        Seq("n_docs" -> nDocs.toDouble,
          "all_pairs_bound" -> (nDocs * (nDocs - 1L) / 2L).toDouble,
          "n_bucket_rows" -> l.getLong(0).toDouble,
          "n_hot_buckets" -> l.getLong(1).toDouble,
          "n_candidates" -> l.getLong(2).toDouble)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dedup_scale ledger failed: $e"); Nil
      }

    // The CC diameter ledger: the measured round count on the 16×
    // worst-case chain, from the witness's own returned row —
    // O(log diameter) as a number in BENCH_r{N}, next to the wall
    // time. Collected once, outside the timed region, like ann_scale.
    val ccScale: Seq[(String, Double)] =
      if (!witnessResults.exists { case (n, t) =>
          n == "q_cc_diameter_scale" && t.isDefined }) Nil
      else try {
        val r = SparkEntry.queries("q_cc_diameter_scale")(spark, sfDir).head()
        clearCaches()
        Seq("n_nodes" -> r.getLong(0).toDouble,
          "diameter" -> (r.getLong(0) - 1L).toDouble,
          "rounds" -> r.getLong(4).toDouble)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cc_scale ledger failed: $e"); Nil
      }

    // Milliseconds are plenty of precision; full doubles only bloat
    // the line (the driver keeps a bounded tail of the output).
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val done = results.collect { case (k, Some(v)) => k -> v }
    val total = results.flatMap(_._2).sum
    val witnessDone = witnessResults.collect { case (k, Some(v)) => k -> v }
    // VERDICT r16 #2: this round's common-set total over last round's,
    // computed over the queries present in BOTH rounds — the
    // round-over-round ratio the verdicts decompose by hand, now a
    // field in the artifact (witnesses excluded on both sides; -1
    // when no previous round is available).
    val commonSetRatio: Double = {
      val common = done.filter { case (k, _) => prevTimes.contains(k) }
      val prevSum = common.map { case (k, _) => prevTimes(k) }.sum
      if (prevSum <= 0.0) -1.0 else common.map(_._2).sum / prevSum
    }
    // VERDICT r18 #2: the run stamps its own contention verdict; a
    // contended run's flagship headline is refused downstream
    // (roundguard) — witnesses and correctness stand regardless. A
    // median over a handful of ratios is sampling noise (a 3-query
    // iteration subset flagged itself in testing), so the stamp
    // requires a statistically meaningful common set; the index is
    // still reported either way.
    val contentionIdx = contentionIndex(done, prevTimes)
    val commonN = done.count { case (k, _) => prevTimes.contains(k) }
    val retrySpike = perRetried.size >= RetrySpikeCount
    val contended =
      (contentionIdx > 0.0 && isContended(contentionIdx) && commonN >= 10) ||
        retrySpike
    if (contended) System.err.println(
      f"[bench] CONTENDED run: median common-set ratio " +
        f"$contentionIdx%.3f (band $ContendedBand), " +
        f"${perRetried.size} drift retries (spike at $RetrySpikeCount) " +
        "— flagship headline is not trustworthy; quote the last calm " +
        "artifact")
    val failJson = failures.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(done)},""" +
        s""""witnesses":${jmap(witnessDone)},""" +
        s""""common_set_ratio":${fmt(commonSetRatio)},""" +
        s""""contention_index":${fmt(contentionIdx)},""" +
        s""""contended":$contended,""" +
        s""""retried":${jmap(perRetried)},""" +
        s""""tree_stages":${jmap(treeStages)},""" +
        s""""tree_accuracy":${fmt(treeAccuracy)},""" +
        s""""ann_scale":${jmap(annScale)},""" +
        s""""dedup_scale":${jmap(dedupScale)},""" +
        s""""cc_scale":${jmap(ccScale)},""" +
        s""""calib":${jmap(perCalib)},"load":${jmap(perLoad)},""" +
        s""""post_spin":${jmap(perPost)},""" +
        s""""failures":$failJson,"calib_ms":${fmt(calibMs)},"quiet_ms":${fmt(quietMs)},"sf":"$sfDir"}"""
    // Full per-query detail: to a repo file + stderr. The driver's
    // output tail is ~2000 chars, so the one stdout JSON line must stay
    // well under that — a headline subset, with everything else in
    // bench_full.json.
    // The working-tree bench_full.json is clobbered by ANY re-run
    // (the r12 judge's flagship re-run overwrote the r12 detail), so
    // the detail ALSO lands in a per-round file that re-runs within
    // the round overwrite but later rounds never touch: round N is
    // inferred as 1 + the highest committed BENCH_r*.json.
    val roundN: Int =
      try {
        val dir = new java.io.File(".")
        val pat = "BENCH_r(\\d+)\\.json".r
        val prev = Option(dir.list()).getOrElse(Array.empty[String])
          .collect { case pat(n) => n.toInt }
        if (prev.isEmpty) 1 else prev.max + 1
      } catch { case _: Throwable => 0 }
    Seq("bench_full.json", s"bench_full_r$roundN.json").foreach { f =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f), (fullJson + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $f write failed: $e") }
    }
    System.err.println(fullJson)
    val compactKeys = Seq(
      "q1_agg", "q_join_agg", "q_topk_orders", "q_top_words",
      "q_pipeline_tokens", "q_tfidf", "q_dedup_minhash", "q_ann_topk",
      "q_events_window", "q_sessions", "q_dedup_groups", "q_dedup_spans",
      "q_pack_sequences", "q_dedup_embedding", "q_asof_join", "q_curate",
      "q_bm25", "q_okcupid_tree")
    val doneMap = done.toMap
    val compact = compactKeys.collect {
      case k if doneMap.contains(k) => k -> doneMap(k)
    }
    // Stop Spark (and silence its shutdown chatter) BEFORE emitting the
    // one-line JSON: anything logged after it would displace it from
    // the driver's bounded output tail, whose LAST line is what gets
    // json-parsed. Combined with build.sbt's showSuccess := false this
    // makes the compact line the final line of the run's output.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":${jmap(compact)},"n_queries":${done.size},""" +
        s""""witnesses":${jmap(witnessDone)},""" +
        s""""common_set_ratio":${fmt(commonSetRatio)},""" +
        s""""contention_index":${fmt(contentionIdx)},""" +
        s""""contended":$contended,""" +
        // full per-query retry stamps live in bench_full.json; the
        // compact line must stay under the driver's ~2000-char output
        // tail even on a slammed box where hundreds of queries retry
        s""""n_retried":${perRetried.size},""" +
        s""""n_failures":${failures.size},"quiet_ms":${fmt(quietMs)},""" +
        s""""tree_accuracy":${fmt(treeAccuracy)},""" +
        s""""sf":"$sfDir","detail":"bench_full.json"}""")
    Console.out.flush()
    if (failures.nonEmpty) sys.exit(1)
  }
}
