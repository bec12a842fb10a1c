package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every contract query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink — a
  * plain count() would let Catalyst prune every column and skip the actual
  * computation for scan-shaped queries, understating real cost.
  */
object Bench {
  /** The round-1 baseline query set (the per-query names recorded in
    * BENCH_r01.json): these are the queries graded against BASELINE round
    * over round, so they get per-query detail on the size-capped stdout
    * line. Frozen by definition — round 1 is immutable history.
    */
  val baselineQueries: Set[String] = Set(
    "ann_ivf", "ann_lsh", "ann_topk", "approx_distinct", "bpe_tokens",
    "conditional_pivot", "cube_agg", "date_agg", "dedup_exact",
    "dedup_jaccard", "dedup_minhash", "dedup_simhash", "distinct_agg",
    "embed_neardup", "events_bin", "filter_pushdown", "having_filter",
    "lara_agg", "lara_covariance", "lara_ext_wordcount", "lara_join_times",
    "lara_map_replace", "lara_union_plus", "media_features",
    "outer_join_defaults", "percentiles", "q1_agg", "q3_join",
    "q5_multijoin", "raco_frontend", "rollup_agg", "semi_anti_join",
    "sessionize_batch", "set_ops", "string_funcs", "text_fingerprint",
    "text_langid", "text_quality", "text_quality_score", "text_rolling_fp",
    "top_orders", "window_running", "window_topk")

  /** Per-query round-1 seconds (BENCH_r01.json — frozen history; the
    * driver's 2x gate grades against these). Any baseline query whose
    * co-run median exceeds 1.8x its r1 number escalates into the in-run
    * isolated set, so a baseline 2x breach can never ship unadjudicated
    * (r10 review "wrong" #1: ann_ivf breached at 2.23x co-run with no
    * isolated number on the artifact of record).
    */
  val baselineR1: Map[String, Double] = Map(
    "ann_ivf" -> 1.121, "ann_lsh" -> 2.100, "ann_topk" -> 1.060,
    "approx_distinct" -> 1.071, "bpe_tokens" -> 0.286,
    "conditional_pivot" -> 0.475, "cube_agg" -> 0.694, "date_agg" -> 0.394,
    "dedup_exact" -> 0.471, "dedup_jaccard" -> 2.466, "dedup_minhash" -> 2.042,
    "dedup_simhash" -> 1.411, "distinct_agg" -> 2.601, "embed_neardup" -> 1.374,
    "events_bin" -> 0.434, "filter_pushdown" -> 0.245, "having_filter" -> 0.441,
    "lara_agg" -> 0.367, "lara_covariance" -> 2.056,
    "lara_ext_wordcount" -> 0.466, "lara_join_times" -> 0.583,
    "lara_map_replace" -> 0.197, "lara_union_plus" -> 1.907,
    "media_features" -> 0.153, "outer_join_defaults" -> 0.599,
    "percentiles" -> 0.459, "q1_agg" -> 0.722, "q3_join" -> 0.950,
    "q5_multijoin" -> 1.374, "raco_frontend" -> 0.231, "rollup_agg" -> 0.631,
    "semi_anti_join" -> 0.405, "sessionize_batch" -> 0.868, "set_ops" -> 0.746,
    "string_funcs" -> 0.194, "text_fingerprint" -> 0.233,
    "text_langid" -> 0.292, "text_quality" -> 0.457,
    "text_quality_score" -> 0.474, "text_rolling_fp" -> 0.189,
    "top_orders" -> 0.187, "window_running" -> 0.495, "window_topk" -> 0.505)

  /** Per-query round-11 co-run medians (BENCH_FULL.json as committed at
    * r11 — frozen, like [[baselineR1]]). Round-over-round mover
    * escalation (r11 review "wrong" #2): a dozen mid-cost queries moved
    * 1.3-1.6x between r10 and r11 with no code change and shipped without
    * an isolated number, because the isolation triggers were
    * top-10-by-cost + watchlist + baseline-1.8x only. Any query whose
    * co-run median exceeds 1.5x its frozen prior (and by more than 0.1 s
    * absolute — the noise floor would flood the set otherwise) now lands
    * in the in-run isolated set, so every round-over-round mover carries
    * its own adjudication on the artifact of record.
    */
  val priorR11: Map[String, Double] = Map(
    "ab_split_stats" -> 0.486, "ann_ivf" -> 1.649, "ann_lsh" -> 1.037,
    "ann_topk" -> 0.393, "approx_distinct" -> 0.452, "approx_quantiles" -> 0.963,
    "asof_join" -> 0.418, "assoc_rules" -> 1.946, "attribution" -> 0.55,
    "auc_score" -> 0.645, "audience_overlap" -> 0.298, "autocorr_lag1" -> 0.344,
    "basket_pairs" -> 1.732, "benford_digits" -> 0.285, "bfs_levels" -> 6.501,
    "bloom_decontaminate" -> 1.245, "bm25_score" -> 1.287, "boilerplate_lines" -> 0.547,
    "bootstrap_ci" -> 6.31, "bpe_merges" -> 0.664, "bpe_tokens" -> 0.342,
    "calibration_bins" -> 0.76, "cdc_merge" -> 0.505, "chi2_independence" -> 0.385,
    "chunk_docs" -> 0.518, "click_purchase_join" -> 0.576, "clustering_coeff" -> 6.402,
    "cohort_retention" -> 0.531, "collocations" -> 1.762, "community_stats" -> 10.021,
    "concurrency_peak" -> 2.524, "conditional_pivot" -> 0.308, "corpus_curate" -> 0.888,
    "corpus_divergence" -> 1.999, "corpus_prepare" -> 2.699, "corpus_split" -> 0.113,
    "corr_matrix" -> 2.52, "csv_roundtrip" -> 1.016, "cube_agg" -> 0.513,
    "cuped_adjust" -> 0.387, "cusum_changepoint" -> 0.528, "date_agg" -> 0.3,
    "decontaminate" -> 1.513, "dedup_clusters" -> 2.25, "dedup_containment" -> 0.987,
    "dedup_exact" -> 0.214, "dedup_hot_shingles" -> 0.926, "dedup_incremental" -> 1.385,
    "dedup_intradoc" -> 0.174, "dedup_jaccard" -> 1.029, "dedup_jaccard_capped" -> 1.813,
    "dedup_minhash" -> 1.327, "dedup_simhash" -> 1.04, "dedup_spans" -> 1.528,
    "degree_assort" -> 3.274, "distinct_agg" -> 1.373, "doc_keyphrases" -> 1.753,
    "dq_rules" -> 0.257, "embed_neardup" -> 1.095, "embed_outliers" -> 2.995,
    "embed_quantize" -> 0.144, "entity_resolution" -> 3.677, "event_paths" -> 0.43,
    "event_transitions" -> 0.475, "events_bin" -> 0.269, "ewma_smooth" -> 0.393,
    "fd_audit" -> 1.263, "feature_hash" -> 0.631, "filter_pushdown" -> 0.152,
    "funnel_stages" -> 0.364, "funnel_steps" -> 0.461, "funnel_timing" -> 0.376,
    "fuzzy_join" -> 4.894, "gap_fill" -> 0.416, "geo_join" -> 0.3,
    "gini_concentration" -> 0.234, "gram_matrix" -> 2.847, "grid_dbscan" -> 2.765,
    "group_split" -> 0.089, "grouping_sets_agg" -> 0.535, "hard_negatives" -> 0.23,
    "having_filter" -> 0.205, "heavy_hitters" -> 1.002, "hierarchy_rollup" -> 0.421,
    "histogram_equidepth" -> 0.86, "histogram_stats" -> 0.426, "hits_scores" -> 4.073,
    "hop_plot" -> 5.056, "hybrid_search" -> 1.315, "interarrival_hist" -> 0.421,
    "interval_merge" -> 0.478, "interval_overlap" -> 1.229, "item_cf" -> 1.714,
    "ivf_pq" -> 2.467, "ivm_agg" -> 0.427, "json_extract" -> 0.573,
    "jsonl_roundtrip" -> 0.664, "k_anonymity" -> 0.337, "kcore" -> 2.701,
    "keyword_search" -> 0.483, "kmv_overlap" -> 0.436, "knn_purity" -> 1.587,
    "ks_test" -> 0.596, "ktruss" -> 6.373, "l_diversity" -> 0.289,
    "label_agreement" -> 0.331, "label_centroids" -> 0.307, "label_propagation" -> 7.568,
    "lara_agg" -> 0.286, "lara_covariance" -> 1.239, "lara_ext_wordcount" -> 0.512,
    "lara_join_times" -> 0.424, "lara_map_replace" -> 0.146, "lara_range_filter" -> 0.305,
    "lara_store_layout" -> 1.541, "lara_union_plus" -> 1.017, "mann_whitney" -> 0.547,
    "markov_transitions" -> 0.583, "max_drawdown" -> 0.608, "media_audio" -> 1.296,
    "media_curate" -> 0.999, "media_decode" -> 0.366, "media_features" -> 0.286,
    "media_gif" -> 0.442, "media_video" -> 0.281, "minmax_normalize" -> 0.326,
    "mixture_sample" -> 0.131, "mrl_overlap" -> 0.683, "multimodal_curate" -> 3.236,
    "negative_edges" -> 2.974, "neighbor_jaccard" -> 6.004, "ngram_dupfrac" -> 1.148,
    "ngram_lm_score" -> 1.014, "ohlc_downsample" -> 0.443, "ols_trend" -> 0.551,
    "outer_join_defaults" -> 0.348, "pagerank" -> 3.972, "part_top_supplier" -> 0.934,
    "path_counts" -> 4.464, "pattern_match" -> 0.652, "pca_power" -> 5.19,
    "percentiles" -> 0.341, "period_over_period" -> 0.318, "pii_redact" -> 0.588,
    "posting_lists" -> 1.064, "ppr_seeds" -> 4.005, "pq_adc" -> 2.063,
    "pq_codes" -> 1.463, "profile_stats" -> 1.514, "q10_returns" -> 0.669,
    "q11_important" -> 1.361, "q12_shipmode" -> 0.517, "q13_custdist" -> 0.454,
    "q14_promo" -> 0.429, "q15_top_supplier" -> 0.475, "q16_part_suppliers" -> 0.645,
    "q17_small_qty" -> 0.457, "q18_large_orders" -> 0.528, "q19_disjunctive" -> 0.377,
    "q1_agg" -> 0.489, "q20_excess" -> 0.683, "q21_waiting" -> 0.774,
    "q22_inactive" -> 0.348, "q2_min_cost" -> 0.611, "q3_join" -> 0.616,
    "q4_priority" -> 0.373, "q5_multijoin" -> 0.975, "q6_forecast" -> 0.161,
    "q7_volume" -> 0.862, "q8_share" -> 0.902, "q9_profit" -> 1.274,
    "quantile_normalize" -> 0.61, "quota_sample" -> 0.173, "raco_frontend" -> 0.137,
    "raco_plan_text" -> 0.136, "rand_project" -> 0.293, "range_join" -> 0.198,
    "rate_anomaly" -> 0.255, "ref_integrity" -> 1.19, "reservoir_sample" -> 0.215,
    "retention_cohorts" -> 0.365, "retrieval_eval" -> 2.38, "rfm_segments" -> 1.045,
    "robust_zscore" -> 0.834, "rolling_actives" -> 0.695, "rolling_hour_range" -> 0.36,
    "rollup_agg" -> 0.379, "runs_test" -> 0.681, "salted_join" -> 1.369,
    "scd2_build" -> 0.383, "seed_distances" -> 4.231, "semantic_dedup" -> 1.783,
    "semi_anti_join" -> 0.284, "seq_packing" -> 0.633, "seq_patterns" -> 0.443,
    "session_window_agg" -> 0.525, "sessionize_batch" -> 0.385, "set_ops" -> 0.402,
    "skyline" -> 0.393, "skyline_3d" -> 1.349, "snapshot_diff" -> 0.215,
    "sql_surface" -> 0.087, "sssp" -> 7.35, "streaming_bin_replay" -> 4.862,
    "streaming_counts_replay" -> 3.273, "streaming_dedup_replay" -> 8.057, "streaming_dedup_replay_rocksdb" -> 9.009,
    "streaming_enrich_replay" -> 4.351, "streaming_join_replay" -> 11.668, "streaming_ohlc_replay" -> 4.91,
    "streaming_sessions_replay" -> 5.471, "streaming_sessions_replay_rocksdb" -> 5.698, "string_funcs" -> 0.118,
    "survival_curve" -> 0.361, "target_encode" -> 0.437, "temporal_join" -> 0.601,
    "text_fingerprint" -> 0.144, "text_langid" -> 0.251, "text_normalize" -> 0.187,
    "text_quality" -> 0.475, "text_quality_score" -> 0.461, "text_repetition" -> 1.332,
    "text_rolling_fp" -> 0.212, "tf_cosine" -> 1.929, "tokenizer_fertility" -> 0.472,
    "top_orders" -> 0.119, "triangle_count" -> 4.994, "triple_itemsets" -> 9.352,
    "twap" -> 0.466, "unpivot_measures" -> 0.281, "user_streaks" -> 0.31,
    "variant_extract" -> 0.578, "vocab_topk" -> 0.737, "weighted_median" -> 1.424,
    "weighted_sample" -> 0.102, "window_lead_lag" -> 0.316, "window_rank_family" -> 0.746,
    "window_running" -> 0.317, "window_topk" -> 0.353, "windowed_covariance" -> 1.268,
    "winsorize" -> 0.463, "zorder_layout" -> 0.219)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE is Spark's default; pinned so this artifact's session conf stays
    // the one earlier rounds recorded
    def newSession(): SparkSession =
      Harness.session(extra = Seq("spark.sql.adaptive.enabled" -> "true"))
    // Fresh-session isolation mode (the batched replacement for one-JVM-per-
    // isolated-query, r9 review "wrong" #5): each query gets a brand-new
    // SparkContext (codegen/broadcast/cache state reset) inside ONE child
    // JVM. JIT profile carry-over is the only contamination channel left —
    // measured equivalent to per-JVM isolation within rep noise (NOTES_r10).
    val freshSession = sys.env.get("SPARK_GRAFT_FRESH_SESSION").contains("1")
    var spark = newSession()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — for isolating one query's
    // cost without the rest of the suite (same JSON contract either way)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // JIT/page-cache warm-up pass (not timed): first execution of a stage
    // pays codegen + JIT compilation, which would randomly tax whichever
    // query runs first. Under fresh-session mode the warm-up instead runs
    // per query, right after its private session comes up.
    if (!freshSession) queries.foreach { case (_, fn) =>
      // same cache discipline as the timed loop — without it, queries
      // caching the same frame trip "already cached" warnings here
      Harness.release(spark)
      try Harness.noop(fn(spark, sfDir))
      catch { case _: Throwable => }
    }
    // Each query runs repsOf(name) times and reports the per-query MEDIAN
    // over its SUCCESSFUL reps. Single-run timings on this box swing ±20%
    // (GC, page cache, thread scheduling) — medians are the only honest
    // round-over-round comparison, so they are the default, not an opt-in.
    // Reps run per-query back-to-back (not whole-suite loops) so the
    // cache-cold discipline applies to every rep identically.
    // Reps policy (CV-based, per the r7/r8 reviews — keeps suite wall time
    // bounded as the surface grows while never under-sampling a noisy
    // query): 5 reps for the baseline-graded 43 (the queries compared
    // against BASELINE round over round); 3 reps for the rest, ESCALATING
    // to 5 when the in-run coefficient of variation (stddev/median) of the
    // first 3 reps is ≥ 10% — per-round full-map history exists only for
    // the baseline set, so in-run CV is the only honest instability signal
    // for the other ~190. Never 1, always medians. SPARK_GRAFT_REPS
    // overrides both tiers and disables escalation.
    val repsOverride = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt.max(1))
    def repsOf(name: String): Int =
      repsOverride.getOrElse(if (baselineQueries(name)) 5 else 3)
    import Harness.median
    def cv(xs: Seq[Double]): Double = {
      val m = median(xs)
      if (xs.size < 2 || m == 0.0) 0.0
      else math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)) / m
    }
    // Box-warmth canary (r11 review "wrong" #2): a fixed, data-free query
    // timed at suite start and end. Co-run medians drifted ~1.3-1.6x
    // between r10 and r11 on a dozen untouched queries — almost certainly
    // residual box warmth from same-day heavy rehearsals, but the artifact
    // had no way to SHOW that. Timing the same trivial computation before
    // and after the suite makes box state measurable in the record instead
    // of inferred. Data-free (spark.range → sum) so it prices CPU +
    // scheduler + codegen only, never the page cache. Full runs only.
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        // pmod keeps the ANSI-mode sum far from long overflow (the raw
        // product sum over 2^30 rows would throw under Spark 4 defaults)
        Harness.noop(spark.range(0L, 1L << 30, 1L, Harness.cpus)
          .selectExpr("sum(pmod(id * 2654435761, 1000)) as s"))
        (System.nanoTime() - t0) / 1e9
      }
      once() // untimed JIT warm-up of the canary itself
      def med3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      med3((1 to 3).map(_ => once()))
    }
    val calibrationStart =
      if (only.isEmpty && !freshSession) calibrate() else Double.NaN
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val escalated = scala.collection.mutable.ListBuffer[String]()
    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (freshSession) {
        graft.pipeline.InternalCaches.release()
        spark.stop()
        spark = newSession()
        try Harness.noop(fn(spark, sfDir))
        catch { case _: Throwable => } // untimed per-query warm-up
      }
      def oneRep(): Option[Double] = {
        // each rep starts cache-cold: internal .cache() reuse within one
        // query is measured, cross-query cache leakage and its GC pressure
        // are not. InternalCaches.release() also empties the registry so
        // thousands of rep-scoped Dataset/plan objects don't pin driver heap.
        Harness.release(spark)
        System.gc()
        val t0 = System.nanoTime()
        val ok =
          try { Harness.noop(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            // a swallowed failure would masquerade as a fast query — record
            // it AND exclude the rep from the median (a query failing fast
            // on some reps must not report a flattering time)
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] $name FAILED: ${errors(name)}")
            false
          }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      // Fresh-session (isolated child) mode reports WARM-rep medians: one
      // extra rep runs and the first timed rep is dropped — a fresh
      // session re-pays codegen/broadcast setup that a long-lived co-run
      // process has amortized, and an "isolated" number carrying that
      // setup cost can't adjudicate a co-run mover (r10 review "wrong"
      // #2: replay isolated numbers landed ABOVE co-run on the driver's
      // refresh because rep 1 bundled cold-start work).
      val extraRep = if (freshSession) 1 else 0
      var firstRepOk = false
      var times = (1 to repsOf(name) + extraRep).flatMap { i =>
        val r = oneRep()
        if (i == 1 && r.isDefined) firstRepOk = true
        r
      }
      // drop ONLY rep 1's own measurement, and only if rep 1 actually
      // succeeded — a failed cold rep already contributed nothing, and
      // dropping times.head there would discard a genuine warm rep
      // (under-sampling; with SPARK_GRAFT_REPS=1 it could even leave the
      // cold rep as the survivor while a warm one was thrown away)
      if (freshSession && firstRepOk && times.size > 1) times = times.drop(1)
      // CV escalation: an unstable 3-rep median gets 2 more reps (→ 5, the
      // baseline tier) before reporting. Override pins reps exactly.
      if (repsOverride.isEmpty && !baselineQueries(name) &&
          times.size >= 2 && cv(times) >= 0.10) {
        escalated += name // recorded in the JSON: a 5-rep median, not 3-rep
        times = times ++ (1 to 2).flatMap(_ => oneRep())
      }
      // all reps failed → NaN sentinel (JSON-ized below), never a fake time
      name -> (if (times.isEmpty) Double.NaN else median(times))
    }
    // Replay-family quiet-box adjudication (r11 verdict item 5): the
    // streaming replays price full micro-batch replays and are the
    // suite's most co-run-sensitive queries; r11 adjudicated their movers
    // with a hand-run long-lived quiet-box session (NOTES_r11 §7, prose
    // only). Fold that instrument into the artifact: after the suite
    // finishes, re-run the replay family IN THIS SAME SESSION — nothing
    // else running, codegen/JIT warm, exactly the quiet-box condition —
    // and record 3-rep medians as `replay_isolated`. Unlike the
    // fresh-session children, these numbers share the suite session, so
    // they adjudicate co-run interference specifically (same JVM, no
    // cold-start confound). Full runs only.
    val replayIsolated: Seq[(String, Double)] =
      if (only.nonEmpty || freshSession) Seq.empty
      else queries.keys.filter(_.startsWith("streaming_")).toSeq.sorted.map { name =>
        val fn = queries(name)
        def rep(): Option[Double] = {
          Harness.release(spark)
          System.gc()
          val t0 = System.nanoTime()
          try { Harness.noop(fn(spark, sfDir))
                Some((System.nanoTime() - t0) / 1e9) }
          catch { case _: Throwable => None }
        }
        val times = (1 to 3).flatMap(_ => rep())
        name -> (if (times.isEmpty) Double.NaN else median(times))
      }
    val calibrationEnd =
      if (only.isEmpty && !freshSession) calibrate() else Double.NaN
    // The harness that records this run keeps only the LAST ~2000 chars of
    // output, and sbt prints a "[success] ..." trailer after us. A full
    // per-query map over the whole surface (~135 queries) cannot fit, so the
    // stdout line carries (a) totals over ALL queries and (b) the per-query
    // map restricted to the round-1 baseline set — the queries the judge
    // compares against BASELINE. The COMPLETE per-query map goes to
    // BENCH_FULL.json next to this build (committed per round).
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filterNot(_.isNaN).sum
    val headline = results.filter { case (k, _) => Bench.baselineQueries(k) }
    // escalated: tail queries whose 3-rep CV ≥ 10% bumped them to 5 reps —
    // without this list the record can't distinguish 3-rep medians from
    // escalated 5-rep ones round over round (r9 advice)
    val escJson = s""","escalated":${escalated.map(jstr).mkString("[", ",", "]")}"""
    // calibration canary + quiet-box replay medians (full runs only; see
    // the comments at their computation sites)
    val calibJson =
      if (calibrationStart.isNaN) ""
      else s""","calibration_start":${fmt(calibrationStart)},"calibration_end":${fmt(calibrationEnd)}"""
    val replayJson =
      if (replayIsolated.isEmpty) "" else s""","replay_isolated":${qmap(replayIsolated)}"""
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":${repsOf("q1_agg")},"reps_tail":${repsOf("__tail")}$escJson$calibJson$replayJson,"n_queries":${results.size},"queries":${qmap(results)},"failed":${errors.size},"errors":$errs,"sf":"$sfDir"}"""
    // Isolated tail re-runs (round-7 review: a query's in-suite time runs
    // 1.3-1.6× its true cost from dying-JVM contamination — JIT deopt
    // storms, heap fragmentation, 200+ prior queries' codegen classes).
    // The top-N most expensive queries — plus the watchlist below — re-run
    // in a FRESH JVM each (same flags/classpath, 3-rep medians) and both
    // numbers land in the JSON — round-over-round comparisons read
    // "isolated" for the tail and stop chasing phantom regressions.
    // SPARK_GRAFT_ISOLATE overrides N (0 disables; partial runs never
    // isolate — they already are).
    // NOTE: children launch as plain `java -cp <java.class.path>`; under a
    // bare sbt-launcher invocation that property is only the launcher jar
    // and every child fails. Failures are recorded as "isolated_failed" in
    // the JSON (never silently dropped), and an all-children-failed run
    // aborts loudly on stderr. Run Bench forked (sbt `run` with fork:=true,
    // the default here) or via plain java -cp.
    val isolateN = sys.env.get("SPARK_GRAFT_ISOLATE").map(_.toInt)
      .getOrElse(if (only.isEmpty) 10 else 0)
    // co-run-uptick adjudication set: queries whose in-suite numbers moved
    // without code changes get an isolated number until the question closes
    // (r8 review: gram_matrix 1.56× co-run, untouched — contamination or
    // real?). Keep grid_dbscan while its co-run/isolated gap stays 1.5×+.
    // ann_ivf: pinned until the r10 2.23x co-run breach adjudication has an
    // isolated number on a committed artifact (r10 review "wrong" #1).
    val isolateWatchlist = Set("gram_matrix", "grid_dbscan", "triple_itemsets", "ann_ivf")
    // Baseline-breach escalation (r10 review "wrong" #1): a baseline-graded
    // query whose co-run median exceeds 1.8x its frozen r1 number gets an
    // isolated number IN THIS RUN — a 2x gate breach must carry its own
    // adjudication on the artifact of record, not wait a round.
    val baselineBreach = results.collect {
      case (n, t) if !t.isNaN && baselineR1.get(n).exists(b => t > 1.8 * b) => n
    }
    // Round-over-round mover escalation (r11 review "wrong" #2): any query
    // whose co-run median exceeds 1.5x its frozen r11 median — by more
    // than 0.1 s absolute, so sub-noise-floor wobble on 0.1 s queries
    // doesn't flood the set — gets an isolated number in this run.
    val priorMovers = results.collect {
      case (n, t) if !t.isNaN && priorR11.get(n).exists(p => t > 1.5 * p && t - p > 0.1) => n
    }
    val isolatedFailed = scala.collection.mutable.ListBuffer[String]()
    // Gate-breach/mover escalations run EVEN when SPARK_GRAFT_ISOLATE=0
    // disabled the cost-tail isolation on a full run (r11 advice: the
    // breach mechanism was silently skipped at isolateN<=0, so a breached
    // query could still ship with only the flag and no isolated number).
    // Partial runs never escalate — the isolation child is itself a
    // partial run and escalating there would recurse.
    val escalations: Seq[String] =
      if (only.isEmpty) (baselineBreach ++ priorMovers).distinct else Seq.empty
    val isolated: Seq[(String, Double)] =
      if (isolateN <= 0 && escalations.isEmpty) Seq.empty
      else {
        val byCost = results.filterNot(_._2.isNaN).sortBy(-_._2).map(_._1)
        val top = ((if (isolateN > 0) byCost.take(isolateN) ++ byCost.filter(isolateWatchlist)
                    else Seq.empty) ++ escalations).distinct
        val javaBin = sys.props("java.home") + java.io.File.separator + "bin" +
          java.io.File.separator + "java"
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.map(_.toString)
        // ONE child JVM for the whole isolated set, fresh SparkSession per
        // query inside it (SPARK_GRAFT_FRESH_SESSION) — replaces the
        // one-JVM-per-query scheme whose N× JVM+warm-up launches dominated
        // bench wall time (r9 review "wrong" #5). Equivalence measured in
        // NOTES_r10: batched fresh-session numbers match per-JVM isolated
        // numbers within rep noise for the unchanged watchlist queries.
        val out = java.nio.file.Files.createTempFile("graft_iso", ".json")
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", sys.props("java.class.path"), "graft.Bench")).toArray
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_ONLY", top.mkString(","))
        pb.environment().put("SPARK_GRAFT_FRESH_SESSION", "1")
        pb.environment().put("SPARK_GRAFT_REPS", "3")
        pb.environment().put("SPARK_GRAFT_OUT", out.toString)
        pb.environment().put("SPARK_GRAFT_ISOLATE", "0")
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", Harness.cpus.toString)
        pb.environment().put("SPARK_GRAFT_SHUFFLE_PARTS", Harness.shufflePartitions())
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val done = proc.waitFor(math.max(20, 4 * top.size),
          java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); System.err.println("[bench] isolate child timed out") }
        val text = if (done && proc.exitValue() == 0)
          new String(java.nio.file.Files.readAllBytes(out), "UTF-8") else ""
        java.nio.file.Files.deleteIfExists(out)
        top.flatMap { q =>
          val parsed = ("\"" + java.util.regex.Pattern.quote(q) + "\":([0-9.]+)").r
            .findFirstMatchIn(text).map(m => q -> m.group(1).toDouble)
          if (parsed.isEmpty) { System.err.println(s"[bench] isolate $q failed"); isolatedFailed += q }
          parsed
        }
      }
    if ((isolateN > 0 || escalations.nonEmpty) && isolated.isEmpty && isolatedFailed.nonEmpty)
      System.err.println("[bench] ALL isolate children failed — check the " +
        "launch classpath (plain `java -cp` required; a bare sbt-launcher " +
        "java.class.path is only the launcher jar)")
    val isoFailJson = if (isolatedFailed.isEmpty) ""
      else s""","isolated_failed":${isolatedFailed.map(jstr).mkString("[", ",", "]")}"""
    val breachJson = if (baselineBreach.isEmpty) ""
      else s""","baseline_breach_escalated":${baselineBreach.map(jstr).mkString("[", ",", "]")}"""
    val moverJson = if (priorMovers.isEmpty) ""
      else s""","prior_movers_escalated":${priorMovers.map(jstr).mkString("[", ",", "]")}"""
    val isoJson = (if (isolated.isEmpty) ""
      else s""","isolated":${qmap(isolated)}""") + isoFailJson + breachJson + moverJson
    val fullLineIso = fullLine.dropRight(1) + isoJson + "}"
    // SPARK_GRAFT_ONLY runs are partial by construction — they must never
    // overwrite the committed full-suite record (a 2-query partial clobbered
    // BENCH_FULL.json in round 7); they get their own scratch artifact.
    // SPARK_GRAFT_OUT routes the artifact anywhere (the isolation children
    // use it so they can't clobber BENCH_PARTIAL.json either).
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_OUT",
      if (only.isEmpty) "BENCH_FULL.json" else "BENCH_PARTIAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullLineIso + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] $fullPath write failed: $e") }
    // STDOUT CONTRACT (r12 verdict "wrong" #1): the driver keeps only the
    // LAST ~2000 chars of output and sbt appends a "[success]" trailer, so
    // this line has carried name LISTS (escalated/isolated/movers — ~150
    // names in r12) that pushed the head — including "value" — out of the
    // captured tail, and BENCH_r01–r12 all parsed null. The stdout line now
    // carries COUNTS for every unbounded set and caps the error map; the
    // full lists/maps are unchanged in BENCH_FULL.json (committed per
    // round). Worst case (43 baseline entries + 3 capped errors) ≈ 1.7 KB.
    val errsCapped = errors.take(3)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(40)) }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":${repsOf("q1_agg")},"reps_tail":${repsOf("__tail")},"n_queries":${results.size},"baseline_total":${fmt(headline.map(_._2).filterNot(_.isNaN).sum)},"queries":${qmap(headline)},"isolated_n":${isolated.size},"isolated_failed_n":${isolatedFailed.size},"escalated_n":${escalated.size},"baseline_breach_n":${baselineBreach.size},"prior_movers_n":${priorMovers.size}$calibJson,"failed":${errors.size},"errors":$errsCapped,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(stdoutLine(line, total, errors.size, sfDir))
    spark.stop()
  }

  private[graft] def fmt(v: Double): String =
    if (v.isNaN) "null" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private[graft] def qmap(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** `line`, or — when it would exceed 1,900 chars — only the minimal
    * contract fields, so the parse can never regress again: the value, its
    * unit, the failure count and where the full per-query map lives.
    */
  private[graft] def stdoutLine(line: String, total: Double, failed: Int, sfDir: String): String =
    if (line.length <= 1900) line
    else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failed,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
}
