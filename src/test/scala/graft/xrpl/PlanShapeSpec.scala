package graft.xrpl

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Physical-plan invariants for the round-6 operators — the scale
  * claims stated in PLANS.md, asserted so a regression fails a test
  * instead of silently re-introducing a single-task window or a
  * nested-loop join. Runs on sf0.001 (plan shape is scale-independent
  * for these properties).
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  /** Materialize first (so AQE finalizes the adaptive plan), then
    * return the executed plan. Under AQE the top node is an
    * AdaptiveSparkPlanExec LEAF — traversing .children alone would
    * visit nothing and every assertion here would pass vacuously.
    */
  private def planOf(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, dir)
    // collect() drives the DataFrame's OWN QueryExecution (a noop write
    // would plan a separate one and leave this adaptive plan unexecuted)
    df.collect()
    df.queryExecution.executedPlan
  }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(i.relation.cachedPlan) // assert through shared caches too
      case _ => p.children
    }
    (p +: kids.flatMap(collectNodes)) ++ p.subqueries.flatMap(collectNodes)
  }

  private def planString(name: String): String =
    collectNodes(planOf(name)).map(_.toString).mkString("\n")

  test("no unpartitioned window in any relational/time-series gate plan") {
    for (name <- Seq("skyline_orders", "ts_ewma", "ts_rolling_median",
        "w7_rank_distribution", "w8_value_windows", "a_mode_per_user",
        "pivot_event_daily", "quantile_disc_grouped", "ts_quantile_sketch",
        // r11: sign-test lag + FDR rank must stay partitioned /
        // PrefixSum-based; the ACF gate must not regress to a global
        // row_number over the daily frame
        "stats_sign_test", "stats_fdr_bh", "stats_runs_test",
        "ts_acf_lags", "ts_hurst_rs")) {
      val bad = collectNodes(planOf(name)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("q4 EXISTS plans as a semi join, not a distinct+inner join") {
    val s = planString("q4_order_priority")
    assert(s.contains("LeftSemi"), s.linesIterator.take(25).mkString("\n"))
  }

  test("no nested-loop or cartesian join in the new pair/join gates") {
    for (name <- Seq("mm_phash_near_dup", "dedup_lsh_verified",
        "dedup_winnow_pairs", "j_asof_next_order", "graph_triangles",
        "graph_link_predict", "j_asof_nearest_order",
        "text_dup_ngram_mass", "eval_calibration_bins")) {
      val s = planString(name)
      assert(!s.contains("BroadcastNestedLoopJoin") &&
        !s.contains("CartesianProduct"),
        s"$name plans a nested-loop/cartesian join")
    }
  }

  test("ANN/graph top-k paths run the custom TopKPerKey plan, no WindowExec") {
    // The row_number().over(partitionBy(qid)) spelling would shuffle
    // and sort EVERY scored candidate per query; these plans must
    // instead carry the partial/final TopKPerKeyExec pair (map-side
    // heap reduce, k·partitions shuffle cap) and no window at all.
    for (name <- Seq("sim_brute_topk", "sim_ivf_topk", "sim_lsh_topk",
        "sim_ivf_probe", "sim_int8_rerank", "sim_knn_graph",
        "sim_rp_rerank", "sim_pq_rerank", "sim_rrf_fusion",
        "sim_ivfpq_rerank", "sim_hybrid_search")) {
      val all = collectNodes(planOf(name))
      assert(all.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
        s"$name lacks TopKPerKeyExec")
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name still plans a WindowExec")
    }
  }

  test("top-1-per-key and tf-idf gates fold without any WindowExec") {
    // top-1 per key is a max_by/min_by fold (map-side combine) and
    // per-doc tf-idf ranking runs the custom TopKPerKey plan — none of
    // these may regress to the shuffle-and-sort row_number spelling
    for (name <- Seq("s_latest_order_per_customer", "s_latest_event_per_user",
        "a_mode_per_user", "dedup_cluster_rep", "text_tfidf_topk")) {
      val all = collectNodes(planOf(name))
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name plans a WindowExec")
    }
  }

  test("semantic dedup blocks pairs - no cartesian, and no window anywhere") {
    // the within-cluster pair surface must go through the hash-blocked
    // equi-join (Pairs.blockedSelfPairs), never a shuffled cartesian of
    // cluster members — the only cross joins allowed are the kmeans
    // assign steps' corpus × K-row-broadcast centroid products (BNLJ
    // with a bounded build side BY CONSTRUCTION) — and the whole tree
    // (kmeans rounds included) is window-free
    val all = collectNodes(planOf("dedup_semantic"))
    val s = all.map(_.toString).mkString("\n")
    assert(!s.contains("CartesianProduct"),
      "dedup_semantic plans an unbroadcast cartesian pair join")
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "dedup_semantic plans a WindowExec")
  }

  test("bloom decontamination keeps might_contain ahead of the exact join") {
    // the runtime-filter expression must survive optimization as a
    // corpus-side filter (the semi-join pushdown is the operator's
    // entire point), and the false-positive-killing join stays an
    // equi-join
    val s = planString("decontaminate_bloom")
    assert(s.contains("might_contain"),
      "decontaminate_bloom lost the Bloom pre-filter")
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"))
  }

  test("cube expands in one aggregate pass (single Expand, no union)") {
    val s = planString("agg_cube_orders")
    assert(s.contains("Expand"))
    assert(!s.contains("Union"), s.linesIterator.take(25).mkString("\n"))
  }

  test("HLL sketch folds in hash aggregates - no window, no sort of raw rows") {
    // the register build and the estimator are two map-side-combinable
    // hash aggregates over fixed-size state; only the exact-distinct
    // measurement side may add its own aggregate, and nothing sorts or
    // windows the raw event rows
    val all = collectNodes(planOf("sketch_hll_distinct"))
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "sketch_hll_distinct plans a WindowExec")
    assert(all.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "sketch_hll_distinct lost its hash aggregates")
  }

  test("q21's EXISTS/NOT EXISTS plan as semi/anti hash joins, no nested loop") {
    // both correlated subqueries share the fact join key; the
    // inequality parts must ride as probe-side residuals of hash
    // joins, never force a nested-loop plan
    val s = planString("q21_sole_late_supplier")
    assert(s.contains("LeftSemi"), "q21 lost the LeftSemi EXISTS join")
    assert(s.contains("LeftAnti"), "q21 lost the LeftAnti NOT-EXISTS join")
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "q21 plans a nested-loop/cartesian join")
  }

  test("ER gates: blocked joins scored in-probe, best-match via TopKPerKey") {
    // the blocked pair gates must stay hash joins on the blocking key
    // (the similarity filter evaluates inside the probe); the
    // dictionary cross-scoring is the ONE place a BNLJ is correct
    // (vocabulary-bounded build side by construction), and its top-1
    // must run the custom heap plan, not a window
    for (name <- Seq("er_blocked_pairs", "er_jw_match")) {
      val s = planString(name)
      assert(!s.contains("BroadcastNestedLoopJoin") &&
        !s.contains("CartesianProduct"),
        s"$name plans a nested-loop/cartesian join")
    }
    val best = collectNodes(planOf("er_best_match"))
    assert(best.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "er_best_match lacks TopKPerKeyExec")
    assert(!best.exists(_.isInstanceOf[WindowExec]),
      "er_best_match plans a WindowExec")
  }

  test("OLS and autocorr gates fold in hash aggregates, window-free") {
    // the sufficient-statistic passes must stay map-side-combinable
    // aggregates; ts_autocorr1's pairing happens in per-series bounded
    // arrays, not a LEAD window over raw rows
    for (name <- Seq("ts_linreg_trend", "ts_autocorr1")) {
      val all = collectNodes(planOf(name))
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name plans a WindowExec")
      assert(all.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
        s"$name lost its hash aggregates")
    }
  }

  test("w_rewrite_topk actually fires the optimizer rewrite") {
    // the gate's value is the rule being ON the correctness path — if
    // a Spark upgrade changes the Window/Filter pattern and the rule
    // silently stops matching, the gate would still pass on the stock
    // plan; this assertion fails instead
    val all = collectNodes(planOf("w_rewrite_topk"))
    assert(all.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "TopKWindowRewrite no longer fires on the textbook spelling")
  }

  test("LM scorer salts the zipfian token join and stays window-free") {
    val s = planString("text_lm_score")
    assert(s.contains("__salt"),
      "text_lm_score lost the salted token→log-prob join")
    assert(!collectNodes(planOf("text_lm_score"))
      .exists(_.isInstanceOf[WindowExec]),
      "text_lm_score plans a WindowExec")
  }

  test("round-9 event/sequence gates keep every window keyed") {
    // transitions, SCD-2 and the dictionary id of er_entity_clusters
    // all ride partitioned windows — a regression to a global window
    // here re-introduces the single-task sort the two-level designs
    // remove.
    for (name <- Seq("events_transitions", "events_scd2_intervals",
        "er_entity_clusters", "dedup_tfidf_cosine")) {
      val bad = collectNodes(planOf(name)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("q17's correlated AVG decorrelates - no nested loop, joins hash-based") {
    val s = planString("q17_small_quantity")
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "q17 plans a nested-loop/cartesian join")
    assert(s.contains("BroadcastHashJoin"),
      "q17 lost the broadcast brand dimension")
  }

  test("tfidf cosine pairs come from bounded arrays, not a row-scale self-join") {
    // the pair surface must be generated by exploding the df-bounded
    // posting arrays (two Generates), never by sort-merge-joining the
    // row-scale weight table with itself
    val s = planString("dedup_tfidf_cosine")
    assert(!s.contains("SortMergeJoin"),
      "dedup_tfidf_cosine re-introduced a row-scale self-join")
  }

  test("round-9 additions: no cartesian joins, prefix-sum ranks stay partitioned") {
    // MERGE must keep its full-outer join an equi-join; co-purchase
    // pairs must come from basket arrays, not a cartesian; the
    // Gini/Lorenz/RFM global ranks ride the PrefixSum pid-partitioned
    // windows (the only permitted cross joins are 1-row broadcast
    // scalar combines, BNLJ-with-bounded-build BY CONSTRUCTION).
    for (name <- Seq("store_merge_upsert", "rec_copurchase_topk",
        "stats_km_survival", "w_gini_spend", "w_lorenz_deciles",
        "seg_rfm_counts", "stats_ab_ztest", "stats_chi2_indep",
        "events_daily_paths", "text_bool_retrieval")) {
      val s = planString(name)
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
    }
    for (name <- Seq("w_gini_spend", "w_lorenz_deciles", "seg_rfm_counts")) {
      val bad = collectNodes(planOf(name)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
    // path mining and co-purchase fold and TakeOrdered — window-free
    for (name <- Seq("events_daily_paths", "rec_copurchase_topk")) {
      val all = collectNodes(planOf(name))
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name plans a WindowExec")
      assert(all.map(_.toString).mkString.contains("TakeOrderedAndProject"),
        s"$name lost its TakeOrderedAndProject top-k")
    }
    // hard negatives dogfood the custom top-k plan, window-free
    val hn = collectNodes(planOf("sim_hard_negatives"))
    assert(hn.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "sim_hard_negatives lacks TopKPerKeyExec")
    assert(!hn.exists(_.isInstanceOf[WindowExec]),
      "sim_hard_negatives plans a WindowExec")
  }

  test("TPC-H completion gates: hash joins only, scalar thresholds broadcast") {
    // The only cross joins these plans may contain are the 1-row
    // broadcast scalar combines (q11 total, q15 max, q22 average) —
    // bounded-build BNLJ by construction, never a CartesianProduct.
    for (name <- Seq("q2_min_cost_supplier", "q8_market_share",
        "q9_product_profit", "q10_returned_items", "q11_important_stock",
        "q15_top_supplier", "q16_parts_suppliers", "q19_disjunctive_revenue",
        "q20_potential_promotion", "q22_global_sales", "w_share_of_region",
        "orders_rapid_repeat")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name plans a WindowExec")
    }
    // q16's NOT-IN supplier exclusion and q22's inactivity check stay
    // anti joins; q20's candidate membership stays a semi join; the
    // two top-k reports TakeOrderedAndProject instead of global sorts.
    // golden record: the cluster body's index window is KEYED
    // (partitionBy prefix) — assert no cartesian and no global window
    val gr = collectNodes(planOf("er_golden_record"))
    assert(!gr.map(_.toString).mkString.contains("CartesianProduct"),
      "er_golden_record plans an unbroadcast cartesian join")
    assert(!gr.exists {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }, "er_golden_record plans an unpartitioned WindowExec")
    assert(planString("q16_parts_suppliers").contains("LeftAnti"))
    assert(planString("q22_global_sales").contains("LeftAnti"))
    assert(planString("q20_potential_promotion").contains("LeftSemi"))
    for (name <- Seq("q2_min_cost_supplier", "q10_returned_items"))
      assert(planString(name).contains("TakeOrderedAndProject"),
        s"$name lost its TakeOrderedAndProject top-k")
  }

  test("feature gates: attribution joins stay equi-hash, MW ranks partitioned") {
    // attribution rides the as-of merge / bucketed range join — never
    // a nested-loop time probe; Mann-Whitney's rank pass must be the
    // pid-partitioned PrefixSum windows, not one global sort-window.
    for (name <- Seq("attr_last_touch", "attr_linear", "stats_mannwhitney",
        "stats_ks_twosample", "stats_welch_ttest", "cohort_ltv",
        "graph_assortativity", "feat_target_encode", "feat_hashing_trick",
        "ts_changepoint", "ts_concurrent_sessions", "sample_kfold",
        "j_asof_tolerance", "dedup_prefix_filter", "quantile_cont_grouped",
        "sample_neyman", "graph_modularity", "emb_pq_distortion")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
    // filtered search and class-balanced sampling dogfood the custom
    // top-k plan
    val fr = collectNodes(planOf("sim_filtered_recall"))
    assert(fr.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "sim_filtered_recall lacks TopKPerKeyExec")
    assert(!fr.exists(_.isInstanceOf[WindowExec]),
      "sim_filtered_recall plans a WindowExec")
    val cb = collectNodes(planOf("sample_class_balanced"))
    assert(cb.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "sample_class_balanced lacks TopKPerKeyExec")
    assert(!cb.exists(_.isInstanceOf[WindowExec]),
      "sample_class_balanced plans a WindowExec")
  }

  test("round-9 late additions: no cartesian, every window keyed or bounded") {
    // privacy/layout/graph/sketch gates: pure keyed aggregates and
    // equi-joins — a cartesian or an unpartitioned row-scale window
    // here would be a scale regression. The two allowed unpartitioned
    // windows operate on BOUNDED inputs by construction: the
    // PrefixSum global rank (pid-partitioned two-pass, asserted
    // elsewhere) and text_vocab_growth's 10-row bucket fold.
    for (name <- Seq("privacy_k_anon", "privacy_l_diversity",
        "privacy_suppression", "privacy_dp_counts", "dedup_incremental",
        "graph_two_hop", "graph_closeness_sample", "graph_hyperanf",
        "graph_four_cycles", "sketch_join_card", "sketch_hll_window",
        "ts_backtest_mase", "store_compaction_bins", "stats_cuped_adjust",
        "stats_winsorized_mean", "emb_centroid_drift", "mm_frame_dedup",
        "feat_woe_encode", "text_lang_confusion", "orders_benford",
        "ts_downsample_lttb", "sessionize_native", "curate_report",
        "dq_schema_drift", "store_cdc_apply", "parts_abc_analysis",
        "events_markov_stationary", "text_textrank_keywords",
        "sim_range_search", "graph_degree_dist", "supplier_hhi",
        "corpus_js_divergence", "feat_gini_split", "mm_scene_cuts",
        "sketch_quantile_window", "er_blocking_recall")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
    // the Hilbert/bloom layout gates rank via the range-partitioned
    // PrefixSum — their windows are pid-keyed, never global
    for (name <- Seq("store_hilbert_key", "store_hilbert_skipping",
        "store_bloom_skipping")) {
      val bad = collectNodes(planOf(name)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("round-10 additions: no cartesian, every window keyed") {
    // real-decode gates (mapPartitions over per-doc assets — no
    // shuffle before the output sort), BM25 (query-term filter before
    // aggregation, broadcast scalars, TakeOrdered), domain caps
    // (native TopKPerKey heap, never a full per-source sort)
    for (name <- Seq("mm_decode", "mm_decode_bmp", "mm_resize",
        "mm_audio_decode", "text_bm25_topk", "curate_domain_caps",
        "text_bpe_apply", "store_scd2", "sample_priority_per_key",
        "events_mad_outliers", "dq_key_skew", "text_html_extract",
        "emb_knn_outliers", "curate_shuffle_shards",
        "dq_referential_integrity", "curate_quality_sweep",
        "feat_mutual_info", "text_zipf_fit", "mm_audio_downsample",
        "privacy_t_closeness", "stats_srm_check", "sim_ivf_balance",
        "events_bot_regularity", "dq_column_profile", "ts_theil_sen",
        "text_lm_kn", "curate_contamination_report",
        "sketch_bloom_fpr", "graph_reciprocity", "stats_power_mde",
        "curate_mix_anneal", "text_mattr",
        "curate_tokenizer_fertility", "graph_transitivity",
        "er_match_threshold_sweep", "store_overlap_depth",
        "privacy_dp_sum", "text_keyphrase_rake", "agg_grouping_sets",
        "stats_anova_f", "store_vacuum_plan")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("round-10 late additions: windows keyed, no cartesian joins") {
    // Spearman's four ranks and the snapshot reader's removal edge
    // ride (type, day)/(user)-partitioned windows; the Markov
    // absorption collects only the domain-bounded transition matrix;
    // the only cross joins in the eval/sweep gates are broadcast
    // bounded grids (k values, snapshot cut points, nation pairs) —
    // BNLJ-with-bounded-build BY CONSTRUCTION, never CartesianProduct.
    for (name <- Seq("stats_spearman", "store_snapshot_read",
        "attr_markov_removal", "privacy_generalization_sweep",
        "mm_image_histogram", "stats_kendall_tau", "sim_recall_curve",
        "sim_eval_ndcg", "mm_audio_silence_trim",
        "ts_bollinger_breakouts", "stats_diff_in_diff",
        "text_boilerplate_lines", "curate_ipw_ess",
        "events_gap_histogram", "ts_seasonal_strength",
        "store_snapshot_diff", "stats_tost_equivalence",
        "dedup_source_profile", "sketch_capture_recapture",
        "dq_psi_drift", "graph_conductance", "eval_score_auc",
        "eval_pr_curve", "events_user_lifecycle", "sample_group_kfold",
        "sim_probe_sweep", "emb_pc_variance_ratio",
        "parts_abc_xyz_matrix", "orders_discount_elasticity",
        "dq_column_entropy", "xrpl_roll_spread", "stats_sprt_monitor",
        "sketch_cms_sweep", "events_stickiness", "text_entropy_rate",
        "curate_ablation_grid", "ts_xmr_control",
        "graph_centralization", "text_simpson_diversity")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("round-12 additions: no cartesian, every window keyed") {
    // kappa/brier/lift ride the one langCm / score-histogram pass
    // (ranks via PrefixSum, never a global window); the nonparametric
    // tests pair only on calendar-bounded or k-bounded frames
    // (day/series equi-joins), and kruskal/levene keep their rank /
    // median windows keyed by group.
    for (name <- Seq("eval_cohens_kappa", "eval_lift_gains",
        "eval_brier_reliability", "stats_cochran_q", "stats_friedman",
        "stats_mann_kendall", "stats_kruskal_wallis",
        "stats_levene_bf", "ts_ljung_box", "text_burstiness",
        "eval_mcc", "stats_page_trend", "stats_dunn_posthoc",
        "stats_anova_f")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("round-13 additions: no cartesian, every window keyed") {
    // The rank/trend/effect-size family runs on the calendar-bounded
    // two-regime frame (series-keyed windows); the ranking-eval pair
    // cuts to a 10-row frame before any window (bounded by
    // construction, so an empty partitionSpec there is fine — they
    // are excluded); pass@k / CMH / fleiss fold scalars with no
    // window at all; page-hinkley keys its three windows by
    // (series, variant).
    for (name <- Seq("ts_variance_ratio", "ts_turning_points",
        "ts_max_drawdown", "stats_seasonal_mk", "stats_jonckheere",
        "stats_mood_median", "stats_cliffs_delta",
        "stats_gini", "stats_kendall_w", "text_yule_k",
        "text_ngram_novelty", "eval_pass_at_k", "stats_cmh",
        "ts_page_hinkley", "eval_fleiss_kappa", "ts_motif_discovery",
        "eval_bleu_pairs", "eval_auc_delong", "text_heaps_fit",
        "eval_bt_arena", "ts_permutation_entropy",
        "ts_sax_symbols", "dq_fd_violations", "ts_haar_energy",
        "ts_spectral_entropy", "stats_fdr_by",
        "stats_hodges_lehmann", "er_phonetic_blocking",
        "ts_decayed_volume", "ts_rsi", "ts_atr", "ts_obv",
        "ts_stochastic", "ts_chaikin_mf", "stats_wilcoxon_signed_rank",
        "eval_krippendorff_alpha", "eval_gwet_ac1", "graph_rich_club",
        "graph_hits", "ts_parkinson_vol", "ts_garman_klass_vol",
        "ts_durbin_watson", "events_transition_latency",
        "text_coleman_liau", "ts_kaufman_er", "ts_amihud_illiq",
        "privacy_reid_risk", "sim_rank_overlap", "stats_bartlett",
        "graph_edge_embeddedness", "stats_cochran_armitage",
        "er_qgram_dice", "stats_theil_u", "eval_weighted_kappa",
        "ts_rolling_beta", "rec_item_jaccard",
        "events_user_concentration", "feat_corr_matrix",
        "dq_wasserstein_drift", "stats_g_test", "stats_cohens_d",
        "events_burstiness_gb")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
    // stats_cramers_v reuses the chi2 contingency machinery: its one
    // unpartitioned window (the grand-total marginal) runs over the
    // hash-aggregated |event types|×7 contingency table — bounded by
    // construction like the chi2 gate it derives from — so only the
    // no-cartesian posture is asserted.
    val s = collectNodes(planOf("stats_cramers_v"))
      .map(_.toString).mkString("\n")
    assert(!s.contains("CartesianProduct"),
      "stats_cramers_v plans an unbroadcast cartesian join")
  }

  test("round-14 additions: no cartesian, every window keyed") {
    // The ECDF/rank trio (CvM, Anderson-Darling, Brunner-Munzel)
    // rides the PrefixSum two-pass histogram — no unpartitioned
    // window by construction; Tukey HSD and Davies-Bouldin fold to
    // k-row broadcast pair tables; Katz is three join+aggregate
    // rounds over the k-NN edge list.
    for (name <- Seq("stats_cvm_twosample", "stats_anderson_darling",
        "stats_brunner_munzel", "stats_tukey_hsd",
        "cluster_davies_bouldin", "graph_katz",
        "privacy_dp_quantile", "ts_dtw_pairs", "eval_rouge_l",
        "eval_chrf", "stats_breslow_day")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("round-15 additions: no cartesian, every window keyed") {
    // Grubbs folds to a per-type broadcast deviation pass; Holm
    // ranks via the PrefixSum global cumsum and runs its cummax as
    // a triangle self-join on the ~10-row test table; the jackknife
    // is one group-totals broadcast over a row-scale pass. The only
    // windows any of them plan are PrefixSum's pid-keyed locals.
    for (name <- Seq("stats_grubbs", "stats_holm",
        "stats_jackknife_ratio")) {
      val all = collectNodes(planOf(name))
      val s = all.map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      val bad = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans an unpartitioned WindowExec")
    }
  }

  test("ranking-eval gates: corpus-scale work ends at the top-10 cut") {
    // eval_ndcg / eval_map_mrr may window, but only AFTER a
    // TakeOrdered/limit-10 boundary: assert the plan contains a
    // global-limit of 10 and that every WindowExec sits above it
    // (bounded 10-row frames), so no corpus-scale rows ever reach a
    // single-partition window.
    for (name <- Seq("eval_ndcg", "eval_map_mrr")) {
      val plan = planOf(name)
      val s = collectNodes(plan).map(_.toString).mkString("\n")
      assert(!s.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian join")
      assert(s.contains("TakeOrderedAndProject") || s.contains("Limit"),
        s"$name lost its top-10 cut")
    }
  }

  test("scale posture: AQE and skew-join splitting stay enabled") {
    // Every 100x claim in PLANS.md assumes AQE's runtime re-plan, and
    // the skewed-key paths (j_asof_skewed family, band joins, blocking
    // keys) rely on skew-join splitting — with it off, one hot key
    // serializes into one task. This session comes from the SAME
    // graft.Sessions builder Bench and Verify use, so a config drift
    // in any entrypoint fails here instead of shipping silently.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE disabled - runtime re-planning and skew handling are gone")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join splitting disabled - hot keys serialize")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "session zone drifted from the events-loader UTC contract")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000",
      "generated-class cache resized - a gate rep's ~223 classes must " +
        "fit, or every evaluation compiles them again")
  }

  test("codegen cache: a repeated query shape is not compiled again") {
    // Spark's default cache of 100 generated classes is smaller than
    // the engine's working set; at that size the 150 classes below
    // evict the request's classes and the repeat compiles them again
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, lit}
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t = XrplTables.fromFiles(spark, XrplTables.fixturesPath)
    t.cached.count() // the request then plans against a built cache
    val account = t.payments.head().source
    def request() = graft.xrpl.api.Queries.getAccountPayments(t, account)
      .collect().toSeq
    val first = request()
    assert(first.nonEmpty)
    val c0 = compiles
    // each inlined Long literal is a distinct whole-stage class;
    // toRdd compiles it on the driver without running a job
    (1L to 150L).foreach(i =>
      spark.range(1).select(col("id") + lit(i)).queryExecution.toRdd)
    val c1 = compiles
    assert(c1 - c0 >= 150, s"only ${c1 - c0} classes generated")
    assert(request() == first)
    assert(compiles == c1,
      s"the repeated request compiled ${compiles - c1} classes again")
    t.cached.unpersist()
  }

  test("codegen: a ledger lookup by another index compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t = XrplTables.fromFiles(spark, XrplTables.fixturesPath)
    t.cached.count()
    val indexes = t.ledgers.collect().map(_.ledger_index).take(3)
    def request(i: Long) = graft.xrpl.api.Queries.getLedgerByIndex(t, i).collect()
    assert(request(indexes(0)).map(_.getAs[Long]("ledger_index")).toSeq == Seq(indexes(0)))
    val c0 = compiles
    indexes.tail.foreach(i =>
      assert(request(i).map(_.getAs[Long]("ledger_index")).toSeq == Seq(i)))
    assert(compiles == c0, s"two more lookups compiled ${compiles - c0} classes")
    t.cached.unpersist()
  }

  test("Data-API: a bundle-backed request runs one job and no exchange") {
    // the nested bundle answers each of these without a join or a
    // shuffle, so AQE has no stage to split and nothing to broadcast
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.xrpl.api.Queries
    val t = XrplTables.fromFiles(spark, XrplTables.fixturesPath)
    t.cached.count() // the requests then read a built cache
    val tx = t.transactions.head()
    val pay = t.payments.head()
    val requests = Seq(
      "getAccountTransactions" ->
        Queries.getAccountTransactions(t, t.affectedAccounts.head().account),
      "getAccountPayments" -> Queries.getAccountPayments(t, pay.source),
      "getBalanceChanges" -> Queries.getBalanceChanges(t, t.balanceChanges.head().account),
      "getLedgerByIndex" -> Queries.getLedgerByIndex(t, tx.ledger_index),
      "getTransactionByHash" -> Queries.getTransactionByHash(t, tx.tx_hash),
      "getPayments" -> Queries.getPayments(t, Some(Queries.Pair(pay.currency, pay.issuer))))
    requests.foreach { case (name, df) =>
      val jobs = SparkTest.jobsDuring(assert(df.collect().nonEmpty, s"$name: no rows"))
      assert(jobs === 1, s"$name: $jobs jobs")
      val exchanges = SparkTest.execNodes(df).collect { case e: Exchange => e.nodeName }
      assert(exchanges.isEmpty, s"$name plans $exchanges")
    }
    t.cached.unpersist()
  }

  test("Tables: every table reads with the schema inference gives") {
    // the memoized schema must be exactly the inferred one, or results
    // and plan-keyed cache entries would change with it
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    def inferred(name: String) = spark.read.parquet(s"$dir/$name.parquet").schema
    graft.Tables.events(spark, dir) // sets the conf every event read runs under
    for (name <- graft.Tables.names)
      assert(graft.Tables(spark, dir, name).schema == inferred(name), name)
    // a conf that inference depends on is part of the memo's stamp:
    // events.ts is TIMESTAMP(MICROS) without the UTC-adjusted flag
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(ntz)
    spark.conf.set(ntz, "false")
    try {
      val ev = graft.Tables(spark, dir, "events").schema
      assert(ev == inferred("events"))
      assert(ev("ts").dataType == TimestampType)
    } finally prev.fold(spark.conf.unset(ntz))(spark.conf.set(ntz, _))
    assert(graft.Tables(spark, dir, "events").schema("ts").dataType ==
      TimestampNTZType)
  }

  test("Tables: a rewritten file or directory reads with its new schema") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    import org.apache.spark.sql.{DataFrame, Row}
    val tmp = Files.createTempDirectory("graft-tables")
    val session = spark
    import session.implicits._
    def check(path: String, df: DataFrame, rows: Seq[Row]): Unit = {
      val read = graft.Tables.parquet(spark, path)
      assert(read.schema == spark.read.parquet(path).schema)
      assert(read.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
      assert(read.collect().toSeq == rows)
    }
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val aRows = Seq(Row(1L, "a"), Row(2L, "b"))
    val b = Seq((3.5, 7, true)).toDF("x", "y", "z")
    val bRows = Seq(Row(3.5, 7, true))
    try {
      // a Spark-written directory, overwritten in place
      val written = tmp.resolve("dir.parquet").toString
      a.coalesce(1).write.parquet(written)
      check(written, a, aRows)
      b.coalesce(1).write.mode("overwrite").parquet(written)
      check(written, b, bRows)
      // a single file, replaced by one of another schema
      val file = tmp.resolve("file.parquet")
      def writeFile(df: DataFrame): Unit = {
        val out = tmp.resolve("staging")
        df.coalesce(1).write.mode("overwrite").parquet(out.toString)
        val part = Files.list(out).filter(p =>
          p.getFileName.toString.matches("part-.*\\.parquet")).findFirst.get
        Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
      }
      writeFile(a)
      check(file.toString, a, aRows)
      writeFile(b)
      check(file.toString, b, bRows)
    } finally Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  test("gate construction launches no job once its tables were read") {
    // every table read carries its memoized schema, so building q9's
    // DataFrame (six table reads) starts no schema-inference job
    val q9 = SparkEntry.queries("q9_product_profit")
    q9(spark, dir).write.mode("overwrite").format("noop").save()
    val jobs = SparkTest.jobsDuring(q9(spark, dir))
    assert(jobs == 0, s"building q9_product_profit launched $jobs jobs")
  }

  test("a plan-keyed persisted memo built twice is one cache entry") {
    import org.apache.spark.sql.execution.CachedData
    val a = graft.operators.SimilarityOps.signatures(spark, dir)
    val b = graft.operators.SimilarityOps.signatures(spark, dir)
    val cm = spark.sharedState.cacheManager
    val field = cm.getClass.getDeclaredField("cachedData")
    field.setAccessible(true)
    val entries = field.get(cm).asInstanceOf[IndexedSeq[CachedData]]
      .filter(e => Seq(a, b).exists(_.queryExecution.analyzed.sameResult(e.plan)))
    assert(entries.size == 1, s"${entries.size} cache entries for signatures")
    a.unpersist()
  }

  test("a ranked persisted memo built twice is one cache entry") {
    // the rank attribute each topKRanked call makes must not keep two
    // builds of the k-NN edge memo from matching
    import org.apache.spark.sql.execution.CachedData
    val a = graft.operators.SimilarityOps.knnEdges(spark, dir)
    val b = graft.operators.SimilarityOps.knnEdges(spark, dir)
    val cm = spark.sharedState.cacheManager
    val field = cm.getClass.getDeclaredField("cachedData")
    field.setAccessible(true)
    val entries = field.get(cm).asInstanceOf[IndexedSeq[CachedData]]
      .filter(e => Seq(a, b).exists(_.queryExecution.analyzed.sameResult(e.plan)))
    assert(entries.size == 1, s"${entries.size} cache entries for knnEdges")
    a.unpersist()
  }

  test("sim_rrf_fusion ranks in the heap pass and sorts only its result") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.TopKPerKeyExec
    val df = SparkEntry.queries("sim_rrf_fusion")(spark, dir)
    df.collect()
    val all = SparkTest.execNodes(df)
    // the three family lists feed a union, where Spark drops no sort:
    // each sorted list would add a range exchange of its own
    val ranges = all.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.size == 1, s"${ranges.size} range exchanges")
    // the old rank pass: collect_list over the final heap's output
    val reRanks = all.collect {
      case a: ObjectHashAggregateExec if (a.child match {
        case t: TopKPerKeyExec => !t.partial
        case _ => false
      }) => a
    }
    assert(reRanks.isEmpty, reRanks.mkString("\n"))
    assert(all.exists {
      case t: TopKPerKeyExec => t.rank.isDefined
      case _ => false
    })
  }

  test("a warm sim_rrf_fusion evaluation launches at most 18 jobs") {
    val q = SparkEntry.queries("sim_rrf_fusion")
    def run(): Unit = q(spark, dir).write.mode("overwrite").format("noop").save()
    run()
    val jobs = SparkTest.jobsDuring(run())
    assert(jobs <= 18, s"a warm sim_rrf_fusion launched $jobs jobs")
  }

  test("rec_assoc_rules generates its pairs once") {
    import org.apache.spark.sql.catalyst.expressions.Flatten
    import org.apache.spark.sql.execution.GenerateExec
    val pairGens = collectNodes(planOf("rec_assoc_rules")).collect {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[Flatten]) => g
    }
    assert(pairGens.size == 1, s"${pairGens.size} pair-generating Generates")
  }
}
