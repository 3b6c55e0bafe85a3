"""Physical-plan audit over every registered query.

Greps each plan for scale red flags and writes a summary (PLANS.md):

- CartesianProduct / BroadcastNestedLoopJoin — pairwise blowup
- SortMergeJoin — acceptable for fact-fact, flagged so each one is a
  conscious decision, not an accident
- unpartitioned Window (1PART_WINDOW) — a Window with no PARTITION BY
  moves its whole input to one partition; legitimate ONLY over a
  value-bounded frame (calendar-day series, top-k cuts, K-row
  codebooks), so every site needs an allowlist justification
- missing PushedFilters on scans that have literal predicates
- Exchange count — shuffles per query

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# BroadcastNestedLoopJoin is the *intended* physical strategy when one
# side is provably bounded and the condition is non-equi; these are
# audited by hand and documented at the operator:
ALLOWED_BNLJ = {
    # --- round-15 additions ---
    "dedup_epoch_promote": "per family four 1-row aggregates (serving census x two anti-join diff counts x dead census) crossed into the receipt row — all over store artifacts",
    "ann_epoch_promote": "single 1-row aggregate over the promoted store-served edge list (listed defensively)",
    "ann_epoch_search_recall": "the beam shape over the PROMOTED store-served edges: broadcast frontier per hop, 1-row survivor entry, truth leg is a store read",
    # --- round-13 additions ---
    "dist_matrix_store_stats": "1-row n_samples scalar crossed with the 1-row pair-matrix aggregate (both read the store artifact)",
    "dedup_sig_store_stats": "five 1-row aggregates over store artifacts crossed into the single integrity row",
    "ann_consolidation_decision": "two 1-row aggregates (base-edge census x patched-edge census) crossed into the single decision row",
    # --- round-11 additions ---
    "corpus_anneal_mixture": "broadcast 1-row (M, p_glob) and 1-row W scalars into the per-source frame",
    "contamination_by_source": "broadcast 1-row test-set-size scalar into the per-source hit frame",
    "raup_crick_null": "capped-cohort (16 samples) broadcast fan-outs: pool x perms draw frame, non-equi pair former, per-pair null join — all bounded by the CAP",
    "stylometry_burrows_delta": "broadcast |sources|x|stopwords| z-frame into the non-equi source-pair former (bounded by the fixed word list)",
    "pack_budget_sweep": "broadcast 4-row budget grid crossed into the per-doc offsets + per-lang totals",
    "sentence_dedup_census": "string-keyed hash-groupBy only (listed defensively)",
    "corpus_novelty_growth_curve": "broadcast 1-row max-doc-id scalar into the gram/doc scans",
    "kpss_level_stat": "broadcast 1-row (n, total) scalar into the calendar-bounded daily frame",
    "label_calinski_harabasz": "broadcast K-row label frames + 1-row global centroid/total scalars (K = |labels|, bounded)",
    "corpus_good_turing": "broadcast 6-row count-of-counts grid + 1-row token-total scalar",
    "label_davies_bouldin": "broadcast K-row label scatter/member frames + 1-row DB-index scalar (K = |labels|, bounded)",
    "quality_filters_agreement": "broadcast 1-row corpus-token-total + 1-row kappa scalars (ccnet/gopher shapes)",
    "ann_augmented_graph_insert": "broadcast 5-row probe dimension into the insert batch + 1-row entry-node scalar (the augment discipline)",
    "dedup_incremental_minhash": "broadcast delta-bounded band-key set + new-id flag frames into the standing index probes",
    "kmv_set_intersection": "broadcast K-row-per-source sketch + theta frames into the non-equi source-pair former (sketch-sized, never corpus-sized)",
    "loglogistic_rank_regression": "broadcast 1-row gap-count scalar into the duration-rank frame (weibull_rank_regression shape)",
    "ses_forecast_mase": "1-row fold scalars (bounded-array aggregate)",
    "holt_linear_mase": "1-row fold scalars (bounded-array aggregate)",
    "quality_score_auc": "bounded milli-score histogram window, 1-row finish",
    "retention_halflife_fit": "broadcast 14-row lag dimension + 1-row max-day scalar into the distinct user-day frame (daily_acf shape)",
    "ljung_box_remainder": "broadcast 7-row lag dimension + 1-row mean/SS scalars + 7-row day-of-week means into the DAILY frame (ljung_box_daily shape)",
    "daily_revenue_periodogram": "broadcast 5-row period dimension + 1-row mean/energy scalars into the DAILY frame",
    "ljung_box_daily": "broadcast 7-row lag dimension into the DAILY frame + 1-row mean/SS/n scalars (daily_acf_lags shape)",
    "quality_threshold_calibration": "broadcast 1-row global-threshold scalar into the doc scan",
    "cluster_balanced_sample_plan": "store-served km_assign read (late-r15); broadcast K-row quota table + 1-row budget scalar",
    "ann_hnsw_multilayer_search": "broadcast query set into the n/16 routing-layer scan (non-equi !=) + |queries|*B-row frontier per descent hop + truth leg (beam shape)",
    "ann_jl_pool_recall_sweep": "broadcast query set (N_QUERIES rows), non-equi != + projected-pair equi join (jl_topk_recall shape, per pool leg)",
    # --- round-10 additions ---
    "knn_graph_connected": "broadcast 1-row global-min-rep + two 1-row component-count scalars into the 3-row census",
    "expectations_audit_delta": "broadcast 1-row max-year scalar scoping the delta + 1-row orphan-count scalars (audit shape)",
    "ann_hnsw_layered_search": "broadcast |queries|*B-row frontier per hop on both layers + truth leg's broadcast-query != join (beam shape)",
    "embedding_jl_distortion": "broadcast query set (N_QUERIES rows), non-equi != (ann_bruteforce shape) + projected-pair equi join",
    "orders_durbin_watson": "broadcast 1-row (n, total) stat scalar into the calendar-bounded daily frame",
    "order_value_poisson_bootstrap": "broadcast 32-row replicate dimension crossed into the fact scan (one explode)",
    "ann_jl_topk_recall": "broadcast query set (N_QUERIES rows), non-equi != + projected-pair equi join (jl_distortion shape)",
    # --- round-9 additions (each a bounded scalar/dimension cross) ---
    "ann_recall_at_k_sweep": "composes ann_bruteforce_topk's broadcast-query != join per k leg",
    "ann_greedy_graph_search": "broadcast |queries|-row frontier per hop + truth leg's broadcast-query != join",
    "ann_beam_graph_search": "broadcast |queries|*B-row frontier per hop + truth leg's broadcast-query != join",
    "ann_tombstone_search_recall": "the beam shape over the PATCHED store-served edges: broadcast frontier per hop, 1-row survivor entry, truth leg's broadcast-query != join",
    "priority_mix_jsd_monthly": "broadcast 1-row grand-total scalar into the months x 5-priority grid",
    "data_expectations_audit": "broadcast 1-row fk-orphan/row-count/dim-max scalars",
    "hazard_ratio_segments": "broadcast 1-row obs-end scalar + 2-row group frame (logrank shape)",
    "ann_top1_margin_histogram": "broadcast 100-query set, non-equi != (ann_range_query shape)",
    "chi2_gof_weekday": "broadcast 1-row order-count scalar over the 7-row weekday frame",
    "cms_width_error_sweep": "broadcast 4-row depth frame into build + probe (heavy_hitters shape)",
    "event_type_stationary_dist": "broadcast 1-row vector-sum scalar + |types|-row id/rowsum dims",
    "mann_kendall_trend": "broadcast calendar-bounded daily series (<= ~2.6k rows) day-pair join + 1-row stat scalars",
    "restricted_mean_survival": "broadcast 1-row obs-end/total scalars + 3-row horizon frame (KM shape)",
    # --- round-8 additions (each a bounded scalar/dimension cross) ---
    "parts_slow_mover_detection": "broadcast 1-row horizon-date scalar",
    "embedding_norm_vs_label_anova": "cross join of 1-row moment aggregates (anova shape)",
    "ann_lsh_multiprobe_topk": "broadcast 5-probe query set (5*N_QUERIES rows), bucket-equi + != filter",
    "ann_range_query_count": "broadcast query set (N_QUERIES rows), non-equi != (ann_bruteforce shape)",
    "anova_oneway_f": "cross join of 1-row moment aggregates",
    "brown_forsythe_f": "cross join of 1-row moment aggregates",
    "chao2_incidence": "cross join of the 1-row site-count scalar",
    "competing_risks_cif": "cross join of 1-row at-risk/horizon scalars",
    "daily_acf_lags": "4-row lag dimension cross into the calendar-bounded daily frame + 1-row ss scalar",
    "embedding_pca_power_axis": "1-row scalar crosses (n, rescale divisor, Rayleigh num/den, sign)",
    "friedman_test_weekday": "cross join of the 1-row block-count scalar",
    "grubbs_outlier_daily": "1-row mean/ss scalar crosses",
    "jonckheere_terpstra_trend": "bounded |groups|x|values| grid build (5-row group dimension) + 1-row moment scalars",
    "kendall_tau_daily": "broadcast day-grain self-pair (|days|^2, calendar-bounded) + 1-row n_days scalar",
    "kruskal_wallis_h": "cross join of 1-row tie/stat aggregates",
    "metric_agreement_topk": "broadcast query set (N_QUERIES rows), non-equi !=",
    "occupancy_abundance_deciles": "broadcast 1-row sample-count scalar",
    "orders_runs_test": "1-row median/count scalar crosses",
    "page_hinkley_drift": "1-row lambda/peak scalar crosses",
    "quantiles_exact_by_segment": "5-row quantile-level dimension joined on the rank equality",
    "session_depth_histogram": "broadcast 1-row session-total scalar",
    "taylor_power_law": "broadcast 1-row OLS moment scalar",
    "term_burstiness": "broadcast 1-row corpus-total scalar",
    "ann_bruteforce_topk": "broadcast query set (N_QUERIES rows), non-equi !=",
    "ann_ivf_topk": "broadcast centroid set (N_CELLS rows), intentional cross",
    "funnel_conversion": "cross join of three 1-row aggregates",
    "window_funnel_strict": "cross join of three 1-row aggregates (funnel_conversion shape)",
    "ccnet_perplexity_tertiles": "broadcast 1-row corpus-token-total scalar (text_unigram_logloss shape)",
    "ordination_pcoa_2d": "broadcast 1-row scalars (grand mean, norms, λ, signs)",
    "tfidf_top_terms": "broadcast 1-row corpus-size scalar",
    "q22_global_sales_opportunity": "broadcast 1-row scalar subquery (global avg)",
    "decile_stats": "broadcast 1-row total-count scalar (distributed-rank ntile)",
    "q11_important_parts": "broadcast 1-row scalar subquery (selection total)",
    "q15_top_supplier": "broadcast 1-row scalar subquery (max revenue)",
    "text_unigram_logloss": "broadcast 1-row corpus-token-total scalar",
    "bm25_search": "broadcast 1-row df/avgdl statistics row",
    "lang_temperature_sample": "broadcast 1-row min-language-count scalar",
    "zipf_token_stats": "broadcast 1-row grand-total scalar",
    "bigram_pmi": "broadcast 1-row unigram/bigram total scalars",
    "ann_recall_report": "composes ann_bruteforce/ivf (their bounded broadcast sets)",
    "corpus_mixture_plan": "broadcast 1-row min-token-mass scalar",
    "orders_open_backlog_daily": "broadcast 1-row calendar-bounds scalar",
    "taxa_cooccurrence": "broadcast 1-row sample-total scalar",
    "dedup_cross_source_matrix": "broadcast 1-row pair-total scalar",
    "revenue_seasonality_weekday": "broadcast 1-row overall-mean scalar",
    "pagerank_knn": "broadcast 1-row node-count scalar (per iteration)",
    "knn_degree_assortativity": "broadcast 1-row node-count scalar over the 1-row moment aggregate",
    "segment_nation_mutual_info": "broadcast 1-row grand-total scalar into the bounded cell/marginal frames",
    "centroid_assignment_accuracy": "broadcast |labels|-row centroid-list cross into the vector scan",
    "embedding_triplet_margin": "broadcast query set (N_QUERIES rows), non-equi != (as ann_bruteforce_topk)",
    "rare_category_collapse": "broadcast 1-row grand-total scalar over the bounded category frame",
    "bloom_fpp_measured": "broadcast 1-row member/bit-count scalars into the 1-row probe aggregate",
    "heldout_bigram_perplexity": "broadcast 1-row train-vocab-size scalar into the scoring join",
    "ann_filtered_topk": "broadcast query set (N_QUERIES rows), non-equi != + parity predicate (ann_bruteforce shape)",
    "ab_cuped_adjustment": "broadcast 1-row temporal-midpoint scalar into the event scan",
    "token_budget_apportion": "broadcast 1-row total/leftover scalars over the |langs| frame",
    "contextual_filter_upset": "broadcast 1-row grand-total scalar over the 8-cell flag frame",
    "minhash_union_cardinality": "broadcast |sources|-row signature frame, non-equi < pairing (bounded dimension, source_jsd_matrix shape)",
    "association_rules_parts": "broadcast 1-row basket-count scalar into the bounded rule frame",
    "orders_abc_classification": "broadcast 1-row revenue-total scalar over the part-dimension rollup",
    "skipgram_pmi_topk": "broadcast 1-row token/pair-total scalars (bigram_pmi shape)",
    "ann_index_size_report": "broadcast 1-row corpus-count scalar into the 4-row layout frame",
    "logrank_reorder_test": "broadcast 1-row observation-end scalar (kaplan_meier shape)",
    "theil_sen_revenue_trend": "broadcast day-grain self-pair (|days|^2, calendar-bounded) + 1-row stat scalars",
    "weibull_rank_regression": "broadcast 1-row gap-count scalar into the duration-rank frame",
    "kneser_ney_bigram_ppl": "broadcast 1-row bigram/vocab-count scalars into the scoring join (heldout shape)",
    "quantization_error_histogram": "broadcast 1-row total-count scalar over the 11-bin frame",
    "knn_reciprocity": "broadcast 1-row directed-edge-count scalar over the 1-row mutual aggregate",
    "basket_brand_lift": "broadcast 1-row order-count scalar",
    "customer_rfm_segments": "broadcast 1-row max-date and n-customers scalars",
    "tfidf_top_terms_approx": "broadcast 1-row corpus-size scalar (as exact tfidf)",
    "corpus_final_verdict": "inherits lang_temperature_sample's 1-row min-count broadcast",
    "customer_pareto_share": "broadcast 1-row grand-total scalar",
    "kmeans_embeddings": "store-served km_assign read (late-r15); the K-row centroid broadcasts live in the index BUILD",
    "otu_prevalence_spectrum": "broadcast 1-row sample-count scalar",
    "text_tfidf_cosine_pairs": "broadcast 1-row corpus-size scalar",
    "nation_trade_flow": "broadcast 1-row grand-total scalar",
    "token_rate_drift": "broadcast 1-row slice-totals scalar",
    "core_microbiome": "broadcast 1-row environment-count scalar",
    "hierarchy_share_of_parent": "broadcast 1-row grand-total scalar",
    "corpus_perplexity_filter": "inherits text_unigram_logloss's 1-row corpus-total broadcast",
    "dsir_importance_select": "broadcast 1-row LM-totals/vocab scalar",
    "zorder_file_pruning": "broadcast 1-row key-maxes scalar",
    "simper_contributions": "bounded study-cohort |A|x|B| pair former (anosim shape) + broadcast per-sample harmonic weights + 1-row total scalar; top-25 cut over the per-OTU aggregate",
    "anosim_groups": "bounded-selection pair former (O(n²) by ANOSIM's definition) + 1-row scalars",
    "permanova_pseudo_f": "bounded-selection pair former (anosim_groups shape) + 1-row statistic cross joins",
    "embedding_cosine_pair_histogram": "broadcast 1-row grand-total scalar over the 20-row histogram",
    "otu_region_overlap": "broadcast cross of the 5-row per-region count table (region pair frame)",
    "species_accumulation_curve": "broadcast 1-row gamma-richness scalar",
    "benford_first_digit": "broadcast 1-row order-total scalar",
    "theil_inequality": "broadcast 1-row grand-totals scalar",
    "daily_autocorrelation": "broadcast 3-row lag table onto the daily series",
    "partition_balance_audit": "broadcast 1-row min/max bounds scalar",
    "heaps_law_estimate": "cross of three 1-row corpus aggregates",
    "intrinsic_dimension_twonn": "single-row final aggregate",
    "entropy_dedup_calibration": "inherits near-dedup composition's bounded broadcasts",
    "order_price_reconciliation": "broadcast reconciliation join keys (equi; listed defensively)",
    "curriculum_schedule": "inherits text_unigram_logloss's 1-row corpus-total broadcast",
    "mantel_test_gradient": "1-row Pearson-moment final aggregate",
    "source_jsd_matrix": "broadcast |sources|² pair frame (bounded dimension)",
    "kaplan_meier_order_gaps": "broadcast 1-row observation-end + n-total scalars, 5-row checkpoint frame",
    "nelson_aalen_hazard": "broadcast 1-row observation-end + n-total scalars, 5-row checkpoint frame (kaplan_meier shape)",
    "laspeyres_price_index": "broadcast 1-row base-year scalar",
    "cscore_checkerboard": "broadcast bounded type-marginal pair frame",
    "otu_nestedness_nodf": "broadcast bounded type-marginal pair frame",
    "pareto_tail_alpha": "broadcast 1-row tail-threshold scalar",
    "ks_binned_two_sample": "broadcast 1-row min/max + totals scalars",
    "cramers_v_association": "broadcast 1-row grand-total scalar",
    "gumbel_moments_fit": "single-row moment aggregate",
    "taxa_temporal_drift": "broadcast 1-row median-year pivot scalar",
    "markov_absorption_3step": "broadcast bounded state-vector frames per unrolled step",
    "weekly_decomposition": "calendar-bounded daily-series windows (no join)",
    "month_end_lift": "single-row final aggregate",
    "event_burstiness_fano": "single-row-per-type final aggregate",
    "hill_numbers_suite": "per-sample aggregate, no join",
    "two_way_effects": "broadcast 1-row grand-mean scalar",
    "beta_dispersion_groups": "bounded-selection pair former (the ANOSIM study set) + broadcast totals",
    "ab_test_sizing": "single-row moment aggregate",
    "order_size_dispersion": "broadcast 1-row total-orders scalar",
    "error_budget_burn": "calendar-bounded daily windows (no join)",
    "new_repeat_revenue_monthly": "customer-keyed first-month equi join (listed defensively)",
    "boilerplate_ngram_hotlist": "broadcast 1-row corpus-size scalar onto the 100-row top-k",
    "ann_ivfadc_topk": "broadcast N_CELLS-row coarse-centroid set (as ann_ivf_topk), intentional cross",
    "ann_ivfadc_nprobe_topk": "same broadcast N_CELLS-row coarse-centroid cross as ann_ivfadc_topk (multi-probe only widens the cellq filter)",
    "dedup_band_threshold_sweep": "broadcast 1-row pair-total scalar onto the 8-row threshold grid",
    "ivfadc_recall_report": "composes ann_ivfadc/ann_pq_adc (their bounded centroid broadcasts)",
    "unifrac_unweighted": "bounded-selection pair frame (the ANOSIM study set); shared edges are edge-blocked",
    "unifrac_weighted": "bounded-selection pair frame (the ANOSIM study set); shared edges are edge-blocked",
    "ann_ivfadc_rerank_topk": "inherits the IVFADC N_CELLS-row centroid cross; shortlist (R×N_QUERIES rows) broadcast into the vector fetch",
    "embedding_prefix_recall": "broadcast query set (N_QUERIES rows), non-equi != (as ann_bruteforce_topk)",
    "embedding_opq_balance": "broadcast per-dim variance frame (64 rows) + 1-row scalars",
    "ivf_cell_balance_report": "broadcast N_CELLS-row centroid cross + 1-row total scalar",
    "embedding_cell_residual_stats": "broadcast N_CELLS-row centroid cross (as ann_ivf_topk)",
}


# A Window with no PARTITION BY funnels its entire input through ONE
# partition — correct at scale only when the frame is value-bounded
# BEFORE the window (calendar-day series ≤ ~2.6k rows, top-k cuts,
# K-row codebooks, fixed dimension grids) or when a total order IS the
# operator's contract over an already-aggregated rollup (Lorenz/Pareto
# curves, exact global quantile cuts). Every such site must be
# justified here; an unlisted one renders 1PART_WINDOW(!) and fails
# the audit (r11 VERDICT item 5).
ALLOWED_1PART_WINDOW: dict[str, str] = {
    # --- calendar-bounded time series (one row per day/week/month/year
    # after aggregation; <= ~2.6k rows at ANY corpus size) ---
    "cumulative_share_daily": "running share over the calendar-daily rollup",
    "daily_revenue_anomaly": "rolling stats over the calendar-daily rollup",
    "daily_revenue_gapfill": "gap sequence over the calendar-daily rollup",
    "daily_revenue_periodogram": "day-rank t over the calendar-daily rollup + 5-row period rank",
    "error_budget_burn": "burn windows over the calendar-daily rollup",
    "event_value_daily_median": "exact median rank within the calendar-daily value frame (day-grain rollup)",
    "ljung_box_remainder": "7-day MA trend + day-rank + lag windows over the calendar-daily remainder series",
    "moving_avg_window": "moving averages over the calendar-daily rollup",
    "orders_durbin_watson": "lag-1 residual window over the calendar-daily rollup",
    "orders_open_backlog_daily": "running open-count over the calendar-daily event frame",
    "orders_runs_test": "runs sequence over the calendar-daily rollup",
    "page_hinkley_drift": "sequential PH statistic over the calendar-daily rollup",
    "revenue_cusum_changepoint": "CUSUM scan over the calendar-daily rollup",
    "revenue_v_shape_patterns": "lead/lag pattern windows over the calendar-daily rollup",
    "seasonal_naive_mase": "lag-7 forecast windows over the calendar-daily rollup",
    "seasonality_strength": "trend/seasonal windows over the calendar-daily rollup",
    "weekly_decomposition": "7-day MA trend windows over the calendar-daily rollup",
    "user_lifecycle_weekly": "week sequence over the calendar-week grid (bounded weeks)",
    "taxa_temporal_drift": "year-rank over the calendar-year grain",
    "token_rate_drift": "month sequence over the calendar-month slices",
    "orders_monthly_percentile_bridge": "month sequence over the calendar-month rollup",
    "supplier_share_volatility": "month sequence over the calendar-month x supplier rollup (per-supplier series are month-bounded)",
    # --- survival / event-time checkpoints (windows over the DISTINCT
    # gap-duration frame, value-bounded by the calendar span) ---
    "kaplan_meier_order_gaps": "KM product over the distinct gap-duration frame (calendar-bounded)",
    "nelson_aalen_hazard": "cumulative hazard over the distinct gap-duration frame",
    "restricted_mean_survival": "RMST integral over the distinct gap-duration frame",
    "competing_risks_cif": "CIF accumulation over the distinct gap-duration frame",
    "life_table_actuarial": "interval sequence over the fixed actuarial bins",
    "loglogistic_rank_regression": "median-rank regression over the distinct gap-duration frame",
    "weibull_rank_regression": "median-rank regression over the distinct gap-duration frame",
    "funnel_time_to_convert": "percentile checkpoints over the aggregated conversion-latency frame",
    # --- global rank/ntile/cume where the TOTAL ORDER is the operator's
    # contract, taken over an aggregated rollup (one row per customer/
    # part/supplier/source — orders of magnitude below the fact table) ---
    "customer_pareto_share": "Lorenz cumulative share over the per-customer rollup (total order IS the contract)",
    "customer_rfm_segments": "RFM quantile cuts over the per-customer rollup",
    "customer_value_band_migration": "value-band ntile cuts over the per-customer-period rollup",
    "decile_stats": "decile boundaries over the per-customer rollup (distributed-rank ntile)",
    "revenue_lorenz_points": "Lorenz curve over the per-customer rollup",
    "orders_abc_classification": "ABC cumulative share over the per-part rollup",
    "event_value_percentiles_by_type": "exact percentile ranks within per-type value frames (type-dimension bounded fan)",
    "robust_anomaly_mad": "exact median/MAD ranks over the calendar-daily rollup",
    "zipf_token_stats": "Zipf rank over the aggregated token-frequency frame (vocabulary-bounded)",
    "median_exact_by_segment": "exact median ranks over per-segment value frames (5-segment bounded fan)",
    "quantiles_exact_by_segment": "exact quantile ranks over per-segment value frames",
    "trimmed_mean_by_segment": "trim-rank over per-segment value frames",
    "winsorized_mean_by_segment": "winsor-rank over per-segment value frames",
    "mann_whitney_order_value": "global rank over the two-group pooled value frame (rank-sum semantics need the total order)",
    "kruskal_wallis_h": "global rank over the pooled value frame (rank-sum semantics)",
    "wilcoxon_signed_rank_yoy": "global rank over the paired-difference frame (year-pair bounded)",
    "brown_forsythe_f": "per-group exact medians via rank over the 5-group bounded value frames",
    "spearman_part_size_price": "global ranks on both variables (rank-correlation semantics need the total order; per-part rollup)",
    "ks_binned_two_sample": "cumulative share over the fixed bin grid",
    "anderson_darling_binned": "cumulative EDF windows over the FIXED 50-row bin grid",
    "cliffs_delta_priority": "cumulative pair-count windows over the FIXED 50-row bin grid",
    "kpss_level_stat": "cumulative partial-sum windows over the calendar-bounded daily frame",
    "lang_length_quartiles": "quartile ranks within per-language frames (language-dimension bounded)",
    "weighted_sample_es": "ES reservoir rank over md5-keyed scores (top-k cut, output-bounded)",
    # --- top-k cuts and fixed grids (output-bounded by construction) ---
    "association_rules_parts": "rule ranking over the aggregated brand/type rule frame (dimension-bounded)",
    "bigram_pmi": "top-k PMI cut over the df-floored bigram aggregate (vocabulary-bounded)",
    "skipgram_pmi_topk": "top-k PMI cut over the df-floored skipgram aggregate",
    "bm25_search": "score rank over the hits of a FIXED query set (query-bounded)",
    "boilerplate_ngram_hotlist": "top-100 hotlist cut over the n-gram aggregate",
    "bpe_merge_candidates": "top-merge cut over the adjacent-pair aggregate (vocabulary-bounded)",
    "brand_nation_penetration": "rank over the brand x nation grid (dimension-bounded)",
    "core_microbiome": "prevalence rank over the per-environment OTU aggregate (taxonomy-bounded)",
    "doc_commonness_profile": "decile cuts over the per-doc commonness aggregate (fixed decile grid)",
    "doc_length_quality_grid": "fixed length x quality grid cell ranks",
    "event_type_transitions": "rank over the |types|^2 transition grid (dimension-bounded)",
    "event_user_paths_topk": "top-k path cut over the aggregated path-count frame",
    "events_inactivity_gaps_topk": "global top-k gap cut (output-bounded)",
    "events_trending_topk": "per-window top-k cut over the window-grain aggregate",
    "heavy_hitters_cms": "top-k heavy-hitter cut over the CMS estimate frame",
    "part_price_size_skyline": "skyline scan over the per-part rollup ordered by price (dominance needs the total order; per-part aggregate)",
    "part_type_price_quartiles": "quartile checkpoints over per-type price frames (type-dimension bounded)",
    "rare_category_collapse": "share rank over the aggregated category frame (dimension-bounded)",
    "map_radius_search": "distance rank within the grid-blocked candidate set of a FIXED query point",
    "species_accumulation_curve": "accumulation order over the sample dimension (site-bounded)",
    "event_type_stationary_dist": "power-iteration step ranks over the |types|-row state vector",
    "pagerank_knn": "rank over the node-score aggregate for the fixed top-k report cut",
    "kmeans_embeddings": "(build-side since late-r15) centroid-ordering rank over the K=8 centroid table",
    "cluster_balanced_sample_plan": "quota/budget ranks over the K=8 cluster summary",
    "embedding_dim_quantiles": "quantile checkpoints per fixed dimension (D-bounded fan)",
    "embedding_norm_profile": "percentile checkpoints over the norm distribution (exact-percentile contract; checkpoint frame is fixed)",
    "quality_score_auc": "ROC sweep over the bounded milli-score histogram (<=1001 distinct thresholds)",
    "quality_threshold_calibration": "threshold rank over the bounded milli-score histogram",
    "anosim_groups": "dissimilarity rank over the bounded study-selection pair frame (ANOSIM cap)",
    "simper_contributions": "top-25 contribution cut + 25-row cumulative window over the per-OTU aggregate (top-k shape)",
    "dedup_cluster_cc": "component-census rank during the 2-value convergence signature (census-bounded)",
    "scd2_dwell_time_stats": "dwell-time percentile checkpoints over the aggregated interval frame",
    "token_budget_apportion": "largest-remainder rank over the |langs| frame (dimension-bounded)",
}


def count_unpartitioned_windows(plan: str) -> int:
    """Window nodes with no partition spec. A Window's Arguments print
    as [exprs], [partitionSpec], [orderSpec] with EMPTY specs omitted:
    three lists = partitioned+ordered; two lists is partitioned IFF the
    last list is plain columns (a partition spec) and unpartitioned IFF
    it is an order spec (every Spark order item prints ASC/DESC); one
    list = neither spec (unpartitioned)."""
    args = re.findall(
        r"^\(\d+\) Window\nInput.*\nArguments: (.*)$", plan, re.M
    )
    n = 0
    for a in args:
        parts = a.split("], [")
        if len(parts) == 1:
            n += 1
        elif len(parts) == 2 and (
            " ASC" in parts[-1] or " DESC" in parts[-1]
        ):
            n += 1
    return n


_OK_FLAGS = {"NESTED_LOOP(ok)"}


def _is_bad(flagstr: str) -> bool:
    if flagstr == "-":
        return False
    return any(
        f not in _OK_FLAGS and not f.startswith("1PART_WINDOW(ok")
        for f in flagstr.split(",")
    )


def main() -> int:
    import __spark_entry__ as e
    from bpaotu_spark.session import get_session

    spark = get_session("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in sorted(e.queries().items()):
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        counts = {}
        for n in nodes:
            counts[n] = counts.get(n, 0) + 1
        flags = []
        if counts.get("CartesianProduct"):
            flags.append("CARTESIAN")
        if counts.get("BroadcastNestedLoopJoin"):
            flags.append(
                "NESTED_LOOP(ok)" if name in ALLOWED_BNLJ else "NESTED_LOOP"
            )
        n_1p = count_unpartitioned_windows(plan)
        if n_1p:
            mark = "ok" if name in ALLOWED_1PART_WINDOW else "!"
            flags.append(f"1PART_WINDOW({mark}x{n_1p})")
        if "InMemoryTableScan" in counts:
            flags.append("CACHED")
        rows.append(
            {
                "name": name,
                "exchanges": counts.get("Exchange", 0),
                "bhj": counts.get("BroadcastHashJoin", 0),
                "smj": counts.get("SortMergeJoin", 0),
                "codegen_spans": plan.count("WholeStageCodegen"),
                "pushed": "PushedFilters: [" in plan
                and "PushedFilters: []" not in plan,
                "flags": ",".join(flags) or "-",
            }
        )

    print(f"# Physical plan audit @ {SF_DIR}\n")
    print("| query | exchanges | BHJ | SMJ | pushed filters | flags |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['name']} | {r['exchanges']} | {r['bhj']} | {r['smj']} "
            f"| {'yes' if r['pushed'] else '-'} | {r['flags']} |"
        )
    bad = [r for r in rows if _is_bad(r["flags"])]
    print(f"\nflagged: {[r['name'] for r in bad] or 'none'}")
    if any(r["flags"] == "NESTED_LOOP(ok)" for r in rows):
        print("\nNESTED_LOOP(ok) — intentional bounded-broadcast non-equi joins:")
        for name, why in sorted(ALLOWED_BNLJ.items()):
            print(f"- `{name}`: {why}")
    onepart = [r["name"] for r in rows if "1PART_WINDOW(ok" in r["flags"]]
    if onepart:
        print(
            "\n1PART_WINDOW(ok) — single-partition windows over "
            "value-bounded frames (justification per query):"
        )
        for name in sorted(onepart):
            print(f"- `{name}`: {ALLOWED_1PART_WINDOW[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
