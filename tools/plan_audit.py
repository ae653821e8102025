"""Automated physical-plan anti-pattern audit over the whole registry.

For every registered query, build the physical plan at a small fixture (no
execution beyond what query CONSTRUCTION itself requires) and scan it for the
patterns that kill large-scale runs:

- ``CartesianProduct``           — unconstrained cross join of data-sized
                                   relations; never acceptable.
- ``BatchEvalPython``            — row-at-a-time Python UDF in the plan; the
                                   engine's contract is zero of these
                                   (Arrow ``ArrowEvalPython``/``mapInPandas``
                                   stages are the sanctioned Python boundary).
- ``BroadcastNestedLoopJoin``    — acceptable ONLY for the deliberate
                                   1-row-aggregate / tiny-literal broadcast
                                   cross joins; every such use must be
                                   allowlisted here WITH its justification so
                                   a new accidental one fails the audit.
- ``UNBOUNDED_WINDOW``           — a Window with an EMPTY partitionSpec whose
                                   input subtree is NOT provably bounded. An
                                   unpartitioned window single-tasks its whole
                                   input, so it is only acceptable over a
                                   relation already reduced by an aggregate /
                                   limit / literal (week spines, top-k pools,
                                   day grids). Checked MECHANICALLY: walk the
                                   physical tree; for every empty-partition
                                   Window, every path from it to a source leaf
                                   (file scan / unbounded Range) must cross an
                                   Aggregate or Limit node. No allowlist — a
                                   bounded input is a structural property, not
                                   a per-query judgement call.

Usage: python tools/plan_audit.py [sf_dir]
Prints one JSON line {"flags": {query: [pattern,...]}, "unexpected": N} and
exits 1 if any flag is not allowlisted.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pagila_etl_airflow_assignment_spark.registry import queries
from pagila_etl_airflow_assignment_spark.session import build_session

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# query -> patterns allowed there, each because the broadcast side is a 1-row
# aggregate or a provably tiny constant relation (see the query's docstring).
ALLOWED: dict[str, set[str]] = {
    # spine bounds / corpus scalars: crossJoin(broadcast(1-row agg))
    "weekly_rental_summary_correlated": {"BroadcastNestedLoopJoin"},
    # broadcast corpus-size / df scalars
    "text_tfidf_topk": {"BroadcastNestedLoopJoin"},
    "text_unigram_logprob": {"BroadcastNestedLoopJoin"},
    "text_decontaminate": {"BroadcastNestedLoopJoin"},
    "text_quality_quantile": {"BroadcastNestedLoopJoin"},
    "sampling_mixture_weighted": {"BroadcastNestedLoopJoin"},
    # broadcast query/centroid sets (tiny by contract)
    "ann_bruteforce_topk": {"BroadcastNestedLoopJoin"},
    "ann_lsh_topk": {"BroadcastNestedLoopJoin"},
    "ann_ivf_topk": {"BroadcastNestedLoopJoin"},
    "embedding_centroid_outliers": {"BroadcastNestedLoopJoin"},
    "embedding_kmeans_step": {"BroadcastNestedLoopJoin"},
    "dedup_embedding_cosine": {"BroadcastNestedLoopJoin"},
    # broadcast Bloom bitmap (1 row) / corpus totals
    "dedup_incremental_bloom": {"BroadcastNestedLoopJoin"},
    # broadcast total-rows scalar for the FK n_checked restatement
    "warehouse_constraint_checks": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row global-average scalar (Q22 shape)
    "warehouse_dormant_rich_customers": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row total-revenue scalar (Q11 shape)
    "warehouse_supplier_concentration": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row basket-count scalar (lift denominator)
    "graph_association_rules": {"BroadcastNestedLoopJoin"},
    # broadcast ≤24-row hour margin × ≤|types|-row type margin (dense grid)
    "events_chi_square": {"BroadcastNestedLoopJoin"},
    # three 1-row census aggregates (edges/wedges/triangles) cross-joined
    "graph_triangle_census": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row θ/x̄ sufficient-statistics aggregate
    "events_cuped_adjustment": {"BroadcastNestedLoopJoin"},
    # two 1-row estimates (sketch dot-min × exact join size) cross-joined
    "events_cm_join_size": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row training-token-count scalar (backoff denominator)
    "text_bigram_backoff": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row total-revenue scalar (Pareto share denominator)
    "warehouse_abc_classification": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row cohort-size scalar over the ≤15-day grid
    "events_discrete_hazard": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row good/bad totals over the ≤bins grid
    "events_woe_iv": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row digit-count total over the 9-row grid
    "warehouse_benford_audit": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row start-total / full-conv / effect-total scalars and
    # the ≤|channels|+1 scenario dim (all crossJoin(broadcast(tiny)))
    "events_markov_attribution": {"BroadcastNestedLoopJoin"},
    # broadcast bounded-support grid (|sources| x (vocab k+1) dense cross)
    "text_js_divergence_sources": {"BroadcastNestedLoopJoin"},
    # bounded day-grid self-join (non-equi a.day < b.day, ≤|days|² pairs)
    "events_kendall_tau": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row OLS-moment scalar back onto the bounded day grid
    "events_durbin_watson": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S1, S2) moment scalar over the bounded day grid
    "events_grubbs_test": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S1) scalar over the bounded day grid
    "events_kpss_test": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S1) scalar + bounded 13-period explode
    "events_spectral_periodogram": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row per-window R/S pivot onto the 1-row day count
    "events_hurst_rs": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S1) scalar for the lag-deviation grid
    "events_pacf": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row OLS-moment scalar for the auxiliary regression
    "events_breusch_pagan": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row normalization scalar per power iteration
    "graph_eigenvector_centrality": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row transition total x pair-term aggregate
    "events_bowker_symmetry": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S) scalar over the bounded day grid
    "events_c_chart": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row grand-median scalar + k-row margin totals
    "events_mood_median": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row spend/risk mean cuts onto the supplier grid
    "warehouse_kraljic_matrix": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row N scalar over the bounded second-of-day grid
    "events_ks_uniformity": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row totals over the dense 24-hour grid + 24-row spine
    "events_hellinger_hourly": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row half-offset scalar onto the bounded day grid
    "events_cox_stuart": {"BroadcastNestedLoopJoin"},
    # broadcast 4-row bucket spine onto the distinct-day relation
    "events_page_trend": {"BroadcastNestedLoopJoin"},
    # bounded within-weekday day-grid pair join + 1-row variance scalar
    "events_seasonal_mann_kendall": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (O-E, V) aggregate onto the 1-row cohort count
    "events_logrank_test": {"BroadcastNestedLoopJoin"},
    # three 1-row pair-count scalars cross-joined
    "dedup_lsh_pr_scorecard": {"BroadcastNestedLoopJoin"},
    # bounded month-grid prefix self-join (non-equi a.t <= b.t) + 1-row MAE
    "warehouse_theta_forecast": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, S) and denominator scalars over the day grid
    "events_acf_daily": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n, Sx, Sy) and denominator scalars over the day grid
    "events_xcorr_daily": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row weight-total scalar (sampling normalizer)
    "sampling_negative_table": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row corpus-midpoint scalar (DiD period split)
    "events_diff_in_diff": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row latest-month scalar (forecast anchor)
    "warehouse_topdown_forecast": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row reference-date scalar (aging "today" stand-in)
    "warehouse_order_aging": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row all-months total (seasonal-index denominator)
    "warehouse_monthly_seasonal_index": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row total-edge scalar (modularity denominator)
    "graph_brand_modularity": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row joint-total / marginal-entropy scalars (MI panel)
    "events_mutual_information": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row p99 order statistic (bitrate threshold)
    "multimodal_bitrate_outliers": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row v(full)/v(empty) scalars (efficiency identity)
    "events_attribution_shapley": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row edge-count scalar (census denominator)
    "graph_square_census": {"BroadcastNestedLoopJoin"},
    # broadcast query set + 1-row max-norm scalar (MIPS augmentation)
    "ann_mips_reduction": {"BroadcastNestedLoopJoin"},
    # broadcast k-row deterministic codebooks (elbow sweep, k <= 16)
    "embedding_k_selection_elbow": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row corpus totals (p-chart center line)
    "warehouse_returns_p_chart": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row median / MAD order statistics over the day grid
    "events_anomaly_ensemble": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row person-days scalar (shared exposure denominator)
    "events_person_time_rates": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row reference-count scalar (exact integer decile-edge
    # rank selection, the r6 ulp fix)
    "events_psi_drift": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row corpus token/bigram totals (PMI denominators)
    "text_collocations_pmi": {"BroadcastNestedLoopJoin"},
    # broadcast bounded lang margin x 1-row total (governance grid densify)
    "text_t_closeness": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row q_hat order statistic + 1-row train-user count
    "events_conformal_interval": {"BroadcastNestedLoopJoin"},
    # broadcast tiny query set (wraps brute-force + LSH top-k, the same
    # ann_bruteforce/ann_lsh broadcast-query pattern)
    "ann_ndcg_eval": {"BroadcastNestedLoopJoin"},
    # broadcast tiny anchor set (same broadcast-query pattern)
    "embedding_triplet_mining": {"BroadcastNestedLoopJoin"},
    # three 1-row census aggregates (pairs/wedges/closed) cross-joined
    "dedup_transitivity_audit": {"BroadcastNestedLoopJoin"},
    # exact k-NN audit over the broadcast adaptive mod-sample (bounded
    # corpus at any sf; ANN lists replace the exact graph at scale)
    "embedding_knn_hubness": {"BroadcastNestedLoopJoin"},
    # same adaptive mod-sample k-NN graph, label-purity readout
    "embedding_knn_purity": {"BroadcastNestedLoopJoin"},
    # same adaptive mod-sample graph, TwoNN ratio readout
    "embedding_intrinsic_dimension": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row max-shipdate cutoff scalar (order-aging treatment)
    "warehouse_assortment_attrition": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row basket-count scalar (lift denominator)
    "events_type_affinity": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row max-snapshot-date scalar (retention reference)
    "warehouse_snapshot_retention": {"BroadcastNestedLoopJoin"},
    # broadcast centroid set + 1-row corpus-count scalar (IVF audit)
    "ann_ivf_balance": {"BroadcastNestedLoopJoin"},
    # broadcast centroid set (same affinity pass, margin readout)
    "embedding_assignment_margin": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row min-class-count scalar (balance target)
    "sampling_class_balance": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row argmax incident-day scalar
    "events_incident_impact": {"BroadcastNestedLoopJoin"},
    # same argmax incident-day scalar, hour drill-down
    "events_incident_hotspots": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row global-mean center scalar (overflow discipline)
    "warehouse_variance_decomposition": {"BroadcastNestedLoopJoin"},
    # two 1-row period-factor aggregates cross-joined
    "events_metric_decomposition": {"BroadcastNestedLoopJoin"},
    # Python UDTF: BatchEvalPython IS the UDTF execution node in Spark 4 —
    # this query exists to pin the UDTF boundary, not to avoid it
    "text_sentence_split_udtf": {"BatchEvalPython"},
    # composed from the two broadcast-query-set top-k pipelines above
    "ann_lsh_recall": {"BroadcastNestedLoopJoin"},
    # broadcast query set (tiny by contract), cross-label predicate applied post-join
    "ann_hard_negatives": {"BroadcastNestedLoopJoin"},
    # broadcast <=5-row selected relation per k-center round (max-min argmax)
    "embedding_kcenter_coreset": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row top-k/hottest-key summary per profiled key
    "warehouse_skew_profile": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row global-span aggregate (pruning-width denominator)
    "warehouse_zorder_layout": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row midpoint + <=|types|-row model/majority relations
    "events_markov_accuracy": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row query vector + <=k-row selected set per greedy round
    "ann_mmr_rerank": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row corpus-stats aggregate (N, total length) into the query terms
    "text_bm25_topk": {"BroadcastNestedLoopJoin"},
    # inherits the discrete-hazard 1-row cohort-size broadcast over the day grid
    "events_kaplan_meier": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row observed-day-span scalar (mean-demand denominator)
    "warehouse_reorder_points": {"BroadcastNestedLoopJoin"},
    # broadcast ≤n_centroids-row centroid relation (the kmeans/IVF affinity shape)
    "dedup_semantic_clusters": {"BroadcastNestedLoopJoin"},
    # two broadcast 1-row token-total scalars (target/raw denominators)
    "sampling_importance_dsir": {"BroadcastNestedLoopJoin"},
    # broadcast ≤|days|-row spine with a range condition (no hashable equi-key)
    "events_dau_mau_stickiness": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row quartile-breakpoint aggregate
    "text_lm_score_mix": {"BroadcastNestedLoopJoin"},
    # broadcast ≤k-row centroid relation per Lloyd iteration
    "embedding_kmeans_lloyd": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row Σ√n share-total scalar
    "sampling_temperature_mixture": {"BroadcastNestedLoopJoin"},
    # composed from the broadcast-query-set brute-force + IVF pipelines
    "ann_ivf_recall_curve": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row total-chars scalar (systematic-threshold denominator)
    "sampling_pps_systematic": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row click-count scalar (exact-NTILE rank mapping)
    "events_woe_iv": {"BroadcastNestedLoopJoin"},
    # broadcast bounded month spine x brand dim (dense intermittent grid)
    "warehouse_croston": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row BH cutoff scalar over the ≤24-row hour panel
    "events_bh_fdr": {"BroadcastNestedLoopJoin"},
    # broadcast adaptive mod-sample (the knn_hubness audit economics)
    "embedding_knn_reciprocity": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row peak/trough/day-count scalars over the day grid
    "events_drawdown": {"BroadcastNestedLoopJoin"},
    # broadcast bounded month spine x brand dim (dense grid, croston twin)
    "warehouse_ss_policy_sim": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row span scalar over the bounded brand panel
    "warehouse_demand_classification": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row day-count + ≤k-row fold ranges over the day grid
    "sampling_purged_kfold": {"BroadcastNestedLoopJoin"},
    # inherits acf_daily's 1-row (n,S)/denominator scalars + day-count scalar
    "events_ljung_box": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row total scalar over the bounded lag-week histogram
    "rental_update_lag_profile": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row clip-threshold order statistic (kth_smallest device)
    "embedding_norm_clip_threshold": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row incident/segment-fit/day-count scalars (day grid)
    "events_interrupted_ts": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row char-total and truth scalars (PPS design)
    "sampling_ht_estimate": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row kth_smallest median scalar over the day grid
    "events_runs_test": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n_users, total_cents) scalar
    "events_theil_index": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row char-total scalar (same PPS device as ht_estimate)
    "sampling_kish_neff": {"BroadcastNestedLoopJoin"},
    # bounded day-grid self-join (non-equi a.day < b.day) + 1-row tie scalar
    "events_mann_kendall": {"BroadcastNestedLoopJoin"},
    # bounded day-grid self-join + kth_smallest 1-row scalars
    "events_sen_slope": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row base-month scalar (matched-model index)
    "warehouse_price_index": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row top-pool reference scalar per k
    "warehouse_hill_tail_index": {"BroadcastNestedLoopJoin"},
    # broadcast <=30-row top-k word dim (dense source x word grid)
    "text_burrows_delta": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row corpus-token total scalar
    "vocab_keyness_g2": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row grand-total scalars (three decomposition passes)
    "warehouse_theil_decomposition": {"BroadcastNestedLoopJoin"},
    # broadcast 1-row (n_total, tie3) scalar over the rank aggregate
    "events_kruskal_wallis": {"BroadcastNestedLoopJoin"},
    # broadcast ≤7-row weekday margin × ≤|types| margin (dense grid)
    "events_cramers_v": {"BroadcastNestedLoopJoin"},
    # broadcast ≤|brands| dim × bounded month spine (dense variance grid)
    "warehouse_bullwhip_ratio": {"BroadcastNestedLoopJoin"},
    # densified bounded type x day grid (broadcast distinct-days side)
    "events_permutation_entropy": {"BroadcastNestedLoopJoin"},
    # L-417..421: crossJoin(broadcast(1-row total/aggregate)) scalars
    "events_page_hinkley": {"BroadcastNestedLoopJoin"},
    "events_friedman_test": {"BroadcastNestedLoopJoin"},
    "warehouse_weibull_latency": {"BroadcastNestedLoopJoin"},
    # round-10 (L-468..491): crossJoin(broadcast(1-row scalar)) totals and
    # bounded literal grids (7-probe percentiles, 3-row deviation levels,
    # 3-row horizons, distinct stream/month spines, r-grid)
    "events_tdigest_quantiles": {"BroadcastNestedLoopJoin"},
    "events_moments_tail_bounds": {"BroadcastNestedLoopJoin"},
    "events_ar2_forecast": {"BroadcastNestedLoopJoin"},
    "events_cumulative_periodogram": {"BroadcastNestedLoopJoin"},
    "events_rmst": {"BroadcastNestedLoopJoin"},
    "events_jonckheere_terpstra": {"BroadcastNestedLoopJoin"},
    "ann_map_eval": {"BroadcastNestedLoopJoin"},
    "text_brier_decomposition": {"BroadcastNestedLoopJoin"},
    "warehouse_hilbert_layout": {"BroadcastNestedLoopJoin"},
    "events_ewma_chart": {"BroadcastNestedLoopJoin"},
    "events_siegel_slope": {"BroadcastNestedLoopJoin"},
    "events_james_stein": {"BroadcastNestedLoopJoin"},
    "events_nelson_aalen": {"BroadcastNestedLoopJoin"},
    "events_cross_spectrum": {"BroadcastNestedLoopJoin"},
    "warehouse_risk_pooling": {"BroadcastNestedLoopJoin"},
    "vocab_good_turing": {"BroadcastNestedLoopJoin"},
    # round-10b (L-492..497): 1-row scalar broadcasts (group totals, k/n
    # scalars, S4/tie sums) and the tiny distinct-types x distinct-days
    # densify grid (both sides post-aggregate, <=|types|*|days| rows)
    "events_gehan_wilcoxon": {"BroadcastNestedLoopJoin"},
    "events_ansari_bradley": {"BroadcastNestedLoopJoin"},
    "events_kendall_w": {"BroadcastNestedLoopJoin"},
    "events_quade_test": {"BroadcastNestedLoopJoin"},
    # round-10b time-series (L-498..503): 1-row scalar broadcasts (min-day /
    # grand-mean / OLS coefficients / tolerance), the bounded hour spine,
    # and the capped 256-row SampEn self-pair broadcast
    "events_lomb_scargle": {"BroadcastNestedLoopJoin"},
    "events_allan_variance": {"BroadcastNestedLoopJoin"},
    "events_dfa": {"BroadcastNestedLoopJoin"},
    "events_sample_entropy": {"BroadcastNestedLoopJoin"},
    "events_engle_granger": {"BroadcastNestedLoopJoin"},
    # round-10b calibration/LM (L-504..509): <=10-row bin-grid interval
    # self-joins (isotonic), 1-row scalar broadcasts (subgroup grand means,
    # bigram-universe size, moment sums)
    "events_isotonic_calibration": {"BroadcastNestedLoopJoin"},
    "events_xbar_r_chart": {"BroadcastNestedLoopJoin"},
    "text_kneser_ney_bigrams": {"BroadcastNestedLoopJoin"},
    "text_beta_binomial": {"BroadcastNestedLoopJoin"},
    # round-10c devices (L-510..524): 1-row N/moment/psi/total scalar
    # broadcasts (AD, Pettitt, Breslow-Day, jackknife, PR-AUC totals), the
    # bounded <=366-day Walsh-grid self-join (Hodges-Lehmann), the
    # <=|types|^2 Dunn pair join, the md5-capped 256-row C-index pair join,
    # and the broadcast query/filter sides of the filtered-ANN recall audit
    "events_anderson_darling": {"BroadcastNestedLoopJoin"},
    "events_hodges_lehmann": {"BroadcastNestedLoopJoin"},
    "events_pettitt": {"BroadcastNestedLoopJoin"},
    "events_breslow_day": {"BroadcastNestedLoopJoin"},
    "events_dunn_posthoc": {"BroadcastNestedLoopJoin"},
    "events_sax_motifs": {"BroadcastNestedLoopJoin"},
    "sampling_jackknife_ratio": {"BroadcastNestedLoopJoin"},
    "text_classifier_pr_auc": {"BroadcastNestedLoopJoin"},
    "ann_filtered_recall": {"BroadcastNestedLoopJoin"},
    "events_harrell_c": {"BroadcastNestedLoopJoin"},
    # round-10c trained/causal devices (L-525..529): 1-row vocab/prior/
    # cutoff/observed-diff scalar broadcasts and bounded grid reductions
    "text_naive_bayes_confusion": {"BroadcastNestedLoopJoin"},
    "events_decision_stump": {"BroadcastNestedLoopJoin"},
    "events_regression_discontinuity": {"BroadcastNestedLoopJoin"},
    "events_randomization_inference": {"BroadcastNestedLoopJoin"},
    "events_brunner_munzel": {"BroadcastNestedLoopJoin"},
    "events_zero_inflation": {"BroadcastNestedLoopJoin"},
    "text_krippendorff_alpha": {"BroadcastNestedLoopJoin"},
    "sampling_raking_ipf": {"BroadcastNestedLoopJoin"},
    "warehouse_ivm_minmax": {"BroadcastNestedLoopJoin"},
    # round-10c dependence/LM/optimization devices (L-530..532): 1-row N
    # broadcasts, the vocab scalar, and the bounded 13-node DAG relaxation
    "events_chatterjee_xi": {"BroadcastNestedLoopJoin"},
    "text_heldout_perplexity": {"BroadcastNestedLoopJoin"},
    "warehouse_wagner_whitin": {"BroadcastNestedLoopJoin"},
    # round-10c privacy/uplift/robust devices (L-533..535): 1-row totals
    # and 2-row order-statistic scalar broadcasts
    "events_dp_user_level": {"BroadcastNestedLoopJoin"},
    "events_qini_uplift": {"BroadcastNestedLoopJoin"},
    "events_yuen_trimmed": {"BroadcastNestedLoopJoin"},
    # round-10c transport/energy/lot-sizing devices (L-536..538): 24-row
    # spine + 1-row totals broadcasts and the bounded cover-DAG chain
    "events_wasserstein_hourly": {"BroadcastNestedLoopJoin"},
    "events_energy_distance": {"BroadcastNestedLoopJoin"},
    "warehouse_silver_meal": {"BroadcastNestedLoopJoin"},
    # round-10d cluster-validity / valuation / fusion devices (L-539..543):
    # 1-row index scalars, k-seed / n_test / query-set tiny broadcasts
    "embedding_davies_bouldin": {"BroadcastNestedLoopJoin"},
    "embedding_calinski_harabasz": {"BroadcastNestedLoopJoin"},
    "embedding_ari_kmeans": {"BroadcastNestedLoopJoin"},
    "embedding_knn_shapley": {"BroadcastNestedLoopJoin"},
    "ann_rrf_fusion": {"BroadcastNestedLoopJoin"},
    # round-10e causal/fairness devices (L-544..550): 1-row sufficient-stat
    # scalars, 24-bin spine grids, 1-row overall-rate broadcasts
    "events_cooks_distance": {"BroadcastNestedLoopJoin"},
    "events_sinkhorn_ot": {"BroadcastNestedLoopJoin"},
    "text_fairness_audit": {"BroadcastNestedLoopJoin"},
    "text_label_noise": {"BroadcastNestedLoopJoin"},
    # round-10f preference/selection/attribution devices (L-551..555):
    # bounded match grids, 1-row totals, witness/state-set broadcasts
    "text_bradley_terry": {"BroadcastNestedLoopJoin"},
    "text_query_likelihood": {"BroadcastNestedLoopJoin"},
    "sampling_unimax": {"BroadcastNestedLoopJoin"},
    "embedding_facility_location": {"BroadcastNestedLoopJoin"},
    "events_attribution_timedecay": {"BroadcastNestedLoopJoin"},
    # round-10g IVM/causal devices (L-556..559): 9-row decile grid and
    # 1-row sufficient-stat broadcasts
    "events_qte_deciles": {"BroadcastNestedLoopJoin"},
    "events_fwl_partial_out": {"BroadcastNestedLoopJoin"},
    # round-10h outlier/process/calibration devices (L-560..562):
    # witness-sample pair joins and bounded activity grids
    "embedding_lof_outliers": {"BroadcastNestedLoopJoin"},
    "events_alpha_footprint": {"BroadcastNestedLoopJoin"},
    # round-10j batching/sequential/caching devices (L-566..568): literal
    # bucket/size grids and 5-row cutoff broadcasts
    "text_padding_waste": {"BroadcastNestedLoopJoin"},
    "events_obrien_fleming": {"BroadcastNestedLoopJoin"},
    "warehouse_cache_hit_curve": {"BroadcastNestedLoopJoin"},
    # round-10k sketch/stability devices (L-570..572): 1-row caps totals
    "events_heavy_hitters": {"BroadcastNestedLoopJoin"},
    # round-10l risk/dynamics/graph devices (L-573..575): level grids,
    # 1-row moment scalars, bounded core grids
    "events_cvar_daily": {"BroadcastNestedLoopJoin"},
    "events_burstiness_memory": {"BroadcastNestedLoopJoin"},
    "graph_simrank": {"BroadcastNestedLoopJoin"},
    # 1-row gap-moment scalar broadcast onto the 1-row service-moment agg
    "events_kingman_vut": {"BroadcastNestedLoopJoin"},
}

PATTERNS = ("CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin")

# Nodes that make every row set below them bounded (grammar of the walk):
# aggregates collapse to |groups| (all our unpartitioned-window inputs are
# group-bounded aggregates: spines, grids, top-k pools); limits are literal
# row caps; LocalTableScan is a literal relation.
_BOUNDING_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "LocalTableScan",
)
# Leaves that mean "data-sized source reached without a bound in between".
_SOURCE_LEAVES = ("Scan", "FileScan", "BatchScan", "Range", "ReusedExchange")

# A literal Range (spark.range(n)) is a bounded grid, not a data source, as
# long as its element count is a small constant (day/hour/bin grids).
_RANGE_BOUND = 1_000_000
_RANGE_RE = None


def _is_bounded_range(node) -> bool:
    global _RANGE_RE
    if _RANGE_RE is None:
        import re

        _RANGE_RE = re.compile(r"Range \((-?\d+), (-?\d+), step=(-?\d+)")
    m = _RANGE_RE.match(node.toString().splitlines()[0].strip())
    if not m:
        return False
    start, end, step = (int(g) for g in m.groups())
    return step != 0 and abs((end - start) // step) <= _RANGE_BOUND


def _children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.length())]


def _window_nodes(node, out):
    """Collect (window_node) for every physical Window in the tree (descending
    through AdaptiveSparkPlan wrappers and query stages)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _window_nodes(node.initialPlan(), out)
        return
    if name == "Window" and node.partitionSpec().length() == 0:
        out.append(node)
    for c in _children(node):
        _window_nodes(c, out)


def _subtree_is_bounded(node) -> bool:
    """True iff every path from ``node`` to a source leaf crosses a bounding
    node — i.e. the relation feeding an unpartitioned window is small by
    construction, not data-sized."""
    name = node.nodeName()
    if any(name.startswith(b) for b in _BOUNDING_NODES):
        return True
    if name == "AdaptiveSparkPlan":
        return _subtree_is_bounded(node.initialPlan())
    if name.startswith("ReusedExchange"):
        # a reused exchange is as bounded as the exchange it references —
        # classifying it as a source leaf would false-flag a bounded window
        # after AQE exchange reuse
        return _subtree_is_bounded(node.child())
    kids = _children(node)
    if not kids:
        if name.startswith("Range"):
            return _is_bounded_range(node)
        # leaf: a literal/empty relation is bounded, a source scan is not
        return not any(name.startswith(s) for s in _SOURCE_LEAVES)
    # joins/unions/projects/generates: bounded iff ALL inputs are bounded
    return all(_subtree_is_bounded(c) for c in kids)


def unbounded_windows(jplan) -> int:
    wins: list = []
    _window_nodes(jplan, wins)
    return sum(
        0 if all(_subtree_is_bounded(c) for c in _children(w)) else 1
        for w in wins
    )


def main() -> None:
    spark = build_session(app_name="plan-audit")
    flags: dict[str, list[str]] = {}
    unexpected = 0
    for name, fn in queries().items():
        try:
            df = fn(spark, SF_DIR)
            jplan = df._jdf.queryExecution().executedPlan()
            plan = jplan.toString()
            n_unbounded = unbounded_windows(jplan)
        except Exception as exc:
            flags[name] = [f"PLAN_ERROR: {str(exc).splitlines()[0][:150]}"]
            unexpected += 1
            continue
        hits = [p for p in PATTERNS if p in plan]
        if n_unbounded:
            hits.append(f"UNBOUNDED_WINDOW x{n_unbounded}")
        bad = [p for p in hits if p not in ALLOWED.get(name, set())]
        if hits:
            flags[name] = hits
        if bad:
            unexpected += 1
            print(f"# UNEXPECTED {name}: {bad}", file=sys.stderr)
    print(json.dumps({"flags": flags, "unexpected": unexpected}))
    spark.stop()
    sys.exit(1 if unexpected else 0)


if __name__ == "__main__":
    main()
