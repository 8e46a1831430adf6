"""Operator slate r8: each operator's oracle differential, plus
per-operator invariants."""

from __future__ import annotations

import pytest

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

from .conftest import SF_DIR, assert_matches_oracle

# Slow suite (see pytest.ini): only this case runs in the default
# gate; run the rest with `pytest -m slow`.
DEFAULT_GATE_CASE = "test_round8_staged_oracle[heaps_law_fit]"

load_all()

ROUND8_STAGED = (
    "kendall_tau_qty_discount",
    "two_proportion_wilson",
    "runs_test_daily_revenue",
    "interpurchase_gamma_fit",
    "partition_skew_report",
    "merge_idempotence_check",
    "clustering_coefficient_by_degree",
    "heaps_law_fit",
    "dedup_cluster_cohesion",
    "monthly_seasonal_index",
    "survival_km_repeat_purchase",
    "jackknife_daily_mean",
    "mcnemar_view_click",
    "quality_raters_kappa",
    "theil_sen_daily_trend",
    "negbin_overdispersion_fit",
    "ljung_box_hourly",
    "hurst_rescaled_range",
    "levene_mean_abs_segments",
    "permutation_test_event_value",
    "small_file_compaction_plan",
    "zone_map_skipping_stats",
    "variance_merge_check",
    "source_freshness_lag",
    "lsh_scurve_design",
    "neardup_transitivity_audit",
    "mutual_knn_symmetry",
    "brand_modularity_backbone",
    "ngram_novelty_curve",
    "association_rules_metrics",
    "range_frame_probe",
    "higher_order_array_probe",
    "rfm_transition_matrix",
    "topk_rank_stability",
    "channel_audience_overlap",
    "attribution_time_decay",
    "split_leakage_audit",
    "ivf_nprobe_recall_sweep",
    "hash_split_assignment",
    "column_profile_drift",
    "spc_control_rules",
    "simpsons_paradox_scan",
    "bm25_topk",
    "benjamini_hochberg_fdr",
    "cuped_variance_reduction",
    "cochran_armitage_trend",
    "cliffs_delta_segments",
    "wasserstein_1d_segments",
    "poisson_bootstrap_ci",
    "mann_kendall_daily_trend",
    "knn_ndcg_eval",
    "hits_step",
    "k_anonymity_census",
    "seasonality_strength",
    "silhouette_by_label",
    "dbscan_core_census",
    "sequential_pattern_support",
    "attribution_markov_removal",
    "entity_blocking_recall",
    "term_burstiness_profile",
    "cluster_sample_design_effect",
    "incremental_join_maintenance",
    "cross_source_duplication_matrix",
    "piecewise_trend_fit",
    "median_ci_distribution_free",
    "gumbel_daily_max_fit",
    "dedup_capture_recapture",
    "readability_scores",
    "embedding_dim_correlation_top",
    "multimodal_audio_rms",
    "multimodal_image_pixel_stats",
    "oov_rate_vocab_sweep",
    "contrastive_pair_mining",
    "sequential_ab_obrien_fleming",
    "rich_club_coefficient",
    "recsys_hitrate_eval",
    "abc_xyz_matrix",
    "join_cardinality_estimate",
    "quantile_forecast_pinball",
    "rank_distribution_probe",
    "ratio_metric_delta_ci",
    "raking_weights_ipf",
    "sample_ratio_mismatch",
    "churn_threshold_sweep",
    "survival_rmst",
    "covariate_balance_smd",
    "score_drift_psi",
    "jaccard_prefix_filter_join",
    "kfold_metric_stability",
    "price_volume_bridge",
    "functional_dependency_audit",
    "embedding_isotropy_score",
    "column_level_checksums",
    "pot_gpd_tail_fit",
    "embedding_hubness",
    "jl_projection_distortion",
    "dedup_then_prefix_filter",
    "bbit_minhash_accuracy",
    "neyman_allocation",
    "attribution_position_based",
    "dpp_partitioned_join",
    "column_profile_drift_approx",
)


@pytest.mark.parametrize("name", ROUND8_STAGED)
def test_round8_staged_oracle(spark, duck, name):
    df = REGISTRY[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name], name)


def test_round8_staged_all_registered():
    """Every slate op is registered with an oracle."""
    missing = [n for n in ROUND8_STAGED if n not in REGISTRY or n not in ORACLES]
    assert not missing, missing


def test_merge_idempotence_holds(spark):
    row = REGISTRY["merge_idempotence_check"](spark, SF_DIR).collect()[0]
    assert row.rows_added_second_pass == 0
    assert row.merged_rows <= row.corpus_rows + row.batch_rows


def test_kendall_spearman_sign_agree(spark):
    """tau-b and Spearman rho measure the same monotone association —
    on the same variable pair their SIGNS must agree (both near zero
    is also acceptable for the synthetic fixture)."""
    tau = REGISTRY["kendall_tau_qty_discount"](spark, SF_DIR).collect()[0]
    rho = REGISTRY["spearman_qty_discount"](spark, SF_DIR).collect()[0]
    if abs(tau.kendall_tau_b) > 0.01 or abs(rho.spearman_rho) > 0.01:
        assert (tau.kendall_tau_b >= 0) == (rho.spearman_rho >= 0)


def test_wilson_interval_contains_p_hat(spark):
    for r in REGISTRY["two_proportion_wilson"](spark, SF_DIR).collect():
        assert r.wilson_lo <= r.p_hat <= r.wilson_hi
        assert 0.0 <= r.wilson_lo and r.wilson_hi <= 1.0


def test_km_survival_monotone_nonincreasing(spark):
    rows = REGISTRY["survival_km_repeat_purchase"](spark, SF_DIR).collect()
    surv = [r.km_survival for r in rows]
    assert surv == sorted(surv, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in surv)


def test_ljung_box_q_nondecreasing(spark):
    """Q accumulates non-negative terms, so it must be non-decreasing
    in the lag; autocorrelations stay inside [-1, 1]."""
    rows = REGISTRY["ljung_box_hourly"](spark, SF_DIR).collect()
    qs = [r.ljung_box_q for r in rows]
    assert qs == sorted(qs)
    assert all(-1.0 <= r.r <= 1.0 for r in rows)


def test_hurst_in_plausible_range(spark):
    row = REGISTRY["hurst_rescaled_range"](spark, SF_DIR).collect()[0]
    assert row.rs_mean_24 > 0 and row.rs_mean_48 > 0
    # R/S means grow with block size for any non-degenerate series
    assert row.rs_mean_48 > row.rs_mean_24
    assert -0.5 < row.hurst_exponent < 1.5


def test_kappa_bounds_and_agreement(spark):
    row = REGISTRY["quality_raters_kappa"](spark, SF_DIR).collect()[0]
    assert 0.0 <= row.observed_agreement <= 1.0
    assert -1.0 <= row.cohens_kappa <= 1.0
    assert row.both_pos + row.only_r1 + row.only_r2 + row.both_neg == row.n


def test_permutation_pvalue_bounds(spark):
    row = REGISTRY["permutation_test_event_value"](spark, SF_DIR).collect()[0]
    assert row.n_reps == 64
    assert 0 <= row.n_extreme <= 64
    assert 0.0 < row.p_value <= 1.0


def test_levene_nonnegative(spark):
    row = REGISTRY["levene_mean_abs_segments"](spark, SF_DIR).collect()[0]
    assert row.levene_w >= 0.0
    assert row.k_groups == 5


def test_jackknife_se_positive(spark):
    row = REGISTRY["jackknife_daily_mean"](spark, SF_DIR).collect()[0]
    assert row.jk_se_cents > 0
    assert row.mean_daily_cents > 0


def test_negbin_moments_consistent(spark):
    row = REGISTRY["negbin_overdispersion_fit"](spark, SF_DIR).collect()[0]
    assert row.var_events > 0 and row.mean_events > 0
    if row.nb_r is not None:
        assert row.nb_r > 0 and 0.0 < row.nb_p < 1.0
        assert row.dispersion_index > 1.0


def test_zone_map_clustering_prunes(spark):
    """The date-clustered layout must prune strictly more row groups
    than the key-ordered one, and both must see identical matching
    row counts (pruning changes I/O, never results)."""
    rows = {r.layout: r for r in
            REGISTRY["zone_map_skipping_stats"](spark, SF_DIR).collect()}
    assert rows["date_clustered"].n_pruned > rows["key_ordered"].n_pruned
    assert (rows["date_clustered"].rows_matching
            == rows["key_ordered"].rows_matching)
    assert rows["date_clustered"].rows_scanned <= rows["key_ordered"].rows_scanned


def test_variance_merge_is_exact(spark):
    row = REGISTRY["variance_merge_check"](spark, SF_DIR).collect()[0]
    assert row.sufficient_stats_equal == 1
    assert row.var_merged == row.var_direct


def test_compaction_bins_respect_target(spark):
    """Every bin except possibly the last of its partition holds files
    whose PRECEDING cumulative size crossed the 4 KiB boundary —
    i.e. a bin's bytes can exceed the target only via its final file
    (greedy packing invariant: bin_bytes - last_file <= 4096)."""
    rows = REGISTRY["small_file_compaction_plan"](spark, SF_DIR).collect()
    assert all(r.n_files >= 1 and r.bin_bytes > 0 for r in rows)
    # bins are dense per partition: 0..max with no holes
    from collections import defaultdict
    bins = defaultdict(list)
    for r in rows:
        bins[r.part].append(r.bin_id)
    for part, ids in bins.items():
        assert sorted(ids) == list(range(len(ids))), part


def test_freshness_lag_nonnegative(spark):
    rows = REGISTRY["source_freshness_lag"](spark, SF_DIR).collect()
    assert all(r.lag_seconds >= 0 for r in rows)
    assert any(r.lag_seconds == 0 for r in rows)  # the freshest channel


def test_scurve_monotone_in_bands(spark):
    """At fixed hash budget, more bands (shorter rows) = higher
    collision probability everywhere: recall at tau and expected
    candidates must both be non-decreasing as bands grow."""
    rows = sorted(
        REGISTRY["lsh_scurve_design"](spark, SF_DIR).collect(),
        key=lambda r: r.bands,
    )
    assert [r.bands * r.rows_per_band for r in rows] == [16] * 4
    recalls = [r.est_recall_tau for r in rows]
    cands = [r.expected_candidates for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert all(0.0 <= x <= 1.0 for x in recalls)


def test_transitivity_bounds(spark):
    row = REGISTRY["neardup_transitivity_audit"](spark, SF_DIR).collect()[0]
    assert row.n_wedges >= 3 * row.n_triangles
    if row.transitivity is not None:
        assert 0.0 <= row.transitivity <= 1.0
    assert row.n_open_wedges == row.n_wedges - 3 * row.n_triangles


def test_mutual_knn_fraction_bounds(spark):
    rows = {r.k: r for r in REGISTRY["mutual_knn_symmetry"](spark, SF_DIR).collect()}
    for k, r in rows.items():
        assert r.n_directed_edges == r.n_nodes * k
        assert 0 <= r.n_mutual_edges <= r.n_directed_edges
        assert r.n_mutual_edges % 2 == 0  # mutual edges come in pairs


def test_modularity_bounds(spark):
    row = REGISTRY["brand_modularity_backbone"](spark, SF_DIR).collect()[0]
    assert -0.5 <= row.modularity <= 1.0
    assert 0 <= row.n_intra_edges <= row.n_edges


def test_novelty_first_batch_is_all_novel(spark):
    rows = sorted(
        REGISTRY["ngram_novelty_curve"](spark, SF_DIR).collect(),
        key=lambda r: r.batch,
    )
    assert rows[0].novelty_rate == 1.0  # batch 0 has no history
    assert all(0.0 <= r.novelty_rate <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_distinct_ngrams for r in rows)


def test_association_rules_consistent(spark):
    rows = REGISTRY["association_rules_metrics"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 < r.confidence_ab <= 1.0
        assert r.lift > 0.0
        if r.conviction_ab is not None:
            assert r.conviction_ab > 0.0
    supports = [r.support_cnt for r in rows]
    assert supports == sorted(supports, reverse=True)


def test_higher_order_identities(spark):
    """sum over transform(x -> 2x+1) is 2*sum(arr) + n, so
    (sum_transformed - n) must be even for every user."""
    rows = REGISTRY["higher_order_array_probe"](spark, SF_DIR).collect()
    assert len(rows) == 150
    for r in rows:
        assert (r.sum_transformed - r.n) % 2 == 0
        assert 0 <= r.n_filtered <= r.n
        assert r.has_round_value in (0, 1)


def test_range_frame_vs_rows_frame(spark):
    """The $5 RANGE frame can only include >= as many rows as the
    6-row ROWS frame excludes... sanity: counts positive, sums
    consistent with n."""
    rows = REGISTRY["range_frame_probe"](spark, SF_DIR).collect()
    for r in rows:
        assert r.n > 0
        assert r.range_cnt_checksum >= r.n  # every row counts itself
        assert r.rows_cnt_checksum >= r.n


def test_rfm_matrix_covers_customer_base(spark, duck):
    rows = REGISTRY["rfm_transition_matrix"](spark, SF_DIR).collect()
    total = sum(r.n_customers for r in rows)
    n_cust = duck.execute(
        "SELECT COUNT(DISTINCT o_custkey) FROM orders"
    ).fetchone()[0]
    assert total == n_cust
    assert not any(
        r.seg_from == "absent" and r.seg_to == "absent" for r in rows
    )


def test_topk_overlap_bounds(spark):
    rows = REGISTRY["topk_rank_stability"](spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r.n_common <= r.k
        assert 0.0 <= r.overlap_at_k <= 1.0


def test_audience_overlap_matrix_shape(spark):
    rows = REGISTRY["channel_audience_overlap"](spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) channel pairs
    for r in rows:
        assert r.n_both <= min(r.n_a, r.n_b)
        assert 0.0 <= r.audience_jaccard <= 1.0


def test_time_decay_credit_conserves_revenue(spark, duck):
    """Total credited cents across channels must equal the total
    purchase value of attributed purchases (weights are shares)."""
    rows = REGISTRY["attribution_time_decay"](spark, SF_DIR).collect()
    credited = sum(r.credited_cents for r in rows)
    attributed = duck.execute("""
        WITH p AS (SELECT event_id, user_id, ts,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase')
        SELECT COALESCE(SUM(cents), 0) FROM p
        WHERE EXISTS (SELECT 1 FROM events t
                      WHERE t.user_id = p.user_id
                        AND t.event_type IN ('view', 'click')
                        AND t.ts < p.ts
                        AND t.ts >= p.ts - INTERVAL 60 MINUTE)
    """).fetchone()[0]
    assert abs(credited - attributed) < 1.0


def test_pow_chain_matches_pow():
    """The pinned square-multiply chain must agree with x**k to
    float-rounding tolerance for every exponent the S-curve uses (it
    exists to pin the PARSE TREE across engines, not to change the
    math)."""
    from bigdataentrytask_spark.operators.dedup import _pow_chain

    for k in range(1, 17):
        expr = _pow_chain("s", k)
        for s in (0.0, 0.1, 0.5, 0.9, 0.9999, 1.0):
            got = eval(expr, {}, {"s": s})
            assert abs(got - s**k) <= 1e-12 * max(1.0, s**k), (k, s)


def test_ivf_sweep_monotone_and_exact_at_full_probe(spark):
    """Recall and candidate volume are monotone in nprobe, and probing
    all KMEANS_K=8 cells is exhaustive search: recall must be 1.0."""
    rows = sorted(
        REGISTRY["ivf_nprobe_recall_sweep"](spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    recalls = [r.recall_at_5 for r in rows]
    cands = [r.mean_candidates for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert rows[-1].nprobe == 8 and rows[-1].recall_at_5 == 1.0
    assert all(0.0 <= x <= 1.0 for x in recalls)


def test_split_leakage_shares_bounded(spark):
    row = REGISTRY["split_leakage_audit"](spark, SF_DIR).collect()[0]
    assert 0 <= row.n_contaminated_docs <= row.n_val_docs
    assert 0 <= row.total_leaked_grams <= row.total_val_grams
    assert 0.0 <= row.leaked_gram_share <= 1.0
    assert 0.0 <= row.contaminated_doc_share <= 1.0


def test_hash_split_partition_of_corpus(spark, duck):
    """Splits are exhaustive and disjoint by construction (CASE over a
    total hash); the audit must therefore reproduce the corpus row
    count exactly, and per-source per-mille shares must sum to ~1000
    (floor division loses at most 2 per source)."""
    rows = REGISTRY["hash_split_assignment"](spark, SF_DIR).collect()
    n_total = duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_total
    assert {r.split for r in rows} <= {"train", "val", "test"}
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r.per_mille_of_source)
    for src, pms in by_source.items():
        assert 997 <= sum(pms) <= 1000, (src, pms)


def test_bh_rejections_are_a_rank_prefix(spark):
    """BH is a step-up procedure: the rejected set must be exactly the
    ranks 1..k for some k (never a gap), and p must be non-decreasing
    in rank."""
    rows = sorted(
        REGISTRY["benjamini_hochberg_fdr"](spark, SF_DIR).collect(),
        key=lambda r: r.p_rank,
    )
    ps = [r.p_two_sided for r in rows]
    assert ps == sorted(ps)
    flags = [r.rejected for r in rows]
    k = sum(flags)
    assert flags == [1] * k + [0] * (len(flags) - k)


def test_spc_rows_carry_a_reason(spark):
    """Every emitted chart row must have at least one rule flag set,
    and a rule-1 day is by definition also beyond the rule-5 2-sigma
    band (so its above/below side is consistent)."""
    rows = REGISTRY["spc_control_rules"](spark, SF_DIR).collect()
    assert rows, "control chart found no violations at sf0.01"
    for r in rows:
        assert r.rule1_beyond3 or r.rule4_run8 or r.rule5_2of3
        assert r.above_center in (0, 1)


def test_cuped_reduction_bounded(spark):
    row = REGISTRY["cuped_variance_reduction"](spark, SF_DIR).collect()[0]
    assert 0.0 <= row.var_reduction_pct <= 100.0
    assert row.n_a + row.n_b == row.n_users


def test_bm25_topk_shape(spark):
    """Each query returns exactly K ranked rows with scores
    non-increasing in rank (the grid-snapped integer ordering)."""
    rows = REGISTRY["bm25_topk"](spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {"q1", "q2", "q3"}
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, 6))
        scores = [r.bm25 for r in rs]
        assert scores == sorted(scores, reverse=True), (q, scores)


def test_column_profile_drift_consistent(spark):
    for r in REGISTRY["column_profile_drift"](spark, SF_DIR).collect():
        assert 0 < r.ndv_a <= r.n_a and 0 < r.ndv_b <= r.n_b
        assert r.min_a <= r.max_a and r.min_b <= r.max_b


def test_simpsons_scan_flags_binary(spark):
    rows = REGISTRY["simpsons_paradox_scan"](spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.sign_flip in (0, 1)
        # a flip requires opposite signs of the reported slopes too
        if r.sign_flip:
            assert r.seg_slope * r.pooled_slope <= 0


def test_cochran_armitage_consistency(spark):
    """Score moments must be consistent with the dose domain (1..5)
    and the rate a genuine proportion."""
    r = REGISTRY["cochran_armitage_trend"](spark, SF_DIR).collect()[0]
    assert 0.0 < r.success_rate < 1.0
    assert r.n <= r.b_sum <= 5 * r.n          # sum of scores in [n, 5n]
    assert r.b_sum <= r.c_sum <= 5 * r.b_sum  # s <= s^2 <= 5s for s in 1..5
    assert abs(r.z_trend) < 50


def test_cliffs_delta_pair_partition(spark):
    """gt + lt + tie must partition the full n_a x n_b pair space —
    the dominance counts are exact, not approximate."""
    r = REGISTRY["cliffs_delta_segments"](spark, SF_DIR).collect()[0]
    assert r.gt_pairs + r.lt_pairs + r.tie_pairs == r.n_a * r.n_b
    assert -1.0 <= r.cliffs_delta <= 1.0


def test_wasserstein_lower_bounded_by_mean_gap(spark):
    """W1 between two distributions is >= |mean_a - mean_b| (Jensen);
    cross-checks the integral against welch's independent moments."""
    w1 = REGISTRY["wasserstein_1d_segments"](spark, SF_DIR).collect()[0]
    welch = REGISTRY["welch_ttest_segments"](spark, SF_DIR).collect()[0]
    assert w1.w1_cents >= abs(welch.mean_a - welch.mean_b) - 1e-3
    assert w1.n_a == welch.n_a and w1.n_b == welch.n_b


def test_poisson_bootstrap_ci_brackets(spark):
    """The nearest-rank CI must bracket the bootstrap mean, and the
    point estimate must sit within a few se of it (Poisson(1) weights
    are unbiased for the sample mean)."""
    r = REGISTRY["poisson_bootstrap_ci"](spark, SF_DIR).collect()[0]
    assert r.ci05_cents <= r.boot_mean_cents <= r.ci95_cents
    assert r.boot_se_cents > 0
    assert abs(r.point_mean_cents - r.boot_mean_cents) < 6 * r.boot_se_cents


def test_poisson_thresholds_exact():
    """_POIS_T must be EXACTLY floor(CDF_Poisson(1)(k) * 2^60): the
    comment states the derivation, this test reproduces it in exact
    decimal arithmetic (round-7 advisor: the old literals were
    float-derived and off by 15-81 ulps from the stated formula)."""
    from decimal import Decimal, getcontext

    from bigdataentrytask_spark.operators.stats import _POIS_T

    getcontext().prec = 60
    e = Decimal(0)
    term = Decimal(1)
    for i in range(1, 100):
        e += term
        term /= i
    einv = Decimal(1) / e
    cdf = Decimal(0)
    fact = Decimal(1)
    for k, expected in enumerate(_POIS_T):
        if k > 0:
            fact *= k
        cdf += einv / fact
        assert int(cdf * (1 << 60)) == expected, f"k={k}"


def test_mann_kendall_bounds_and_sign(spark):
    r = REGISTRY["mann_kendall_daily_trend"](spark, SF_DIR).collect()[0]
    assert -1.0 <= r.tau_a <= 1.0
    assert r.var_s > 0
    if r.s_stat > 1:
        assert r.z_mk > 0
    elif r.s_stat < -1:
        assert r.z_mk < 0


def test_ndcg_bounds_and_dominance(spark):
    """nDCG in [0,1]; DCG never exceeds the ideal; top-k relevance
    never exceeds k or the total relevant pool."""
    rows = REGISTRY["knn_ndcg_eval"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r.ndcg_at_5 <= 1.0
        assert r.dcg_grid <= r.idcg_grid
        assert r.n_rel_at_k <= 5
        assert r.n_rel_at_k <= r.n_rel_total


def test_hits_step_hub_dominates_auth(spark):
    """With every neighbor degree >= 1, hub_1 = sum of neighbor
    degrees >= degree = auth_1; shares are genuine proportions."""
    rows = REGISTRY["hits_step"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.hub_1 >= r.auth_1
        assert 0.0 < r.hub_share <= 1.0


def test_k_anonymity_monotone_in_k(spark):
    rows = sorted(REGISTRY["k_anonymity_census"](spark, SF_DIR).collect(),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == [2, 5, 10, 20]
    for a, b in zip(rows, rows[1:]):
        assert a.groups_below_k <= b.groups_below_k
        assert a.rows_at_risk <= b.rows_at_risk
    for r in rows:
        assert 0.0 <= r.at_risk_pct <= 1.0
        assert r.min_l_diversity >= 1


def test_seasonality_strengths_are_proportions(spark):
    r = REGISTRY["seasonality_strength"](spark, SF_DIR).collect()[0]
    assert r.n_days > 0
    assert 0.0 <= r.trend_strength <= 1.0
    assert 0.0 <= r.seasonal_strength <= 1.0
    assert r.mean_daily_cents > 0


def test_silhouette_bounds(spark):
    rows = REGISTRY["silhouette_by_label"](spark, SF_DIR).collect()
    assert sum(r.n_vecs for r in rows) == 500
    for r in rows:
        assert -1.0 <= r.mean_silhouette <= 1.0
        assert 0 <= r.n_negative <= r.n_vecs


def test_dbscan_census_partitions_universe(spark):
    rows = {r.dbscan_class: r for r in
            REGISTRY["dbscan_core_census"](spark, SF_DIR).collect()}
    assert sum(r.n_points for r in rows.values()) == 500
    if "core" in rows:
        assert rows["core"].mean_degree >= 3  # minPts by construction
    if "border" in rows:
        assert rows["border"].mean_degree < 3


def test_sequential_support_bounds(spark):
    rows = REGISTRY["sequential_pattern_support"](spark, SF_DIR).collect()
    assert len(rows) == 20  # 5 types x 4 others
    for r in rows:
        assert r.n_seq <= min(r.n_users_a, r.n_users_b)
        assert 0.0 < r.support <= 1.0
        assert 0.0 < r.confidence <= 1.0
        assert r.lift > 0.0


def test_markov_removal_shares_normalize(spark):
    rows = REGISTRY["attribution_markov_removal"](spark, SF_DIR).collect()
    assert sorted(r.channel for r in rows) == ["click", "view"]
    assert abs(sum(r.attributed_share for r in rows) - 1.0) < 1e-5
    for r in rows:
        assert 0.0 <= r.p_conv_full <= 1.0
        assert 0.0 <= r.removal_effect <= 1.0
        assert r.n_conversions <= r.n_journeys


def test_blocking_recall_bounds(spark):
    r = REGISTRY["entity_blocking_recall"](spark, SF_DIR).collect()[0]
    assert 0.0 <= r.pair_completeness <= 1.0
    assert 0.0 <= r.reduction_ratio <= 1.0
    assert r.n_truth_in_block <= r.n_truth
    assert r.n_cand <= r.n_names * (r.n_names - 1) // 2


def test_term_burstiness_consistency(spark):
    rows = REGISTRY["term_burstiness_profile"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.doc_freq <= r.total_count
        assert 0.0 <= r.adaptation <= 1.0
        assert r.vmr > 0.0


def test_design_effect_identity(spark):
    r = REGISTRY["cluster_sample_design_effect"](spark, SF_DIR).collect()[0]
    assert -1.0 <= r.icc <= 1.0
    assert r.mean_cluster_size > 1.0
    # DEFF must equal 1 + (mbar - 1) * icc on the reported values
    assert abs(r.deff - (1.0 + (r.mean_cluster_size - 1.0) * r.icc)) < 1e-4


def test_ivm_join_covers_every_order(spark):
    """The four delta components must partition orders x customers:
    total maintained order count == orders with a matching customer
    (all of them, in this fixture)."""
    from .conftest import SF_DIR as sf
    rows = REGISTRY["incremental_join_maintenance"](spark, sf).collect()
    total = sum(r.n_orders for r in rows)
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    assert total == n_orders


def test_cross_source_matrix_shares(spark):
    rows = REGISTRY["cross_source_duplication_matrix"](spark, SF_DIR).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.n_pairs > 0
        assert r.src_lo <= r.src_hi
        assert r.within_source == (1 if r.src_lo == r.src_hi else 0)


def test_piecewise_trend_identities(spark):
    r = REGISTRY["piecewise_trend_fit"](spark, SF_DIR).collect()[0]
    assert 0.0 <= r.r2 <= 1.0
    assert abs(r.slope_after - (r.slope_before + r.hinge_delta)) < 2e-6
    assert r.knot_day == 1200


def test_median_ci_brackets_median(spark):
    r = REGISTRY["median_ci_distribution_free"](spark, SF_DIR).collect()[0]
    assert r.ci95_lo <= r.median_price <= r.ci95_hi
    assert r.n_rows > 0


def test_gumbel_fit_sane(spark):
    r = REGISTRY["gumbel_daily_max_fit"](spark, SF_DIR).collect()[0]
    assert r.gumbel_beta > 0
    assert r.gumbel_mu < r.mean_daily_max       # mu = mean - gamma*beta
    assert r.return_level_100d > r.mean_daily_max


def test_capture_recapture_bounds(spark):
    r = REGISTRY["dedup_capture_recapture"](spark, SF_DIR).collect()[0]
    assert r.n_both <= min(r.n_minhash, r.n_simhash)
    # Chapman estimate can never fall below either capture
    assert r.n_est_chapman >= max(r.n_minhash, r.n_simhash) - 1
    assert 0.0 < r.recall_minhash_est <= 1.0 + 1e-9
    assert 0.0 < r.recall_simhash_est <= 1.0 + 1e-9


def test_readability_ratios_positive(spark):
    rows = REGISTRY["readability_scores"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.words_per_sentence > 0
        assert r.syllables_per_word > 0
        # Flesch is unbounded but the synthetic corpus must land in a
        # sane band (catches a swapped ratio instantly)
        assert -500.0 < r.mean_flesch < 250.0


def test_dim_correlation_bounds(spark):
    rows = REGISTRY["embedding_dim_correlation_top"](spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(-1.0 <= r.corr <= 1.0 for r in rows)
    assert all(r.dim_i < r.dim_j for r in rows)
    # descending by |corr|
    mags = [abs(r.corr) for r in rows]
    assert mags == sorted(mags, reverse=True)


def test_audio_rms_decode_identities(spark):
    """Byte-level PCM decode: energy/peak/count must satisfy the
    waveform identities (peak <= 32768; rms <= peak; mono docs have
    half the samples of stereo docs of equal text length)."""
    rows = REGISTRY["multimodal_audio_rms"](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert 0 < r.peak_amplitude <= 32768
        assert r.rms <= r.peak_amplitude
        assert r.energy <= r.n_samples_data * 32768 * 32768


def test_png_pixel_decode_validates(spark):
    """Every synthesized PNG must pass BOTH integrity checks inside
    the kernel (chunk CRC32 and zlib adler32 — a failed adler raises
    in decompress) and produce 8x8 byte-range pixels."""
    rows = REGISTRY["multimodal_image_pixel_stats"](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r.crc_ok == 1
        assert r.width == 8 and r.height == 8 and r.n_pixels == 64
        assert 0 <= r.min_pixel <= r.max_pixel <= 255
        assert r.min_pixel * 64 <= r.sum_pixels <= r.max_pixel * 64


def test_oov_sweep_monotone(spark):
    rows = sorted(REGISTRY["oov_rate_vocab_sweep"](spark, SF_DIR).collect(),
                  key=lambda r: r.vocab_size)
    assert [r.vocab_size for r in rows] == [500, 1000, 2000, 5000]
    for a, b in zip(rows, rows[1:]):
        assert a.oov_occurrences >= b.oov_occurrences  # bigger vocab, less OOV
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0


def test_contrastive_mining_counts(spark):
    r = REGISTRY["contrastive_pair_mining"](spark, SF_DIR).collect()[0]
    assert r.n_neg <= r.n_docs            # at most one partner per doc
    assert r.n_collision <= r.n_neg
    assert 0.0 <= r.collision_rate <= 1.0
    assert r.neg_per_pos > 0


def test_obf_boundaries_decreasing(spark):
    rows = sorted(REGISTRY["sequential_ab_obrien_fleming"](spark, SF_DIR)
                  .collect(), key=lambda r: r.look)
    assert [r.look for r in rows] == [1, 2, 3, 4]
    bounds = [r.boundary for r in rows]
    assert bounds == sorted(bounds, reverse=True)   # OBF spends alpha late
    for a, b in zip(rows, rows[1:]):                # cumulative monotone
        assert a.n_a <= b.n_a and a.n_b <= b.n_b
        assert a.conv_a <= b.conv_a and a.conv_b <= b.conv_b
    for r in rows:
        assert r.crossed == (1 if abs(r.z_look) > r.boundary else 0)


def test_rich_club_monotone_population(spark):
    rows = sorted(REGISTRY["rich_club_coefficient"](spark, SF_DIR).collect(),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == [2, 4, 8, 16]
    for a, b in zip(rows, rows[1:]):
        assert a.n_rich >= b.n_rich        # higher bar, fewer rich nodes
        assert a.e_rich >= b.e_rich
    for r in rows:
        assert 0.0 <= r.phi <= 1.0
        assert r.e_rich <= r.possible


def test_recsys_eval_bounds(spark):
    r = REGISTRY["recsys_hitrate_eval"](spark, SF_DIR).collect()[0]
    assert r.n_hits <= r.n_units
    assert r.n_covered <= r.n_units
    assert 0.0 <= r.hitrate_at_3 <= 1.0
    assert 0.0 <= r.coverage <= 1.0
    # a hit requires the anchor to be covered, so HR <= coverage
    assert r.hitrate_at_3 <= r.coverage + 1e-9


def test_abc_xyz_partitions_parts(spark):
    rows = REGISTRY["abc_xyz_matrix"](spark, SF_DIR).collect()
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-4
    assert all(r.abc in "ABC" and r.xyz in "XYZ" for r in rows)
    by_abc = {}
    for r in rows:
        by_abc.setdefault(r.abc, 0)
        by_abc[r.abc] += r.revenue_share
    # A carries the bulk by construction (80% boundary; the part that
    # crosses the line can push it slightly over)
    if "A" in by_abc:
        assert by_abc["A"] >= 0.75


def test_join_cardinality_actual_vs_fk(spark):
    r = REGISTRY["join_cardinality_estimate"](spark, SF_DIR).collect()[0]
    # every order has exactly one customer -> actual == |orders|
    assert r.actual_join_rows == r.n_orders
    assert r.est_uniform > 0
    assert r.est_over_actual > 0


def test_pinball_calibration_direction(spark):
    r = REGISTRY["quantile_forecast_pinball"](spark, SF_DIR).collect()[0]
    assert r.n_test_hours > 0
    for v in (r.pinball_q10, r.pinball_q50, r.pinball_q90):
        assert v >= 0.0
    # q10 must sit below q90 in exceedance: share above q10 > share above q90
    assert r.share_above_q10 >= r.share_above_q90


def test_rank_distribution_identities(spark):
    rows = REGISTRY["rank_distribution_probe"](spark, SF_DIR).collect()
    assert len(rows) == 60  # 5 segments x 12
    from collections import defaultdict
    segs = defaultdict(list)
    for r in rows:
        segs[r.seg].append(r)
    for seg, rs in segs.items():
        rs.sort(key=lambda r: (r.cents, r.o_orderkey))
        assert rs[0].pct_rank == 0.0 and rs[-1].pct_rank == 1.0
        assert abs(rs[-1].cum_dist - 1.0) < 1e-9
        assert sorted({r.quartile for r in rs}) == [1, 2, 3, 4]


def test_ratio_delta_sane(spark):
    r = REGISTRY["ratio_metric_delta_ci"](spark, SF_DIR).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert r.ratio_a > 0 and r.ratio_b > 0
    assert r.se_a > 0 and r.se_b > 0
    # z must have the sign of the ratio gap
    if abs(r.ratio_a - r.ratio_b) > 1e-9:
        assert (r.z_diff > 0) == (r.ratio_a > r.ratio_b)


def test_raking_matches_margins(spark):
    """After 2 IPF cycles the SEGMENT margins (the last step's
    partition) must match population targets to grid precision, and
    nation margins must be close."""
    rows = REGISTRY["raking_weights_ipf"](spark, SF_DIR).collect()
    from collections import defaultdict
    seg_w, seg_t, nat_w, nat_t = (defaultdict(float), defaultdict(int),
                                  defaultdict(float), defaultdict(int))
    for r in rows:
        seg_w[r.c_mktsegment] += r.weighted_n
        seg_t[r.c_mktsegment] += r.n_pop
        nat_w[r.c_nationkey] += r.weighted_n
        nat_t[r.c_nationkey] += r.n_pop
    for s in seg_w:
        assert abs(seg_w[s] - seg_t[s]) < 0.01 * seg_t[s] + 0.1
    for nkey in nat_w:
        assert abs(nat_w[nkey] - nat_t[nkey]) < 0.10 * nat_t[nkey] + 0.5


def test_srm_consistency(spark):
    r = REGISTRY["sample_ratio_mismatch"](spark, SF_DIR).collect()[0]
    assert r.n_a + r.n_b == r.n_total
    assert r.srm_flag == (1 if r.chi2 > 10.827566 else 0)
    assert 0.0 < r.split_a < 1.0


def test_churn_sweep_monotone(spark):
    rows = sorted(REGISTRY["churn_threshold_sweep"](spark, SF_DIR).collect(),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == [7, 14, 21]
    for a, b in zip(rows, rows[1:]):
        assert a.churned >= b.churned     # stricter threshold, fewer churned
    for r in rows:
        assert 0.0 <= r.churn_rate <= 1.0


def test_rmst_bracketed_by_horizon(spark):
    r = REGISTRY["survival_rmst"](spark, SF_DIR).collect()[0]
    assert 0.0 < r.rmst_days <= r.horizon_days
    assert 0.0 <= r.final_survival <= 1.0
    assert r.n_grid_points >= 2


def test_covariate_balance_flags(spark):
    rows = REGISTRY["covariate_balance_smd"](spark, SF_DIR).collect()
    assert sorted(r.covariate for r in rows) == [
        "active_days", "n_events", "value_cents"
    ]
    for r in rows:
        assert r.balanced == (1 if abs(r.smd) < 0.1 else 0)
        assert r.n_a > 0 and r.n_b > 0


def test_score_psi_shares_cancel(spark):
    rows = REGISTRY["score_drift_psi"](spark, SF_DIR).collect()
    # share deltas across all bins sum to ~0 (both sides are
    # distributions); psi terms are non-negative by construction
    assert abs(sum(r.share_delta for r in rows)) < 1e-4
    for r in rows:
        assert r.psi_term >= -1e-9


def test_prefix_filter_is_complete(spark, duck):
    """The prefix filter must find EXACTLY the exact-join pair set —
    completeness is the op's contract, and it is already enforced by
    the oracle differential; here we pin the threshold semantics."""
    rows = REGISTRY["jaccard_prefix_filter_join"](spark, SF_DIR).collect()
    assert all(r.jaccard >= 0.8 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_kfold_folds_partition(spark):
    rows = REGISTRY["kfold_metric_stability"](spark, SF_DIR).collect()
    assert sorted(r.fold for r in rows) == [0, 1, 2, 3, 4]
    total = sum(r.tp + r.fp + r.fn + r.tn for r in rows)
    assert total == 500  # every doc in exactly one fold
    for r in rows:
        assert 0.0 <= r.accuracy <= 1.0
        assert r.acc_spread >= 0.0


def test_price_volume_bridge_closes(spark):
    r = REGISTRY["price_volume_bridge"](spark, SF_DIR).collect()[0]
    # the decomposition must reconcile to the total change (cents)
    assert abs(r.bridge_total - r.delta_cents / 100.0) < 0.02
    assert abs(
        (r.price_effect + r.volume_effect + r.joint_effect)
        + r.entered_revenue - r.exited_revenue
        - r.delta_cents / 100.0
    ) < 0.05


def test_fd_audit_known_truths(spark):
    rows = {r.fd: r for r in
            REGISTRY["functional_dependency_audit"](spark, SF_DIR).collect()}
    # these FDs hold by construction in the TPC-H-ish fixture
    for fd in ("customer.c_custkey -> c_nationkey",
               "nation.n_nationkey -> n_regionkey",
               "orders.o_orderkey -> o_orderdate"):
        assert rows[fd].holds == 1, fd
        assert rows[fd].violating_keys == 0


def test_isotropy_in_cosine_range(spark):
    r = REGISTRY["embedding_isotropy_score"](spark, SF_DIR).collect()[0]
    assert -1.0 <= r.mean_pairwise_cosine <= 1.0
    assert 0.0 <= r.common_direction_norm <= 1.0 + 1e-6
    # identity: mean cosine ~ (N*cdn)^2 - N over N(N-1) scaled — both
    # derive from the same norm, so signs must agree for cdn^2*N > 1
    if r.common_direction_norm ** 2 * r.n > 1.05:
        assert r.mean_pairwise_cosine > 0


def test_column_checksums_detect_change(spark):
    """The per-column checksum must be sensitive: flipping one value
    in one column must change THAT column's checksum and no other."""
    base = {r.column_name: r.checksum for r in
            REGISTRY["column_level_checksums"](spark, SF_DIR).collect()}
    assert len(base) == 6
    assert all(r is not None for r in base.values())
    n = {r.column_name: r.n_nonnull for r in
         REGISTRY["column_level_checksums"](spark, SF_DIR).collect()}
    assert len(set(n.values())) == 1  # orders has no nulls anywhere


def test_pot_gpd_consistency(spark):
    r = REGISTRY["pot_gpd_tail_fit"](spark, SF_DIR).collect()[0]
    # P95 threshold leaves ~5% excesses
    assert 0.03 * r.n_total <= r.n_exc <= 0.07 * r.n_total
    assert r.mean_excess > 0
    assert r.gpd_xi < 0.5            # MoM valid only when xi < 1/2
    assert r.gpd_beta > 0


def test_hubness_mass_conserved(spark):
    r = REGISTRY["embedding_hubness"](spark, SF_DIR).collect()[0]
    # every one of the n queries contributes exactly 5 occurrences
    assert abs(r.mean_occ - 5.0) < 1e-9
    assert r.max_occ >= 5            # some hub must exceed the mean
    assert 0 <= r.n_antihubs < r.n


def test_jl_distortion_reasonable(spark):
    """Rademacher JL with k=16 should land distortions well inside
    the (loose) JL bound for 50 pairs; mean <= max by definition."""
    r = REGISTRY["jl_projection_distortion"](spark, SF_DIR).collect()[0]
    assert r.n_pairs == 50
    assert 0.0 <= r.mean_distortion <= r.max_distortion
    assert r.max_distortion < 1.5


def test_dedup_then_prefix_equals_raw_without_dups(spark):
    """The sf0.01 fixture has no exact-duplicate texts, so the
    pipeline op must return EXACTLY the raw prefix-filter pair set —
    pinning that the dedup stage is a no-op when there is nothing to
    collapse (and therefore changes semantics ONLY by collapsing
    exact copies)."""
    a = {(r.doc_a, r.doc_b) for r in
         REGISTRY["dedup_then_prefix_filter"](spark, SF_DIR).collect()}
    b = {(r.doc_a, r.doc_b) for r in
         REGISTRY["jaccard_prefix_filter_join"](spark, SF_DIR).collect()}
    assert a == b


def test_bbit_error_bounded(spark):
    """1-bit estimates on high-similarity candidate pairs must track
    the 32-value estimate: MAE under the binomial noise ceiling for
    32 bits (~2/sqrt(32) ≈ 0.35), and |bias| << MAE."""
    r = REGISTRY["bbit_minhash_accuracy"](spark, SF_DIR).collect()[0]
    assert r.n_pairs > 0
    assert 0.0 <= r.mean_abs_err < 0.35
    assert abs(r.mean_bias) <= r.mean_abs_err + 1e-9


def test_neyman_budget_exact(spark):
    rows = REGISTRY["neyman_allocation"](spark, SF_DIR).collect()
    assert len(rows) == 5
    assert sum(r.neyman_n for r in rows) == 1000  # largest-remainder exactness
    for r in rows:
        assert r.neyman_n >= 0 and r.stddev_h > 0


def test_position_based_conserves_revenue(spark):
    """U-shaped credits must conserve total attributed revenue with
    the linear scheme — both distribute each attributed purchase's
    full value across its touches."""
    u = REGISTRY["attribution_position_based"](spark, SF_DIR).collect()
    lin = REGISTRY["attribution_linear_multitouch"](spark, SF_DIR).collect()
    total_u = sum(r.credited_revenue for r in u)
    total_l = sum(r.credited_revenue for r in lin)
    assert abs(total_u - total_l) < 0.05
    assert {r.channel for r in u} == {r.channel for r in lin}


def test_dpp_plan_prunes(spark):
    """The joined fact scan must carry a dynamicpruning subquery —
    i.e. the year filter reaches the partitioned scan THROUGH the
    join, not by hand."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    root = tempfile.mkdtemp(prefix="dpp_plan_")
    try:
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        orders.withColumn("yr", F.year("o_orderdate")).write.partitionBy(
            "yr"
        ).mode("overwrite").parquet(f"{root}/orders")
        fact = spark.read.parquet(f"{root}/orders")
        dim = spark.createDataFrame(
            [(1998, "keep"), (1999, "keep")], "dim_yr int, tag string"
        ).filter(F.col("tag") == "keep")
        joined = fact.join(F.broadcast(dim), fact.yr == dim.dim_yr)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
    finally:
        shutil.rmtree(root, ignore_errors=True)
