"""Operator slate r12: 14 operators, each checked against its
DuckDB oracle (rows, and the pandas-path dtype check of the preverify
gate, so the HUGEINT class is covered), plus per-operator invariants.
"""

from __future__ import annotations

import pytest

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

from .conftest import SF_DIR, assert_matches_oracle

# Slow suite (see pytest.ini): only this case runs in the default
# gate; run the rest with `pytest -m slow`.
DEFAULT_GATE_CASE = "test_staged_matches_oracle[shard_stratified_twin]"

load_all()

STAGED_NAMES = (
    "compaction_write_amp",
    "dedup_quality_survivorship",
    "dedup_ttl_fixed_twin",
    "dedup_ttl_state_projection",
    "ivf_cell_lloyd_convergence",
    "ivf_cell_lloyd_probe",
    "lsh_band_width_sweep",
    "pack_padding_sweep",
    "perplexity_gate_by_lang",
    "quality_prune_mix_shift",
    "quantization_budget_pareto",
    "shard_stratified_twin",
    "state_sizing_threeway",
    "workload_weighted_sort_advisor",
)


def test_round13_activation_complete():
    """All 14 slate operators are registered, and the registry holds
    498."""
    assert len(STAGED_NAMES) == 14
    assert len(REGISTRY) == 498
    assert all(name in REGISTRY for name in STAGED_NAMES)


def test_round13_staged_all_have_oracles():
    for name in STAGED_NAMES:
        osql = ORACLES[name]
        assert callable(REGISTRY[name]) and "SELECT" in osql
        assert "{" not in osql, f"{name}: unexpanded template in oracle"


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_matches_oracle(spark, duck, name):
    fn, osql = REGISTRY[name], ORACLES[name]
    assert_matches_oracle(fn(spark, SF_DIR), duck, osql, name)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_pandas_dtype_parity(spark, duck, name):
    """The preverify gate: DuckDB's pandas fetch must not coerce an
    integral column to float64 (HUGEINT fingerprint) while the Spark
    side stays integral."""
    fn, osql = REGISTRY[name], ORACLES[name]
    spdf = fn(spark, SF_DIR).toPandas()
    odf = duck.execute(osql).fetch_df()
    assert sorted(spdf.columns) == sorted(odf.columns)
    for c in odf.columns:
        if spdf[c].dtype.kind in "iu":
            assert odf[c].dtype.kind in "iu", (
                f"{name}.{c}: oracle {odf[c].dtype} vs spark {spdf[c].dtype}"
            )


# ------------------------------------------------------------- curation


def test_shard_stratified_twin_dominates_hashing(spark):
    """The fix the shard_mix_uniformity audit motivates: round-robin
    within each source beats salted hashing on per-shard composition
    at EVERY candidate shard count — and on this equal-sized-sources
    fixture the stratified TV is exactly zero (floor/ceil placement
    is exactly proportional when 20 sources have 25 docs each)."""
    fn = REGISTRY["shard_stratified_twin"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["shard_count", "policy"])
    for s in (4, 16):
        strat = pdf.loc[(s, "b_stratified")]
        hashed = pdf.loc[(s, "a_hashed")]
        assert strat.mean_tv_ppm < hashed.mean_tv_ppm
        assert strat.max_tv_ppm <= hashed.max_tv_ppm
        assert strat.n_docs == hashed.n_docs == 500
        assert strat.n_shards == s
    assert pdf.loc[(4, "b_stratified"), "mean_tv_ppm"] == 0
    assert pdf.loc[(16, "b_stratified"), "mean_tv_ppm"] == 0
    # shard_mix_uniformity's pinned pathology reproduces on the
    # hashed side: finer sharding has worse mean composition
    assert (
        pdf.loc[(16, "a_hashed"), "mean_tv_ppm"]
        > pdf.loc[(4, "a_hashed"), "mean_tv_ppm"]
    )


def test_perplexity_gate_by_lang_refines_source_gate(spark):
    fn = REGISTRY["perplexity_gate_by_lang"]
    pdf = fn(spark, SF_DIR).toPandas()
    # the (lang, source) grid genuinely refines the 20-source gate
    assert len(pdf) > 20
    assert pdf.sketch_rank_ok.all()
    # strict-below-threshold pruning can never exceed the 10% target
    assert (pdf.n_pruned <= pdf.n_scored // 10).all()
    assert (pdf.prune_ppm <= 100_000).all()
    # the pinned small-n degradation: groups under 10 docs have k=0,
    # threshold = their own minimum, zero pruned
    small = pdf[pdf.n_scored < 10]
    assert len(small) > 0 and (small.n_pruned == 0).all()
    # and big groups do prune
    assert (pdf[pdf.n_scored >= 10].n_pruned > 0).any()
    # scored mass partitions the per-source gate's: same total docs
    from bigdataentrytask_spark.operators import REGISTRY as REG

    src = REG["perplexity_pruning_gate"](spark, SF_DIR).toPandas()
    assert pdf.n_scored.sum() == src.n_scored.sum()


def test_pack_padding_sweep_vs_flow(spark):
    """Pad-mode can only lose fill vs continuous flow, and only
    oversize docs still span sequences (none at sf0.01); pinned
    non-monotone fill shape: the mid L is the pad-mode sweet spot."""
    from bigdataentrytask_spark.operators import REGISTRY as REG

    fn = REGISTRY["pack_padding_sweep"]
    pad = fn(spark, SF_DIR).toPandas().set_index("context_len")
    flow = (
        REG["pack_length_sweep"](spark, SF_DIR)
        .toPandas()
        .set_index("context_len")
    )
    assert (pad.total_tok == flow.total_tok).all()
    for L in pad.index:
        assert pad.loc[L, "fill_ppm"] <= flow.loc[L, "fill_ppm"]
        assert pad.loc[L, "n_oversize"] <= flow.loc[L, "n_docs_straddling"]
    # exact pad accounting
    assert (
        pad.pad_tokens == pad.n_seqs * pad.index - pad.total_tok
    ).all()
    assert (pad.n_oversize == 0).all()
    # the sweet spot: L=512 fills better than both neighbors under
    # padding, while flow fill is strictly decreasing in L
    assert pad.loc[512, "fill_ppm"] > pad.loc[128, "fill_ppm"]
    assert pad.loc[512, "fill_ppm"] > pad.loc[2048, "fill_ppm"]


def test_quality_prune_mix_shift_ledger(spark):
    """The gate's mix ledger balances exactly: shares partition their
    budgets, shifts cancel up to rounding, kept mass never exceeds
    raw, pruned docs match the (lang, source) gate's total, and the
    gate genuinely re-mixes (some source moves)."""
    fn = REGISTRY["quality_prune_mix_shift"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) == 20
    assert (pdf.kept_tokens <= pdf.raw_tokens).all()
    assert abs(pdf.raw_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert abs(pdf.kept_share_ppm.sum() - 1_000_000) <= len(pdf)
    assert abs(pdf.shift_ppm.sum()) <= 2 * len(pdf)
    assert pdf.shift_ppm.abs().max() > 0
    assert (pdf.n_pruned <= pdf.n_docs // 10).all()
    gate_fn = REGISTRY["perplexity_gate_by_lang"]
    gate = gate_fn(spark, SF_DIR).toPandas()
    assert pdf.n_pruned.sum() == gate.n_pruned.sum()


# ---------------------------------------------------------------- dedup


def test_dedup_quality_survivorship_invariants(spark):
    fn = REGISTRY["dedup_quality_survivorship"]
    r = fn(spark, SF_DIR).toPandas().iloc[0]
    # clusters are multi-doc by construction
    assert r.n_docs_clustered >= 2 * r.n_clusters
    assert 0 <= r.n_flips <= r.n_clusters
    # quality-keeper mass dominates by construction (max >= first)
    assert r.gain_e6 == r.kept_score_q_e6 - r.kept_score_id_e6
    assert r.gain_e6 >= 0
    # the policy axis is real on this corpus: most keepers flip
    assert r.n_flips > 0 and r.gain_e6 > 0
    assert r.flip_ppm == round(r.n_flips * 1e6 / r.n_clusters)


def test_lsh_band_width_sweep_s_curve(spark):
    """The banding S-curve on the shared 32-sketch signatures:
    narrower bands monotonically buy recall with candidate volume
    and pay in precision (recall monotonicity is STRUCTURAL — the
    candidate sets nest); the verified pipeline's own (8 x 4) config
    sits at the knee (>99% sliced recall at ~2/3 the widest
    volume)."""
    fn = REGISTRY["lsh_band_width_sweep"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values(
        "bands", ascending=False
    )
    assert list(pdf.bands) == [16, 8, 4]
    assert (pdf.bands * pdf.rows_per_band == 32).all()
    assert pdf.n_candidates.is_monotonic_decreasing
    assert pdf.n_cand_slice.is_monotonic_decreasing
    assert pdf.recall_ppm.is_monotonic_decreasing
    assert pdf.precision_ppm.is_monotonic_increasing
    assert pdf.n_true_slice.nunique() == 1
    assert (pdf.n_caught_slice <= pdf.n_true_slice).all()
    assert (pdf.n_cand_slice <= pdf.n_candidates).all()
    knee = pdf.set_index("bands")
    assert knee.loc[8, "recall_ppm"] > 990_000
    assert knee.loc[16, "recall_ppm"] == 1_000_000
    assert knee.loc[4, "recall_ppm"] < 800_000


def test_dedup_ttl_state_projection_frontier(spark):
    """Both directions of the TTL trade are monotone, and the
    accounting identities are exact."""
    fn = REGISTRY["dedup_ttl_state_projection"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("ttl_s")
    assert pdf.n_keys.nunique() == 1  # key domain is TTL-independent
    assert pdf.n_events.nunique() == 1
    assert pdf.n_admitted.is_monotonic_decreasing
    assert pdf.dups_caught.is_monotonic_increasing
    assert pdf.readmissions.is_monotonic_decreasing
    assert pdf.peak_state_keys.is_monotonic_increasing
    assert (pdf.dups_caught == pdf.n_events - pdf.n_admitted).all()
    assert (pdf.readmissions == pdf.n_admitted - pdf.n_keys).all()
    assert (pdf.peak_state_bytes == pdf.peak_state_keys * 48).all()
    # state peak can never exceed the key domain
    assert (pdf.peak_state_keys <= pdf.n_keys).all()


def test_dedup_ttl_fixed_vs_sliding(spark):
    """The policy delta: a fixed (first-seen-anchored) TTL never
    refreshes, so its horizons sit earlier and it re-admits at least
    as often as the sliding twin at every TTL — catching fewer or
    equal duplicates. Same key domain, same accounting identities."""
    fx_fn = REGISTRY["dedup_ttl_fixed_twin"]
    sl_fn = REGISTRY["dedup_ttl_state_projection"]
    fx = fx_fn(spark, SF_DIR).toPandas().set_index("ttl_s")
    sl = sl_fn(spark, SF_DIR).toPandas().set_index("ttl_s")
    assert (fx.n_keys == sl.n_keys).all()
    assert (fx.n_events == sl.n_events).all()
    assert (fx.n_admitted >= sl.n_admitted).all()
    assert (fx.dups_caught <= sl.dups_caught).all()
    # the refresh genuinely matters somewhere on this corpus
    assert (fx.n_admitted > sl.n_admitted).any()
    assert (fx.dups_caught == fx.n_events - fx.n_admitted).all()
    assert (fx.readmissions == fx.n_admitted - fx.n_keys).all()
    assert fx.n_admitted.is_monotonic_decreasing
    assert fx.peak_state_keys.is_monotonic_increasing
    assert (fx.peak_state_bytes == fx.peak_state_keys * 48).all()


# ------------------------------------------------------------ streaming


def test_state_sizing_threeway_cross_pins(spark):
    """The joint table must agree with both parents: session peaks
    reproduce session_state_batch_peaks row-for-row on the shared
    (gap, trigger) grid; sampled window peaks are bounded by the
    continuous endpoint-sweep peaks per delay; and the joint peak
    never exceeds the sum of the marginals."""

    fn = REGISTRY["state_sizing_threeway"]
    pdf = fn(spark, SF_DIR).toPandas()
    sess = (
        REGISTRY["session_state_batch_peaks"](spark, SF_DIR)
        .toPandas()
        .set_index(["gap_s", "trigger_s"])["max_state_at_batch"]
    )
    wm = (
        REGISTRY["watermark_state_bytes_joint"](spark, SF_DIR)
        .toPandas()
        .set_index("delay_label")["max_open_windows"]
    )
    for _, r in pdf.iterrows():
        assert r.peak_session_rows == sess[(r.gap_s, r.trigger_s)]
        assert r.peak_window_rows <= wm[r.delay_label]
        assert (
            r.peak_total_bytes
            <= r.peak_session_rows * 56 + r.peak_window_rows * 40
        )
        assert r.slack_bytes == (
            r.peak_session_rows * 56
            + r.peak_window_rows * 40
            - r.peak_total_bytes
        )
        assert r.slack_bytes >= 0
    # window peaks grow with delay on every (gap, trigger)
    for (g, t), grp in pdf.groupby(["gap_s", "trigger_s"]):
        s = grp.sort_values("delay_label")
        assert s.peak_window_rows.is_monotonic_increasing
    # the co-scheduling story is non-trivial on this corpus
    assert (pdf.slack_bytes > 0).any()


# ------------------------------------------------------------ warehouse


def test_workload_weighted_sort_advisor_flips_top(spark):
    """The uniform advisor picks the WRONG key for a date-dominated
    workload on this corpus: o_custkey wins the uniform mean but
    o_orderdate wins the weighted one — pinned, with exact weighted
    arithmetic re-derivable from sort_key_benefit_ranking's row."""

    fn = REGISTRY["workload_weighted_sort_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("sort_col")
    assert pdf.loc["o_orderdate", "rank_weighted"] == 1
    assert pdf.loc["o_custkey", "rank_uniform"] == 1
    assert pdf.loc["o_orderdate", "rank_moved"]
    assert sorted(pdf.rank_weighted) == [1, 2, 3, 4]
    assert sorted(pdf.rank_uniform) == [1, 2, 3, 4]
    # exact cross-pin of the weighted sum against the parent table
    skb = (
        REGISTRY["sort_key_benefit_ranking"](spark, SF_DIR)
        .toPandas()
        .set_index("sort_col")
    )
    w = {"pr_date": 55, "pr_cust": 25, "pr_price": 15, "pr_prio": 5}
    for col in pdf.index:
        expect = round(
            sum(w[p] * skb.loc[col, f"{p}_prune_ppm"] for p in w) / 100
        )
        assert pdf.loc[col, "weighted_prune_ppm"] == expect
        assert pdf.loc[col, "mean_prune_ppm"] == skb.loc[col, "mean_prune_ppm"]


def test_compaction_write_amp_frontier(spark):
    """The compactor's three-way frontier: growing floors shrink the
    group count (the ops win) but monotonically raise both the rows
    rewritten and the workload-mean read amplification; accounting
    identities exact; the 400-row column cross-pins
    compaction_floor_sweep's group census."""

    fn = REGISTRY["compaction_write_amp"]
    pdf = fn(spark, SF_DIR).toPandas().sort_values("floor_rows")
    assert pdf.n_parts_in.nunique() == 1
    assert pdf.rows_total.nunique() == 1
    assert pdf.n_groups.is_monotonic_decreasing
    assert pdf.rows_rewritten.is_monotonic_increasing
    assert pdf.mean_read_amp_ppm.is_monotonic_increasing
    assert (pdf.n_merged_groups <= pdf.n_groups).all()
    assert (pdf.rows_rewritten <= pdf.rows_total).all()
    assert (
        pdf.write_amp_ppm
        == (pdf.rows_rewritten * 1e6 / pdf.rows_total).round()
    ).all()
    cfs = (
        REGISTRY["compaction_floor_sweep"](spark, SF_DIR)
        .toPandas()
        .groupby("floor_rows")
        .first()
    )
    for fr in pdf.floor_rows:
        assert (
            pdf.set_index("floor_rows").loc[fr, "n_groups"]
            == cfs.loc[fr, "n_groups"]
        )


# ------------------------------------------------------------ retrieval


def test_quantization_budget_pareto_regime(spark):
    """The budget funnel's calibration and its honest finding: the
    exact generator is lossless at any budget >= TOP_K; recall is
    monotone in budget within every config; and on this ISOTROPIC
    corpus the 8-byte sign code beats the 64-byte matryoshka-16
    prefix at BOTH budgets (prefix truncation keeps 1/4 of the
    energy, sign bits keep all 64 dims' directions) — the check-
    isotropy-before-matryoshka serving advisory, pinned."""
    fn = REGISTRY["quantization_budget_pareto"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["config", "budget"])
    for b in (10, 50):
        assert pdf.loc[("a_exact_f32", b), "recall_at_5"] == 1.0
        assert (
            pdf.loc[("c_binary_asym", b), "recall_at_5"]
            > pdf.loc[("b_matryoshka_d16", b), "recall_at_5"]
        )
    for cfgname in ("a_exact_f32", "b_matryoshka_d16", "c_binary_asym"):
        sub = pdf.loc[cfgname].sort_index()
        assert sub.recall_at_5.is_monotonic_increasing
        assert (sub.n_hits <= 50).all()
    assert pdf.loc[("b_matryoshka_d16", 10), "bytes_per_vec"] == 64
    assert pdf.loc[("c_binary_asym", 10), "bytes_per_vec"] == 8


def test_ivf_cell_lloyd_probe_regime(spark):
    """The coarse side of the Lloyd chain: one cell-Lloyd step cuts
    coarse distortion by >40% and raises the multi-probe coverage
    ceiling (nprobe >= 2) at near-identical candidate volume — while
    the nprobe=1 coverage DIPS slightly (0.78 -> 0.76), the honest
    single-probe nuance. Coverage is monotone in nprobe within each
    variant by construction."""
    fn = REGISTRY["ivf_cell_lloyd_probe"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["variant", "nprobe"])
    toy_d = pdf.loc[("a_toy", 1), "total_distortion"]
    ref_d = pdf.loc[("b_lloyd1", 1), "total_distortion"]
    assert ref_d < toy_d * 0.6
    for v in ("a_toy", "b_lloyd1"):
        cov = pdf.loc[v].sort_index().coverage_ppm
        assert cov.is_monotonic_increasing
        assert (pdf.loc[v].max_cell_share_ppm < 300_000).all()
    for p in (2, 4):
        assert (
            pdf.loc[("b_lloyd1", p), "coverage_ppm"]
            > pdf.loc[("a_toy", p), "coverage_ppm"]
        )
        # candidate volumes stay within a few vectors of each other
        assert (
            abs(
                int(pdf.loc[("b_lloyd1", p), "mean_candidates"])
                - int(pdf.loc[("a_toy", p), "mean_candidates"])
            )
            <= 10
        )
    assert (
        pdf.loc[("b_lloyd1", 1), "coverage_ppm"]
        < pdf.loc[("a_toy", 1), "coverage_ppm"]
    )


def test_ivf_cell_lloyd_convergence_plateau(spark):
    """The coarse trainer's stop curve: monotone non-increasing
    distortion, no dead cells, an immediate plateau (step-1 gain
    dwarfs step-2's by far more than 5x), and steps 0/1 cross-pin
    ivf_cell_lloyd_probe's a_toy/b_lloyd1 totals exactly — same
    arithmetic, independent implementations."""
    fn = REGISTRY["ivf_cell_lloyd_convergence"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("step")
    assert pdf.total_distortion.is_monotonic_decreasing
    assert (pdf.n_cells_used == 8).all()
    assert pdf.loc[0, "gain"] == 0
    assert pdf.loc[1, "gain"] > 5 * pdf.loc[2, "gain"]
    probe_fn = REGISTRY["ivf_cell_lloyd_probe"]
    probe = (
        probe_fn(spark, SF_DIR).toPandas().set_index(["variant", "nprobe"])
    )
    assert (
        pdf.loc[0, "total_distortion"]
        == probe.loc[("a_toy", 1), "total_distortion"]
    )
    assert (
        pdf.loc[1, "total_distortion"]
        == probe.loc[("b_lloyd1", 1), "total_distortion"]
    )
