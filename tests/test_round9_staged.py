"""Operator slate r9: 17 operators, each checked against its
DuckDB oracle (rows, and the pandas-path dtype check of the preverify
gate, so the HUGEINT class is covered), plus per-operator invariants.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all
from bigdataentrytask_spark.operators.dedup import (
    _SUBSTR_L,
    substring_dedup_audit,
)

from .conftest import SF_DIR, assert_matches_oracle

# Slow suite (see pytest.ini): only this case runs in the default
# gate; run the rest with `pytest -m slow`.
DEFAULT_GATE_CASE = "test_staged_matches_oracle[length_truncation_audit]"

load_all()

STAGED_NAMES = (
    "binary_quantization_recall",
    "boilerplate_chunk_census",
    "column_quantile_sketch_gate",
    "crosslingual_neardup_eval",
    "dict_encoding_advisor",
    "graph_expansion_recall",
    "hnsw_layer_audit",
    "length_truncation_audit",
    "matryoshka_recall_sweep",
    "residual_pq_distortion",
    "rle_bitpack_advisor",
    "sort_order_advisor",
    "stream_state_projection",
    "substring_dedup_audit",
    "trigger_interval_advisor",
    "url_host_frontier_stats",
    "watermark_lag_histogram",
)


def test_round10_activation_complete():
    """All 17 slate operators are registered, and the registry holds
    498."""
    assert len(STAGED_NAMES) == 17
    assert len(REGISTRY) == 498
    assert all(name in REGISTRY for name in STAGED_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_matches_oracle(spark, duck, name):
    fn, osql = REGISTRY[name], ORACLES[name]
    assert_matches_oracle(fn(spark, SF_DIR), duck, osql, name)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_pandas_dtype_parity(spark, duck, name):
    """The preverify gate: DuckDB's pandas fetch must not coerce an
    integral column to float64 (HUGEINT fingerprint) while the Spark
    side stays integral, and no Spark column may surface as
    decimal.Decimal objects."""
    fn, osql = REGISTRY[name], ORACLES[name]
    spdf = fn(spark, SF_DIR).toPandas()
    odf = duck.execute(osql).fetch_df()
    assert sorted(spdf.columns) == sorted(odf.columns)
    for c in odf.columns:
        if spdf[c].dtype.kind in "iu":
            assert odf[c].dtype.kind in "iu", (
                f"{name}.{c}: oracle {odf[c].dtype} vs spark {spdf[c].dtype}"
            )


def test_substring_dedup_audit_invariants(spark):
    pdf = substring_dedup_audit(spark, SF_DIR).toPandas()
    assert len(pdf) == 500  # one row per document, zeros included
    assert (pdf.n_dup_windows <= pdf.n_windows).all()
    assert (pdf.dup_coverage <= pdf.doc_len).all()
    # a duplicated window covers at least L chars; coverage of k
    # windows is at most k + L - 1 contiguous chars
    hit = pdf[pdf.n_dup_windows > 0]
    assert (hit.dup_coverage >= _SUBSTR_L).all()
    assert (hit.dup_coverage <= hit.n_dup_windows + _SUBSTR_L - 1).all()
    clean = pdf[pdf.n_dup_windows == 0]
    assert (clean.dup_coverage == 0).all() and (clean.dup_ppm == 0).all()


def test_substring_island_math_handcrafted(spark, tmp_path):
    """Pin the interval-union semantics on a corpus where the answer
    is computable by hand. L=30. Doc 1 and doc 2 share their first 40
    chars (positions 1..11 are duplicated windows in each -> one
    island, coverage 11-1+30 = 40). Doc 3 is unique."""
    shared = "".join(chr(ord("a") + i % 26) for i in range(40))
    rows = [
        (1, shared + "X" * 30, "en", "s", 70),
        (2, shared + "Y" * 30, "en", "s", 70),
        # aperiodic by construction: consecutive 2-digit counters, so
        # every 30-char window embeds a counter run unique to its offset
        (3, "".join(f"{i:02d}" for i in range(35)), "en", "s", 70),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    out = (
        substring_dedup_audit(spark, sf)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # 70-char docs -> 41 windows each
    assert (out.n_windows == 41).all()
    # docs 1,2: windows starting at 1..11 are duplicated (the shared
    # 40-char prefix), one island, coverage = 40
    for d in (1, 2):
        assert out.loc[d, "n_dup_windows"] == 11
        assert out.loc[d, "dup_coverage"] == 40
        assert out.loc[d, "dup_ppm"] == round(40 * 1_000_000 / 70)
    assert out.loc[3, "n_dup_windows"] == 0
    assert out.loc[3, "dup_coverage"] == 0
    # X*30 / Y*30 tails: within-doc self-repeats don't exist at L=30
    # (the run is exactly 30 chars -> a single window each, unique
    # because the preceding char differs)... but the 30-char X window
    # appears once in doc 1 only -> correctly not duplicated.


def test_round10_staged_all_have_oracles():
    for name in STAGED_NAMES:
        osql = ORACLES[name]
        assert callable(REGISTRY[name]) and "SELECT" in osql
        assert "{" not in osql, f"{name}: unexpanded template in oracle"


def test_matryoshka_recall_monotone_in_prefix(spark):
    """More dimensions can only add information: recall@5 at d=32 must
    be >= recall at d=8 (ties broken identically)."""
    fn = REGISTRY["matryoshka_recall_sweep"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("d_prefix")
    assert pdf.loc[32, "n_hits"] >= pdf.loc[8, "n_hits"]
    assert (pdf.n_hits <= pdf.n_queries * 5).all()


def test_sort_advisor_shipdate_order_lengthens_shipdate_runs(spark):
    """Sorting by shipdate must strictly reduce the shipdate run count
    vs the natural order (that's the advisor's entire point)."""
    fn = REGISTRY["sort_order_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index(["ordering", "col_name"])
    nat = pdf.loc[("natural", "l_shipdate"), "n_runs"]
    shp = pdf.loc[("shipdate", "l_shipdate"), "n_runs"]
    assert shp < nat
    # under the shipdate sort, shipdate runs = number of distinct days
    assert (pdf.n_runs <= pdf.n_rows).all()


def test_url_frontier_invariants(spark):
    fn = REGISTRY["url_host_frontier_stats"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf.n_hosts <= pdf.n_urls).all()
    assert (pdf.max_host_load <= pdf.n_urls).all()
    assert (pdf.n_dup_text_urls <= pdf.n_urls).all()
    # hosts are h0..h6 per domain
    assert (pdf.n_hosts <= 7).all()


def test_residual_pq_invariants(spark):
    fn = REGISTRY["residual_pq_distortion"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("sub")
    assert sorted(pdf.index) == [0, 1, 2, 3]
    assert (pdf.n_vecs == 500).all()
    assert (pdf.flat_sq_error > 0).all()
    assert (pdf.residual_sq_error > 0).all()
    # near-isotropic synthetic corpus: two-level quantization must
    # LOSE to flat PQ (see the staged block comment) — a sign flip
    # here means the corpus regen became clustered, worth knowing
    assert (pdf.gain_ppm < 0).all()


def test_crosslingual_invariants(spark):
    fn = REGISTRY["crosslingual_neardup_eval"]
    pdf = fn(spark, SF_DIR).toPandas()
    # 5 langs -> 10 unordered cross pairs, all with truth on this corpus
    assert len(pdf) == 10
    assert (pdf.lang_lo < pdf.lang_hi).all()
    assert (pdf.n_hits <= pdf.n_truth).all()
    assert (pdf.n_hits <= pdf.n_candidates).all()
    assert (pdf.recall_ppm <= 1_000_000).all()
    assert ((pdf.precision_ppm <= 1_000_000) | (pdf.precision_ppm == -1)).all()


def test_watermark_lag_invariants(spark):
    fn = REGISTRY["watermark_lag_histogram"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert pdf.n_events.sum() == 10_000
    assert abs(pdf.share_ppm.sum() - 1_000_000) <= len(pdf)  # rounding
    on_front = pdf.set_index("lag_bucket")
    # the running max includes the row itself -> at least one on-front
    assert on_front.loc["a_on_front", "n_events"] >= 1
    assert on_front.loc["a_on_front", "n_would_drop"] == 0


def test_hnsw_layer_audit_invariants(spark):
    fn = REGISTRY["hnsw_layer_audit"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("layer")
    assert list(pdf.index) == [1, 2, 3, 4]
    # geometric occupancy: each layer roughly halves (loose 3x bound)
    for low, hi in ((2, 1), (3, 2), (4, 3)):
        assert pdf.loc[low, "n_nodes"] < pdf.loc[hi, "n_nodes"]
    # every node with > M peers emits exactly M directed edges
    assert (pdf.n_edges <= pdf.n_nodes * 4).all()
    assert (pdf.n_mutual_edges * 2 <= pdf.n_edges).all()
    assert (pdf.mean_radius > 0).all()


def test_quantile_sketch_gate_invariants(spark):
    fn = REGISTRY["column_quantile_sketch_gate"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) == 8  # 2 columns x 4 quantiles
    assert pdf.sketch_ok.all()  # the sketch honors its rank contract
    # discrete percentiles are monotone in q within each column
    for col, grp in pdf.groupby("col_name"):
        g = grp.sort_values("q_pct")
        assert g.exact_disc.is_monotonic_increasing


def test_dict_advisor_invariants(spark):
    fn = REGISTRY["dict_encoding_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("col_name")
    assert len(pdf) == 10
    assert (pdf.ndv <= pdf.n_rows).all()
    # dict page alone is never larger than plain storage
    assert (pdf.dict_bytes - pdf.plain_bytes <= pdf.n_rows * 5).all()
    # the two effectively-unique columns must NOT recommend dictionary
    assert not pdf.loc["customer.c_name", "recommend_dict"]
    assert not pdf.loc["documents.text", "recommend_dict"]
    # the tiny-domain flags must
    assert pdf.loc["lineitem.l_returnflag", "recommend_dict"]
    assert pdf.loc["documents.lang", "recommend_dict"]


def test_binary_quantization_invariants(spark):
    fn = REGISTRY["binary_quantization_recall"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    assert 0 <= r.n_hits <= r.n_queries * 5
    assert 0 <= r.mean_hamming <= 64


def test_boilerplate_census_invariants(spark):
    fn = REGISTRY["boilerplate_chunk_census"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) == 20  # one row per source
    assert (pdf.n_shared_head <= pdf.n_docs).all()
    assert (pdf.n_shared_tail <= pdf.n_docs).all()
    assert (pdf.head_share_ppm <= 1_000_000).all()


def test_trigger_advisor_invariants(spark):
    fn = REGISTRY["trigger_interval_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("interval_s")
    assert list(pdf.index) == [60, 300, 900, 3600]
    assert (pdf.n_events == 10_000).all()
    # larger trigger -> fewer, bigger batches
    assert pdf.n_batches.is_monotonic_decreasing
    assert pdf.max_batch.is_monotonic_increasing
    assert (pdf.max_batch * pdf.n_batches >= pdf.n_events).all()


def test_rle_advisor_invariants(spark):
    fn = REGISTRY["rle_bitpack_advisor"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("col_name")
    assert (pdf.n_runs <= pdf.n_rows).all()
    assert (pdf.ndv <= pdf.n_runs).all()
    # the 3-value flag under shipdate sort runs long -> RLE wins;
    # the high-cardinality suppkey cannot
    assert pdf.loc["l_shipdate", "recommend_rle"]
    assert not pdf.loc["l_suppkey", "recommend_rle"]


def test_graph_expansion_invariants(spark):
    fn = REGISTRY["graph_expansion_recall"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("stage")
    assert list(pdf.index) == ["a_lsh", "b_lsh_1hop"]
    # expansion is a SUPERSET: volume and hits can only grow
    assert pdf.loc["b_lsh_1hop", "mean_candidates"] >= pdf.loc["a_lsh", "mean_candidates"]
    assert pdf.loc["b_lsh_1hop", "n_hits"] >= pdf.loc["a_lsh", "n_hits"]
    assert (pdf.recall_at_5 <= 1.0).all()


def test_truncation_audit_invariants(spark):
    fn = REGISTRY["length_truncation_audit"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf) == 20
    assert (pdf.n_at_max >= 1).all()           # the max is always attained
    assert (pdf.n_at_max <= pdf.n_docs).all()
    assert (pdf.med_len <= pdf.max_len).all()
    assert (pdf.mad_len >= 0).all()
    assert (pdf.n_above_fence <= pdf.n_docs).all()


def test_state_projection_invariants(spark):
    fn = REGISTRY["stream_state_projection"]
    pdf = fn(spark, SF_DIR).toPandas().set_index("horizon_s")
    assert list(pdf.index) == [60, 300, 3600]
    # longer horizon holds at least as much state, same bucket count
    assert pdf.max_state.is_monotonic_increasing
    assert pdf.mean_state_ppm.is_monotonic_increasing
    assert pdf.n_buckets.nunique() == 1
