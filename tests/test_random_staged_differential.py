"""Random-INPUT oracle differential for the r9-r13 operator slates:
generate randomized tables (shapes the fixture never produces — empty
texts, single-word docs, duplicate-heavy corpora, tiny dimensions,
skewed sources) and run each operator against its own DuckDB oracle
on that data. The per-round preverify only exercises the fixed
corpus; this is the same differential on adversarial inputs.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

from .conftest import assert_matches_oracle

# Slow suite (see pytest.ini): only this case runs in the default
# gate; run the rest with `pytest -m slow`.
DEFAULT_GATE_CASE = "test_staged_on_random_inputs[0-length_truncation_audit]"

load_all()

SEEDS = [0, 1]


def _gen_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = random.Random(seed)
    n_docs = rng.randint(20, 60)
    langs = ["de", "en", "es", "fr", "zh"]
    srcs = [f"src{i}" for i in range(rng.randint(2, 6))]
    texts = []
    for d in range(n_docs):
        shape = (d + seed) % 5
        if shape == 0:
            t = ""  # empty
        elif shape == 1:
            t = " ".join(rng.choice("ab") for _ in range(rng.randint(1, 80)))
        elif shape == 2:  # near-dup cluster across langs
            t = "shared corpus text " * 4 + str(d % 3)
        elif shape == 3:
            t = " ".join(
                rng.choice(["key", "agg", "row", "scan"])
                for _ in range(rng.randint(5, 60))
            )
        else:
            t = "w" + str(d)  # single short word
        texts.append(t)
    documents = pd.DataFrame(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "lang": [rng.choice(langs) for _ in range(n_docs)],
            "source": [rng.choice(srcs) for _ in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    n_vec = rng.randint(30, 80)
    embeddings = pd.DataFrame(
        {
            "vec_id": range(n_vec),
            "embedding": [
                [rng.uniform(-0.6, 0.6) for _ in range(64)]
                for _ in range(n_vec)
            ],
            "label": [rng.randint(0, 4) for _ in range(n_vec)],
        }
    )
    n_ev = rng.randint(100, 400)
    base = pd.Timestamp("2024-01-01")
    events = pd.DataFrame(
        {
            "event_id": range(n_ev),
            # non-monotone arrival with bursts and stragglers
            "ts": [
                base
                + pd.Timedelta(
                    seconds=rng.randint(0, 86_400)
                    + (0 if rng.random() < 0.8 else -rng.randint(0, 3_600))
                )
                for _ in range(n_ev)
            ],
            "user_id": [rng.randint(0, 20) for _ in range(n_ev)],
            "event_type": [
                rng.choice(["view", "click", "buy", "error"])
                for _ in range(n_ev)
            ],
            "value": [round(rng.uniform(0, 50), 2) for _ in range(n_ev)],
            "props": ['{"k": %d}' % rng.randint(0, 99) for _ in range(n_ev)],
        }
    )
    n_li = rng.randint(200, 600)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": [rng.randint(1, 80) for _ in range(n_li)],
            "l_suppkey": [rng.randint(1, 15) for _ in range(n_li)],
            "l_linenumber": [rng.randint(1, 7) for _ in range(n_li)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n_li)],
            "l_linestatus": [rng.choice("OF") for _ in range(n_li)],
            "l_shipdate": [
                base + pd.Timedelta(days=rng.randint(0, 400))
                for _ in range(n_li)
            ],
        }
    )
    n_ord = rng.randint(50, 150)
    orders = pd.DataFrame(
        {
            "o_orderkey": range(1, n_ord + 1),
            "o_custkey": [rng.randint(1, 30) for _ in range(n_ord)],
            "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
            "o_totalprice": [round(rng.uniform(1, 9e4), 2) for _ in range(n_ord)],
            "o_orderdate": [
                base + pd.Timedelta(days=rng.randint(0, 400))
                for _ in range(n_ord)
            ],
            "o_orderpriority": [
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"])
                for _ in range(n_ord)
            ],
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": range(1, 31),
            "c_name": [f"Customer#{i:09d}" for i in range(1, 31)],
            "c_mktsegment": [
                rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"])
                for _ in range(30)
            ],
        }
    )
    return {
        "documents": documents,
        "embeddings": embeddings,
        "events": events,
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
    }


# ops whose oracle/operator only touch the generated tables
RANDOMIZABLE = (
    "adc_recall_tail",
    "allowed_lateness_sweep",
    "asymmetric_binary_retrieval",
    "binary_quantization_recall",
    "boilerplate_chunk_census",
    "bucket_sort_joint_advisor",
    "bucketed_join_planning",
    "candidate_budget_recall",
    "chunk_decay_source_mix",
    "column_quantile_sketch_gate",
    "compacted_zone_pruning",
    "compaction_floor_sweep",
    "compaction_planner",
    "compaction_policy_pareto",
    "compaction_read_bill",
    "compaction_schedule_amortizer",
    "compaction_write_amp",
    "contamination_source_crosstab",
    "cross_source_duplicate_flow",
    "crosslingual_neardup_eval",
    "dedup_order_sensitivity",
    "dedup_quality_survivorship",
    "dedup_ttl_fixed_twin",
    "dedup_ttl_policy_joint",
    "dedup_ttl_state_projection",
    "dict_encoding_advisor",
    "domain_mix_planner",
    "duplicate_decay_mixture",
    "funnel_order_sensitivity",
    "funnel_threshold_provenance",
    "gate_stacking_ledger",
    "graph_expansion_recall",
    "hnsw_layer_audit",
    "intra_doc_repetition_audit",
    "ivf_adc_lloyd_recall",
    "ivf_adc_recall",
    "ivf_adc_refined_joint_recall",
    "ivf_cell_balance_audit",
    "ivf_cell_lloyd_convergence",
    "ivf_cell_lloyd_probe",
    "length_truncation_audit",
    "lsh_band_width_sweep",
    "matryoshka_recall_sweep",
    "multiprobe_schedule_advisor",
    "pack_length_sweep",
    "pack_padding_sweep",
    "partition_size_advisor",
    "perplexity_gate_by_lang",
    "perplexity_pruning_gate",
    "post_gate_mix_rebalance",
    "pq_adc_recall",
    "pq_lloyd_convergence",
    "pq_lloyd_refinement",
    "quality_prune_mix_shift",
    "quality_pruning_curve",
    "quality_threshold_pruning",
    "quantization_budget_pareto",
    "quantization_pareto_table",
    "residual_adc_recall",
    "residual_code_utilization",
    "residual_pq_distortion",
    "residual_pq_refined_cells",
    "rle_bitpack_advisor",
    "seed_spread_advisor",
    "session_gap_state_cost",
    "session_state_batch_peaks",
    "shard_mix_uniformity",
    "shard_stratified_twin",
    "sort_key_benefit_ranking",
    "sort_order_advisor",
    "sort_order_advisor_ranged",
    "state_sizing_threeway",
    "stream_state_projection",
    "substring_dedup_audit",
    "substring_dedup_prod",
    "trigger_interval_advisor",
    "trigger_lateness_joint_cost",
    "trigger_sampling_deficit",
    "two_hop_expansion_ceiling",
    "url_host_frontier_stats",
    "watermark_lag_histogram",
    "watermark_state_bytes_joint",
    "workload_weighted_sort_advisor",
)


# physical types the catalog's enforced read schemas expect
# (float32 embedding elements, int32 label/linenumber, MICROS
# timestamps — a pandas default write would produce float64/ns)
_PA_TYPES = {
    "embeddings": {"embedding": pa.list_(pa.float32()), "label": pa.int32()},
    "events": {"ts": pa.timestamp("us")},
    "lineitem": {"l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")},
    "orders": {"o_orderdate": pa.timestamp("us")},
}


def _write_exact(pdf: pd.DataFrame, name: str, path: str) -> None:
    cols = {}
    overrides = _PA_TYPES.get(name, {})
    for c in pdf.columns:
        if c in overrides:
            cols[c] = pa.array(pdf[c].tolist(), type=overrides[c])
        else:
            cols[c] = pa.array(pdf[c].tolist())
    pq.write_table(pa.table(cols), path)


@pytest.fixture(scope="module", params=SEEDS)
def random_sf(request, spark, tmp_path_factory):
    tables = _gen_tables(request.param)
    sf = str(tmp_path_factory.mktemp(f"rand{request.param}"))
    for name, pdf in tables.items():
        # single-FILE parquet like the fixture (the catalog sniffs the
        # footer with pyarrow and DuckDB reads the path directly)
        _write_exact(pdf, name, f"{sf}/{name}.parquet")
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'"
        )
    yield sf, con
    con.close()


@pytest.mark.parametrize("name", RANDOMIZABLE)
def test_staged_on_random_inputs(random_sf, spark, name):
    sf, con = random_sf
    fn, osql = REGISTRY[name], ORACLES[name]
    assert_matches_oracle(fn(spark, sf), con, osql, f"{name}@{sf}")
