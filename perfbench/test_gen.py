"""Self-test of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

WORKLOADS = sorted(gen.PROFILES)
ID_COLUMNS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}
# FIXTURES.md schemas (timestamps as the fixture's microsecond layout)
SCHEMAS = {
    "events": {"event_id": pa.int64(), "ts": pa.timestamp("us"),
               "user_id": pa.int64(), "event_type": pa.string(),
               "value": pa.float64(), "props": pa.string()},
    "lineitem": {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
                 "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
                 "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
                 "l_discount": pa.float64(), "l_tax": pa.float64(),
                 "l_returnflag": pa.string(), "l_linestatus": pa.string(),
                 "l_shipdate": pa.timestamp("us")},
    "orders": {"o_orderkey": pa.int64(), "o_custkey": pa.int64(),
               "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
               "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string()},
    "documents": {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
                  "source": pa.string(), "n_chars": pa.int64()},
    "embeddings": {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()),
                   "label": pa.int32()},
}


def _files(tmp_path, workload: str, seed: int, name: str) -> dict[str, bytes]:
    out = tmp_path / name
    gen.write(gen.generate(workload, seed), str(out))
    return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_identical_files(tmp_path, workload):
    assert _files(tmp_path, workload, 7, "a") == _files(tmp_path, workload, 7, "b")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_changes_rows_not_counts(workload):
    a, b = gen.generate(workload, 1), gen.generate(workload, 2)
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert a[name].num_rows == b[name].num_rows == gen.ROWS[name]
        assert not a[name].equals(b[name]), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_ids_unique_and_schemas_match_fixture(workload):
    tables = gen.generate(workload, 3)
    assert set(tables) == set(gen.ROWS)
    for name, col in ID_COLUMNS.items():
        ids = tables[name].column(col).to_pylist()
        assert len(set(ids)) == len(ids), name
    for name, schema in SCHEMAS.items():
        got = {f.name: f.type for f in tables[name].schema}
        assert got == schema, name


def test_domains_operators_filter_on():
    t = gen.generate("corpus", 4)
    assert set(t["events"].column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert set(t["orders"].column("o_orderpriority").to_pylist()) == set(gen.PRIORITIES)
    assert set(t["customer"].column("c_mktsegment").to_pylist()) == set(gen.SEGMENTS)
    words = {w for s in t["documents"].column("text").to_pylist() for w in s.split()}
    assert words == set(gen.VOCAB)
    n_chars = t["documents"].column("n_chars").to_pylist()
    assert n_chars == [len(s) for s in t["documents"].column("text").to_pylist()]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_measured_properties_near_stated(seed):
    corpus = gen.measured_properties(gen.generate("corpus", seed))
    target = gen.PROFILES["corpus"].neardup_share
    print(f"seed {seed} corpus: stated {target}, measured {corpus}")
    assert abs(corpus["neardup_doc_share"] - target) < 0.05
    assert abs(corpus["neardup_vec_share"] - target) < 0.05
    ingest = gen.measured_properties(gen.generate("ingest", seed))
    target = gen.PROFILES["ingest"].hot_user_share
    print(f"seed {seed} ingest: stated {target}, measured {ingest}")
    assert abs(ingest["hot_user_share"] - target) < 0.01
    assert ingest["neardup_doc_share"] < 0.01
