"""Seeded input generator for the engine benchmark.

Writes one parquet file per table, in the fixture layout and with the
schemas of FIXTURES.md, into a directory the benchmark hands to the
operators.  Every value domain the operators filter on (region and
segment names, order priorities, return flags, date ranges, event
types, the 31-word document vocabulary, 64-d unit embeddings with 10
labels) is the fixture's; the seed only moves rows around inside those
domains.  The same seed gives byte-identical files.

Each workload varies one input property on top of that base:

* ``corpus``: a stated share of documents and of embeddings sits in
  near-duplicate clusters of 2-8 members (token edits / vector noise
  around a cluster base).
* ``ingest``: one hot user owns a stated share of events (the
  ``scripts/stress_skew.py`` axis); the rest keep the uniform user keys
  1..5000 of the reference generator.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the fixture's sf0.01 sizes.  Every op in both workloads
# is dominated by a per-op fixed cost at this size (measured: the same
# pass time at sf0.001 and sf0.01), so larger inputs would only
# lengthen a run; see perfbench/README.md.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EMBED_DIM = 64

US_PER_DAY = 86_400 * 1_000_000
EVENTS_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00
EVENTS_SPAN_US = 30 * US_PER_DAY
ORDER_DATE_LO, ORDER_DATE_HI = 9131, 11535  # 1995-01-01 .. 2001-08-01
SHIP_DATE_LO, SHIP_DATE_HI = 9132, 11630  # 1995-01-02 .. 2001-11-04


@dataclass(frozen=True)
class Profile:
    """The input property a workload varies, with its stated target."""

    hot_user_share: float = 0.0  # share of events owned by one user
    neardup_share: float = 0.0  # share of docs/vectors in clusters


PROFILES = {
    # The fixture's own share: ``measured_properties`` finds 9.4% of the
    # sf0.01 documents and 9.5% of the sf0.1 ones in near-duplicate
    # pairs.  The fixture's vectors have none (no pair reaches cosine
    # 0.95); the same share is applied to them so that the embedding
    # pair ops see clusters too.
    "corpus": Profile(neardup_share=0.095),
    # The hot-key share of the first measured scripts/stress_skew.py
    # run (SCALE.md: one user duplicated to 22% of the events).
    "ingest": Profile(hot_user_share=0.22),
}
HOT_USER_ID = 1
USER_DOMAIN = 5_000  # uniform user keys 1..5000, as the reference draws them


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_li = ROWS["orders"], ROWS["lineitem"]
    nation_keys = np.arange(ROWS["nation"], dtype=np.int32)
    cust_keys = np.arange(n_cust, dtype=np.int64)
    supp_keys = np.arange(n_supp, dtype=np.int64)
    part_keys = np.arange(n_part, dtype=np.int64)
    order_keys = np.arange(n_ord, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": nation_keys,
            "n_name": [f"NATION_{k}" for k in nation_keys],
            "n_regionkey": nation_keys % len(REGIONS),
        }),
        "customer": pa.table({
            "c_custkey": cust_keys,
            "c_name": _names("Customer", cust_keys),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": supp_keys,
            "s_name": _names("Supplier", supp_keys),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": order_keys,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days_to_ts(
                rng.integers(ORDER_DATE_LO, ORDER_DATE_HI + 1, n_ord)
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days_to_ts(
                rng.integers(SHIP_DATE_LO, SHIP_DATE_HI + 1, n_li)
            ),
        }),
    }


def events_table(rng: np.random.Generator, prof: Profile) -> pa.Table:
    n = ROWS["events"]
    # ordered arrivals over 30 days, microsecond stamps, as the fixture
    ts = EVENTS_START_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    users = rng.integers(1, USER_DOMAIN + 1, n)
    if prof.hot_user_share:
        hot = rng.choice(n, int(round(prof.hot_user_share * n)), replace=False)
        users[hot] = HOT_USER_ID
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": users,
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _cluster_sizes(rng: np.random.Generator, n: int, share: float) -> list[int]:
    """Cluster sizes in 2..8 whose members total round(share * n)."""
    target = int(round(share * n))
    sizes: list[int] = []
    while target - sum(sizes) >= 2:
        sizes.append(int(min(rng.integers(2, 9), target - sum(sizes))))
    return sizes


def _edit_tokens(rng: np.random.Generator, toks: list[str]) -> list[str]:
    """0-3 token edits (substitute, insert or delete); 0 edits makes
    an exact duplicate."""
    toks = list(toks)
    for _ in range(rng.integers(0, 4)):
        op, pos = rng.integers(0, 3), int(rng.integers(0, len(toks)))
        word = VOCAB[rng.integers(0, len(VOCAB))]
        if op == 0:
            toks[pos] = word
        elif op == 1:
            toks.insert(pos, word)
        elif len(toks) > 10:
            del toks[pos]
    return toks


def documents_table(rng: np.random.Generator, prof: Profile) -> pa.Table:
    n = ROWS["documents"]
    docs = [
        list(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n)
    ]
    order = rng.permutation(n)  # cluster members land at random doc_ids
    at = 0
    for size in _cluster_sizes(rng, n, prof.neardup_share):
        base = docs[order[at]]
        for m in order[at + 1:at + size]:
            docs[m] = _edit_tokens(rng, base)
        at += size
    text = [" ".join(d) for d in docs]
    doc_ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_ids,
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{d % 20}" for d in doc_ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, prof: Profile) -> pa.Table:
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    order = rng.permutation(n)
    at = 0
    for size in _cluster_sizes(rng, n, prof.neardup_share):
        members = order[at + 1:at + size]
        vecs[members] = vecs[order[at]] + 0.02 * rng.standard_normal(
            (len(members), EMBED_DIM)
        )
        at += size
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


def generate(workload: str, seed: int) -> dict[str, pa.Table]:
    prof = PROFILES[workload]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    tables = star_tables(rng)
    tables["events"] = events_table(rng, prof)
    tables["documents"] = documents_table(rng, prof)
    tables["embeddings"] = embeddings_table(rng, prof)
    return tables


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def measured_properties(tables: dict[str, pa.Table]) -> dict[str, float]:
    """The varied properties as measured on the generated rows.

    * ``neardup_doc_share``: share of documents with another document
      at word-3-shingle Jaccard >= 0.5.
    * ``neardup_vec_share``: share of vectors with another vector at
      cosine >= 0.95.
    * ``hot_user_share``: share of events owned by the most frequent
      user.
    """
    sh = [_shingles(t) for t in tables["documents"].column("text").to_pylist()]
    index: dict[tuple[str, ...], list[int]] = {}
    for i, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(i)
    dup_docs = set()
    for i, s in enumerate(sh):
        cands = {j for g in s for j in index[g] if j != i}
        for j in cands:
            inter = len(s & sh[j])
            if inter / (len(s) + len(sh[j]) - inter) >= 0.5:
                dup_docs.add(i)
                break
    emb = tables["embeddings"].column("embedding").combine_chunks()
    vecs = emb.values.to_numpy(zero_copy_only=False).reshape(len(emb), -1)
    cos = vecs @ vecs.T
    np.fill_diagonal(cos, -1.0)
    users = tables["events"].column("user_id").to_numpy()
    return {
        "neardup_doc_share": len(dup_docs) / len(sh),
        "neardup_vec_share": float((cos.max(axis=1) >= 0.95).mean()),
        "hot_user_share": float(np.bincount(users).max() / len(users)),
    }
