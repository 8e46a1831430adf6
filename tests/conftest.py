"""Shared fixtures: one SparkSession per test session + a DuckDB
differential comparator mirroring the driver's correctness gate
(row-count + column names + order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataentrytask_spark.catalog import TABLES
from bigdataentrytask_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bigdataentrytask-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _rows_key(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def assert_matches_oracle(spark_df, duck_con, oracle_sql, name=""):
    """Order-insensitive row comparison with float tolerance via
    round-to-6; column names must match exactly (driver sorts columns
    by name before hashing)."""
    spark_cols = list(spark_df.columns)
    rel = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in rel.description]
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )
    order = duck_cols
    srows = [tuple(row[c] for c in order) for row in spark_df.collect()]
    drows = rel.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: row count differs: spark={len(srows)} duck={len(drows)}"
    )
    sk, dk = _rows_key(srows), _rows_key(drows)
    for i, (a, b) in enumerate(zip(sk, dk)):
        assert a == b, f"{name}: first row mismatch at sorted idx {i}:\n spark={a}\n duck ={b}"


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(items):
    """A module that sets DEFAULT_GATE_CASE is a slow suite except for
    that one test, which stays in the default gate so every slow file
    runs something on each default run."""
    for item in items:
        keep = getattr(getattr(item, "module", None), "DEFAULT_GATE_CASE", None)
        if keep is not None and item.name != keep:
            item.add_marker(pytest.mark.slow)
