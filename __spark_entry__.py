"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``bigdataentrytask_spark/``; operators
register themselves into ``operators.REGISTRY`` / ``ORACLES``
(one entry per SURVEY.md §2 item).
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

load_all()

# Registry emission order — the driver's correctness sweep covers the
# first 50 entries in dict order, so ordering is part of the contract.
# Round 2's lesson: a hand-maintained priority list goes stale the
# moment operators are added, so the order is now DERIVED from the
# recorded driver results themselves:
#   1. red rows first (a prior sweep ran the query and it failed or
#      crashed the harness — the fix needs a fresh row),
#   2. then operators with NO row in any CORRECTNESS_r*.json
#      (never driver-checked), in registry order,
#   3. then greens, stalest round first (their signal is on file;
#      re-validation rotates through them as slots allow).


def _driver_status(here: str | None = None) -> dict[str, tuple[int, bool]]:
    """name -> (round of latest row, row was green). A row is green if
    it produced no error and nothing compared false (rows-only checks
    count as green: rows_match true, hash_match null)."""
    status: dict[str, tuple[int, bool]] = {}
    here = _HERE if here is None else here
    # Sort by the PARSED round number, not the filename: lexicographic
    # order misfiles an unpadded r3 or a future r100, letting an older
    # round's row overwrite a newer one (latest-round-wins contract).
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        digits = "".join(c for c in os.path.basename(path) if c.isdigit())
        if digits:
            rounds.append((int(digits), path))
    for rnd, path in sorted(rounds):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except Exception:
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            status[name] = (rnd, ok)
    return status


def _ordered(mapping: dict) -> dict:
    status = _driver_status()
    red = [n for n in mapping if n in status and not status[n][1]]
    unchecked = [n for n in mapping if n not in status]
    greens = sorted(
        (n for n in mapping if n in status and status[n][1]),
        key=lambda n: status[n][0],
    )
    return {n: mapping[n] for n in (*red, *unchecked, *greens)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (B1 hourly uv/cnt/amount two-level agg) on sf0.001."""
    return REGISTRY["b1_hourly_uv"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(REGISTRY))


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; operators absent here get the rows-only check."""
    return _ordered(dict(ORACLES))
