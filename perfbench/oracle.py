"""Output check: each op's collected rows against its DuckDB oracle.

The comparison is the one ``scripts/preverify.py`` makes: same column
names, same row count, and the same rows once both sides are
normalised with its ``norm`` and sorted, with columns in the oracle's
order.  Both sides go through pandas, so an integral Spark column
against a float oracle column (a DuckDB HUGEINT sum) mismatches here as
it does there.  The one addition is array cells (lists, numpy arrays),
which ``norm`` would turn into numpy's abbreviated text; they are
normalised element by element.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

PREVERIFY = Path(__file__).resolve().parent.parent / "scripts" / "preverify.py"


def _load_preverify():
    """scripts/preverify.py as a module.  Importing it imports the
    package's entry module, which loads every operator."""
    spec = importlib.util.spec_from_file_location("preverify", PREVERIFY)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Oracle:
    """DuckDB over the generated tables; one connection per run."""

    def __init__(self, data_dir: str) -> None:
        preverify = _load_preverify()
        self.con = duckdb.connect()
        for t in preverify.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

        def norm(v):
            if isinstance(v, (list, tuple, np.ndarray)):
                return tuple(norm(x) for x in v)
            return preverify.norm(v)

        self._norm = norm

    def _rows(self, pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
        return sorted(
            (tuple(self._norm(v) for v in row)
             for row in pdf[cols].itertuples(index=False, name=None)),
            key=repr,
        )

    def check(self, sql: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` matches the oracle, else the reason."""
        if len(got) == 0:
            return "op returned 0 rows"
        want = self.con.execute(sql).fetch_df()
        cols = list(want.columns)
        if sorted(got.columns) != sorted(cols):
            return f"columns {sorted(got.columns)} != oracle {sorted(cols)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if self._rows(got, cols) != self._rows(want, cols):
            return "row values differ from oracle"
        return None

    def close(self) -> None:
        self.con.close()
