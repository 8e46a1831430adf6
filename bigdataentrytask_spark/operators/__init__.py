"""Operator library: every named query is `(spark, sf_dir) -> DataFrame`.

`REGISTRY` maps operator name -> callable; `ORACLES` maps the same
names -> equivalent DuckDB SQL (the differential-correctness spec,
SURVEY.md §5). Operators without SQL-expressible semantics appear in
REGISTRY only — the harness then runs a weaker rows-only check.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager
from datetime import timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampType,
    _parse_datatype_string,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# Plan-audit capture (plans/audit.py): `materialize` returns a
# LocalRelation, so the interesting executed plan would be invisible
# to the audit. Under an active `capture()` scope, materialize records
# (lazy, local) pairs so the audit can (a) substitute the executed
# inner plan when the operator RETURNED the local relation itself and
# (b) add the inner executed plans of composed operators that call a
# materializing sub-operator but return their own lazy frame;
# with_persisted records its inputs so scan-pruning columns survive
# even when the scans sit inside a cached subtree the formatted
# explain doesn't recurse into. Outside a capture() scope nothing is
# recorded — a 400-operator sweep session must not accumulate
# DataFrame references without bound (ADVICE r8).
LAST_MATERIALIZED: list[tuple[DataFrame, DataFrame]] = []
PERSISTED_INPUTS: list[DataFrame] = []
_CAPTURE_ACTIVE = False

# Bounded-summary contract for materialize()/collect_bounded(): the
# largest legitimate bounded result in the registry is ~50k rows
# (hash_split_assignment at sf0.1); anything past this is a fact-scale
# frame leaking onto the driver — the one scale-killer class the repo
# otherwise eliminates. Loud failure beats a silent OOM at 100 TB.
# The default is calibrated for fixtures up to sf0.1–sf1; collects
# whose cardinality grows with the scale factor (dimension scans,
# per-user domains — e.g. customer is 150k rows at sf1) must pass a
# call-site n_max tied to their own audit contract instead of relying
# on this constant (ADVICE r9; see bloom_membership_probe /
# cms_user_event_counts in star.py for the pattern).
MATERIALIZE_MAX_ROWS = 100_000


@contextmanager
def capture() -> Iterator[None]:
    """Enable plan-audit capture for the duration of the block.

    Only plans/audit.py enters this; normal operator execution (the
    driver sweep, pytest, bench) records nothing, so the module
    globals stay empty and hold no DataFrame references."""
    global _CAPTURE_ACTIVE
    LAST_MATERIALIZED.clear()
    PERSISTED_INPUTS.clear()
    _CAPTURE_ACTIVE = True
    try:
        yield
    finally:
        _CAPTURE_ACTIVE = False


@contextmanager
def with_persisted(*dfs: DataFrame) -> Iterator[DataFrame | tuple[DataFrame, ...]]:
    """Persist shared intermediates for the duration of an operator
    body, guaranteeing release on exit.

    Composed operators re-consume an expensive verified input several
    times (degree agg + semi-join + census, or csize + both pair
    sides); a bare ``.cache()`` makes the kernel run once but pins the
    blocks for the rest of a 400-operator sweep session. This helper
    is the sanctioned pattern: persist -> build and MATERIALIZE the
    bounded result inside the block (see :func:`materialize`) ->
    unpersist in ``finally``. Returning a still-lazy plan from inside
    the block defeats the persist (the driver's later collect would
    recompute the unpersisted input), so pair it with ``materialize``.
    """
    if _CAPTURE_ACTIVE:
        PERSISTED_INPUTS.extend(dfs)
    for df in dfs:
        df.persist()
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            df.unpersist()


def materialize(df: DataFrame) -> DataFrame:
    """Evaluate a BOUNDED result eagerly and rebuild it as a
    local-relation DataFrame, so persisted inputs can be released
    before the operator returns.

    Only for domain-sized outputs (census rows, top-k rankings,
    cluster-size rollups). Never call this on fact-scale frames —
    enforced by ``MATERIALIZE_MAX_ROWS`` (VERDICT r8 item 3): a breach
    raises loudly instead of silently shipping a driver-side collect.

    The rows never leave the JVM: they are collected as JVM ``Row``s
    and handed straight back to the JVM session, which plans them as a
    ``LocalRelation``. Rebuilding from Python ``Row``s instead plans a
    ``LogicalRDD`` over a ``PythonRDD``, so every later action on the
    result would re-run a Python-worker stage."""
    jrows = df._jdf.collectAsList()
    _check_bounded(jrows.size(), MATERIALIZE_MAX_ROWS)
    spark = df.sparkSession
    local = DataFrame(
        spark._jsparkSession.createDataFrame(jrows, df._jdf.schema()), spark
    )
    if _CAPTURE_ACTIVE:
        LAST_MATERIALIZED.append((df, local))
    return local


def local_frame(spark: SparkSession, rows: Iterable[Any], ddl: str) -> DataFrame:
    """Build a small DataFrame from Python rows: parameter grids,
    constant tables, sink snapshots.

    The one sanctioned way to turn a Python list into a frame.
    ``spark.createDataFrame(<list>, ddl)`` plans a ``LogicalRDD`` over a
    ``PythonRDD``, so every action on it (and on anything joined to it)
    re-runs a stage in Python workers. This builds a ``pyarrow.Table``
    against the schema instead, which Spark plans as a
    ``LocalRelation``. Values are read as the row path reads them:
    rows and nested structs may be tuples (by position), dicts (by
    field name) or ``Row``s, and a naive ``datetime`` in a ``timestamp``
    column is wall time in the host's local zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _struct_type(ddl)
    names = struct.names
    convs = [_arrow_input(f.dataType) for f in struct.fields]
    cols: list[list[Any]] = [[] for _ in names]
    for row in rows:
        vals = _struct_values(row, names)
        if len(vals) != len(names):
            raise ValueError(
                f"local_frame: row {row!r} has {len(vals)} fields, "
                f"schema has {len(names)}"
            )
        for col, conv, v in zip(cols, convs, vals):
            col.append(v if conv is None or v is None else conv(v))
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


@functools.lru_cache(maxsize=None)
def _struct_type(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)


def _struct_values(obj: Any, names: list[str]) -> Sequence[Any]:
    """A struct value's fields in schema order, as the row path reads
    them (StructType.toInternal): dicts by name, tuples positionally,
    other objects by attribute."""
    if isinstance(obj, dict):
        return [obj.get(n) for n in names]
    if isinstance(obj, (tuple, list)):
        return obj
    return [obj.__dict__.get(n) for n in names]


def _arrow_input(dt: DataType) -> Callable[[Any], Any] | None:
    """Per-value function turning a non-null row-path value of type
    ``dt`` into the form pyarrow reads the same way, or None when
    pyarrow already does. pyarrow reads a naive datetime as UTC, the
    row path as local time; pyarrow reads one struct spelling per
    column, the row path any mix."""
    if isinstance(dt, TimestampType):
        return lambda v: v.astimezone(timezone.utc) if v.tzinfo is None else v
    if isinstance(dt, ArrayType):
        elem = _arrow_input(dt.elementType)
        if elem is None:
            return None
        return lambda v: [x if x is None else elem(x) for x in v]
    if isinstance(dt, MapType):
        key, val = _arrow_input(dt.keyType), _arrow_input(dt.valueType)
        if key is None and val is None:
            return None
        key, val = key or _same, val or _same
        return lambda v: {key(k): x if x is None else val(x) for k, x in v.items()}
    if isinstance(dt, StructType):
        names = dt.names
        convs = [_arrow_input(f.dataType) or _same for f in dt.fields]
        return lambda v: {
            n: x if x is None else c(x)
            for n, c, x in zip(names, convs, _struct_values(v, names))
        }
    return None


def _same(v: Any) -> Any:
    return v


def _check_bounded(n: int, n_max: int) -> None:
    if n > n_max:
        raise RuntimeError(
            f"collect_bounded: {n} rows exceeds the bounded-summary "
            f"contract ({n_max}); this frame is fact-scale — keep it "
            f"distributed (see operators/__init__.py MATERIALIZE_MAX_ROWS)"
        )


def collect_bounded(df: DataFrame, n_max: int = MATERIALIZE_MAX_ROWS) -> list:
    """``df.collect()`` with the bounded-summary contract enforced.

    Shared guard for every sanctioned driver-side collect in the
    operator library (materialize, sketch probes, dimension scans):
    the collect itself is by-design, but the row count must be
    domain-sized. Fails loudly past ``n_max`` so a future operator
    can't silently collect a fact-scale frame to the driver."""
    rows = df.collect()
    _check_bounded(len(rows), n_max)
    return rows


def operator(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query operator and (optionally) its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        # duplicate names silently overwrite (dict semantics) and the
        # earlier operator vanishes from the registry — refuse loudly
        # (idempotent for the same function object, so module reloads
        # in long-lived test sessions stay safe)
        prior = REGISTRY.get(name)
        if prior is not None and (
            prior.__module__,
            prior.__qualname__,
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(
                f"operator name {name!r} already registered by "
                f"{prior.__module__}.{prior.__qualname__}"
            )
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so REGISTRY is fully populated.

    Operators register at their definition (``@operator``), so a
    fresh load_all() fills the registry in this import order; an
    oracle that composes another operator's ORACLES entry must be
    defined after it."""
    from bigdataentrytask_spark.operators import (  # noqa: F401
        analytics,
        curation,
        dedup,
        graph,
        jdbc_bridge,
        multimodal,
        reference_batch,
        similarity,
        sources_bridge,
        sql_surface,
        star,
        stats,
        streaming_bridge,
        text_analysis,
        timeseries,
        tpch,
        warehouse,
        windows_pivot,
    )
    # evaluation composes other operators' ORACLES — must import last
    from bigdataentrytask_spark.operators import evaluation  # noqa: F401
