"""Small frames stay on the JVM side: ``materialize`` rebuilds from JVM
rows, ``local_frame`` from an Arrow table, both as a ``LocalRelation``
that later actions read without Python workers. The row path
(``spark.createDataFrame(<list>, ddl)``) is the reference for values:
both builders must return exactly what it returns."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import sys
import time
import types
from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import local_frame, materialize
from bigdataentrytask_spark.operators.dedup import _scan_size_bytes

from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]

CASES = {
    "long": ("x long", [(1,), (-(2**62),), (None,)]),
    "double": ("x double", [(1.5,), (float("inf"),), (-0.0,), (None,)]),
    "string": ("x string", [("a",), ("",), ("ünï",), (None,)]),
    "boolean": ("x boolean", [(True,), (False,), (None,)]),
    "date": ("x date", [(dt.date(1969, 12, 31),), (dt.date(2024, 2, 29),), (None,)]),
    "timestamp": (
        "x timestamp",
        [
            (dt.datetime(2024, 1, 15, 3, 4, 5, 6),),
            (dt.datetime(2024, 7, 15, 23, 59, 59),),
            (dt.datetime(2024, 7, 15, 12, tzinfo=dt.timezone.utc),),
            (None,),
        ],
    ),
    "decimal": (
        "x decimal(12,2)",
        [(Decimal("1234567890.12"),), (Decimal("-0.50"),), (None,)],
    ),
    "array": ("x array<long>", [([1, None, 3],), ([],), (None,)]),
    "map": ("x map<string,long>", [({"a": 1, "b": None},), ({},), (None,)]),
    "struct": (
        "x struct<a:long,b:string>",
        [((1, "p"),), ({"a": 2},), (Row(a=3, b="q"),), (None,)],
    ),
    "all_null": (
        "a long, b string, c double, d array<long>",
        [(None, None, None, None), (None, None, None, None)],
    ),
    "dict_rows": (
        "a long, b string",
        [{"a": 1, "b": "x"}, {"b": "y"}, {"a": 3, "b": None, "extra": 9}],
    ),
    "empty": ("a long, b string", []),
}


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_row_path(spark, case):
    ddl, rows = CASES[case]
    ref = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert _plan_node(got) == "LocalRelation"
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.mark.parametrize("case", sorted(CASES))
def test_materialize_matches_row_path(spark, case):
    ddl, rows = CASES[case]
    ref = spark.createDataFrame(rows, ddl)
    got = materialize(ref)
    assert _plan_node(got) == "LocalRelation"
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.fixture
def new_york_tz(monkeypatch):
    """Python's local zone set to a DST zone for the test. The row
    path reads a naive datetime in this zone; pyarrow reads it as UTC
    unless local_frame converts it."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_timestamps_read_in_local_zone(spark, new_york_tz):
    assert time.localtime(0).tm_gmtoff == -5 * 3600
    ddl = "x timestamp, xs array<timestamp>, s struct<t:timestamp>"
    winter = dt.datetime(2024, 1, 15, 3, 4, 5, 6)
    summer = dt.datetime(2024, 7, 15, 23, 59, 59)
    aware = dt.datetime(2024, 7, 15, 12, tzinfo=dt.timezone.utc)
    rows = [(winter, [summer, None], (aware,)), (summer, [winter], (winter,))]
    micros = F.transform("xs", lambda t: F.unix_micros(t))
    probe = [F.unix_micros("x"), micros, F.unix_micros("s.t")]
    ref = spark.createDataFrame(rows, ddl)
    expected = ref.select(*probe).collect()
    assert expected[0][0] == 1705305845000006  # 03:04:05 EST = 08:04:05 UTC
    for got in (local_frame(spark, rows, ddl), materialize(ref)):
        assert got.select(*probe).collect() == expected
        assert got.collect() == ref.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields, schema has 3"):
        local_frame(spark, [(1, 2)], "a long, b long, c long")


# ------------------------------------------------- static source scan


# The only createDataFrame calls the package may make: local_frame's
# Arrow-table call and materialize's call on the JVM session object
# (JVM rows in, LocalRelation out). Any other call builds a frame from
# a Python list, which Spark plans as a PythonRDD scan.
_ALLOWED = {
    ("operators/__init__.py", "local_frame"),
    ("operators/__init__.py", "materialize"),
}


def _create_dataframe_calls(tree: ast.AST):
    def visit(node, fn_name):
        for child in ast.iter_child_nodes(node):
            name = fn_name
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield child.lineno, fn_name
            yield from visit(child, name)

    yield from visit(tree, None)


def test_no_create_dataframe_outside_local_frame():
    pkg = ROOT / "bigdataentrytask_spark"
    offenders, allowed_seen = [], set()
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for lineno, fn_name in _create_dataframe_calls(ast.parse(py.read_text())):
            if (rel, fn_name) in _ALLOWED:
                allowed_seen.add((rel, fn_name))
            else:
                offenders.append(f"{rel}:{lineno} (in {fn_name})")
    assert offenders == [], (
        "build small frames with operators.local_frame or materialize: "
        f"{offenders}"
    )
    assert allowed_seen == _ALLOWED  # the scan still sees the helpers


# ------------------------------------------------------------ satellites


def test_scan_size_bytes_positive_on_documents(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert _scan_size_bytes(docs, "documents") > 0


def test_scan_size_bytes_raises_naming_the_frame():
    broken = types.SimpleNamespace(_jdf=None)
    with pytest.raises(RuntimeError, match="'documents'"):
        _scan_size_bytes(broken, "documents")


def test_call_site_capture_off_and_errors_keep_their_class(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert err.traceback is not None


@pytest.fixture
def roundcheck(monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT / "scripts"))
    sys.modules.pop("roundcheck", None)
    import roundcheck

    def no_steps(*_a, **_k):
        raise AssertionError("a step started")

    monkeypatch.setattr(roundcheck, "run", no_steps)
    yield roundcheck
    sys.modules.pop("roundcheck", None)


def test_roundcheck_help_prints_usage_and_runs_nothing(roundcheck, capsys):
    with pytest.raises(SystemExit) as ex:
        roundcheck.main(["--help"])
    assert ex.value.code == 0
    assert "--skip-bench" in capsys.readouterr().out


def test_roundcheck_unknown_flag_exits_2(roundcheck, capsys):
    with pytest.raises(SystemExit) as ex:
        roundcheck.main(["--skip-bnech"])
    assert ex.value.code == 2
    assert "unrecognized arguments" in capsys.readouterr().err


def test_roundcheck_accepts_its_flags(roundcheck):
    args = roundcheck.parse_args(["--skip-bench", "--skip-layout"])
    assert (args.skip_bench, args.skip_layout, args.sweep_only) == (
        True,
        True,
        False,
    )
