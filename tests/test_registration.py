"""Operator registration: `@operator` at the definition is the only
path. The registry must come out the same whichever operator module a
process imports first, and the retired staging machinery must not come
back."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (module.qualname, oracle) after importing LEAF (if any) and
# then calling load_all(), in a fresh interpreter
_DUMP = """
import importlib, json, sys
if sys.argv[1]:
    importlib.import_module(sys.argv[1])
from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all
load_all()
print(json.dumps({
    n: [f.__module__ + "." + f.__qualname__, ORACLES.get(n)]
    for n, f in REGISTRY.items()
}))
"""


def _registry_map(leaf: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, leaf],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


@pytest.fixture(scope="module")
def load_all_map():
    return _registry_map("")


def test_load_all_registers_every_operator_with_an_oracle(load_all_map):
    assert len(load_all_map) == 498
    assert all(osql for _, osql in load_all_map.values())


@pytest.mark.parametrize(
    "leaf",
    [
        "bigdataentrytask_spark.operators.similarity.codebook",
        "bigdataentrytask_spark.operators.text_analysis.rounds",
        "bigdataentrytask_spark.operators.curation",
        "bigdataentrytask_spark.operators.evaluation",
    ],
)
def test_leaf_import_first_gives_the_same_registry(load_all_map, leaf):
    """Oracles compose each other's ORACLES entries at import time, so
    a process that imports one operator module before load_all() must
    still end with the same name -> (function, oracle) map."""
    assert _registry_map(leaf) == load_all_map


_RETIRED = re.compile(r"_STAGED|register_all|_ACTIVATED|operators\.staging")


def test_no_staging_machinery_in_package_or_scripts():
    offenders = []
    for top in ("bigdataentrytask_spark", "scripts"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fname)
                with open(path) as fh:
                    for i, line in enumerate(fh, 1):
                        if _RETIRED.search(line):
                            rel = os.path.relpath(path, ROOT)
                            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
