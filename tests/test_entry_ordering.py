"""Unit tests for the self-rotating sweep order in __spark_entry__:
red rows first, never-checked next, greens stalest-first — derived
from CORRECTNESS_r*.json, no hand-maintained list to go stale."""

import json

import __spark_entry__ as entry


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}
ROWS_ONLY = {"rows_match": True, "schema_match": None, "hash_match": None,
             "err": None}
RED = {"rows_match": None, "schema_match": None, "hash_match": None,
       "err": "boom"}
WRONG = {"rows_match": True, "schema_match": True, "hash_match": False,
         "err": None}


def test_status_parsing(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": RED, "c": ROWS_ONLY, "d": WRONG})
    st = entry._driver_status(str(tmp_path))
    assert st["a"] == (1, True)
    assert st["b"] == (1, False)
    assert st["c"] == (1, True)   # rows-only counts as green
    assert st["d"] == (1, False)  # hash mismatch is red


def test_latest_round_wins(tmp_path):
    _write(tmp_path, 1, {"a": RED})
    _write(tmp_path, 2, {"a": GREEN})
    assert entry._driver_status(str(tmp_path))["a"] == (2, True)


def test_ordering_red_then_unchecked_then_stale_greens(tmp_path,
                                                       monkeypatch):
    _write(tmp_path, 1, {"g_old": GREEN, "r1": RED})
    _write(tmp_path, 2, {"g_new": GREEN})
    monkeypatch.setattr(entry, "_HERE", str(tmp_path))
    mapping = {"g_new": 1, "u1": 2, "r1": 3, "g_old": 4, "u2": 5}
    ordered = list(entry._ordered(mapping))
    assert ordered == ["r1", "u1", "u2", "g_old", "g_new"]


def test_malformed_file_is_ignored(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    assert entry._driver_status(str(tmp_path)) == {}


def test_rounds_sort_numerically_not_lexicographically(tmp_path):
    """An unpadded r3 and a 3-digit r100 must still apply in round
    order: r100's row wins over r02/r3 even though '100' sorts before
    '02' and '3' lexicographically."""
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps({"a": RED}))
    _write(tmp_path, 2, {"a": GREEN})
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({"a": GREEN})
    )
    st = entry._driver_status(str(tmp_path))
    assert st["a"] == (100, True)
