"""tools/window.py on synthetic CORRECTNESS artifacts (no Spark session)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import window  # noqa: E402

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "hash_match": False}


def _artifact(tmp_path, rnd, green=()):
    rows = {n: GREEN for n in green}
    path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
    path.write_text(json.dumps(rows))
    return str(path)


def _names(lo, hi):
    return [f"q{i:03d}" for i in range(lo, hi)]


def test_tiers_in_order(tmp_path):
    # registry order is the reverse of name order, so ties visibly
    # break by registry position rather than by name
    queries = _names(0, 60)[::-1]
    arts = [
        _artifact(tmp_path, 1, green=_names(0, 60)),
        _artifact(tmp_path, 2, green=_names(0, 20)),
        _artifact(tmp_path, 3, green=_names(20, 40)),
    ]
    got = window.derive(queries, arts, {"q025": 3})
    tier0 = _names(40, 60)[::-1]  # last green r1 = newest - 2
    tier1 = ["q025"]
    tier2_r2 = _names(0, 20)[::-1]
    tier2_r3 = [n for n in _names(20, 40)[::-1] if n != "q025"][:9]
    assert got == tier0 + tier1 + tier2_r2 + tier2_r3


def test_touched_overflow_is_reported(tmp_path):
    queries = _names(0, 60)
    arts = [
        _artifact(tmp_path, 1, green=queries),
        _artifact(tmp_path, 3, green=_names(45, 60)),
    ]
    touched = {n: 3 for n in _names(50, 58)}
    got = window.derive(queries, arts, touched)
    assert got == _names(0, 45) + _names(50, 55)
    _, last = window.last_green(arts)
    assert window.overflow(got, touched, last) == _names(55, 58)


def test_satisfied_touched_entries_prune_themselves(tmp_path):
    queries = _names(0, 60)
    arts = [
        _artifact(tmp_path, 1, green=queries),
        _artifact(tmp_path, 2, green=_names(0, 30)),
        _artifact(tmp_path, 3, green=_names(30, 60)),
    ]
    touched = {"q040": 2, "q041": 3}  # q040 green in r3 > 2: satisfied
    _, last = window.last_green(arts)
    assert window.pending(touched, last) == {"q041": 3}
    got = window.derive(queries, arts, touched)
    assert got == window.derive(queries, arts, {"q041": 3})
    assert got[0] == "q041" and got[1:31] == _names(0, 30)  # q040: tier 2
    text = window.render(window.pending(touched, last), got)
    assert '"q041": 3' in text and '"q040": ' not in text
    ns: dict = {}
    exec(text, ns)
    assert ns["WINDOW"] == got and ns["TOUCHED"] == {"q041": 3}


def test_never_green_row_lands_in_tier_0(tmp_path):
    queries = _names(0, 60) + ["swapped_in"]
    arts = [
        _artifact(tmp_path, 1, green=_names(0, 60)),
        _artifact(tmp_path, 2, green=_names(0, 60)),
        _artifact(tmp_path, 3, green=_names(0, 60)),
    ]
    assert window.derive(queries, arts, {})[0] == "swapped_in"


def test_round_9_sorts_before_round_10(tmp_path):
    arts = [
        str(tmp_path / "CORRECTNESS_r10.json"),
        str(tmp_path / "CORRECTNESS_r9.json"),
    ]
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"a": GREEN, "b": GREEN}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": GREEN, "b": RED}))
    assert window.last_green(sorted(arts)) == (10, {"a": 10, "b": 9})


def test_tier_0_over_capacity_raises_naming_rows(tmp_path):
    queries = _names(0, 52)
    arts = [_artifact(tmp_path, 1), _artifact(tmp_path, 2)]
    with pytest.raises(ValueError, match="structural break") as err:
        window.derive(queries, arts, {})
    assert "q000" in str(err.value) and "q051" in str(err.value)


def test_touched_row_outside_registry_raises(tmp_path):
    arts = [_artifact(tmp_path, 1, green=_names(0, 60))]
    with pytest.raises(ValueError, match="retired_row"):
        window.derive(_names(0, 60), arts, {"retired_row": 1})
