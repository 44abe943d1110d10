"""Window-policy invariants, pinned in-suite (no Spark session).

The round driver verifies the FIRST 50 registry entries; the staleness
rule says no registered query may go more than 2 rounds without a
driver-green row. The policy itself lives in tools/window.py, which
derives the window from the CORRECTNESS artifacts; these tests check
the committed window against it, so a missed rotation fails
`pytest -q` instead of silently costing a round.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import window  # noqa: E402


def _registry():
    from syncquill_spark.plans import ORACLES, QUERIES

    return QUERIES, ORACLES


def _priority():
    import syncquill_spark.plans as p

    return p._PRIORITY


def test_registry_is_frozen_at_142():
    queries, oracles = _registry()
    assert len(queries) == 142, (
        "registry size changed from the declared end state; growth is "
        "frozen — a new entry must SWAP against a retirement (net 0); "
        "policy in tools/window.py"
    )
    assert set(queries) == set(oracles)
    # zero rows-only oracles: every registered query is hash-checked
    assert all(sql is not None for sql in oracles.values())


def test_window_is_exactly_50_and_leads_the_registry():
    queries, _ = _registry()
    pri = _priority()
    assert len(pri) == 50, "_PRIORITY must be EXACTLY 50 names"
    assert len(set(pri)) == 50, "_PRIORITY contains a duplicate"
    unknown = [n for n in pri if n not in queries]
    assert not unknown, f"_PRIORITY names not in the registry: {unknown}"
    assert list(queries)[:50] == pri, (
        "registry iteration order must put the window first — the "
        "driver verifies the first 50 entries in dict order"
    )


def test_staleness_invariant_over_correctness_artifacts():
    """Every registered query either has a green row in one of the
    last THREE driver CORRECTNESS artifacts or sits in the current
    window (where this round's driver run will green it) — i.e., no
    row is ever more than 2 rounds stale. Three files, not two: at
    round start (before the rotation commit) the staleness-2 cohort
    legitimately has no green in the last two artifacts and no slot
    in the PREVIOUS round's still-committed window — that is the
    state the rotation exists to fix, not a breach;
    test_window_matches_derivation below catches it."""
    files = window.artifact_paths()
    if len(files) < 2:  # fresh clone without artifacts: nothing to pin
        return
    newest, last = window.last_green(files)
    green = {n for n, r in last.items() if r >= newest - window.MAX_STALENESS}
    queries, _ = _registry()
    stranded = sorted(set(queries) - green - set(_priority()))
    assert not stranded, (
        "rows with no driver-green in the last 2 rounds AND no slot "
        f"in the current window (staleness break next round): {stranded}"
    )


def test_permanent_queue_disjoint_from_registry():
    from syncquill_spark.plans.queue_permanent import QUEUE_QUERIES

    queries, _ = _registry()
    overlap = sorted(set(QUEUE_QUERIES) & set(queries))
    assert not overlap, f"queued pairs already registered: {overlap}"


def test_window_matches_derivation():
    """The committed window is exactly what tools/window.py derives
    from the CORRECTNESS artifacts and TOUCHED. A new artifact or a new
    TOUCHED entry fails this until the window is regenerated."""
    files = window.artifact_paths()
    if len(files) < 2:
        return
    import syncquill_spark.plans as p
    from syncquill_spark.plans.window import TOUCHED

    derived = window.derive(p._ALL_QUERIES, files, TOUCHED)
    pri = _priority()
    assert pri == derived, (
        "ROTATION PENDING: rows the derivation puts in the window but "
        f"_PRIORITY lacks: {[n for n in derived if n not in pri]}; rows "
        f"it drops: {[n for n in pri if n not in derived]}. "
        "Run `python tools/window.py --write`."
    )
