"""Derive the driver's verification window from the round artifacts.

The round driver re-verifies only the FIRST 50 registry entries (dict
order) against their DuckDB oracles and records each row in
``CORRECTNESS_r<N>.json``. This module is the one place that turns
those artifacts into the next window; the result is committed as data
in ``syncquill_spark/plans/window.py`` (``WINDOW``), which the registry
puts first. The rules, and why:

- **50 slots, staleness <= 2.** No registered row may go more than two
  rounds without a driver-green result; an oracle pass in a round
  nobody remembers is no evidence. Every row therefore needs a slot at
  least every third round, which caps the registry at 150 rows.
- **Frozen at 142, entry by SWAP only.** 142 rows leave ~2.6 slots per
  round of slack for changed plans. A new family lands unit-pinned and
  fingerprint-verified in ``plans/queue_permanent.py`` and may enter
  the registry only by retiring a row in the same commit (net 0).
- **A changed plan must be re-verified.** When a row's physical plan
  changes, add it to ``TOUCHED`` with the newest artifact's round and
  run ``python tools/window.py --write``. A shared-helper change
  touches every caller: take a caller census, do not guess. Each
  touched row is verified hash-identical at sf0.001, sf0.01 and sf0.1
  with ``tools/verify_local.py`` before its commit, because a touched
  row may overflow the window and wait a round for the driver.
- **Tiers, in order:** (0) rows last green at newest-2 or earlier, or
  never green (a swapped-in row): they break the staleness rule if
  left out; (1) ``TOUCHED`` rows not yet re-verified; (2) everything
  else, oldest green first. Within a tier the older green round leads,
  then registry order. A ``TOUCHED`` entry is satisfied once the row
  is green in a later round; ``--write`` prunes it.
- **Structural break.** If tier 0 alone exceeds 50 the staleness rule
  cannot hold, whatever the order: stop and split the registry (a
  stable relational core verified by the local replica every round,
  driver slots reserved for changed plans) before anything else.

Usage::

    python tools/window.py            # print the derivation; exit 1 if
                                      # it differs from WINDOW
    python tools/window.py --write    # regenerate plans/window.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW_FILE = os.path.join(REPO, "syncquill_spark", "plans", "window.py")
WINDOW_SIZE = 50
MAX_STALENESS = 2

_ROUND = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def artifact_paths() -> list[str]:
    return glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))


def is_green(row: dict) -> bool:
    """The driver's pass: rows and schema match, the value hash matches
    (or the oracle is rows-only), and the query did not error."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )


def last_green(artifacts) -> tuple[int, dict[str, int]]:
    """(newest round, {row: last round it was driver-green}) over the
    ``CORRECTNESS_r<N>.json`` paths, ordered by parsed round number."""
    rounds = sorted((int(_ROUND.search(p).group(1)), p) for p in artifacts)
    last: dict[str, int] = {}
    for rnd, path in rounds:
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if is_green(row):
                    last[name] = rnd
    return (rounds[-1][0] if rounds else 0), last


def pending(touched: dict[str, int], last: dict[str, int]) -> dict[str, int]:
    """``TOUCHED`` entries whose row has not been green since the
    change landed."""
    return {n: r for n, r in touched.items() if last.get(n, -1) <= r}


def derive(queries, artifacts, touched: dict[str, int]) -> list[str]:
    """The next window: tier 0, then tier 1, then tier 2, first 50.
    ``queries`` is the registry in its merge order (not the window
    order, which is this function's output)."""
    newest, last = last_green(artifacts)
    order = {n: i for i, n in enumerate(queries)}
    unknown = sorted(set(touched) - set(order))
    if unknown:
        raise ValueError(f"TOUCHED names rows not in the registry: {unknown}")

    def key(n: str) -> tuple[int, int]:
        return last.get(n, -1), order[n]

    tier0 = sorted(
        (n for n in order if n not in last or last[n] <= newest - MAX_STALENESS),
        key=key,
    )
    if len(tier0) > WINDOW_SIZE:
        raise ValueError(
            f"structural break: {len(tier0)} rows are at staleness "
            f">= {MAX_STALENESS}, more than the {WINDOW_SIZE}-slot window "
            f"holds: {tier0}"
        )
    lead = set(tier0)
    todo = pending(touched, last)
    tier1 = sorted((n for n in todo if n not in lead), key=key)
    lead |= set(tier1)
    tier2 = sorted((n for n in order if n not in lead), key=key)
    return (tier0 + tier1 + tier2)[:WINDOW_SIZE]


def overflow(window: list[str], touched: dict[str, int], last: dict[str, int]):
    """Pending ``TOUCHED`` rows the window had no slot for."""
    return sorted(n for n in pending(touched, last) if n not in window)


def render(touched: dict[str, int], window: list[str]) -> str:
    lines = [
        '"""The driver\'s verification window, generated by tools/window.py.',
        "",
        "Edit TOUCHED by hand (row -> newest CORRECTNESS round when its plan",
        "changed), then run `python tools/window.py --write`. Never edit",
        'WINDOW: the tool derives it and a test checks the two agree."""',
        "",
        "TOUCHED = {",
        *(f'    "{n}": {r},' for n, r in sorted(touched.items())),
        "}",
        "",
        "WINDOW = [",
        *(f'    "{n}",' for n in window),
        "]",
    ]
    return "\n".join(lines) + "\n"


def main(argv: list[str]) -> int:
    sys.path.insert(0, REPO)
    from syncquill_spark.plans import _ALL_QUERIES
    from syncquill_spark.plans.window import TOUCHED, WINDOW

    paths = artifact_paths()
    newest, last = last_green(paths)
    window = derive(_ALL_QUERIES, paths, TOUCHED)
    todo = pending(TOUCHED, last)
    for name in window:
        tag = "touched" if name in todo else ""
        print(f"{name:40s} last green r{last.get(name, '-')} {tag}".rstrip())
    print(f"newest artifact r{newest}; {len(window)} rows")
    spill = overflow(window, TOUCHED, last)
    if spill:
        print(f"TOUCHED rows left out (verify locally, they lead later): {spill}")
    if "--write" in argv:
        with open(WINDOW_FILE, "w") as fh:
            fh.write(render(todo, window))
        print(f"wrote {os.path.relpath(WINDOW_FILE, REPO)}")
        return 0
    if window != list(WINDOW):
        print("WINDOW differs from the derivation: run `python tools/window.py --write`")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
