"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are each a result file written by ``run.py`` or a
directory of them (``.perfbench/results/`` of a run set). For every
workload present on both sides it prints, per end-to-end and
workload-named metric, each side's median and quartiles, the ratio
CHANGE/BASE with its base, and a verdict:

- ``improved``: at least ten runs pair by seed, the change wins at
  least nine tenths of the pairs (ties count for neither) and the
  medians differ by more than the base's interquartile range;
- ``unresolved``: either side's interquartile range, as a share of its
  median, is wider than the bound, unless every change run beats
  every base run;
- ``regressed``: the change's median is worse than the base's by more
  than the bound;
- ``within bound`` otherwise.

Bounds come from ``BENCHMARK.json`` where it names the metric, else
``DEFAULT_BOUND``, the bound of the gated metrics these feed. Every
metric here is lower-is-better. Comparing untraced against traced runs
of one commit reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
DEFAULT_BOUND = 0.25


def load(path: str) -> dict[str, list[dict]]:
    """workload -> result records, from one file or a directory."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[str, list[dict]] = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def _rel_spread(q1: float, med: float, q3: float) -> float:
    if med:
        return (q3 - q1) / med
    return 0.0 if q3 == q1 else float("inf")


def verdict(base: dict[int, float], change: dict[int, float], bound: float) -> str:
    """The rule in the module docstring; keys are seeds, values the
    metric (lower is better)."""
    b, c = sorted(base.values()), sorted(change.values())
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    seeds = sorted(set(base) & set(change))
    wins = sum(change[s] < base[s] for s in seeds)
    if len(seeds) >= MIN_PAIRS and wins >= 0.9 * len(seeds) and bmed - cmed > bq3 - bq1:
        return "improved"
    all_better = max(c) < min(b)
    if not all_better and max(_rel_spread(bq1, bmed, bq3), _rel_spread(cq1, cmed, cq3)) > bound:
        return "unresolved"
    if cmed > bmed * (1 + bound):
        return "regressed"
    return "within bound"


def _bounds() -> dict[str, float]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def _values(records: list[dict], metric: str) -> dict[int, float]:
    out = {}
    for r in records:
        m = r["end_to_end"].get(metric) or r["named"].get(metric)
        if m and m["value"] is not None:
            out[r["environment"]["seed"]] = m["value"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    base, change = load(args.base), load(args.change)
    bounds = _bounds()
    for wl in sorted(set(base) & set(change)):
        metrics = [*base[wl][0]["end_to_end"], *base[wl][0]["named"]]
        print(f"{wl}: {len(base[wl])} base runs, {len(change[wl])} change runs")
        for m in metrics:
            b, c = _values(base[wl], m), _values(change[wl], m)
            if not b or not c:
                continue
            bound = bounds.get(m, DEFAULT_BOUND)
            bq, cq = quartiles(sorted(b.values())), quartiles(sorted(c.values()))
            ratio = cq[1] / bq[1] if bq[1] else float("nan")
            print(
                f"  {m:18s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  change {cq[1]:.4g} "
                f"[{cq[0]:.4g}, {cq[2]:.4g}]  change/base {ratio:.3f} (base {bq[1]:.4g})  "
                f"bound {bound:g}  {verdict(b, c, bound)}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
