"""Per-layer metric names and how span records fold into them.

Every value is per workload cycle: the sum over the run's spans of one
layer, divided by the number of measured cycles. Ratios are computed
from the summed counts, and each names its base (``changes_per_row``:
changes over rows of the larger side; ``docs_dropped_frac``: docs
dropped over docs entering dedup; ``kept_frac``: docs kept over docs
entering the quality rules). A layer the workload does not call reads
0.
"""

from __future__ import annotations

from collections import defaultdict

# layer -> metrics. ``<phase>_s`` is the wall of spans named
# ``<layer>:<phase>``; ``busy_s`` is span wall, ``self_s`` wall minus
# child spans; the rest are event-log sums or span counters.
COMMON = ("jobs", "cpu_s", "driver_s")
# registry query families: the first token of the query name
FAMILIES = ("dedup", "curation", "storage", "agg", "similarity", "join", "text", "other")
LAYERS = {
    "operators.validate": ("busy_s", "input_bytes", *COMMON),
    "operators.diff": ("busy_s", "shuffle_write_bytes", "changes", "changes_per_row", *COMMON),
    "engine": ("self_s", "driver_rows_collected", *COMMON),
    "operators.report": ("busy_s", "rows_collected", *COMMON),
    "operators.apply": ("busy_s", "shuffle_write_bytes", *COMMON),
    "sources.parquet": ("write_s", "bytes_written", "files_written", "rollback_s", *COMMON),
    "sources.text_files": ("busy_s", "input_bytes", "tasks", *COMMON),
    "operators.text.normalize": ("busy_s", *COMMON),
    "operators.dedup": ("busy_s", "shuffle_write_bytes", "spill_bytes", "pairs", *COMMON),
    "operators.clusters": ("busy_s", "cycles", "docs_dropped_frac", *COMMON),
    "operators.text.quality": ("busy_s", "kept_frac", *COMMON),
    "operators.curation": ("busy_s", *COMMON),
    "sources.training_export": ("write_s", "verify_s", "bytes_written", *COMMON),
    **{f"plans.{f}": ("busy_s", "shuffle_write_bytes", *COMMON) for f in FAMILIES},
}
RATIOS = {
    "changes_per_row": ("changes", "rows"),
    "docs_dropped_frac": ("docs_dropped", "docs_in"),
    "kept_frac": ("docs_kept", "docs_in"),
}
UNITS = {"s": "s", "frac": "ratio", "row": "ratio"}


def unit(metric: str) -> str:
    if "bytes" in metric.split("_"):
        return "B"
    return UNITS.get(metric.rsplit("_", 1)[-1], "count")


# useful outcomes, where more is better; every other metric is a cost
HIGHER_IS_BETTER = ("pairs", "docs_dropped_frac", "kept_frac")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in a stable order."""
    out = [("session.start_s", "s")]
    for layer, ms in LAYERS.items():
        out.extend((f"{layer}.{m}", unit(m)) for m in ms)
    return out


def per_layer(recs: list[dict], cycles: int, session_start_s: float) -> dict:
    """Fold span records (``tracing.span_stats``) into the metric names."""
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for r in recs:
        layer, _, phase = r["layer"].partition(":")
        if layer not in LAYERS:
            continue
        s = sums[layer]
        s["busy_s"] += r["wall_s"]
        s["self_s"] += r["self_s"]
        if phase:
            s[f"{phase}_s"] += r["wall_s"]
        for k, v in r.items():
            if isinstance(v, (int, float)) and k not in ("wall_s", "self_s", "child_cover"):
                s[k] += v
    out = {"session.start_s": {"value": session_start_s, "unit": "s"}}
    for layer, ms in LAYERS.items():
        s = sums.get(layer, {})
        for m in ms:
            if m in RATIOS:
                num, den = RATIOS[m]
                v = s.get(num, 0) / s[den] if s.get(den) else 0.0
            else:
                v = s.get(m, 0) / cycles
            out[f"{layer}.{m}"] = {"value": v, "unit": unit(m)}
    return out


def coverage(recs: list[dict]) -> dict[str, float]:
    """Per parent layer: the share of its summed wall its child spans
    cover (1.0 = fully attributed)."""
    wall: dict[str, float] = defaultdict(float)
    self_: dict[str, float] = defaultdict(float)
    for r in recs:
        if r["child_cover"] is not None:
            wall[r["layer"]] += r["wall_s"]
            self_[r["layer"]] += r["self_s"]
    return {k: 1 - self_[k] / wall[k] for k in sorted(wall) if wall[k] > 0}
