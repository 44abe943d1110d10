"""Span tracing for the traced benchmark run.

A span is opened from the benchmark's own code around a call into one
of the package's layers. While it is open, every Spark job the call
submits carries the span's id as its job group (``sc.setJobGroup``), so
the Spark event log can attribute stages and task metrics to it
afterwards. Spans nest; a span's self time is its wall minus the part
of it its child spans cover.

With tracing off, :class:`Tracer` keeps no spans and sets no job
groups: the untraced runs pay nothing for it.

:func:`parse_event_log` reads a local Spark event log (JSON lines) and
sums task-end metrics per job group; :func:`span_stats` joins those sums
to the spans, and ``layers.per_layer`` folds the result into the
per-layer metric names.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled=False`` :meth:`span` only yields."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb{len(self.spans)}", layer, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, layer, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.layer, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[name] = c.get(name, 0) + value


# -- event log ----------------------------------------------------------


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Sum task-end metrics of a Spark event log by job group.

    ``lines`` is an iterable of the log's JSON lines. A stage belongs to
    the group of the first job that lists it; jobs without a group are
    summed under ``""``. Stage intervals (seconds since the epoch) let
    :func:`span_stats` tell Spark driver time from stage time.
    """
    stage_group: dict[int, str] = {}
    stage_times: dict[int, list[float]] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_times[info["Stage ID"]] = [info["Submission Time"] / 1e3, info["Completion Time"] / 1e3]
        elif kind == "SparkListenerTaskEnd":
            g = out.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for sid, times in stage_times.items():
        out.setdefault(stage_group.get(sid, ""), GroupStats()).stage_intervals.append(tuple(times))
    return out


def span_stats(spans: list[Span], groups: dict[str, GroupStats]) -> list[dict]:
    """One record per span: wall, self time, the Spark work of its own
    job group, and ``driver_s`` (span wall not covered by any running
    stage of the span or of its descendants)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.sid, []):
            out.extend(subtree(c))
        return out

    recs = []
    for s in spans:
        g = groups.get(s.sid, GroupStats())
        kids = children.get(s.sid, [])
        child_cover = _covered([(c.start, c.end) for c in kids], s.start, s.end)
        stages = [iv for d in subtree(s) for iv in groups.get(d.sid, GroupStats()).stage_intervals]
        recs.append({
            "sid": s.sid,
            "layer": s.layer,
            "parent": s.parent,
            "wall_s": s.wall,
            "self_s": s.wall - child_cover,
            "child_cover": child_cover / s.wall if kids and s.wall > 0 else None,
            "jobs": g.jobs,
            "tasks": g.tasks,
            "cpu_s": g.cpu_s,
            "input_bytes": g.input_bytes,
            "shuffle_write_bytes": g.shuffle_write_bytes,
            "spill_bytes": g.spill_bytes,
            "bytes_written": g.bytes_written,
            "driver_s": s.wall - _covered(stages, s.start, s.end),
            **s.counts,
        })
    return recs
