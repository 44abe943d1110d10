"""The event-log parser and span statistics, on a small recorded log.

``data/eventlog_small.jsonl`` and ``data/spans_small.json`` come from
``data/record_eventlog.py``: a shuffle job (two stages, 2 + 2 tasks) in
span ``operators.shuffle`` and a one-task collect in
``operators.collect``, both inside ``op.demo``, then a one-task job
outside every span.
"""

import json
import os

import pytest

import tracing

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        groups = tracing.parse_event_log(fh)
    with open(os.path.join(DATA, "spans_small.json")) as fh:
        spans = [tracing.Span(**d) for d in json.load(fh)]
    return groups, spans


def test_task_metrics_sum_by_job_group(recorded):
    groups, _ = recorded
    assert set(groups) == {"pb1", "pb2", ""}
    shuffle, collect, outside = groups["pb1"], groups["pb2"], groups[""]
    assert (shuffle.jobs, shuffle.tasks, len(shuffle.stage_intervals)) == (1, 4, 2)
    assert shuffle.shuffle_write_bytes == 266
    assert shuffle.cpu_s > 0
    assert (collect.jobs, collect.tasks, collect.shuffle_write_bytes) == (1, 1, 0)
    assert (outside.jobs, outside.tasks) == (1, 1)


def test_span_stats_self_time_and_driver_time(recorded):
    groups, spans = recorded
    recs = {r["layer"]: r for r in tracing.span_stats(spans, groups)}
    parent, shuffle, collect = recs["op.demo"], recs["operators.shuffle"], recs["operators.collect"]
    assert parent["jobs"] == 0  # its jobs belong to the child groups
    assert parent["self_s"] == pytest.approx(parent["wall_s"] - shuffle["wall_s"] - collect["wall_s"])
    assert parent["child_cover"] > 0.99
    stages = groups["pb1"].stage_intervals + groups["pb2"].stage_intervals
    assert parent["driver_s"] == pytest.approx(parent["wall_s"] - sum(b - a for a, b in stages))
    assert 0 < collect["driver_s"] < collect["wall_s"]
    assert shuffle["tasks"] == 4 and collect["tasks"] == 1


def test_covered_merges_overlaps_and_clips_to_the_span():
    assert tracing._covered([(0, 2), (1, 3), (5, 9)], 0, 6) == 4
    assert tracing._covered([], 0, 6) == 0


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer()
    with tr.span("engine") as s:
        tr.count("rows", 3)
    assert s is None and tr.spans == []
