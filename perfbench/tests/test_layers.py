"""Per-layer metric names and the folding of span records into them."""

import json
import os
import re

import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_names_are_unique_valid_and_fit_the_limit():
    names = [n for n, _ in layers.metric_names()]
    assert len(names) == len(set(names)) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.metric_names()
    higher = {m["name"] for m in bench["per_layer"] if m["better"] == "higher"}
    assert higher == {n for n, _ in layers.metric_names() if n.rsplit(".", 1)[1] in layers.HIGHER_IS_BETTER}


def _rec(layer, wall, self_s=None, **kw):
    return {"sid": layer, "layer": layer, "parent": None, "wall_s": wall,
            "self_s": wall if self_s is None else self_s, "child_cover": None, **kw}


def test_per_layer_sums_per_cycle_and_takes_ratios_of_sums():
    recs = [
        _rec("engine", 4.0, self_s=1.0, jobs=3, driver_rows_collected=10),
        _rec("engine", 6.0, self_s=2.0, jobs=5, driver_rows_collected=30),
        _rec("operators.diff", 1.0, changes=10, rows=1000, shuffle_write_bytes=100),
        _rec("operators.diff", 1.0, changes=30, rows=1000, shuffle_write_bytes=300),
        _rec("sources.parquet:write", 2.0, files_written=4),
        _rec("sources.parquet:rollback", 0.5),
        _rec("op.sync_edit", 9.0),
    ]
    m = {k: v["value"] for k, v in layers.per_layer(recs, cycles=2, session_start_s=0.1).items()}
    assert m["session.start_s"] == 0.1
    assert m["engine.self_s"] == 1.5
    assert m["engine.jobs"] == 4
    assert m["engine.driver_rows_collected"] == 20
    assert m["operators.diff.busy_s"] == 1.0
    assert m["operators.diff.changes"] == 20
    assert m["operators.diff.changes_per_row"] == 40 / 2000
    assert m["operators.diff.shuffle_write_bytes"] == 200
    assert m["sources.parquet.write_s"] == 1.0
    assert m["sources.parquet.rollback_s"] == 0.25
    assert m["sources.parquet.files_written"] == 2
    assert m["operators.clusters.docs_dropped_frac"] == 0.0  # a layer not called reads 0
    assert set(m) == {n for n, _ in layers.metric_names()}


def test_coverage_is_the_share_of_parent_wall_under_children():
    recs = [dict(_rec("op.release", 10.0, self_s=0.5), child_cover=0.95), _rec("operators.dedup", 9.5)]
    assert layers.coverage(recs) == {"op.release": 0.95}
