"""End-to-end engine tests: sync/upsert over parquet connectors, plus
the report sink and the sheets grid adapter."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from syncquill_spark.cli import parse_arguments, table_from_uri
from syncquill_spark.engine import sync, upsert
from syncquill_spark.operators import diff_keyed, format_change_report, normalize_strings
from syncquill_spark.sources import BigQueryTable, ParquetTable, SheetsTable
from syncquill_spark.sources.sheets import grid_to_frame

TGT_SCHEMA = "slno long, name string, amount double"
SRC_SCHEMA = "slno string, name string, amount string"


def as_set(df):
    return set(map(tuple, normalize_strings(df).collect()))


@pytest.fixture
def tables(spark, tmp_path):
    tgt = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.0), (3, "c", 3.0)], TGT_SCHEMA
    )
    src = spark.createDataFrame(
        [("1", "a", "9.9"), ("2", "bb", "2.0"), ("4", "d", "4.0")], SRC_SCHEMA
    )
    tpath, spath = str(tmp_path / "tgt.pq"), str(tmp_path / "src.pq")
    tgt.write.parquet(tpath)
    src.write.parquet(spath)
    return ParquetTable(spath), ParquetTable(tpath)


def test_sync_applies_changes(spark, tables):
    source, target = tables
    result = sync(spark, source, target)
    assert result.n_changes == 4  # 2 cell diffs + 1 del + 1 extra
    assert "Row changes:" in result.report
    post = target.read(spark)
    assert as_set(post) == as_set(source.read(spark))
    # target keeps its typed schema after apply
    assert post.dtypes == [("slno", "bigint"), ("name", "string"), ("amount", "double")]


def test_sync_with_non_default_key(spark, tmp_path):
    """sync(key=...) with a key not named 'slno' (the CLI --key flag):
    the change set still names its key column 'slno', and the report /
    apply paths must read it from there."""
    tgt = spark.createDataFrame(
        [(10, "a", 1.0), (20, "b", 2.0), (30, "c", 3.0)],
        "item_id long, name string, amount double",
    )
    src = spark.createDataFrame(
        [("10", "a", "9.9"), ("20", "bb", "2.0"), ("40", "d", "4.0")],
        "item_id string, name string, amount string",
    )
    tp, sp = str(tmp_path / "t.pq"), str(tmp_path / "s.pq")
    tgt.write.parquet(tp)
    src.write.parquet(sp)
    source, target = ParquetTable(sp), ParquetTable(tp)
    result = sync(spark, source, target, key="item_id")
    assert result.n_changes == 4  # 2 cell diffs + 1 del + 1 extra
    assert "Row changes:" in result.report
    assert "Added new rows:" in result.report and "Deleted rows:" in result.report
    post = target.read(spark)
    assert as_set(post) == as_set(source.read(spark))


def test_report_collect_is_capped(spark, tmp_path):
    """A change set larger than the report cap (e.g. a full reload
    deleting every row) must not collect the whole table to the driver:
    the keys collect is bounded by engine.REPORT_LIMIT."""
    import syncquill_spark.engine as eng

    old_limit = eng.REPORT_LIMIT
    eng.REPORT_LIMIT = 50
    try:
        tgt = spark.range(500).select(
            F.col("id").alias("slno"), F.lit("x").alias("name")
        )
        src = spark.createDataFrame([("999999", "new")], "slno string, name string")
        tp, sp = str(tmp_path / "t.pq"), str(tmp_path / "s.pq")
        tgt.write.parquet(tp)
        src.write.parquet(sp)
        result = sync(spark, ParquetTable(sp), ParquetTable(tp), dry_run=True)
        assert result.n_changes == 501  # 500 deletes + 1 insert
        # the rendered "Deleted rows" table is capped, not 500 rows
        old_rows = [ln for ln in result.report.splitlines() if ln.startswith("| Old")]
        assert 0 < len(old_rows) <= eng.REPORT_LIMIT
        # and every rendered deleted row carries its fetched payload,
        # not the key followed by blanks
        for ln in old_rows:
            cells = [c.strip() for c in ln.strip("|").split("|")]
            assert cells[0] == "Old" and cells[1].isdigit() and cells[2] == "x", ln
    finally:
        eng.REPORT_LIMIT = old_limit


@contextlib.contextmanager
def _job_group(spark, group):
    """Tag the Spark jobs the block runs; yields a callable returning
    their ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# keys the JSON key literal must carry through unchanged
AWKWARD_KEYS = ["it's", 'say "hi"', "back\\slash", "a,b", "[1]", "]", "two words",
                " pad ", "naïve café", "日本語", "smile \U0001F600"]


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_rows_for_keys_matches_python_filter(spark, key_type):
    """_rows_for_keys equals the dict built in Python from df.collect():
    awkward characters survive the JSON key literal, a missing key and a
    repeated key change nothing, and a null-keyed row never matches."""
    from syncquill_spark.engine import _rows_for_keys

    if key_type == "long":
        data = [(i, f"n{i}", i * 10) for i in range(1, 8)] + [(None, "nullkey", 0)]
    else:
        data = [(k, f"n{i}", i) for i, k in enumerate(AWKWARD_KEYS)]
        data += [("1", "one", None), (None, "nullkey", 0)]
    df = spark.createDataFrame(data, f"k {key_type}, name string, n long")
    keys = AWKWARD_KEYS + ["1", "3", "7", "3", "not-there", "99", "None", "null"]

    wanted = set(keys)
    expected = {
        str(r["k"]): [("" if r[c] is None else str(r[c])) for c in df.columns]
        for r in df.collect()
        if r["k"] is not None and str(r["k"]) in wanted
    }
    got = _rows_for_keys(df, keys, "k")
    assert got == expected
    assert len(expected) == (3 if key_type == "long" else len(AWKWARD_KEYS) + 1)


def test_rows_for_keys_empty_runs_no_job(spark):
    from syncquill_spark.engine import _rows_for_keys

    df = spark.createDataFrame([("1", "a")], "k string, v string")
    with _job_group(spark, "rows-for-keys-nonempty") as jobs:
        assert _rows_for_keys(df, ["1"], "k") == {"1": ["1", "a"]}
        assert jobs()  # the probe sees jobs when there are some
    with _job_group(spark, "rows-for-keys-empty") as jobs:
        assert _rows_for_keys(df, [], "k") == {}
        assert jobs() == []


def test_sync_resolves_trace_hooks_at_call_time(spark, tables, monkeypatch):
    """perfbench's traced runs swap engine._keys_of and
    engine._rows_for_keys for counting wrappers by name; sync must look
    both up as module globals at call time, with a list and a dict as
    their results."""
    import syncquill_spark.engine as eng

    calls = {"_keys_of": [], "_rows_for_keys": []}
    orig_keys_of, orig_rows_for_keys = eng._keys_of, eng._rows_for_keys

    def keys_of(changes, change_type):
        out = orig_keys_of(changes, change_type)
        calls["_keys_of"].append(out)
        return out

    def rows_for_keys(df, keys, key):
        out = orig_rows_for_keys(df, keys, key)
        calls["_rows_for_keys"].append(out)
        return out

    monkeypatch.setattr(eng, "_keys_of", keys_of)
    monkeypatch.setattr(eng, "_rows_for_keys", rows_for_keys)
    source, target = tables
    result = eng.sync(spark, source, target, dry_run=True)
    assert result.n_changes == 4
    assert len(calls["_keys_of"]) == 2 and len(calls["_rows_for_keys"]) == 2
    assert all(type(out) is list for out in calls["_keys_of"])
    assert all(type(out) is dict for out in calls["_rows_for_keys"])
    # one added row (slno 4) and one deleted row (slno 3), fetched whole
    assert sorted(map(len, calls["_rows_for_keys"])) == [1, 1]


def test_sync_dry_run_leaves_target(spark, tables):
    source, target = tables
    before = as_set(target.read(spark))
    result = sync(spark, source, target, dry_run=True)
    assert result.n_changes == 4
    assert as_set(target.read(spark)) == before


def test_sync_no_changes(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.0)], TGT_SCHEMA)
    p1, p2 = str(tmp_path / "a.pq"), str(tmp_path / "b.pq")
    df.write.parquet(p1)
    df.write.parquet(p2)
    result = sync(spark, ParquetTable(p1), ParquetTable(p2))
    assert result.n_changes == 0
    assert result.report == "No changes."


def test_upsert_overwrites(spark, tables):
    source, target = tables
    upsert(spark, source, target)
    post = target.read(spark)
    assert as_set(post) == as_set(source.read(spark))
    # schema re-inferred from source (all-string), reference A11 autodetect
    assert dict(post.dtypes)["slno"] == "string"


def test_sync_validation_failure_aborts(spark, tmp_path):
    bad = spark.createDataFrame([("", "a", "1.0")], SRC_SCHEMA)
    tgt = spark.createDataFrame([(1, "a", 1.0)], TGT_SCHEMA)
    bp, tp = str(tmp_path / "bad.pq"), str(tmp_path / "t.pq")
    bad.write.parquet(bp)
    tgt.write.parquet(tp)
    from syncquill_spark.operators import ValidationError

    with pytest.raises(ValidationError):
        sync(spark, ParquetTable(bp), ParquetTable(tp))


def test_grid_to_frame(spark):
    cols, df = grid_to_frame(
        spark, [["slno", "name"], ["1", "a"], ["2"]]  # short row padded
    )
    assert cols == ["slno", "name"]
    got = {tuple(r) for r in df.collect()}
    assert got == {("1", "a"), ("2", None)}


def test_report_layout(spark):
    tgt = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.0)], TGT_SCHEMA)
    src = spark.createDataFrame([("1", "aX", "1.5")], SRC_SCHEMA)
    changes = diff_keyed(tgt, src)
    rep = format_change_report(changes, ["slno", "name", "amount"])
    assert "Deleted rows:" in rep
    assert "Row changes:" in rep
    assert "| Old" in rep and "| New" in rep
    assert "aX" in rep


def test_table_from_uri():
    assert isinstance(table_from_uri("parquet:/tmp/x"), ParquetTable)
    assert isinstance(table_from_uri("bq:ds.tbl"), BigQueryTable)
    assert isinstance(table_from_uri("sheets:abc/Sheet1"), SheetsTable)
    with pytest.raises(ValueError):
        table_from_uri("ftp:nope")


def test_parse_arguments():
    args = parse_arguments(["sync", "--source", "parquet:/s", "--target", "parquet:/t"])
    assert args.action == "sync"
    assert args.mode == "keyed"


def test_dotenv_loading(tmp_path, monkeypatch):
    """CLI loads .env before env resolution (syncquill.py:219-224);
    real environment wins over the file."""
    import os

    from syncquill_spark.cli import _load_dotenv

    env = tmp_path / ".env"
    env.write_text(
        "# comment\n"
        "SYNCQ_TEST_A=from_file\n"
        "SYNCQ_TEST_B='quoted value'\n"
        "\n"
        "not a kv line\n"
    )
    monkeypatch.delenv("SYNCQ_TEST_A", raising=False)
    monkeypatch.setenv("SYNCQ_TEST_B", "from_env")
    _load_dotenv(str(env))
    try:
        assert os.environ["SYNCQ_TEST_A"] == "from_file"
        assert os.environ["SYNCQ_TEST_B"] == "from_env"  # env var wins
    finally:
        os.environ.pop("SYNCQ_TEST_A", None)
