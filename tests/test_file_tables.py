"""CSV / JSON Table connectors: round-trip + end-to-end sync (CSV
source standing in for a sheet export, parquet target)."""

from __future__ import annotations

from syncquill_spark.engine import sync
from syncquill_spark.sources import ParquetTable
from syncquill_spark.sources.files import CsvTable, JsonTable


def test_csv_roundtrip_all_string(spark, tmp_path):
    t = CsvTable(str(tmp_path / "t.csv"))
    df = spark.createDataFrame([(1, "a", 1.5)], "slno long, name string, amount double")
    t.overwrite(df)
    back = t.read(spark)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * 3
    assert back.collect()[0].asDict() == {"slno": "1", "name": "a", "amount": "1.5"}


def test_json_roundtrip(spark, tmp_path):
    t = JsonTable(str(tmp_path / "t.json"))
    df = spark.createDataFrame([(1, "a")], "slno long, name string")
    t.overwrite(df)
    assert {tuple(r) for r in t.read(spark).select("slno", "name").collect()} == {(1, "a")}


def test_csv_source_syncs_into_parquet_target(spark, tmp_path):
    src = CsvTable(str(tmp_path / "sheet.csv"))
    src.overwrite(spark.createDataFrame(
        [("1", "a", "9.9"), ("2", "b", "2.0"), ("4", "d", "4.0")],
        "slno string, name string, amount string",
    ))
    tgt = ParquetTable(str(tmp_path / "tgt.pq"))
    tgt.overwrite(spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.0), (3, "c", 3.0)],
        "slno long, name string, amount double",
    ))
    result = sync(spark, src, tgt)
    assert result.n_changes == 3  # amount diff on 1, insert 4, delete 3
    post = {r["slno"]: (r["name"], r["amount"]) for r in tgt.read(spark).collect()}
    assert set(post) == {1, 2, 4}
    assert post[1] == ("a", 9.9)


def test_compact_parquet_coalesces_small_files(spark, tmp_path):
    from syncquill_spark.sources.parquet import compact_parquet

    path = str(tmp_path / "frag.pq")
    # 20 appends -> >= 20 small files
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(path)
    import os

    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before >= 20

    n_target = compact_parquet(spark, path, target_file_bytes=1 << 30)
    n_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_target == 1 and n_after == 1
    # data intact
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(200))


def test_compact_parquet_refuses_partitioned_layout(spark, tmp_path):
    """A flat compaction rewrite of a Hive-partitioned table would
    demote partition dirs to data columns and lose pruning — the
    operator must refuse, pointing at the partition-preserving path."""
    import pytest

    from syncquill_spark.sources.parquet import compact_parquet

    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "fr"), (3, "c", "en")],
        "id long, text string, lang string",
    )
    df.write.partitionBy("lang").parquet(path)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        compact_parquet(spark, path)


def test_orc_table_roundtrip_and_sync(spark, tmp_path):
    """OrcTable: typed roundtrip, atomic overwrite, and a full keyed
    sync ORC -> parquet (cross-format endpoints share the Table
    contract)."""
    from syncquill_spark.engine import sync
    from syncquill_spark.sources import OrcTable, ParquetTable

    src = OrcTable(str(tmp_path / "src.orc"))
    tgt = ParquetTable(str(tmp_path / "tgt.pq"))
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, amount double"
    )
    src.overwrite(df)
    assert src.read(spark).schema == df.schema  # types survive (not CSV strings)
    tgt.overwrite(spark.createDataFrame([(1, "a", 1.5)], df.schema))
    res = sync(spark, src, tgt, key="id")
    got = {(r.id, r.name, float(r.amount)) for r in tgt.read(spark).collect()}
    assert got == {(1, "a", 1.5), (2, "b", 2.5)}
    # atomic overwrite replaces content
    src.overwrite(spark.createDataFrame([(9, "z", 0.0)], df.schema))
    assert [r.id for r in src.read(spark).collect()] == [9]


def test_file_table_failed_swap_keeps_old_table(spark, tmp_path, monkeypatch):
    """CSV/JSON/ORC overwrites swap the staged write in with the atomic
    exchange: when the swap raises, the old table still reads back and
    no staging directory is left beside it."""
    import pytest

    from syncquill_spark.sources import OrcTable, _atomic

    t = OrcTable(str(tmp_path / "t.orc"))
    t.overwrite(spark.range(5).withColumnRenamed("id", "slno"))

    def failed_swap(a, b):
        raise OSError("swap failed")

    monkeypatch.setattr(_atomic, "_exchange", failed_swap)
    with pytest.raises(OSError, match="swap failed"):
        t.overwrite(spark.range(100, 103).withColumnRenamed("id", "slno"))
    assert sorted(r.slno for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    assert [p.name for p in tmp_path.iterdir()] == ["t.orc"]
