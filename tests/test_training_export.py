"""Training-shard export (sources/training_export.py): the release
sink — deterministic permutation materialized as one ordered file per
shard with an auditable manifest, committed atomically."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from syncquill_spark.sources.training_export import (
    read_training_shards,
    write_training_shards,
)


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 17).cast("string"),
                 F.lit(" word "), F.col("id").cast("string")).alias("text"),
    )


def test_export_round_trip_matches_shuffle_assignment(spark, tmp_path):
    """Read-back equals the input rows with exactly
    deterministic_shuffle's (shard, pos) assignment, per-shard pos is
    contiguous from 1, token counts are the whitespace counts, and the
    returned manifest equals what verify=True recomputes."""
    from syncquill_spark.operators.curation import deterministic_shuffle

    docs = _docs(spark)
    p = str(tmp_path / "exp")
    manifest = write_training_shards(docs, p, n_shards=8)
    frame, loaded_manifest = read_training_shards(spark, p, verify=True)
    assert loaded_manifest == manifest
    assert manifest["total_docs"] == 200
    assert manifest["total_tokens"] == 200 * 3  # three whitespace tokens

    got = sorted(
        (r.shard, r.pos, r.doc_id, r.text) for r in frame.collect()
    )
    want = sorted(
        (r.shard, r.pos, r.doc_id, r.text)
        for r in deterministic_shuffle(docs, 8).collect()
    )
    assert got == want
    for shard, rows in manifest["shards"].items():
        pos = sorted(r.pos for r in frame.filter(F.col("shard") == int(shard)).collect())
        assert pos == list(range(1, rows["n_docs"] + 1)), shard
        assert rows["n_tokens"] == 3 * rows["n_docs"], shard


def test_export_one_ordered_file_per_shard(spark, tmp_path):
    """Each shard directory holds exactly ONE data file and its rows
    stream in pos order — the sequential-reader layout the writer
    promises (pos stays in the data for consumers that split files)."""
    p = str(tmp_path / "exp1")
    write_training_shards(_docs(spark), p, n_shards=4)
    data = os.path.join(p, "data")
    shard_dirs = sorted(d for d in os.listdir(data) if d.startswith("shard="))
    assert len(shard_dirs) == 4
    for d in shard_dirs:
        files = [
            f for f in os.listdir(os.path.join(data, d))
            if not f.startswith((".", "_"))
        ]
        assert len(files) == 1, (d, files)
        pdf = (
            spark.read.parquet(os.path.join(data, d)).select("pos").toPandas()
        )
        assert list(pdf["pos"]) == sorted(pdf["pos"])


def test_export_is_deterministic_and_salt_changes_epoch(spark, tmp_path):
    docs = _docs(spark)
    m1 = write_training_shards(docs, str(tmp_path / "a"), n_shards=6)
    m2 = write_training_shards(docs, str(tmp_path / "b"), n_shards=6)
    assert m1 == m2
    m3 = write_training_shards(
        docs, str(tmp_path / "c"), n_shards=6, salt="epoch-2"
    )
    assert m3["shards"] != m1["shards"]  # fresh permutation
    assert m3["total_docs"] == m1["total_docs"]


def test_verify_catches_tamper_and_overwrite_is_atomic(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "exp2")
    write_training_shards(docs, p, n_shards=3)
    # a second release replaces the first atomically, no debris
    write_training_shards(docs.filter(F.col("doc_id") < 50), p, n_shards=3)
    frame, manifest = read_training_shards(spark, p, verify=True)
    assert manifest["total_docs"] == 50 and frame.count() == 50
    assert sorted(os.listdir(tmp_path)) == ["exp2"]

    # tamper: swap one shard's data file for another shard's
    data = os.path.join(p, "data")
    dirs = sorted(d for d in os.listdir(data) if d.startswith("shard="))
    f0 = [f for f in os.listdir(os.path.join(data, dirs[0])) if f.endswith(".parquet")][0]
    f1 = [f for f in os.listdir(os.path.join(data, dirs[1])) if f.endswith(".parquet")][0]
    os.replace(
        os.path.join(data, dirs[1], f1), os.path.join(data, dirs[0], "z_" + f0)
    )
    with pytest.raises(ValueError, match="fails verification"):
        read_training_shards(spark, p, verify=True)


def test_export_with_precomputed_token_col(spark, tmp_path):
    """token_col passthrough: the manifest accounts in the caller's
    unit (e.g. tokenizer-true counts), recorded as such."""
    docs = _docs(spark).withColumn("bpe_tokens", F.col("doc_id") % 5 + 1)
    p = str(tmp_path / "exp3")
    manifest = write_training_shards(
        docs, p, n_shards=4, token_col="bpe_tokens"
    )
    assert manifest["token_unit"] == "bpe_tokens"
    want = sum(int(r[0]) for r in docs.select("bpe_tokens").collect())
    assert manifest["total_tokens"] == want
    read_training_shards(spark, p, verify=True)


def test_export_by_token_budget_and_guards(spark, tmp_path):
    """tokens_per_shard sizes the release (n_shards =
    ceil(total/target)); empty corpora and ambiguous sizing are
    refused up front."""
    docs = _docs(spark)  # 200 docs x 3 whitespace tokens = 600
    p = str(tmp_path / "budget")
    manifest = write_training_shards(docs, p, tokens_per_shard=100)
    assert manifest["n_shards"] == 6  # ceil(600 / 100)
    read_training_shards(spark, p, verify=True)
    # hash assignment balances shards in expectation
    sizes = [s["n_tokens"] for s in manifest["shards"].values()]
    assert max(sizes) < 2 * min(sizes)

    with pytest.raises(ValueError, match="exactly one"):
        write_training_shards(docs, p, n_shards=2, tokens_per_shard=100)
    with pytest.raises(ValueError, match="exactly one"):
        write_training_shards(docs, p)
    with pytest.raises(ValueError, match="must be positive"):
        write_training_shards(docs, p, tokens_per_shard=0)
    with pytest.raises(ValueError, match="empty corpus"):
        write_training_shards(
            docs.filter(F.col("doc_id") < 0), str(tmp_path / "e"), n_shards=2
        )


def test_export_reads_correctly_when_files_split(spark, tmp_path):
    """A big shard file splits across scan tasks at consumption time;
    the verify aggregation is order-insensitive and pos recovers the
    training order — pinned by forcing splits with a tiny
    maxPartitionBytes."""
    p = str(tmp_path / "split")
    write_training_shards(_docs(spark, n=400), p, n_shards=2)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        frame, manifest = read_training_shards(spark, p, verify=True)
        # order recovered by pos within each shard despite split scans
        for shard in (0, 1):
            rows = (
                frame.filter(F.col("shard") == shard)
                .orderBy("pos")
                .select("pos")
                .collect()
            )
            assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        assert manifest["total_docs"] == 400
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_export_manifest_invariants_property(spark, tmp_path):
    """Property over (n, n_shards): manifest totals equal the corpus,
    per-shard pos is contiguous, fingerprints are nonzero and distinct
    across shards (distinct (shard,pos,id) triples)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=4, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=120),
        shards=st.integers(min_value=1, max_value=7),
        salt_i=st.integers(min_value=0, max_value=99),
    )
    def prop(n, shards, salt_i):
        p = str(tmp_path / f"prop_{n}_{shards}_{salt_i}")
        m = write_training_shards(
            _docs(spark, n=n), p, n_shards=shards, salt=f"s{salt_i}"
        )
        assert m["total_docs"] == n
        assert sum(s["n_docs"] for s in m["shards"].values()) == n
        read_training_shards(spark, p, verify=True)

    prop()


def test_export_evaluates_each_input_row_once(spark, tmp_path):
    """The write is the only pass over the caller's frame: an
    accumulator-counting UDF on the input text ticks once per row.
    The manifest is read back from the staged files, and there is no
    separate emptiness probe."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(text):
        calls.add(1)
        return text

    docs = _docs(spark, n=150).withColumn("text", counted("text"))
    manifest = write_training_shards(docs, str(tmp_path / "once"), n_shards=4)
    assert manifest["total_docs"] == 150
    assert calls.value == 150


def test_export_refusals_leave_no_target_or_staging(spark, tmp_path):
    """An empty corpus and a NULL token count are refused with their
    messages; neither leaves the target nor a staging directory, and a
    refused overwrite keeps the previous release intact."""
    empty = _docs(spark).filter(F.col("doc_id") < 0)
    with pytest.raises(ValueError, match="refusing to export an empty corpus"):
        write_training_shards(empty, str(tmp_path / "e"), n_shards=2)
    assert os.listdir(tmp_path) == []

    p = str(tmp_path / "rel")
    first = write_training_shards(_docs(spark, n=40), p, n_shards=2)
    nulled = _docs(spark, n=40).withColumn(
        "text", F.when(F.col("doc_id") != 3, F.col("text"))
    )
    with pytest.raises(ValueError, match=r"1 document\(s\) have a NULL token count"):
        write_training_shards(nulled, p, n_shards=2)
    with pytest.raises(ValueError, match="empty corpus"):
        write_training_shards(empty, p, n_shards=2)
    assert os.listdir(tmp_path) == ["rel"]
    assert read_training_shards(spark, p, verify=True)[1] == first
