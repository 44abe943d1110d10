"""Portable-hash building blocks: determinism, edge cases, parity
basics (full cross-engine parity is covered by test_queries_oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from syncquill_spark.functions.hashing import (
    HASH_PRIME,
    minhash_from_hashes,
    minhash_permutations,
    portable_hash60,
    rolling_fingerprint,
    shingle_hashes,
    word_shingles,
)


def test_portable_hash_deterministic(spark):
    df = spark.createDataFrame([("hello",), ("hello",), ("world",)], "s string")
    out = [r[0] for r in df.select(portable_hash60("s")).collect()]
    assert out[0] == out[1] != out[2]
    assert all(0 <= h < 2**60 for h in out)


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "s string")
    out = [r[0] for r in df.select(word_shingles("s", 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # shorter than k
    assert out[2] == []


def test_minhash_signature_shape_and_containment(spark):
    df = spark.createDataFrame(
        [("x", "a b c d e f g h",), ("y", "a b c d e f g h",), ("z", "q r s t u v w x",)],
        "id string, s string",
    )
    hashes = df.select("id", shingle_hashes(word_shingles("s", 3)).alias("h"))
    sig = hashes.select("id", minhash_from_hashes(F.col("h"), 16).alias("sig"))
    rows = {r["id"]: r["sig"] for r in sig.collect()}
    assert len(rows["x"]) == 16
    assert rows["x"] == rows["y"]  # identical docs, identical signatures
    assert rows["x"] != rows["z"]
    assert all(0 <= v <= HASH_PRIME for v in rows["x"])


def test_minhash_permutations_fixed():
    assert minhash_permutations(4) == minhash_permutations(4)
    assert len(set(minhash_permutations(32))) == 32


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",), ("a b c",)], "s string")
    toks = F.split(F.trim("s"), r"\s+")
    out = [r[0] for r in df.select(rolling_fingerprint(toks)).collect()]
    assert out[0] == out[2]
    assert out[0] != out[1]  # permutation changes the fingerprint
