"""Streaming ingest-time vector dedup: a stream of embeddings checked
against a STATIC corpus signature index — the readStream form of
operators/similarity.embedding_near_dup_against (same quantized-int64
band keys, same exact-integer verify), for pipelines that gate
documents at ingest instead of in nightly batches.

Both the index build and the gate compose the SRP core in
operators/similarity.py, as the batch operators do: the key builder
`_srp_keys` (one signature pass → band keys + quantized vectors), the
cross-pair core `_srp_cross_pairs` in its stream contract, and its
exact-integer verify tail.

Scale shape: the corpus index is built ONCE (one signature pass,
persisted / written to a table); each microbatch computes signatures
only for its own rows, equi-joins the index on (band, key) — a
stream-static join, no state store: the batch's vectors ride on its
key rows — and verifies candidates with the exact integer dot against
the indexed vectors. The stream never sees the O(|stream| x |corpus|)
pair space.

Reference shape: /root/reference/syncquill.py has no streaming (the
whole reference is a batch sync script); this is EXT-tier capability
mandated by the LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from syncquill_spark.operators.similarity import (
    _q_cos_kept,
    _srp_cross_pairs,
    _srp_keys,
)

# Fixed width of the stored-keys hash-bucket space — a FORMAT constant,
# not a tuning knob: bucket = pmod(xxhash64(band, key), 4096) must be
# the same expression at build time (partition layout) and at gate time
# (which buckets a batch's keys touch), and making it configurable
# would re-introduce the silent-mismatch failure mode the fixed bands/
# planes_per_band contract already has. 4096 one-level Hive partitions
# keeps local builds sane (one file per bucket after the repartition in
# save_embedding_index) while at corpus scale each bucket is simply a
# directory of ordinary parquet files.
VEC_GATE_BUCKETS = 4096


def _bucket_expr(band_col, key_col):
    return F.pmod(F.xxhash64(band_col, key_col), F.lit(VEC_GATE_BUCKETS))


def build_embedding_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes_per_band: int = 4,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """One-time corpus signature index for streaming dedup:
    (keys, vecs) where keys = (corpus_id, band, key, bucket) for the
    band join and vecs = (corpus_id, q, n2) for the verify: the SRP
    key builder's two frames (`similarity._srp_keys`, one persisted
    signature pass) under the index's column names.

    ``_bucket`` = xxhash64(band, key) mod 4096 exists so the keys part
    can be PERSISTED Hive-partitioned on it (``save_embedding_index``):
    an ingest micro-batch touches at most |its distinct band keys|
    buckets, so the gate's stored-keys read prunes to those partitions
    instead of scanning the whole corpus index — the same
    serve-I/O-scales-with-the-query discipline as the BM25 term-bucket
    and IVF-PQ cell layouts. In memory the column is ~free (one hash
    per key row)."""
    keys, vecs = _srp_keys(corpus, id_col, vec_col, bands, planes_per_band, dim)
    keys = keys.select(
        F.col(id_col).alias("corpus_id"), "_band", "_key"
    ).withColumn("_bucket", _bucket_expr(F.col("_band"), F.col("_key")))
    vecs = vecs.select(
        F.col(id_col).alias("corpus_id"),
        F.col("_q").alias("_qc"),
        F.col("_n2").alias("_nc"),
    )
    return keys, vecs


def save_embedding_index(path: str, keys: DataFrame, vecs: DataFrame) -> None:
    """Persist the vector gate's index with the keys part
    Hive-partitioned by ``_bucket`` (see ``build_embedding_index``).
    The repartition puts each bucket's rows in ONE task so the write
    produces one file per bucket instead of files-per-task-per-bucket.

    The bucket width is STAMPED into the index manifest: stored
    ``_bucket`` values were computed with this build's constant, and a
    gate running a different width would prune with mismatched bucket
    ids — true matches silently dropped, no error (ADVICE r15). Load
    with ``load_embedding_index``, which verifies the stamp and falls
    back to the unpruned join on mismatch; the raw
    ``index_store.load_index`` skips that check."""
    from syncquill_spark.sources.index_store import save_index

    if "_bucket" not in keys.columns:
        keys = keys.withColumn(
            "_bucket", _bucket_expr(F.col("_band"), F.col("_key"))
        )
    save_index(
        path,
        _partition_by={"keys": ["_bucket"]},
        _meta={"vec_gate_buckets": VEC_GATE_BUCKETS},
        keys=keys.repartition(F.col("_bucket")),
        vecs=vecs,
    )


def load_embedding_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(keys, vecs) from a persisted vector-gate index, with the
    bucket-width stamp verified against this build's constant.

    On mismatch — an index written under a different
    ``VEC_GATE_BUCKETS`` — the ``_bucket`` column is DROPPED from the
    keys frame, so ``stream_embedding_near_dups`` takes the unpruned
    (band, key) join: every stored key row is scanned, nothing is
    missed. Correctness over speed; rebuild the index to re-enable
    pruning. An index with no stamp (written before meta stamping)
    is treated the same way: without a recorded width the prune's
    precondition cannot be verified, and a silent false-negative is
    the one failure mode this loader exists to rule out."""
    import warnings

    from syncquill_spark.sources.index_store import (
        load_index,
        load_index_manifest,
    )

    parts = load_index(spark, path)
    keys, vecs = parts["keys"], parts["vecs"]
    stored = load_index_manifest(path)["meta"].get("vec_gate_buckets")
    if stored != VEC_GATE_BUCKETS and "_bucket" in keys.columns:
        # warnings.warn, not print-to-stderr: library callers can
        # capture/filter it (ADVICE r15)
        warnings.warn(
            f"load_embedding_index: stored bucket width {stored!r} != "
            f"VEC_GATE_BUCKETS {VEC_GATE_BUCKETS} — disabling stored-keys "
            "pruning (unpruned join; rebuild the index to re-enable)",
            stacklevel=2,
        )
        keys = keys.drop("_bucket")
    return keys, vecs


def stream_embedding_near_dups(
    stream: DataFrame,
    index_keys: DataFrame,
    index_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    bands: int = 4,
    planes_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(stream_id, corpus_id) matches: streamed vectors whose band keys
    collide with the corpus index and whose exact quantized cosine
    clears the threshold.

    The stream side is keyed by the SRP key builder's streaming form
    (kernel marked nondeterministic — a streaming frame cannot persist;
    a materialized micro-batch is persisted instead) and matched by the
    cross-pair core's stream contract (`similarity._srp_cross_pairs`,
    ``per_band=True``) — the same core `embedding_near_dup_against`
    runs in batch.

    Matches are per-band candidates verified once each; a pair that
    collides in several bands emits once per colliding band within the
    batch — dedupe downstream per batch (foreachBatch dropDuplicates)
    or accept the multiplicity in the audit sink. A stateful global
    dropDuplicates here would grow state unboundedly on an unbounded
    stream; with an event-time column, use
    dropDuplicatesWithinWatermark instead.

    Stored-keys pruning: when ``index_keys`` carries the ``_bucket``
    partition column (an index persisted via ``save_embedding_index``)
    and the batch is a materialized DataFrame (the foreachBatch /
    serve shape — every micro-batch arrives that way), the gate first
    collects the batch's DISTINCT bucket ids (bounded by the batch's
    key count, corpus-independent) and filters the stored scan with
    those literals — static partition pruning, so the read touches
    only the batch's buckets instead of the whole corpus index. A
    genuinely unbounded streaming frame cannot be collected; there the
    join is unchanged (same rows either way — equal (band, key)
    implies equal bucket, so the filter never removes a match).

    CALLER CONTRACT (materialized batch): the one signature pass is
    held via ``tracked_persist`` so the bucket collection and the join
    share it; the returned plan still reads that cache, so
    it cannot be unpersisted here. After the consuming action (the
    foreachBatch write, a test's collect, a ladder run's count), call
    ``operators._cache.release_cached_intermediates()`` — once per
    micro-batch in a long-lived gate. Skipping it leaks one
    batch-sized cached frame per invocation until executor storage
    evicts under pressure (ADVICE r15).
    """
    keys, _ = _srp_keys(stream, id_col, vec_col, bands, planes_per_band, dim)
    if "_bucket" in index_keys.columns and not stream.isStreaming:
        touched = [
            r["_b"]
            for r in keys.select(
                _bucket_expr(F.col("_band"), F.col("_key")).alias("_b")
            )
            .distinct()
            .collect()
        ]
        index_keys = index_keys.filter(F.col("_bucket").isin(touched))
    corpus_vecs = index_vecs.select(
        "corpus_id", F.col("_qc").alias("_q"), F.col("_nc").alias("_n2")
    )
    return _q_cos_kept(
        _srp_cross_pairs(
            keys, index_keys.select("corpus_id", "_band", "_key"), corpus_vecs,
            per_band=True,
        ),
        threshold,
    ).select(F.col("id_new").alias("stream_id"), F.col("id_corpus").alias("corpus_id"))
