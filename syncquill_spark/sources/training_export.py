"""Training-shard export: the release sink of the curation pipeline.

Everything upstream of this module decides WHAT ships (dedup, gates,
quality filters, mixing, packing); `deterministic_shuffle` decides the
ORDER (a reproducible global permutation into N shards). This module
is the last hop: materialize that decision as an on-disk artifact a
training job can consume and AUDIT —

- one directory per shard (``shard=K``), each holding exactly ONE
  parquet data file whose rows stream in training order (``pos``
  ascending; the column is also kept, so consumers that split large
  files recover the order by sorting on it);
- a JSON manifest with per-shard doc counts, token counts, and an
  int64 order fingerprint (sum of hash(shard:pos:id) over rows — any
  dropped, duplicated, or reordered document changes it), plus the
  shuffle salt so the exact permutation is reproducible;
- the whole export committed with the same all-or-nothing
  ``atomic_replace_dir`` swap every table here uses: a reader sees
  the complete old release or the complete new one, never a mix.

Scale shape: one hash-partitioned shuffle on ``shard`` plus per-shard
sorts (no global sort — `deterministic_shuffle`'s contract), then a
write with no further movement: rows arrive at the writer already in
(shard, pos) order, so FileFormatWriter's partition-sort requirement
is met without re-sorting and each shard's file streams out
sequentially. At 100 TB pick n_shards so a shard is a few GB — the
permutation quality does not depend on it.

One upstream pass: the caller's frame (often a long lazy pipeline —
ingest, a pandas UDF, dedup joins, quality rules, a mix window) is
evaluated once, by the write. The manifest's stats are then read back
from the staged shard files with the same aggregation
``read_training_shards(verify=True)`` runs (``_shard_stats``), and an
empty corpus shows as a staging area with no ``shard=`` directory. So
the manifest describes the bytes on disk rather than a recomputation
of the upstream pipeline, and stays true even if that pipeline is
nondeterministic. Sizing by ``tokens_per_shard`` costs one more
upstream pass: the token total must be known before rows are assigned
to shards.

Reference: /root/reference/syncquill.py has no export surface (its
sink is a BigQuery table, syncquill.py:131-146); this is EXT-tier
surface for the LLM-pipeline mandate, the write-side sibling of
sources/media_files.py's read-side ingestion.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncquill_spark.functions.hashing import portable_hash60
from syncquill_spark.sources._atomic import atomic_replace_dir

_MANIFEST = "_export_manifest.json"


def _order_fingerprint() -> F.Column:
    # bit_xor, not sum: order-insensitive, never overflows int64 under
    # ANSI mode at any row count, and any changed/moved/missing row
    # flips it ((shard, pos, id) triples are unique by construction,
    # so XOR self-cancellation needs a duplicated triple — which the
    # n_docs count catches first)
    return F.bit_xor(
        portable_hash60(
            F.concat_ws(
                ":",
                F.col("shard").cast("string"),
                F.col("pos").cast("string"),
                F.col("_exp_id").cast("string"),
            )
        )
    ).cast("long")


def _shard_stats(frame: DataFrame, id_col: str) -> tuple[dict, int]:
    """Per-shard stats of an export's ``data/`` frame, as the manifest
    stores them (``{str(shard): {n_docs, n_tokens, fingerprint}}``),
    and the number of documents with a NULL token count."""
    stats = (
        frame.select("shard", "pos", F.col(id_col).alias("_exp_id"), "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("n_tokens").isNull(), F.lit(1)))
            .cast("long")
            .alias("n_null"),
            _order_fingerprint().alias("fingerprint"),
        )
        .collect()
    )
    shards = {
        str(int(r.shard)): {
            "n_docs": int(r.n_docs),
            # SUM of only NULLs is NULL; the caller refuses those docs
            "n_tokens": int(r.n_tokens or 0),
            "fingerprint": int(r.fingerprint),
        }
        for r in sorted(stats, key=lambda r: int(r.shard))
    }
    return shards, sum(int(r.n_null) for r in stats)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    salt: str = "shuffle-v1",
    tokens_per_shard: int | None = None,
) -> dict:
    """Export ``df`` as N shuffled training shards at ``path``
    (atomic), returning the manifest dict. ``token_col`` names a
    precomputed per-doc token count (e.g. tokenizer-true counts from
    ``bpe_encode``); default is whitespace tokens — the manifest's
    accounting unit, stated in the manifest either way.

    Size the release with exactly one of ``n_shards`` (explicit count)
    or ``tokens_per_shard`` (the deployment knob: n_shards =
    ceil(total_tokens / target), hash assignment balances shards in
    expectation — at 100 TB "a shard is a few GB" is a token budget,
    not a count; it costs one extra pass over ``df`` for the total).
    An empty corpus is refused: a 0-doc release is always an upstream
    bug, and the parquet sink would write an unreadable schema-less
    directory. A document whose token count is
    NULL (NULL text, or a NULL in ``token_col``) is refused the same
    way: SUM skips NULLs and the verify gate recomputes the same SUM,
    so such a doc would ride into the release uncounted and still
    verify — the silent-wrong-release shape (r15 battery find). Any
    failure discards the staging dir; the target is never touched."""
    if (n_shards is None) == (tokens_per_shard is None):
        raise ValueError(
            "pass exactly one of n_shards or tokens_per_shard"
        )
    from syncquill_spark.operators.curation import deterministic_shuffle

    tokens = (
        F.col(token_col).cast("long")
        if token_col
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    )
    if tokens_per_shard is not None:
        if tokens_per_shard <= 0:
            raise ValueError(
                f"tokens_per_shard must be positive, got {tokens_per_shard}"
            )
        total = df.select(F.sum(tokens).alias("t")).collect()[0].t or 0
        n_shards = max(1, -(-int(total) // tokens_per_shard))
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    assigned = deterministic_shuffle(
        df.select(
            F.col(id_col).alias("_exp_id"),
            F.col(text_col).alias("_exp_text"),
            tokens.alias("n_tokens"),
        ),
        n_shards,
        id_col="_exp_id",
        salt=salt,
    )
    # rows reach the writer already in (shard, pos) order: each shard's
    # rows land in ONE task (hash on the shard key), partitionBy splits
    # co-resident shards into their own directories without re-sorting
    ordered = assigned.repartition(n_shards, F.col("shard")).sortWithinPartitions(
        "shard", "pos"
    )
    staging = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
    data = os.path.join(staging, "data")
    os.makedirs(staging)
    try:
        (
            ordered.select(
                "shard", "pos",
                F.col("_exp_id").alias(id_col),
                F.col("_exp_text").alias(text_col),
                "n_tokens",
            )
            .write.partitionBy("shard")
            .parquet(data)
        )
        # an empty input writes no partition directory at all
        if not any(d.startswith("shard=") for d in os.listdir(data)):
            raise ValueError("refusing to export an empty corpus")
        shards, null_docs = _shard_stats(
            df.sparkSession.read.parquet(data), id_col
        )
        # a NULL token count (NULL text, or a NULL in a caller-supplied
        # token_col) would ship a document the manifest cannot account:
        # SUM skips NULLs, the verify gate recomputes the same SUM, so
        # the release would pass verification with an uncounted doc
        # inside — the silent-wrong-release shape this sink exists to
        # rule out. Refuse diagnosably instead (before the atomic swap:
        # the target is never touched).
        if null_docs:
            raise ValueError(
                f"refusing to export: {null_docs} document(s) have a "
                f"NULL token count (NULL {text_col!r}"
                + (f" or NULL {token_col!r}" if token_col else "")
                + "); a release manifest must account every document — "
                "filter or repair these rows upstream"
            )
        manifest = {
            "n_shards": n_shards,
            "salt": salt,
            "id_col": id_col,
            "text_col": text_col,
            "token_unit": token_col or "whitespace",
            "total_docs": sum(s["n_docs"] for s in shards.values()),
            "total_tokens": sum(s["n_tokens"] for s in shards.values()),
            "shards": shards,
        }
        with open(os.path.join(staging, _MANIFEST), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        atomic_replace_dir(staging, path)
    except BaseException:
        # staging is pre-commit state: discard it on ANY failure so a
        # refused/aborted export leaves neither a half-written tree nor
        # an unswapped staging dir beside the target (the swap itself
        # is all-or-nothing, so reaching it with a good tree commits)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise
    return manifest


def read_training_shards(
    spark: SparkSession, path: str, verify: bool = False
) -> tuple[DataFrame, dict]:
    """Load an export as (frame, manifest). ``verify=True`` recomputes
    every shard's doc count, token count, and order fingerprint from
    the data and raises on any disagreement with the manifest — the
    integrity gate a training job runs before consuming a release."""
    with open(os.path.join(path, _MANIFEST)) as fh:
        manifest = json.load(fh)
    frame = spark.read.parquet(os.path.join(path, "data"))
    if verify:
        got, null_docs = _shard_stats(frame, manifest["id_col"])
        # a NULL token count is invisible to the SUM comparison below
        # (the writer refuses them since r15, but a tampered or legacy
        # release could still carry one) — an uncounted doc must fail
        # the integrity gate, not slide through it
        if null_docs:
            raise ValueError(
                f"training export at {path!r} fails verification: "
                f"{null_docs} document(s) have a NULL token count, "
                "which the manifest cannot account"
            )
        if got != manifest["shards"]:
            bad = {
                k
                for k in set(got) | set(manifest["shards"])
                if got.get(k) != manifest["shards"].get(k)
            }
            raise ValueError(
                f"training export at {path!r} fails verification for "
                f"shard(s) {sorted(bad)}: data does not match the manifest"
            )
    return frame, manifest
