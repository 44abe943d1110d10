"""Media-directory ingestion: a directory tree of image/audio/video
files -> the engine's multimodal table shape (opaque binary payload +
typed metadata struct), via Spark's built-in ``binaryFile`` source.

This is the missing first hop of the multimodal pipeline
(`operators/multimodal.py` starts from an already-tabular payload
column): crawl outputs and media dumps arrive as FILES. ``binaryFile``
reads each file as one row (path, modificationTime, length, content)
with the content only materialized for rows that survive the file
listing — `pathGlobFilter` prunes at the INDEX (directory listing)
level, so a `*.jpg` filter never opens a .txt byte.

Scale shape: the scan parallelizes across files (one file = one task
unit, grouped to `files.maxPartitionBytes` targets); there is no
shuffle — the whole ingestion is a projection. At 100 TB the listing
itself is the bottleneck class; point this at a manifest-partitioned
layout (one directory per date/source) and ingest partitions
independently. Oversized single files are refused by the source
(`spark.sql.sources.binaryFile.maxLength`, default 2^31-1) rather than
OOMing an executor.

Modality is inferred from the file extension (override with
``modality=``); ``media_id`` is the salted 60-bit hash of the file
path — deterministic, join-stable across re-ingestions of the same
tree, and independent of listing order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncquill_spark.functions.hashing import portable_hash60

# extension -> modality; anything else ingests as "binary" so a
# pipeline can quarantine-and-audit rather than crash on a stray file
MODALITY_BY_EXT = {
    "jpg": "image", "jpeg": "image", "png": "image", "gif": "image",
    "bmp": "image", "webp": "image", "tif": "image", "tiff": "image",
    "ppm": "image", "pgm": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio", "ogg": "audio",
    "mp4": "video", "mkv": "video", "webm": "video", "avi": "video",
    "mov": "video",
}


def write_media_dir(
    df: DataFrame,
    path: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ext: str = "bin",
) -> str:
    """EXPORT binary payloads as one file per row (``{id}.{ext}``) —
    the inverse of :func:`read_media_dir`, for handing media to tools
    that want files (codecs, labeling UIs, external trainers). Spark
    has no binary-file SINK, so the standard pattern applies: each
    partition writes its own rows from the executor (``foreachPartition``
    — payloads never collect to the driver), into a staging directory
    that is atomically installed at ``path`` via the same
    ``atomic_replace_dir`` every swap-based writer here uses (readers
    see the complete old or complete new export, never a partial one).

    File names are the (unique) id column — deterministic, so a
    re-export overwrites in place and a re-ingest re-derives the ids
    from the names. Requires executors and driver to share the
    filesystem at ``path`` (true for local[*], NFS, or a fuse-mounted
    object store; on plain object stores swap the inner ``open`` for a
    put call — the partition-parallel shape is identical).
    """
    import os as _os
    import uuid as _uuid

    from syncquill_spark.sources._atomic import atomic_replace_dir

    staging = f"{path}.__staging_{_uuid.uuid4().hex[:8]}"
    _os.makedirs(staging)

    def dump(rows) -> None:
        for r in rows:
            with open(
                _os.path.join(staging, f"{r[id_col]}.{ext}"), "wb"
            ) as fh:
                fh.write(bytes(r[payload_col]))

    df.select(id_col, payload_col).foreachPartition(dump)
    atomic_replace_dir(staging, path)
    return path


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
    modality: str | None = None,
    id_salt: str = "media-v1",
) -> DataFrame:
    """Read a directory of media files as a multimodal frame:
    (media_id, source_path, payload, meta{modality, n_bytes,
    content_sha}) — the same meta struct `attach_media_metadata`
    produces, so everything downstream (extract_features,
    resize_images, media_stats) composes unchanged.
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)

    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    if modality is not None:
        mod = F.lit(modality)
    else:
        mmap = F.create_map(
            *[F.lit(x) for kv in MODALITY_BY_EXT.items() for x in kv]
        )
        mod = F.coalesce(mmap[ext], F.lit("binary"))
    return raw.select(
        portable_hash60(
            F.concat_ws(":", F.lit(id_salt), F.col("path"))
        ).alias("media_id"),
        F.col("path").alias("source_path"),
        F.col("content").alias("payload"),
        F.struct(
            mod.alias("modality"),
            F.col("length").cast("long").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("content_sha"),
        ).alias("meta"),
    )
