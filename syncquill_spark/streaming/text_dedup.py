"""Streaming ingest-time TEXT dedup against a static corpus index —
the exact-hash sibling of streaming/vector_dedup.py, for gating raw
document streams before anything expensive touches them.

Reference shape: /root/reference/syncquill.py has no streaming; this
is EXT-tier capability for the LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from syncquill_spark.operators.dedup import (
    minhash_band_keys,
    minhash_cross_pairs,
    minhash_self_pairs,
)


def build_text_hash_index(
    corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One-column (sha256 of text) distinct index of everything already
    kept. Fixed-width 64-hex keys — the index is content-size
    independent; production writes it to a table bucketed on the hash
    and unions in each accepted batch."""
    return corpus.select(F.sha2(F.col(text_col), 256).alias("_text_sha")).distinct()


def stream_drop_seen_text(
    stream: DataFrame, index: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Pass through only stream rows whose text was NOT already in the
    corpus: stream-static LEFT ANTI join on the content hash. No state
    store; each microbatch hashes its own rows once. (Duplicates
    WITHIN the stream are the separate dropDuplicatesWithinWatermark
    concern — this operator is the stream-vs-corpus gate.)"""
    hashed = stream.withColumn("_text_sha", F.sha2(F.col(text_col), 256))
    return hashed.join(index, "_text_sha", "left_anti").drop("_text_sha")


def _index_shingles(index_shingles: DataFrame) -> DataFrame:
    """Stored (corpus_id, _sh_c) back in the builder's (id, _sh) layout."""
    return index_shingles.select("corpus_id", F.col("_sh_c").alias("_sh"))


def build_text_minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """One-time corpus MinHash index for streaming fuzzy dedup:
    (keys, shingles) where keys = (corpus_id, band, key) band buckets
    and shingles = (corpus_id, shingle array) for the exact-Jaccard
    verify — :func:`syncquill_spark.operators.dedup.minhash_band_keys`
    renamed to the index layout, so the keys equal those of every
    other MinHash operator (the stream gate's per-row form included)."""
    keys, sh = minhash_band_keys(corpus, id_col, text_col, k, n_perm, bands)
    return (
        keys.withColumnRenamed(id_col, "corpus_id"),
        sh.select(F.col(id_col).alias("corpus_id"), F.col("_sh").alias("_sh_c")),
    )


def text_near_dups_against_index(
    new_df: DataFrame,
    index_keys: DataFrame,
    index_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """(id_new, id_corpus, jac) — BATCH fuzzy dedup of a new snapshot
    against a PERSISTED corpus index (the frames ``save_index`` /
    ``load_index`` round-trip): only the new side is keyed, then the
    cross-pair core (band equi-join against the stored keys, distinct
    candidates, exact-Jaccard verify against the stored shingles).
    Same match set as
    :func:`syncquill_spark.operators.dedup.minhash_lsh_pairs_against`
    recomputing both sides from text — persistence is invisible, which
    is exactly what the registry's storage_index_roundtrip query
    asserts against that operator's own oracle. Streaming twin:
    :func:`stream_text_near_dups`.

    Scale shape: only the (small) new side is shingled per batch; the
    corpus index is read, never recomputed — the join keys are the
    skinny persisted (id, band, key) rows.
    """
    keys, sh = minhash_band_keys(new_df, id_col, text_col, k, n_perm, bands)
    return minhash_cross_pairs(
        keys, sh, id_col, index_keys, _index_shingles(index_shingles), "corpus_id",
        threshold,
    )


def merge_text_minhash_index(
    index_keys: DataFrame,
    index_shingles: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental index maintenance: extend a persisted corpus index
    with a new batch WITHOUT re-shingling the corpus — key the batch
    (same builder as ``build_text_minhash_index``) and union it onto
    the stored frames. The result must be INDISTINGUISHABLE from
    rebuilding over corpus+batch (same per-doc signatures either way —
    MinHash is per-doc, so an index is just the union of its docs'
    rows); the registry's ``storage_index_incremental`` query pins that
    identity to ``dedup_minhash_lsh``'s own oracle. At 100 TB this is
    the nightly shape: one batch-sized signature pass + a metadata
    append, never a corpus pass."""
    new_keys, new_sh = build_text_minhash_index(
        new_df, id_col=id_col, text_col=text_col, k=k, n_perm=n_perm, bands=bands
    )
    return (
        index_keys.unionByName(new_keys),
        index_shingles.unionByName(new_sh),
    )


def minhash_pairs_from_index(
    index_keys: DataFrame,
    index_shingles: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, jac) self-join near-dup pairs computed ENTIRELY
    from a stored index — no text needed: the self-pair core of
    :func:`syncquill_spark.operators.dedup.minhash_lsh_pairs` over the
    persisted rows. Output contract matches that operator recomputing
    from text — the identity that makes a persisted index trustworthy
    after any append (``merge_text_minhash_index``)."""
    return minhash_self_pairs(
        index_keys, _index_shingles(index_shingles), "corpus_id", threshold
    )


def stream_text_near_dups(
    stream: DataFrame,
    index_keys: DataFrame,
    index_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """(stream_id, corpus_id, jac) fuzzy matches: streamed documents
    whose MinHash bands collide with the corpus index, verified by
    exact Jaccard >= threshold — the fuzzy sibling of
    stream_drop_seen_text and the text sibling of
    stream_embedding_near_dups.

    The stream side is keyed per ROW (the builder's streaming form: no
    aggregation, no state store); candidates come from the
    stream-static (band, key) equi-join; the verify joins the corpus
    shingle arrays back by id. Matches repeat per colliding band —
    dedupe per batch downstream (same contract as the vector
    variant)."""
    keys, sh = minhash_band_keys(stream, id_col, text_col, k, n_perm, bands)
    return minhash_cross_pairs(
        keys, sh, id_col, index_keys, _index_shingles(index_shingles), "corpus_id",
        threshold, per_band=True,
    ).select(
        F.col("id_new").alias("stream_id"), F.col("id_corpus").alias("corpus_id"), "jac"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint index (round-7 verdict #3): the substring-match
# family gets the same ingest-time gate + persisted-index lifecycle as
# MinHash (above) and SRP (streaming/vector_dedup.py).
# ---------------------------------------------------------------------------


def build_winnowing_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """One-time corpus winnowing index: skinny (corpus_id, fp) rows —
    each document's DISTINCT selected fingerprints (int64), positions
    dropped (pair detection needs membership only; persist
    ``winnowing_fingerprints`` itself if match localization is needed).
    Persist via ``index_store.save_index``; nightly cost is one corpus
    fingerprint pass, after which every gate below reads the stored
    rows and never touches corpus text again."""
    from syncquill_spark.operators.text import winnowing_fingerprints

    return (
        winnowing_fingerprints(
            corpus, k=k, window=window, text_col=text_col, id_col=id_col
        )
        .select(F.col(id_col).alias("corpus_id"), "fp")
        .dropDuplicates(["corpus_id", "fp"])
    )


def merge_winnowing_index(
    index_fps: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Incremental maintenance: extend a persisted winnowing index with
    a new batch WITHOUT re-fingerprinting the corpus — winnowing
    selection is per-document, so an index is just the union of its
    docs' rows and append == rebuild by construction (the registry's
    ``storage_winnowing_index`` pins that identity to
    ``dedup_winnowing_pairs``' own oracle). Batch ids must be new
    (same single-writer contract as merge_text_minhash_index)."""
    return index_fps.unionByName(
        build_winnowing_index(
            new_df, id_col=id_col, text_col=text_col, k=k, window=window
        )
    )


def _rare_fps(fps: DataFrame, max_fp_df: int) -> DataFrame:
    """Fingerprints appearing in <= max_fp_df documents — the hub-key
    cap (corpus boilerplate carries no pair-discriminating signal and
    would make the candidate join quadratic)."""
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_fp_df)
        .select("fp")
    )


def winnowing_fp_df(index_fps: DataFrame) -> DataFrame:
    """(fp, df) document-frequency table of a winnowing index — the
    second persisted part of the index. Computed ONCE at build time
    and maintained incrementally by ``merge_winnowing_df``, so the
    per-batch gate never pays an index-wide aggregation just to apply
    the hub cap (the same batch-sized-nightly-cost contract as the
    MinHash merge path). Skinny (int64, int64) rows."""
    return index_fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )


def merge_winnowing_df(index_df: DataFrame, new_fps: DataFrame) -> DataFrame:
    """Incremental df maintenance: stored (fp, df) + a new batch's
    per-doc distinct fingerprints -> merged (fp, df). Equals
    ``winnowing_fp_df`` over the merged index exactly (batch ids are
    new, so counts simply add). Cost: one batch-sized aggregation +
    one outer join on int64 fp — never an index pass. ``new_fps`` is
    any (doc id, fp) frame with per-doc distinct rows (the id column
    name is irrelevant — df counts rows per fp)."""
    batch_df = winnowing_fp_df(new_fps)
    return (
        index_df.withColumnRenamed("df", "_df_a")
        .join(batch_df.withColumnRenamed("df", "_df_b"), "fp", "full_outer")
        .select(
            "fp",
            (
                F.coalesce(F.col("_df_a"), F.lit(0))
                + F.coalesce(F.col("_df_b"), F.lit(0))
            ).cast("long").alias("df"),
        )
    )


def _rare_from_df(index_df: DataFrame, max_fp_df: int) -> DataFrame:
    return index_df.filter(F.col("df") <= max_fp_df).select("fp")


def winnowing_pairs_from_index(
    index_fps: DataFrame,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared) substring-match pairs computed ENTIRELY
    from a stored index — no text: hub-cap on the persisted rows, int64
    equi-join on fp (id_a < id_b), distinct-fp count per pair. Output
    contract matches ``operators.text.winnowing_match_pairs``
    recomputing from text — the identity that makes the persisted index
    trustworthy after any ``merge_winnowing_index`` append.

    ``index_df``: the persisted (fp, df) part (``winnowing_fp_df`` /
    ``merge_winnowing_df``). When given, the hub cap filters against
    the STORED counts instead of re-aggregating the whole index —
    identical output (the stored df IS the index's df), one join
    instead of an index-wide groupBy."""
    fps = index_fps.select(F.col("corpus_id"), "fp")
    if max_fp_df is not None:
        rare = (
            _rare_from_df(index_df, max_fp_df)
            if index_df is not None
            else _rare_fps(fps, max_fp_df)
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col("fp"), F.col("corpus_id").alias("id_a"))
    b = fps.select(F.col("fp").alias("_fpb"), F.col("corpus_id").alias("id_b"))
    return (
        a.join(b, (a["fp"] == b["_fpb"]) & (a["id_a"] < b["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _gated_winnowing_matches(
    new_fps: DataFrame,
    index_fps: DataFrame,
    min_shared: int,
    max_fp_df: int | None,
    index_df: DataFrame | None,
) -> DataFrame:
    """The ingest gate's match logic on PRECOMPUTED batch fingerprints:
    union-basis hub cap (df over stored + batch, both sides filtered)
    then the (id_new, id_corpus, n_shared) match aggregation.

    ONE body shared by ``winnowing_matches_against`` (which winnows the
    batch text to produce ``new_fps``) and ``winnowing_spans_against``
    (which reuses the batch's persisted positions frame) — factored out
    in r12 (ADVICE r11: the duplicated inline copies could silently
    diverge; now they cannot, and the cross-corpus parity test pins
    both call paths with max_fp_df and index_df set).

    ``new_fps``: per-doc-distinct (id_new, fp) rows for the batch.
    ``index_df``: the persisted (fp, df) part — when given, the union
    df is stored df + the batch's own per-fp counts (batch ids are
    new, so counts simply add): one batch-sized aggregation + an outer
    join instead of an index-wide groupBy per batch."""
    corpus_fps = index_fps.select(F.col("corpus_id").alias("id_corpus"), "fp")
    if max_fp_df is not None:
        if index_df is not None:
            rare = _rare_from_df(merge_winnowing_df(index_df, new_fps), max_fp_df)
        else:
            rare = _rare_fps(
                corpus_fps.select("fp").unionAll(new_fps.select("fp")), max_fp_df
            )
        new_fps = new_fps.join(rare, "fp")
        corpus_fps = corpus_fps.join(rare, "fp")
    return (
        new_fps.join(corpus_fps, "fp")
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_matches_against(
    new_df: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """(id_new, id_corpus, n_shared) — the INGEST-TIME gate: a new
    batch's substring matches against a persisted corpus index. Only
    the batch is fingerprinted; the corpus side is the stored skinny
    (corpus_id, fp) rows.

    The hub-fingerprint document frequency is computed over the UNION
    of stored + batch fingerprints: df is a corpus property, and using
    the same basis a full rebuild would see keeps the gate's matches
    identical to ``winnowing_match_pairs`` over corpus+batch restricted
    to (new x corpus) pairs — the parity the registry's
    ``dedup_winnowing_against`` row asserts against a DuckDB oracle
    that never saw the index.

    ``index_df``: the persisted (fp, df) part. When given, the union
    df is stored df + the batch's own per-fp counts (batch ids are
    new, so counts simply add) — one batch-sized aggregation + an
    outer join, instead of an INDEX-wide groupBy per batch. Identical
    output; this is what keeps the nightly gate cost batch-sized, the
    same contract as the MinHash merge path.

    Streaming deployment: winnowing selection is a per-document window
    aggregation, which Structured Streaming cannot run inside a
    stream-static join — wrap this function in ``foreachBatch`` (each
    microbatch is a small batch DataFrame; only it is fingerprinted),
    the same shape as the incremental-sync recipe."""
    from syncquill_spark.operators.text import winnowing_fingerprints

    from syncquill_spark.operators._cache import tracked_persist

    new_fps = (
        winnowing_fingerprints(
            new_df, k=k, window=window, text_col=text_col, id_col=id_col
        )
        .select(F.col(id_col).alias("id_new"), "fp")
        .dropDuplicates(["id_new", "fp"])
    )
    # the gate consumes the batch fingerprints up to three times (the
    # union-basis df merge, the rare-fp filter join, the match join) —
    # unpersisted, each consumer re-winnows the batch text (guide
    # §2.4). Tracked for release between micro-batches (_cache.py);
    # winnowing is a window aggregation, so new_df is always a batch
    # frame here (foreachBatch deployment — see docstring).
    new_fps = tracked_persist(new_fps)
    return _gated_winnowing_matches(
        new_fps, index_fps, min_shared, max_fp_df, index_df
    )


def build_winnowing_positions(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Optional positions part of the winnowing index (round-8 verdict
    #6): skinny (corpus_id, fp, gram_pos) rows — the selected
    fingerprints WITH their 0-based k-gram positions, so matched pairs
    can be localized to token spans (the MOSS-report use-case the
    membership-only ``fps`` part deliberately drops). Persist through
    the same manifest (``save_index(path, fps=..., fpdf=...,
    positions=...)``); maintenance is the same union-of-batches as
    ``merge_winnowing_index`` — selection is per-document, so
    append == rebuild by construction. Pair DETECTION never reads
    this part; only span reporting does."""
    from syncquill_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(
        corpus, k=k, window=window, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("corpus_id"), "fp", "gram_pos")


def winnowing_match_spans(
    pairs: DataFrame,
    positions: DataFrame,
    k: int = 3,
    merge_gap: int | None = None,
    window: int = 4,
) -> DataFrame:
    """Localize detected substring-match pairs to token SPANS — the
    MOSS report: for each (id_a, id_b) pair, anchor every shared
    fingerprint at its positions in both documents, then merge anchors
    that lie on the same DIAGONAL (pos_b - pos_a constant — a
    contiguous copied passage advances both documents in lockstep)
    into runs wherever consecutive anchors are <= ``merge_gap`` grams
    apart (default ``window``: winnowing guarantees one selected
    fingerprint per window inside any real match, so a larger gap
    means the match genuinely broke).

    Inputs: ``pairs`` — (id_a, id_b[, n_shared]) from
    ``winnowing_pairs_from_index`` / ``winnowing_match_pairs``;
    ``positions`` — the persisted (corpus_id, fp, gram_pos) part.

    Output: (id_a, id_b, start_a, end_a, start_b, end_b, n_anchors) —
    token index spans (end = last gram position + k - 1, inclusive),
    all exact int64, ordered only by its columns (deterministic).

    Scale shape: two equi-joins of the skinny pair list against the
    skinny positions part (the pair list is already hub-capped by
    detection, so anchor volume is bounded by matched fingerprints,
    not the corpus), one window over (pair, diagonal) — partition key
    is the pair, so no partition exceeds one pair's anchors — and one
    aggregation. Never touches text.
    """
    from pyspark.sql import Window

    if merge_gap is None:
        merge_gap = window
    a = positions.select(
        F.col("corpus_id").alias("id_a"), "fp", F.col("gram_pos").alias("_pa")
    )
    b = positions.select(
        F.col("corpus_id").alias("id_b"), "fp", F.col("gram_pos").alias("_pb")
    )
    anchors = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "fp"])
        .select("id_a", "id_b", "_pa", "_pb", (F.col("_pb") - F.col("_pa")).alias("_diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "_diag").orderBy("_pa")
    runs = (
        anchors.withColumn("_prev", F.lag("_pa").over(w))
        .withColumn(
            "_new_run",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_pa") - F.col("_prev") > merge_gap),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_run",
            F.sum("_new_run").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return runs.groupBy("id_a", "id_b", "_diag", "_run").agg(
        F.min("_pa").cast("long").alias("start_a"),
        (F.max("_pa") + F.lit(k - 1)).cast("long").alias("end_a"),
        F.min("_pb").cast("long").alias("start_b"),
        (F.max("_pb") + F.lit(k - 1)).cast("long").alias("end_b"),
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
    ).select(
        "id_a", "id_b", "start_a", "end_a", "start_b", "end_b", "n_anchors"
    )


def winnowing_self_spans(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    merge_gap: int | None = None,
) -> DataFrame:
    """Within-corpus substring-match detection + span localization
    over ONE winnowing pass. Composing the pieces naively —
    ``winnowing_match_pairs(corpus)`` then
    ``winnowing_match_spans(pairs, build_winnowing_positions(corpus))``
    — evaluates the winnowing selection subtree (tokenize, k-gram
    hash, per-doc window minima) up to three times: once for the pair
    basis and once per anchor side of the span join. At corpus scale
    the selection IS the dominant cost, so here the positions frame is
    computed once and persisted (tracked — a batch driver releases it
    via ``operators._cache.release_cached_intermediates``), the pair
    list derives from its distinct (corpus_id, fp) rows through
    :func:`winnowing_pairs_from_index` (output-identical to
    ``winnowing_match_pairs`` recomputing from text — the same pinned
    identity the persisted index relies on), and the span merge reads
    the same persisted frame on both anchor sides.

    Output and parameters match
    ``winnowing_match_spans(winnowing_match_pairs(...), ...)``
    row-for-row (unit-pinned)."""
    from syncquill_spark.operators._cache import tracked_persist

    positions = build_winnowing_positions(
        corpus, id_col=id_col, text_col=text_col, k=k, window=window
    )
    # feeds the distinct-fp pair basis AND both sides of the anchor
    # join — one winnowing pass instead of three
    positions = tracked_persist(positions)
    fps = positions.select("corpus_id", "fp").dropDuplicates()
    pairs = winnowing_pairs_from_index(
        fps, min_shared=min_shared, max_fp_df=max_fp_df
    )
    return winnowing_match_spans(
        pairs, positions, k=k, merge_gap=merge_gap, window=window
    )


def build_simhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """One-time corpus SimHash index: ONE skinny (corpus_id, simhash)
    int64 row per document — 16 bytes/doc, the cheapest of the four
    index families. The fingerprint is a per-document aggregation
    (bit votes over the doc's own tokens), so an index is just the
    union of its docs' rows and append == rebuild by construction —
    the same argument as the winnowing index. Persist via
    ``index_store.save_index(path, fps=...)``; no df part is needed
    (band-bucket hub insurance, when wanted, is an optional cap at
    query time — see ``simhash_pairs_from_index``)."""
    from syncquill_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(corpus, id_col, text_col, bits).select(
        F.col(id_col).alias("corpus_id"), "simhash"
    )


def merge_simhash_index(
    index_fps: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Incremental maintenance: extend a persisted SimHash index with a
    new batch WITHOUT re-fingerprinting the corpus — only the batch is
    tokenized; nightly cost is the batch, not the corpus. Batch ids
    must be new (single-writer contract, as the other index families)."""
    return index_fps.unionByName(
        build_simhash_index(new_df, id_col=id_col, text_col=text_col, bits=bits)
    )


def simhash_pairs_from_index(
    index_fps: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs computed ENTIRELY from a
    stored SimHash index — no text: band-explode the persisted
    (corpus_id, simhash) rows, equi-join on (band, val), one
    bit_count(xor) verify per distinct candidate. Output contract
    matches ``operators.dedup.simhash_near_pairs`` recomputing from
    text (with ``max_band_df=None``) — the identity that makes the
    persisted index trustworthy after any ``merge_simhash_index``
    append."""
    from syncquill_spark.operators.dedup import simhash_pairs_from_fingerprints

    return simhash_pairs_from_fingerprints(
        index_fps,
        id_col="corpus_id",
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        max_band_df=max_band_df,
    ).select("id_a", "id_b", "hamming")


def simhash_matches_against(
    new_df: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_df: int | None = None,
) -> DataFrame:
    """(id_new, id_corpus, hamming) — the INGEST-TIME gate: a new
    batch's SimHash near-matches against a persisted corpus index.
    Only the batch is fingerprinted; the corpus side is the stored
    skinny (corpus_id, simhash) rows.

    Parity: with batch ids disjoint from corpus ids the output equals
    ``simhash_near_pairs`` over corpus+batch restricted to
    (new x corpus) pairs — the gate == full-rebuild identity every
    index family in this module pins. When ``max_band_df`` is set, the
    bucket df basis is the UNION of stored + batch band rows (bucket
    df is a corpus property), keeping that identity exact.

    Streaming deployment: the SimHash fingerprint is a per-document
    aggregation, which Structured Streaming cannot run inside a
    stream-static join — wrap this in ``foreachBatch`` (each
    microbatch is a small batch frame; only it is fingerprinted), the
    same shape as the winnowing and incremental-sync gates."""
    from syncquill_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_matches_between,
    )

    fp_new = simhash_fingerprints(new_df, id_col, text_col, bits).select(
        F.col(id_col).alias("id_new"), "simhash"
    )
    fp_corpus = index_fps.select(F.col("corpus_id").alias("id_corpus"), "simhash")
    return simhash_matches_between(
        fp_new,
        fp_corpus,
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        max_band_df=max_band_df,
    )


def winnowing_spans_against(
    new_df: DataFrame,
    index_fps: DataFrame,
    index_positions: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    index_df: DataFrame | None = None,
    merge_gap: int | None = None,
) -> DataFrame:
    """The CONTAMINATION REPORT: a new batch's substring matches
    against a persisted corpus index, localized to token spans in BOTH
    documents — the decontamination use-case (which training documents
    overlap the eval set, and exactly WHERE), composed from the
    ingest gate (`winnowing_matches_against`) and the MOSS span merge
    (`winnowing_match_spans`).

    Only the batch's text is read: its fingerprints AND positions come
    from one winnowing pass; the corpus side is the stored
    (corpus_id, fp) part for matching and the stored
    (corpus_id, fp, gram_pos) positions part for localization. Batch
    ids must be disjoint from corpus ids (single-writer contract),
    which is what lets one positions frame serve both sides of the
    span join.

    Output: (id_new, id_corpus, start_new, end_new, start_corpus,
    end_corpus, n_anchors) — all exact int64 token indices
    (end = last gram + k - 1, inclusive).

    One winnowing pass (r11): composing the gate and the span merge
    naively winnows the batch text twice — once inside
    ``winnowing_matches_against`` for the batch's fps and once here
    for its positions. The batch positions are computed once instead,
    persisted (tracked — release via
    ``operators._cache.release_cached_intermediates`` between
    batches), and the gate's match logic runs on their distinct
    (id, fp) rows through the SAME ``_gated_winnowing_matches`` body
    ``winnowing_matches_against`` uses (shared since r12 — the two
    inline copies could previously diverge; the contamination-report
    parity test additionally exercises the max_fp_df and index_df
    branches of this path).
    """
    from syncquill_spark.operators._cache import tracked_persist
    from syncquill_spark.operators.text import winnowing_fingerprints

    batch_positions = winnowing_fingerprints(
        new_df, k=k, window=window, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("corpus_id"), "fp", "gram_pos")
    # feeds the gate's fps basis AND the span join's batch side
    batch_positions = tracked_persist(batch_positions)

    # the gate, on precomputed batch fingerprints — THE SAME body as
    # winnowing_matches_against (shared helper, ADVICE r11), minus the
    # second winnowing pass over the batch text
    new_fps = batch_positions.select(
        F.col("corpus_id").alias("id_new"), "fp"
    ).dropDuplicates(["id_new", "fp"])
    matches = _gated_winnowing_matches(
        new_fps, index_fps, min_shared, max_fp_df, index_df
    )
    pairs = matches.select(
        F.col("id_new").alias("id_a"), F.col("id_corpus").alias("id_b")
    )
    positions = batch_positions.unionByName(
        index_positions.select("corpus_id", "fp", "gram_pos")
    )
    return winnowing_match_spans(
        pairs, positions, k=k, merge_gap=merge_gap, window=window
    ).select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_corpus"),
        F.col("start_a").alias("start_new"),
        F.col("end_a").alias("end_new"),
        F.col("start_b").alias("start_corpus"),
        F.col("end_b").alias("end_corpus"),
        "n_anchors",
    )
