"""Deduplication operators for LLM training-data pipelines (EXT tier).

Four strategies, all designed scale-first:

- exact: group on sha2(text) — fixed-width shuffle keys instead of
  full document bodies; one shuffle, map-side partial agg.
- n-gram Jaccard: exact pairwise verification within cheap blocking
  buckets (language + length band) — the verifiable reference path.
- MinHash + LSH: signature -> banded bucket join -> candidate pairs ->
  exact Jaccard verify. The 100 TB path: candidate generation touches
  only hash buckets (near-linear), never the O(n^2) pair space.
- SimHash: one 32-bit locality-sensitive fingerprint per doc; hamming
  distance on candidate pairs from identical high-bit prefixes.

Everything is built-in-function DataFrame code (no Python UDFs); all
hashes are md5-derived so DuckDB oracles reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from syncquill_spark.operators._cache import tracked_persist
from syncquill_spark.functions.hashing import (
    HASH_PRIME,
    jaccard_verify,
    minhash_from_hashes,
    minhash_permutations,
    portable_hash60,
    shingle_hashes,
    word_shingles_from_tokens,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per distinct text; expose group size."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("_h"))
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def _tokens(text_col: str):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = ("lang",),
    length_band: int | None = 64,
    length_col: str = "n_chars",
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact k-shingle Jaccard near-dup pairs within blocking buckets.

    Blocking (same lang + same length band) keeps the self-join from
    exploding: pairs are only generated inside buckets. At 100 TB the
    bucket self-join shuffles once on the block key; MinHash-LSH below
    replaces it when buckets are still too large.

    Output: (id_a, id_b, jac) with id_a < id_b, jac as double computed
    from exact integer set sizes (cross-engine stable).

    Physical strategy: a set-similarity join, NOT a bucket cross-join.
    Shingles are 64-bit-hashed so the equi-join shuffle carries fixed
    8-byte keys instead of arbitrary-length k-grams (jac unchanged
    unless two distinct shingles of one joined pair collide in 64 bits
    -- vanishing, and the string-joining DuckDB oracle would flag it).

    ``prefix_filter`` (default; the AllPairs/PPJoin principle): give
    shingles a global total order (ascending corpus frequency, hash as
    tie-break) and join each doc on only its FIRST
    p = n - ceil(t*n) + 1 shingles in that order. Complete for the
    threshold: for any pair with jac >= t, the smallest common shingle
    sits in BOTH prefixes (if it missed A's prefix, all p of A's
    prefix shingles would be smaller-and-not-shared, so
    overlap <= n_a - p = ceil(t*n_a) - 1 < ceil(t*n_a) <= overlap --
    contradiction). This is the 100 TB answer to hub shingles:
    ultra-frequent k-grams sort LAST and never enter a prefix, so the
    hot-bucket candidate blowup of a naive shingle join disappears.
    Candidates verify with exact array-intersect Jaccard from the
    persisted per-doc hash arrays -- output identical to the
    exhaustive form (asserted in tests).

    ``prefix_filter=False``: every shingle joins and the intersection
    size is counted directly from join matches (no verify pass) --
    fewer stages; fine when no shingle is hot. Both paths operate on
    the 64-bit HASHED shingle sets (same xxhash64 projection above),
    so `_n`, the intersection counts, and `jac` share the identical
    vanishing-collision caveat -- not exact-string shingle counting.

    Band-edge recall: candidate pairs span ADJACENT length bands too
    (|band_a - band_b| <= 1): the a-side emits its (prefix) shingles
    under band keys {band-1, band, band+1} while the b-side keeps its
    single band key, so every qualifying pair matches under exactly
    one key. Cost: the a-side explode is 3x -- bounded, one side only.
    """
    # tokens in their own projection: the regex split runs once per row
    # (word_shingles_from_tokens references it k+1 times; inlined, the
    # interpreted evaluator would re-split per reference).
    band_cols = ["_band"] if length_band else []
    # frames without a precomputed length column derive it from the
    # text — same value (n_chars IS length(text) in this engine's
    # loaders), so plans over the standard tables are unchanged; a
    # bare (id, text, lang) frame no longer fails analysis
    length_src = (
        F.col(length_col)
        if length_col in df.columns
        else F.length(F.col(text_col))
    )
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        *( [ (length_src / length_band).cast("long").alias("_band") ]
           if length_band else [] ),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        *band_cols,
        F.array_distinct(
            F.transform(
                word_shingles_from_tokens(F.col("_toks"), k),
                lambda s: F.xxhash64(s),
            )
        ).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    # feeds the prefix-filter frequency pass, both candidate-join
    # sides, and the verify join's shingle lookups; tracked so a
    # batch driver can release it between calls (_cache.py)
    base = tracked_persist(base)
    sh = base.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        *band_cols,
        "_n",
        F.explode("_sh").alias("_s"),
    )
    block = list(block_cols) + band_cols

    if prefix_filter:
        freq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_f"))
        by_rarity = Window.partitionBy(id_col).orderBy(
            F.col("_f").asc(), F.col("_s").asc()
        )
        p = (
            F.col("_n")
            - F.ceil(F.lit(float(threshold)) * F.col("_n")).cast("long")
            + F.lit(1)
        )
        join_side = (
            sh.join(freq, "_s")
            .withColumn("_rn", F.row_number().over(by_rarity))
            .filter(F.col("_rn") <= p)
            .select(F.col(id_col), *[F.col(c) for c in block], "_s")
        )
    else:
        join_side = sh

    a = join_side.select(
        *[F.col(c).alias(f"_l_{c}") for c in block_cols],
        *(
            [
                F.explode(
                    F.array(
                        F.col("_band") - 1, F.col("_band"), F.col("_band") + 1
                    )
                ).alias("_l__band")
            ]
            if length_band
            else []
        ),
        F.col("_s").alias("_ls"),
        F.col(id_col).alias("id_a"),
        *([] if prefix_filter else [F.col("_n").alias("_na")]),
    )
    b = join_side.select(
        *[F.col(c).alias(f"_r_{c}") for c in block],
        F.col("_s").alias("_rs"),
        F.col(id_col).alias("id_b"),
        *([] if prefix_filter else [F.col("_n").alias("_nb")]),
    )
    cond = (
        [a[f"_l_{c}"] == b[f"_r_{c}"] for c in block]
        + [a["_ls"] == b["_rs"], a["id_a"] < b["id_b"]]
    )

    if prefix_filter:
        cand = (
            a.join(b, cond).select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        )
        sh_a = base.select(
            F.col(id_col).alias("_ia"), F.col("_sh").alias("_sh_a"),
            F.col("_n").alias("_na"),
        )
        sh_b = base.select(
            F.col(id_col).alias("_ib"), F.col("_sh").alias("_sh_b"),
            F.col("_n").alias("_nb"),
        )
        inter_sz = F.size(F.array_intersect("_sh_a", "_sh_b"))
        return (
            cand.join(sh_a, F.col("id_a") == F.col("_ia"))
            .join(sh_b, F.col("id_b") == F.col("_ib"))
            .select(
                "id_a",
                "id_b",
                (
                    inter_sz.cast("double")
                    / (F.col("_na") + F.col("_nb") - inter_sz).cast("double")
                ).alias("jac"),
            )
            .filter(F.col("jac") >= threshold)
        )

    inter = F.count(F.lit(1))
    return (
        a.join(b, cond)
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(inter.alias("_i"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("_i").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def _rows_per_band(n_perm: int, bands: int) -> int:
    """The ONE MinHash bands/n_perm check: rows per band, or a named
    refusal (an explicit raise — asserts vanish under -O, r15)."""
    if bands < 1 or n_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide n_perm={n_perm}")
    return n_perm // bands


def _band_keys(sh: DataFrame, id_col: str, n_perm: int, bands: int, per_row: bool) -> DataFrame:
    """(id, _band, _key) rows, one per band per doc, from an (id, _sh)
    shingle frame. Two signature forms with identical values (unit-
    pinned, sub-k and empty docs included — both give the sentinel P
    signature):

    - grouped (``per_row=False``): explode + ONE groupBy with n_perm
      codegen ``min()`` aggregates — map-side partial agg, no
      interpreted lambda folds; explode_outer keeps empty-shingle docs
      (null hash -> min() ignores it -> coalesced to P).
    - per-row (``per_row=True``): ``array_min`` over each permuted hash
      array, aggregation-free — the only form a stream can run. Hashes
      land in their own projection first (functions.hashing
      ``shingle_hashes``: no interpreted subexpression sharing).
    """
    r = _rows_per_band(n_perm, bands)
    if per_row:
        sig = (
            sh.select(F.col(id_col), shingle_hashes(F.col("_sh")).alias("_h"))
            .select(F.col(id_col), minhash_from_hashes(F.col("_h"), n_perm).alias("_sig"))
        )
        # literal-index reads of the array collapse to the per-perm
        # expressions (SimplifyExtractValueOps)
        mins = sig.select(
            F.col(id_col), *[F.col("_sig")[j].alias(f"_m{j}") for j in range(n_perm)]
        )
    else:
        ex = sh.select(
            F.col(id_col), F.explode_outer("_sh").alias("_s")
        ).withColumn("_h", portable_hash60(F.col("_s")) % HASH_PRIME)
        mins = ex.groupBy(id_col).agg(
            *[
                F.coalesce(
                    F.min((F.lit(a) * F.col("_h") + F.lit(b)) % HASH_PRIME),
                    F.lit(HASH_PRIME).cast("long"),
                ).alias(f"_m{j}")
                for j, (a, b) in enumerate(minhash_permutations(n_perm))
            ]
        )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"_m{bi * r + o}").cast("string") for o in range(r)]
            ).alias("key"),
        )
        for bi in range(bands)
    ]
    return mins.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(id_col, F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """THE MinHash-LSH key builder every MinHash operator, index and
    gate composes: ``(keys, shingles)`` with keys = (id, _band, _key),
    one row per band per doc, and shingles = (id, _sh), the doc's
    distinct word k-shingles for the exact-Jaccard verify.

    The signature form follows the input, nothing else: a batch frame
    takes the grouped form with the shingle frame tracked-persisted (it
    feeds the signature AND the verify), a streaming frame takes the
    per-row form (a stream can neither aggregate inside a stream-static
    join nor persist). The grouped form is the cheaper one at scale
    (SCALE.md); the two emit identical keys, so a stream gate matches a
    batch-built index. Keys are not persisted here: most callers read
    them once, and a persist then only adds a cache write.
    """
    _rows_per_band(n_perm, bands)  # refuse before persisting anything
    # tokens in their own projection: the shingle expression references
    # them k+1 times and interpreted evaluation would re-split per use
    sh = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    ).select(
        F.col(id_col),
        F.array_distinct(word_shingles_from_tokens(F.col("_toks"), k)).alias("_sh"),
    )
    if not df.isStreaming:
        # tracked (not bare) so release_cached_intermediates() frees it
        # between batches (_cache.py)
        sh = tracked_persist(sh)
    return _band_keys(sh, id_col, n_perm, bands, per_row=df.isStreaming), sh


def _jaccard_verified(
    cand: DataFrame,
    a: str,
    b: str,
    sh_a: DataFrame,
    a_src: str,
    sh_b: DataFrame,
    b_src: str,
    threshold: float,
) -> DataFrame:
    """The ONE MinHash verify tail: (a, b, jac) for candidate rows
    (a, b), jac the exact Jaccard of the two (id, _sh) shingle arrays
    looked up by id (``a_src``/``b_src`` name the lookup frames' id
    columns). Candidates are ~duplicate-count rows, so this is two
    joins of a small frame against the shingle frames, never a
    re-shingling. jac is NULL when both sets are empty (sentinel-
    signature collisions of sub-k docs): ANSI 0/0 would abort the job
    (functions.hashing.jaccard_verify), and NULL fails the filter."""
    la = sh_a.select(F.col(a_src).alias("_ia"), F.col("_sh").alias("_sh_a"))
    lb = sh_b.select(F.col(b_src).alias("_ib"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        cand.join(la, F.col(a) == F.col("_ia"))
        .join(lb, F.col(b) == F.col("_ib"))
        .select(a, b, jaccard_verify(inter, union).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def minhash_self_pairs(
    keys: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jac) with id_a < id_b: the self-pair core — band
    bucket self-equi-join on (band, key), distinct candidates, exact-
    Jaccard verify. ``keys``/``sh`` are :func:`minhash_band_keys`
    frames, built from text or loaded from a persisted index."""
    left = keys.select(
        F.col("_band").alias("_lb"), F.col("_key").alias("_lk"),
        F.col(id_col).alias("id_a"),
    )
    right = keys.select(
        F.col("_band").alias("_rb"), F.col("_key").alias("_rk"),
        F.col(id_col).alias("id_b"),
    )
    cand = (
        left.join(
            right,
            (left["_lb"] == right["_rb"]) & (left["_lk"] == right["_rk"])
            & (left["id_a"] < right["id_b"]),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verified(cand, "id_a", "id_b", sh, id_col, sh, id_col, threshold)


def minhash_cross_pairs(
    keys_new: DataFrame,
    sh_new: DataFrame,
    new_id: str,
    keys_corpus: DataFrame,
    sh_corpus: DataFrame,
    corpus_id: str,
    threshold: float,
    per_band: bool = False,
) -> DataFrame:
    """(id_new, id_corpus, jac): the cross-pair core — new-side band
    keys equi-joined to corpus-side keys on (band, key), exact-Jaccard
    verified. Batch contract: id_new != id_corpus, one row per pair.
    ``per_band=True`` is the stream contract: one row per colliding
    band and no id filter (a stream cannot drop duplicates globally;
    callers dedupe per microbatch)."""
    kn = keys_new.select("_band", "_key", F.col(new_id).alias("id_new"))
    kc = keys_corpus.select("_band", "_key", F.col(corpus_id).alias("id_corpus"))
    cand = kn.join(kc, ["_band", "_key"]).select("id_new", "id_corpus")
    if not per_band:
        cand = cand.filter(F.col("id_new") != F.col("id_corpus")).dropDuplicates(
            ["id_new", "id_corpus"]
        )
    return _jaccard_verified(
        cand, "id_new", "id_corpus", sh_new, new_id, sh_corpus, corpus_id, threshold
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with exact Jaccard verify.

    signature (n_perm mins) -> split into `bands` bands of n_perm/bands
    rows -> explode one row per (band_idx, band_key) -> self-join on the
    band bucket -> distinct candidate pairs -> verify with true shingle
    Jaccard >= threshold. Output: (id_a, id_b, jac) with id_a < id_b.

    Scale: the only joins are equi-joins on (band_idx, band_signature);
    candidate count ~ true-duplicate count, never O(n^2). Probability a
    pair at similarity s collides: 1-(1-s^r)^b with r = n_perm/bands.
    """
    keys, sh = minhash_band_keys(df, id_col, text_col, k, n_perm, bands)
    # keys feed BOTH self-join sides; unpersisted, the n_perm-min
    # signature aggregation runs twice
    return minhash_self_pairs(tracked_persist(keys), sh, id_col, threshold)


def minhash_lsh_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental (cross-corpus) near-dup detection: new documents
    whose MinHash bands collide with the EXISTING corpus, verified by
    exact Jaccard. The ingest-time dedup shape: a fresh crawl snapshot
    is checked against everything already kept, and only the new side
    is small.

    Output: (id_new, id_corpus, jac) with jac >= threshold and
    id_new != id_corpus — no corpus self-pairs, no new self-pairs.
    Both sides are keyed from text here; a production pipeline persists
    the corpus's keys as an index and keys only the new side per
    snapshot (``streaming.text_dedup.text_near_dups_against_index``,
    the same cross-pair core).
    """
    kn, sn = minhash_band_keys(new_df, id_col, text_col, k, n_perm, bands)
    kc, sc = minhash_band_keys(corpus_df, id_col, text_col, k, n_perm, bands)
    return minhash_cross_pairs(kn, sn, id_col, kc, sc, id_col, threshold)


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash fingerprint (int64 carrying `bits` bits).

    Explode tokens, ONE groupBy with `bits` codegen sum() aggregates
    (per-bit +1/-1 votes), then pack sign bits — no interpreted lambda
    folds, map-side partial agg at scale. Votes from null tokens (null
    text) count 0, matching the fold form's all-zero fingerprint.

    ``bits`` may go up to 64 (the int64 carrier; the r12 fix — bit 63
    packs as the two's-complement sign-bit literal, a plain
    ``lit(2**63)`` overflows the JVM long and crashed any bits=64
    call). Entropy note: the token hash is 60-bit
    (``portable_hash60``), so bit positions 60-63 draw their votes
    from always-zero hash bits and pack to 0 for every document —
    harmless (shared dead bits can never separate a pair) but
    informationless; prefer ``bits <= 60`` when widening the
    fingerprint with the corpus (the SCALE.md knob: band width must
    grow with log2(corpus)).
    """
    ex = df.select(
        F.col(id_col), F.explode_outer(_tokens(text_col)).alias("_t")
    ).withColumn("_h", portable_hash60(F.col("_t")))
    vote = lambda b: (  # noqa: E731
        F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1
    )
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(F.coalesce(vote(b), F.lit(0))).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    packed = None
    for b in range(bits):
        # b == 63 is the sign bit: its int64 value is -(2**63) in
        # two's complement (lit(2**63) itself overflows the JVM long).
        # Summing it last keeps every intermediate in range: the lower
        # 63 bits total at most 2**63 - 1.
        weight = 2**b if b < 63 else -(2**63)
        bit = F.when(F.col(f"_v{b}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = bit if packed is None else packed + bit
    return votes.select(F.col(id_col), packed.alias("simhash"))


def simhash_band_layout(bits: int, bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band, distributing `bits` as evenly as
    possible (wider bands first). Shared with the oracle SQL generator
    so both engines block on identical bit ranges."""
    widths = [bits // bands + (1 if i < bits % bands else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    return list(zip(offsets, widths))


def _resolve_bands(max_hamming: int, bands: int | None) -> int:
    if max_hamming < 0:
        # r16 battery probe: max_hamming=-1 defaulted to ZERO bands,
        # which slid under the pigeonhole check (0 <= -1 is false) and
        # surfaced as a baffling VOID-type AnalysisException from the
        # empty band array; refuse by name instead
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_bands = bands if bands is not None else max_hamming + 1
    # pigeonhole: with <= max_hamming differing bits and > max_hamming
    # bands, some band must be identical; fewer bands silently lose
    # the full-recall guarantee. An explicit raise, not an assert:
    # asserts vanish under python -O and this guard is the only thing
    # standing between a mis-parameterized gate and silent recall loss
    # (r15 battery sweep)
    if n_bands <= max_hamming:
        raise ValueError(
            f"bands={n_bands} must exceed max_hamming={max_hamming} "
            "for full recall"
        )
    return n_bands


def _simhash_banded(
    fp: DataFrame, id_col: str, layout: list[tuple[int, int]]
) -> DataFrame:
    """Explode a (id, simhash) frame into (id, simhash, _band, _val)
    rows — one skinny int row per band per doc, the candidate-join
    keys of the banded blocking scheme."""
    return fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), off)
                        # w == 64 (one band over the full carrier,
                        # legal at max_hamming=0): the all-ones mask
                        # is -1 in two's complement; (1 << 64) - 1
                        # overflows the JVM long
                        .bitwiseAND(F.lit((1 << w) - 1 if w < 64 else -1))
                        .alias("val"),
                    )
                    for bi, (off, w) in enumerate(layout)
                ]
            )
        ).alias("_b"),
    ).select(
        id_col,
        "simhash",
        F.col("_b.band").alias("_band"),
        F.col("_b.val").alias("_val"),
    )


def _cap_band_hubs(banded: DataFrame, max_band_df: int) -> DataFrame:
    """Drop (band, val) bucket keys held by more than ``max_band_df``
    docs — the hub-key insurance of the winnowing family applied to
    SimHash banding: a bucket of B docs yields B^2 candidate rows, and
    on exact-duplicate-heavy corpora one shared fingerprint would
    funnel every copy into the same quadratic bucket. Lossy by design
    (pairs relying only on a dropped band are missed) — run
    ``exact_dedup`` upstream so full duplicates never reach this join,
    and keep the cap as insurance, exactly like ``max_fp_df``."""
    rare = (
        banded.groupBy("_band", "_val")
        .agg(F.count(F.lit(1)).alias("_bdf"))
        .filter(F.col("_bdf") <= max_band_df)
        .select("_band", "_val")
    )
    return banded.join(rare, ["_band", "_val"])


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs from a precomputed
    (id, simhash) frame — the band-join core of ``simhash_near_pairs``
    factored out so a PERSISTED fingerprint index can drive it without
    re-reading text (``streaming.text_dedup.simhash_pairs_from_index``).

    ``max_band_df``: optional hub-bucket cap (see ``_cap_band_hubs``);
    default None preserves exact full-recall parity with
    ``simhash_near_pairs``."""
    layout = simhash_band_layout(bits, _resolve_bands(max_hamming, bands))
    keyed = _simhash_banded(fp, id_col, layout)
    if max_band_df is not None:
        keyed = _cap_band_hubs(keyed, max_band_df)
    keyed = tracked_persist(keyed)  # feeds both join sides
    a = keyed.select(
        F.col("_band").alias("_ba"), F.col("_val").alias("_va"),
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = keyed.select(
        F.col("_band").alias("_bb"), F.col("_val").alias("_vb"),
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    cand = (
        a.join(
            b,
            (a["_ba"] == b["_bb"]) & (a["_va"] == b["_vb"]) & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_matches_between(
    fp_new: DataFrame,
    fp_corpus: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_df: int | None = None,
) -> DataFrame:
    """(id_new, id_corpus, hamming) cross-corpus SimHash matches — the
    ingest-gate shape: a batch's fingerprints against a (typically
    persisted) corpus fingerprint frame. Inputs are (id_new, simhash)
    and (id_corpus, simhash); only band rows travel, never text.

    Parity contract: with new ids disjoint from corpus ids, the output
    equals ``simhash_pairs_from_fingerprints`` over the UNION of both
    frames restricted to (new x corpus) pairs — the same gate==rebuild
    identity the winnowing/MinHash gates pin. ``max_band_df`` (when
    set) is therefore applied over the union basis: bucket df is a
    corpus property, and using the basis a full rebuild would see is
    what keeps that identity exact."""
    layout = simhash_band_layout(bits, _resolve_bands(max_hamming, bands))
    kn = _simhash_banded(fp_new, "id_new", layout)
    kc = _simhash_banded(fp_corpus, "id_corpus", layout)
    if max_band_df is not None:
        rare = (
            kn.select("_band", "_val")
            .unionAll(kc.select("_band", "_val"))
            .groupBy("_band", "_val")
            .agg(F.count(F.lit(1)).alias("_bdf"))
            .filter(F.col("_bdf") <= max_band_df)
            .select("_band", "_val")
        )
        kn = kn.join(rare, ["_band", "_val"])
        kc = kc.join(rare, ["_band", "_val"])
    cand = (
        kn.select(
            "_band", "_val", "id_new", F.col("simhash").alias("sh_n")
        )
        .join(
            kc.select(
                "_band", "_val", "id_corpus", F.col("simhash").alias("sh_c")
            ),
            ["_band", "_val"],
        )
        .select("id_new", "id_corpus", "sh_n", "sh_c")
        .dropDuplicates(["id_new", "id_corpus"])
    )
    ham = F.bit_count(F.col("sh_n").bitwiseXOR(F.col("sh_c")))
    return (
        cand.select("id_new", "id_corpus", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance with banded
    (pigeonhole) blocking: the fingerprint splits into
    ``max_hamming + 1`` bit-bands, and any pair within ``max_hamming``
    differing bits must agree EXACTLY on at least one band — so the
    per-band equi-join has full recall, unlike single-prefix blocking
    (which misses pairs whose differing bits fall inside the prefix).

    Scale shape: each doc emits `bands` skinny (band, value, id, fp)
    rows; candidates come from equi-joins on (band, value) — bucket
    sizes ~ n / 2^band_width per band, never the O(n^2) pair space —
    then one bit_count(xor) verify per distinct candidate.

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming as int.
    """
    return simhash_pairs_from_fingerprints(
        simhash_fingerprints(df, id_col, text_col, bits),
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    name_col: str = "name",
    max_dist: int = 2,
    max_token_df: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Record linkage / entity resolution over SHORT strings (names,
    titles, addresses): find id pairs whose names are within
    ``max_dist`` Levenshtein edits — the classic block-then-verify
    shape, sized for strings where O(len^2) edit distance is cheap but
    the corpus cross product is not.

    Blocking: candidates share at least one whitespace token (after
    optional lowercasing). Any pair within a small edit distance of
    multi-token names almost always preserves one token verbatim;
    single-token names pair only on exact token equality — stated
    recall contract, same spirit as every banded blocker here.
    ``max_token_df`` drops blocking tokens shared by more than that
    many records (the hub cap: a stopword-like token makes its block
    quadratic; lossy for pairs whose ONLY shared token is capped —
    insurance, off by default).

    Verify: built-in banded Levenshtein (JVM codegen, abandons early
    above the threshold) behind an exact length pre-filter
    (|len_a - len_b| > max_dist is impossible). Exact integer output.
    Cross-engine caveat (measured, pinned in tests): Spark's
    levenshtein edits CHARACTERS while DuckDB's edits UTF-8 BYTES —
    identical on ASCII, divergent on accented text ('í' -> substitute
    costs 1 vs 2). An oracle twin is exact only for ASCII names;
    normalize/strip accents upstream for multilingual catalogs.

    Scale shape: one explode + distinct for the token table (skinny
    id+token rows), one self-equi-join per block, and the verify runs
    only on candidates. Names travel only to the candidate join (short
    strings); no corpus cross product anywhere.

    Output: (id_a, id_b, dist) — ints only.
    """
    nm = F.trim(F.col(name_col))
    if lowercase:
        nm = F.lower(nm)
    names = df.select(F.col(id_col).alias("_id"), nm.alias("_nm"))
    # persisted: the token table feeds BOTH sides of the blocking
    # self-join (and the hub-cap df aggregation when enabled) — without
    # it the explode+distinct shuffle recomputes per consumer
    toks = (
        names.select(
            "_id", F.explode(F.split("_nm", r"\s+")).alias("_tok")
        )
        .filter(F.col("_tok") != "")
        .distinct()
    )
    toks = tracked_persist(toks)
    if max_token_df is not None:
        rare = (
            toks.groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_token_df)
            .select("_tok")
        )
        toks = toks.join(rare, "_tok")
    cand = (
        toks.alias("a")
        .join(toks.alias("b"), "_tok")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    scored = (
        cand.join(names.select(F.col("_id").alias("id_a"), F.col("_nm").alias("_na")), "id_a")
        .join(names.select(F.col("_id").alias("id_b"), F.col("_nm").alias("_nb")), "id_b")
        .filter(
            F.abs(F.length("_na") - F.length("_nb")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_na", "_nb", max_dist).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
    return scored.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("dist").cast("long"),
    )
