"""Vector similarity search over embedding columns (EXT tier).

- brute-force top-k cosine: the (small) query set scored against the
  full corpus in one pass, no shuffle of the corpus, window-ranked
  top-k over each task's local top-k. The verifiable baseline.
- LSH-bucketed variant (random hyperplane signs): corpus and queries
  hash to sign-pattern buckets; candidates only from matching buckets,
  then exact re-rank. The 100 TB path: bucket join instead of cross
  product. Hyperplanes are derived deterministically from md5 hashes so
  runs are reproducible (no RNG state).

Index-change gate: every approximate index (LSH planes/bands, IVF
n_cells/nprobe, Lloyd iterations) trades recall for speed, and a
parameter change can silently crater recall. The recommended gate is
`ann_recall` on a sampled query set — run the approximate index and
`brute_force_topk` over the same queries, and diff them:

    queries = corpus.sample(...).select("vec_id", "embedding")
    exact  = brute_force_topk(corpus, queries, k=10)
    approx = ivf_topk(corpus, queries, k=10, n_cells=4096, nprobe=64)
    audit  = ann_recall(approx, exact)   # (query_id, n_exact, n_hits)
    recall = audit.agg(F.sum("n_hits") / F.sum("n_exact"))

Cost is |sample| brute-force scans (queries shipped to every task,
corpus never shuffles) + a skinny pair semi-join — cheap enough to run on every
index rebuild. Registered as `similarity_ann_recall` (oracle-checked
LSH-vs-brute composition).

Numeric policy, two tiers:

- The float family (brute force, IVF, centroid assignment, PQ
  codewords, IVF-PQ probes) scores with float left-to-right folds —
  the DuckDB oracles' accumulation order, so scores match bit-for-bit.
  Every "score a corpus against a small table, keep the best rows"
  step runs through ONE core, `_nearest`: a `mapInArrow` block scorer
  (one elementwise step per dimension, as functions/vectors.py's
  kernels and the CodegenFallback HOF folds) with one ranking rule —
  valid scores first, best first, ties to the smaller id, invalid
  (NULL) scores after every valid one.
- The SIGNATURE family (banded near-dup blocking + LSH buckets) runs
  on SIG_SCALE-quantized int64 vectors: every dot is an exact integer
  sum, which is order-INDEPENDENT — so determinism no longer depends
  on accumulation order and the hot path can be an Arrow-batched
  numpy int64 matmul (`pandas_udf`) instead of interpreted
  per-element lambda folds. Spark's higher-order functions are
  CodegenFallback (interpreted); profiling showed the 16-plane x
  64-dim folds dominating every signature query (~2.3s just to
  materialize 2000 rows' signatures at sf0.1), and at corpus scale
  that interpreted per-element cost IS the bottleneck. The numpy
  matmul runs at memory bandwidth, one Arrow batch at a time, and the
  quantized integers reproduce exactly in any engine regardless of
  summation order. Every signature site — the near-dup operators,
  `lsh_topk`, `semantic_dedup_pairs` and the streaming vector gate —
  composes ONE core, shaped like the MinHash core in operators/dedup.py:
  the key builder `_srp_keys`, the self/cross pair cores and the verify
  tail `_srp_verified`, the only place the int64 dot is taken.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from syncquill_spark.functions.vectors import (
    cosine_similarity_arrow,
    dot_arrow,
    l2_norm,
    unit_vector_arrow,
    valid_vector,
)
from syncquill_spark.operators._cache import tracked_persist


def _materialize_small(df: DataFrame) -> DataFrame:
    """Lazily persist a TINY frame (tens to hundreds of rows: sampled
    centroids, PQ codebooks, top-k audit lists) whose lineage is a
    full corpus pass and which feeds two or more downstream subtrees
    (broadcast joins, saved index parts). Unpersisted, every consumer
    re-runs the corpus lineage — one extra scan + TakeOrdered/fold
    job per consumer; persisted, the first consumer materializes it
    and the rest read the cached rows (concurrent consumers are
    serialized per-block by the BlockManager, so the subtree still
    runs at most ~once). Deliberately NO eager count: an A/B at sf0.1
    measured the extra count action costing more than the dedup saves
    on small inputs — the lazy form keeps the at-scale dedup without
    adding a job. Tracked so batch drivers can release via
    release_cached_intermediates."""
    return tracked_persist(df)


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the O(|corpus| x |queries|) scoring projection downstream
    runs on every core: a small/medium corpus read from one parquet
    file is one input split, so the hot fold would run single-task
    (benched 6.4x slower at sf0.1). Repartition ONLY when the plan is
    under-split — at real scale a 100 TB corpus already spans thousands
    of 128 MB splits and this is a no-op (no gratuitous payload
    shuffle). round-robin repartition; downstream ranking is
    order-insensitive (deterministic tie-breaks), so output is
    bit-identical either way.
    """
    spark = df.sparkSession
    # Target: at least the session's shuffle width; defaultParallelism
    # alone under-counts on a dynamically-allocated cluster (it sees
    # only executors registered at plan time). The conf may hold a
    # non-numeric value on some runtimes (e.g. "auto") — fall back to
    # the stock 200 rather than crash every similarity operator.
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200") or 200)
    except (TypeError, ValueError):
        target = 200
    try:
        target = max(target, spark.sparkContext.defaultParallelism)
    except Exception:  # Spark Connect client: no sparkContext
        pass
    try:
        # First probe: file count. Listing is already cached on the
        # scan relation (no job, no physical planning) and it LOWER-
        # bounds the split count, so `>= target` here proves the scan
        # is well-split without touching the RDD path.
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    try:
        # Few/no files: confirm with the exact split count before
        # paying a repartition (a handful of >maxPartitionBytes files
        # still yields many splits). Cheap in classic Spark (physical
        # planning of a scan+project); unsupported under Spark Connect,
        # where the file-count verdict above stands (worst case: a
        # redundant — but harmless — repartition).
        n_splits = df.rdd.getNumPartitions()
    except Exception:
        n_splits = n_files
    if n_splits < target:
        return df.repartition(target)
    return df


def _list_matrix(col):
    """(valid, lens, x) for an Arrow list<float|double> array: ``x`` is
    a float64 (rows, width) matrix, each row zero-padded past its own
    length (the folds' extra +0.0 steps are exact no-ops), and
    ``valid[i]`` is False where row i is NULL or holds a NULL or
    non-finite component — the rows `_stack_f64_masked` masks. Such
    rows are all zero in ``x``; ``lens`` is -1 for NULL rows."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(col)
    lens = pc.fill_null(pc.list_value_length(col), -1).to_numpy().astype(np.int64)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    width = max(int(lens.max()) if n else 0, 0)
    if n * width == len(flat) and (lens == width).all():
        x = flat.reshape(n, width)
    else:
        ln = np.maximum(lens, 0)
        rows = np.repeat(np.arange(n), ln)
        x = np.zeros((n, width))
        x[rows, np.arange(len(flat)) - (np.cumsum(ln) - ln)[rows]] = flat
    valid = (lens >= 0) & np.isfinite(x).all(axis=1)
    return valid, lens, np.where(valid[:, None], x, 0.0)


def _nearest(
    big: DataFrame,
    small: DataFrame,
    metric: str,
    n: int,
    per: str,
    key: str | None = None,
) -> DataFrame:
    """The float similarity family's one nearest-rows core: score every
    ``big`` row against the ``small`` rows (those with the same ``key``
    value, when given) by ``metric`` — ``"dot"``, ``"cosine"`` or
    ``"l2"`` (squared) — and keep the ``n`` best pairs. ``big`` and
    ``small`` each lead with an (id, vector) column pair.

    - ``per="big"``: each big row keeps its ``n`` best small rows
      (assignment, probes): all of ``big``'s columns, the small id and
      ``_score``, emitted by the scoring task (no shuffle, no window).
    - ``per="small"``: each small id keeps its ``n`` best big rows
      (top-k): (small id, big id, ``_score``, ``rk``). Each task keeps
      a running top-n per small id, so the global ``row_number`` ranks
      at most tasks x n rows per id.

    One rule for both: invalid pairs are no neighbours and are dropped
    before ranking, so a big row that no small row can score emits
    nothing; valid scores rank best first (descending for dot and
    cosine, ascending for L2, NaN where Spark sorts it), ties to the
    smaller id. A pair is invalid where the per-pair kernels
    (`dot_arrow` and friends) yield NULL: a NULL, ragged or non-finite
    vector, and for cosine a zero-norm one. Scores are bit-identical
    to those kernels, the HOF folds and DuckDB: the batch x small
    matrix accumulates one elementwise step per dimension, left to
    right. The small side is collected once per call and shipped to
    the tasks as a float64 matrix; callers pass only small sides they
    used to broadcast.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    desc = metric != "l2"
    sid, bid = small.columns[0], big.columns[0]
    tbl = small.select(*small.columns[:2], *([key] if key else [])).toArrow()
    s_ids = tbl.column(0).combine_chunks()
    s_valid, s_len, s_x = _list_matrix(tbl.column(1).combine_chunks())
    # dense rank of the small ids, NULL first like Spark's ascending
    # order: per="big"'s tie-break and per="small"'s group
    s_rank = pc.rank(
        s_ids, sort_keys="ascending", null_placement="at_start", tiebreaker="dense"
    ).to_numpy().astype(np.int64)
    if key is None:
        groups = [(None, np.arange(len(s_ids)))]
    else:
        s_key = tbl.column(2).to_numpy(zero_copy_only=False)
        groups = [(k, np.flatnonzero(s_key == k)) for k in np.unique(s_key)]
    key_at = big.columns.index(key) if key else None
    # bound each score matrix to ~1M pairs however many small rows
    step = max(1, (1 << 20) // max(1, len(s_ids)))

    def block(xb, lb, vb, rows):
        """(scores, valid) of big rows x small ``rows``. A valid pair's
        length fits both matrices, so columns past the narrower one
        are zero on every valid pair and are skipped."""
        w = min(xb.shape[1], s_x.shape[1])
        xs = s_x[rows]
        ok = vb[:, None] & s_valid[rows][None, :] & (lb[:, None] == s_len[rows][None, :])
        acc = np.zeros(ok.shape)
        if metric == "l2":
            for j in range(w):
                t = np.subtract.outer(xb[:, j], xs[:, j])
                acc = acc + t * t
            return acc, ok
        for j in range(w):
            acc = acc + np.multiply.outer(xb[:, j], xs[:, j])
        if metric == "cosine":
            na, nb = np.zeros(len(xb)), np.zeros(len(xs))
            for j in range(w):
                na = na + xb[:, j] * xb[:, j]
                nb = nb + xs[:, j] * xs[:, j]
            with np.errstate(divide="ignore", invalid="ignore"):
                acc = acc / np.multiply.outer(np.sqrt(na), np.sqrt(nb))
            ok &= (na > 0.0)[:, None] & (nb > 0.0)[None, :]
        return acc, ok

    def top(group, score, tie):
        """Indices of the ``n`` best pairs per group, group by group."""
        nan = np.isnan(score)
        s = np.where(nan, 0.0, score)
        order = np.lexsort((tie, -s if desc else s, nan != desc, group))
        g = group[order]
        first = np.r_[True, g[1:] != g[:-1]]
        start = np.maximum.accumulate(np.where(first, np.arange(len(g)), 0))
        return order[np.arange(len(g)) - start < n]

    def pairs(chunk):
        """(big row, small row, score) of every valid pair, or None when
        no pair was scored."""
        if n <= 0:
            return None
        vb, lb, xb = _list_matrix(chunk.column(1))
        if key is not None:
            bkey = chunk.column(key_at).to_numpy(zero_copy_only=False)
        parts = []
        for k, rows in groups:
            sel = np.arange(len(vb)) if key is None else np.flatnonzero(bkey == k)
            if len(sel) and len(rows):
                sc, ok = block(xb[sel], lb[sel], vb[sel], rows)
                ok = ok.ravel()
                parts.append((np.repeat(sel, len(rows))[ok],
                              np.tile(rows, len(sel))[ok], sc.ravel()[ok]))
        return [np.concatenate(p) for p in zip(*parts)] if parts else None

    def chunks(batches):
        for batch in batches:
            for lo in range(0, batch.num_rows, step):
                chunk = batch.slice(lo, step)
                p = pairs(chunk)
                if p is not None:
                    yield chunk, p

    if per == "big":
        schema = StructType(
            big.schema.fields + [small.schema[sid], StructField("_score", DoubleType())]
        )

        def run(batches):
            for chunk, (i, j, sc) in chunks(batches):
                keep = top(i, sc, s_rank[j])
                yield pa.RecordBatch.from_arrays(
                    chunk.take(pa.array(i[keep])).columns + [
                        s_ids.take(pa.array(j[keep])), pa.array(sc[keep]),
                    ],
                    names=schema.names,
                )

        return _spread(big).mapInArrow(run, schema)

    schema = StructType(
        [small.schema[sid], big.schema[bid], StructField("_score", DoubleType())]
    )

    def run(batches):
        best = None  # running top-n: (small row, score, big ids)
        for chunk, (i, j, sc) in chunks(batches):
            ids = chunk.column(0).take(pa.array(i))
            if best is not None:
                j, sc = np.concatenate([best[0], j]), np.concatenate([best[1], sc])
                ids = pa.concat_arrays([best[2], ids])
            if len(j):
                keep = top(s_rank[j], sc, ids.to_numpy(zero_copy_only=False))
                best = j[keep], sc[keep], ids.take(pa.array(keep))
        if best is not None:
            yield pa.RecordBatch.from_arrays(
                [s_ids.take(pa.array(best[0])), best[2], pa.array(best[1])],
                names=schema.names,
            )

    w = Window.partitionBy(sid).orderBy(
        F.col("_score").desc() if desc else F.col("_score").asc(), F.col(bid).asc()
    )
    return (
        _spread(big).mapInArrow(run, schema)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The query set is the small side of `_nearest` (collected once; the
    corpus never shuffles); each scoring task keeps its own top-k per
    query, and a window ranks those; deterministic tie-break on
    neighbor id. Rows whose embedding is NULL / ragged / non-finite /
    zero-norm are never neighbors.
    Output: (query_id, neighbor_id, rk) — ints only, hash-stable.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    q = queries.select(F.col(query_id_col), F.col(vec_col))
    return _nearest(c, q, "cosine", k, "small").select(
        query_id_col, "neighbor_id", "rk"
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    derived from md5(plane_idx:j) mapped to [-1, 1). Reproducible across
    runs and languages (same recipe works in any engine)."""
    import hashlib

    comps = []
    for j in range(dim):
        h = int(hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()[:15], 16)
        comps.append((h / float(2**60)) * 2.0 - 1.0)
    return comps


#: Quantization scale for the signature family: vector components and
#: hyperplane components become floor(x * SIG_SCALE + 0.5) int64, so
#: every signature dot / squared norm is an EXACT integer sum —
#: order-independent, hence bit-identical across engines and across
#: any summation strategy (numpy matmul here, list_reduce in DuckDB).
#: Range check at dim=64: |component| <= ~4 -> |q| <= 4e6; a dot term
#: <= 4e12; a 64-term dot <= ~3e14; a squared norm <= ~1e15 — all far
#: inside int64. (The price: blocking/verify operate on the quantized
#: cosine, which differs from the true cosine by ~1e-6 — immaterial
#: for near-dup semantics, and the oracle applies the same math.)
SIG_SCALE = 1_000_000


def _quantized_planes(bands: int, planes_per_band: int, dim: int):
    """(bands*planes_per_band, dim) int64 matrix of SIG_SCALE-quantized
    md5-derived hyperplanes. Quantized with the same float64 ops the
    oracle uses (c * SIG_SCALE + 0.5, floor), so both engines hold the
    identical integer planes."""
    import numpy as np

    planes = np.array(
        [
            _hyperplane(dim, b * planes_per_band + p)
            for b in range(bands)
            for p in range(planes_per_band)
        ],
        dtype=np.float64,
    )
    return np.floor(planes * float(SIG_SCALE) + 0.5).astype(np.int64)


def _make_sig_udf(bands: int, planes_per_band: int, dim: int):
    """Arrow-batched signature kernel: embedding -> struct(q, n2, keys).

    - q:    SIG_SCALE-quantized int64 vector (feeds the exact-integer
            verify dot downstream)
    - n2:   sum(q_i^2) — exact int64 squared norm
    - keys: one int64 per band; bit p of a band's key is the sign of
            the quantized dot with plane p of that band (dot >= 0).

    One numpy int64 matmul per Arrow batch replaces 16 interpreted
    per-element lambda folds per row; the plan also shrinks from a
    ~16x64-node literal expression tree (whose Catalyst handling
    alone was ~40% of query wall time at fixture scale) to a single
    UDF node."""
    import numpy as np
    import pandas as pd

    if not 1 <= planes_per_band <= 62:
        raise ValueError("planes_per_band must fit an int64 band key (1..62)")
    pq = _quantized_planes(bands, planes_per_band, dim)  # (P, dim) int64
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)

    # NOTE: no type hints on `sig` — this module uses
    # `from __future__ import annotations`, which stringifies hints,
    # and pyspark cannot resolve 'pd.Series' strings at decoration
    # time; the hint-less form takes the SCALAR eval path directly.
    @pandas_udf("q array<bigint>, n2 bigint, keys array<bigint>")
    def sig(v):
        n = len(v)
        if n == 0:
            return pd.DataFrame(
                {
                    "q": pd.Series([], dtype=object),
                    "n2": pd.Series([], dtype="int64"),
                    "keys": pd.Series([], dtype=object),
                }
            )
        # NULL / wrong-length / non-finite rows get NULL fields instead
        # of aborting the job (np.stack threw on ragged input; NaN
        # quantizes to garbage int64) — posexplode drops NULL keys, so
        # such rows simply never band-join (r13 boundary battery, the
        # vector sibling of jaccard_verify)
        rows = [None if e is None else np.asarray(e, dtype=np.float64) for e in v]
        valid = np.array(
            [
                e is not None
                and e.ndim == 1
                and len(e) == dim
                and bool(np.isfinite(e).all())
                for e in rows
            ],
            dtype=bool,
        )
        x = np.zeros((n, dim), dtype=np.float64)
        for i, e in enumerate(rows):
            if valid[i]:
                x[i] = e
        q = np.floor(x * float(SIG_SCALE) + 0.5).astype(np.int64)
        n2 = np.einsum("ij,ij->i", q, q)
        bits = (q @ pq.T) >= 0  # (n, P) sign pattern
        keys = bits.reshape(n, bands, planes_per_band).astype(np.int64) @ weights
        if valid.all():
            return pd.DataFrame({"q": list(q), "n2": n2, "keys": list(keys)})
        return pd.DataFrame(
            {
                "q": [qi if ok else None for qi, ok in zip(q, valid)],
                "n2": pd.Series(
                    [int(v2) if ok else None for v2, ok in zip(n2, valid)],
                    dtype=object,
                ),
                "keys": [ki if ok else None for ki, ok in zip(keys, valid)],
            }
        )

    return sig


@pandas_udf(LongType())  # DataType object: a DDL string would need an
def _dotq(a, b):  #          active SparkContext to parse at import time
    """Exact int64 dot of two quantized vectors (one numpy pass per
    Arrow batch). Integer sum -> order-independent -> engine-exact.
    NULL / length-mismatched pairs yield NULL instead of aborting the
    batch (np.stack threw on ragged input; r13 boundary battery)."""
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="int64")
    try:
        xa = np.stack([np.asarray(e, dtype=np.int64) for e in a])
        xb = np.stack([np.asarray(e, dtype=np.int64) for e in b])
        if xa.shape == xb.shape:
            return pd.Series(np.einsum("ij,ij->i", xa, xb))
    except (ValueError, TypeError):
        pass
    out = []
    for ea, eb in zip(a, b):
        if ea is None or eb is None or len(ea) != len(eb):
            out.append(None)
        else:
            xa = np.asarray(ea, dtype=np.int64)
            xb = np.asarray(eb, dtype=np.int64)
            out.append(int(xa @ xb))
    return pd.Series(out, dtype=object)


def _q_cos_ge(dot_col: Column, n2a: Column, n2b: Column, threshold: float) -> Column:
    """Quantized-cosine >= threshold, engine-deterministic: the int64
    dot and squared norms are exact; each side of the comparison is
    then a fixed, tiny IEEE-double expression (one cast each + one
    multiply + one sqrt), identical in Spark and DuckDB. n2 > 0 guards
    replace the old NaN-excludes-zero-vectors behavior explicitly.
    (Casts happen BEFORE the n2 multiply: n2a*n2b can reach ~1e30,
    which overflows int64 — and DuckDB raises on BIGINT overflow.)"""
    return (
        (n2a > 0)
        & (n2b > 0)
        & (
            dot_col.cast("double")
            >= F.lit(float(threshold)) * F.sqrt(n2a.cast("double") * n2b.cast("double"))
        )
    )


def _q_cos_score(dot_col: Column, n2a: Column, n2b: Column) -> Column:
    """Quantized cosine as a double score (for ranking): exact int64
    dot over the exact-int norms, combined with a fixed 4-op IEEE
    expression — deterministic across engines."""
    return dot_col.cast("double") / F.sqrt(n2a.cast("double") * n2b.cast("double"))


def _srp_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    planes_per_band: int,
    dim: int,
) -> tuple[DataFrame, DataFrame]:
    """THE SRP key builder every signature-family operator, index and
    gate composes: ``(keys, vecs)`` with vecs = (id, _q, _n2), the
    vector's SIG_SCALE-quantized int64 form and exact squared norm for
    the verify tail, and keys = (id, _q, _n2, _band, _key), one row per
    band per vector — both from ONE `_make_sig_udf` pass over ``df``.
    Key rows carry the vector so a new side's candidates keep it (a
    stream cannot look its own rows up again without a stateful
    stream-stream join); joins that do not read it never shuffle it.

    The evaluate-once barrier follows the input, as in
    `dedup.minhash_band_keys`: a batch frame is tracked-persisted (it
    feeds the keys AND the verify; unpersisted, Catalyst pushes
    join-key predicates below the kernel and DUPLICATES its
    ArrowEvalPython node); a streaming frame cannot persist, so its
    kernel is marked nondeterministic, which pins the same placement
    (the kernel is in fact deterministic; results are unchanged).
    NULL / ragged / non-finite vectors get NULL fields and no keys, so
    they never become candidates.

    Keys explode AFTER the cache: candidate joins shuffle fixed-width
    (id, band, int64 key) rows, never vectors. All signature math is
    exact int64 (see SIG_SCALE), bit-identical to the DuckDB oracles
    in any summation order.
    """
    sig = _make_sig_udf(bands, planes_per_band, dim)
    if df.isStreaming:
        sig = sig.asNondeterministic()
    base = df.select(F.col(id_col), sig(F.col(vec_col)).alias("_s")).select(
        F.col(id_col),
        F.col("_s.q").alias("_q"),
        F.col("_s.n2").alias("_n2"),
        F.col("_s.keys").alias("_keys"),
    )
    if not df.isStreaming:
        base = tracked_persist(base)
    keys = base.select(
        F.col(id_col), "_q", "_n2", F.posexplode("_keys").alias("_band", "_key")
    )
    return keys, base.select(id_col, "_q", "_n2")


def _srp_verified(
    cand: DataFrame,
    a: str,
    b: str,
    vecs_a: DataFrame | None,
    vecs_b: DataFrame | None,
) -> DataFrame:
    """THE SRP verify tail and the one caller of `_dotq`: candidate rows
    (id columns ``a``, ``b``) with ``_dot``, the exact int64 dot of the
    two quantized vectors, and ``_na``/``_nb``, their exact squared
    norms. Pair callers keep `_q_cos_ge` rows; `lsh_topk` ranks by
    `_q_cos_score`.

    ``vecs_a``/``vecs_b`` are (id, _q, _n2) frames to look each side's
    vector up in by id, or None where that side's ``_q?``/``_n?``
    already ride on the candidate rows. A caller that broadcasts
    ``cand`` keeps the looked-up side from exchanging."""
    for side, col, vecs in (("a", a, vecs_a), ("b", b, vecs_b)):
        if vecs is not None:
            cand = vecs.select(
                F.col(vecs.columns[0]).alias(f"_i{side}"),
                F.col("_q").alias(f"_q{side}"),
                F.col("_n2").alias(f"_n{side}"),
            ).join(cand, F.col(col) == F.col(f"_i{side}"))
    return cand.withColumn("_dot", _dotq(F.col("_qa"), F.col("_qb"))).drop(
        "_ia", "_ib", "_qa", "_qb"
    )


def _srp_self_pairs(keys: DataFrame, vecs: DataFrame) -> DataFrame:
    """(id_a, id_b, _dot, _na, _nb) with id_a < id_b: the self-pair
    core — (band, key) self-equi-join, distinct candidates, verify
    tail. ``keys``/``vecs`` are :func:`_srp_keys` frames."""
    id_col = keys.columns[0]
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
    return _srp_verified(cand, "id_a", "id_b", vecs, vecs)


def _srp_cross_pairs(
    keys_new: DataFrame, keys_corpus: DataFrame, vecs_corpus: DataFrame, per_band: bool
) -> DataFrame:
    """(id_new, id_corpus, _dot, _na, _nb): the cross-pair core — new-
    side band keys (with their vectors) equi-joined to corpus-side keys
    on (band, key), verify tail. Each frame leads with its id column.
    The new side is the bounded one (an ingest batch, whose candidates
    are its near-duplicates): its keys and then the candidates are
    broadcast, so the corpus side never exchanges. Batch contract: id_new != id_corpus, one row per
    pair. ``per_band=True`` is the stream contract: one row per
    colliding band and no id filter (a stream cannot drop duplicates
    globally; callers dedupe per microbatch)."""
    kn = keys_new.select(
        "_band", "_key", F.col(keys_new.columns[0]).alias("id_new"),
        F.col("_q").alias("_qa"), F.col("_n2").alias("_na"),
    )
    kc = keys_corpus.select(
        "_band", "_key", F.col(keys_corpus.columns[0]).alias("id_corpus")
    )
    cand = kc.join(F.broadcast(kn), ["_band", "_key"]).select(
        "id_new", "id_corpus", "_qa", "_na"
    )
    if not per_band:
        cand = cand.filter(F.col("id_new") != F.col("id_corpus")).dropDuplicates(
            ["id_new", "id_corpus"]
        )
    return _srp_verified(F.broadcast(cand), "id_new", "id_corpus", None, vecs_corpus)


def _q_cos_kept(pairs: DataFrame, threshold: float) -> DataFrame:
    """Verify-tail rows whose quantized cosine clears ``threshold``."""
    return pairs.filter(
        _q_cos_ge(F.col("_dot"), F.col("_na"), F.col("_nb"), threshold)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    bands: int = 4,
    planes_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup over a vector
    column): banded random-hyperplane blocking + exact cosine verify.

    Each vector gets `bands` bucket keys (one per band, each the sign
    pattern of `planes_per_band` hyperplane dots); a pair is a
    candidate if ANY band key matches (OR-construction — recall
    1-(1-p^r)^b for per-plane agreement p). Candidates self-join on
    (band, key) only — never the O(n^2) pair space — then the exact
    quantized cosine >= threshold verifies. Hyperplanes are
    md5-derived (deterministic, reproducible in any engine); all
    signature math is exact int64 (SIG_SCALE), bit-identical to the
    DuckDB oracle in any summation order.

    Output: (id_a, id_b) int pairs with id_a < id_b, hash-stable.
    """
    # _spread: the Arrow signature kernel is the hot compute; an
    # under-split corpus (one parquet file = one task) would run it
    # on a single core.
    keys, vecs = _srp_keys(
        _spread(corpus.select(F.col(id_col), F.col(vec_col))),
        id_col, vec_col, bands, planes_per_band, dim,
    )
    return _q_cos_kept(_srp_self_pairs(keys, vecs), threshold).select("id_a", "id_b")


def embedding_near_dup_against(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    bands: int = 4,
    planes_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Incremental (cross-corpus) embedding near-dup: NEW vectors whose
    band keys collide with the EXISTING corpus, verified by exact
    cosine — the ingest-time vector-dedup shape (a fresh batch of
    embeddings checked against everything already kept; only the new
    side is small). No corpus self-pairs, no new self-pairs.

    Same blocking machinery as embedding_near_dup_pairs (md5-derived
    hyperplanes, int64 band keys, ids-only candidate shuffle) through
    the cross-pair core: the new batch is broadcast, so the corpus
    side never exchanges. Both sides are keyed here; a production
    pipeline persists the corpus's keys as an index and keys only the
    new side per batch (``streaming.vector_dedup``, the same core).

    Output: (id_new, id_corpus) int pairs, hash-stable.
    """
    kn, _ = _srp_keys(
        new.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, bands, planes_per_band, dim,
    )
    kc, vc = _srp_keys(
        _spread(corpus.select(F.col(id_col), F.col(vec_col))),
        id_col, vec_col, bands, planes_per_band, dim,
    )
    return _q_cos_kept(
        _srp_cross_pairs(kn, kc, vc, per_band=False), threshold
    ).select("id_new", "id_corpus")


def semantic_dedup_pairs(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into cells via
    deterministic centroids, then emit within-cell near-duplicate
    pairs by quantized cosine >= threshold. Near-dups in meaning
    cluster together, so restricting the pair search to cells turns
    the O(n^2) corpus pair space into sum-over-cells O((n/c)^2) — the
    published algorithm's exact structure (k-means cluster, then
    pairwise within cluster; dedup keeps one doc per within-cell
    duplicate group downstream, e.g. via clusters.dedup_keepers).

    Cells use ivf_topk's deterministic index construction (the
    n_cells corpus vectors with the smallest md5(id), unit-normalized;
    max-cosine assignment with left-fold double dots) — reproducible
    in any engine with no RNG state. The verify is the signature
    family's exact-int64 quantized cosine (`_srp_verified`).

    Scale shape: centroids broadcast (no corpus shuffle to assign);
    the pair join is an equi-join on cell_id carrying the quantized
    vector payload — cell-local by construction, and the per-cell
    quadratic cost is the algorithm's published shape, bounded by
    choosing n_cells so n/c stays manageable (SemDeDup runs 50k
    clusters at 100 TB scale; fat cells split under AQE).

    Output: (id_a, id_b, cell_id) with id_a < id_b — ints only,
    hash-stable.
    """
    cents = _ivf_centroids(corpus, n_cells, 0, id_col, vec_col)
    # the key builder's id is the (cell_id, id) pair: its one persisted
    # signature pass then carries the cell, and both sides of the
    # cell self-join read their vectors from it (keys are unused, so
    # the cheapest kernel config)
    cells = _nearest(
        corpus.select(F.col(id_col), F.col(vec_col)), cents, "dot", 1, "big"
    ).select(F.struct("cell_id", id_col).alias("_cid"), F.col(vec_col))
    _, vecs = _srp_keys(cells, "_cid", vec_col, 1, 1, dim)
    a = vecs.select(
        F.col("_cid").alias("_ca"), F.col("_q").alias("_qa"), F.col("_n2").alias("_na")
    )
    b = vecs.select(
        F.col("_cid").alias("_cb"), F.col("_q").alias("_qb"), F.col("_n2").alias("_nb")
    )
    cand = a.join(
        b,
        (a["_ca.cell_id"] == b["_cb.cell_id"]) & (a["_ca"][id_col] < b["_cb"][id_col]),
    ).select(
        a["_ca"][id_col].alias("id_a"), b["_cb"][id_col].alias("id_b"),
        a["_ca.cell_id"].alias("cell_id"), "_qa", "_na", "_qb", "_nb",
    )
    return _q_cos_kept(
        _srp_verified(cand, "id_a", "id_b", None, None), threshold
    ).select("id_a", "id_b", "cell_id")


#: Centroid components are quantized to 1e-6 before averaging so the
#: per-cell mean is an exact int64 sum — order-independent, hence
#: bit-identical across engines (a double sum's value depends on
#: accumulation order, which Spark does not guarantee across shuffles).
LLOYD_SCALE = 1_000_000


def ivf_build_index(
    corpus: DataFrame,
    n_cells: int = 16,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF centroid index: (cell_id, centroid) with unit
    centroids — steps 1 (deterministic md5 sample) and the optional
    spherical-Lloyd refinement of `ivf_topk`'s docstring, extracted so
    the index can be built ONCE, persisted (`sources/index_store`),
    and passed to any number of later `ivf_topk(..., centroids=...)`
    query batches — the nightly-build / per-batch-query lifecycle.
    Deterministic and engine-exact (see ivf_topk for the arithmetic
    contract); n_cells rows, trivially broadcastable.
    """
    cents = _ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col)
    return cents.select("cell_id", F.col("_ucv").alias("centroid"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    refine_iters: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    partition-and-probe scale path alongside `lsh_topk`.

    1. **Centroids**: the `n_cells` corpus vectors with the smallest
       `md5(id)` — a deterministic uniform sample (md5 order is
       uncorrelated with id order), reproducible in any engine with no
       RNG state and no iterative k-means. Unit-normalized so cell
       scores are one dot product each.
    2. **Assign**: every corpus vector goes to its max-cosine cell
       (argmax over `n_cells` dots; on unit centroids argmax dot ==
       argmax cosine, so the corpus-side norm fold is skipped).
    3. **Probe**: each query scores the same centroid set and keeps its
       `nprobe` best cells; candidates are corpus rows in probed cells
       only — the cross product never materializes.
    4. **Verify**: exact cosine re-rank within candidates, top-k per
       query. Same fold math as `brute_force_topk`, so scores are
       bit-identical to the DuckDB oracle.

    Scale shape: every step is one `_nearest` pass. Centroids are
    O(n_cells·dim) and the probed (query, cell) rows are
    |queries|·nprobe — each collected once and shipped to the tasks.
    Assignment emits one row per corpus row where it is scored (no
    shuffle); candidate scoring is keyed by cell_id in the same stage,
    and only each task's top-k per query reaches the final window.

    ``refine_iters`` runs that many spherical-k-means (Lloyd)
    refinement passes over the sampled centroids before the final
    assignment: assign -> per-cell mean of UNIT corpus vectors ->
    renormalize. Better-balanced cells on skewed corpora => better
    recall at equal nprobe. Deterministic and oracle-exact: the mean
    uses LLOYD_SCALE-quantized int64 component sums (order-independent
    exact arithmetic, floor(x*S + 0.5) half-up — round() tie rules
    differ across engines), and a cell that loses all its vectors (or
    degenerates to a zero mean) keeps its previous centroid. Each
    iteration costs one `_nearest` assignment pass + one skinny
    (cell, pos) aggregation — no corpus shuffle.

    ``centroids``: pass a prebuilt (cell_id, centroid) index
    (`ivf_build_index`, possibly reloaded via `sources/index_store`)
    to skip the build entirely — n_cells/refine_iters are then
    ignored. Same results by construction (the index IS the build
    output).

    Output: (query_id, neighbor_id, rk) — ints only, hash-stable.
    """
    if centroids is not None:
        cents = centroids.select("cell_id", F.col("centroid").alias("_ucv"))
    else:
        cents = _ivf_centroids(corpus, n_cells, refine_iters, id_col, vec_col)
    # corpus rows -> their best cell; queries -> their nprobe best cells
    assigned = _nearest(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        cents, "dot", 1, "big",
    )
    probed = _nearest(
        queries.select(F.col(query_id_col), F.col(vec_col)), cents, "dot", nprobe, "big"
    )
    return _nearest(
        assigned.select("neighbor_id", vec_col, "cell_id"),
        probed.select(query_id_col, vec_col, "cell_id"),
        "cosine", k, "small", key="cell_id",
    ).select(query_id_col, "neighbor_id", "rk")


def _md5_sample(
    corpus: DataFrame, n: int, id_col: str, vec_col: str, rank_col: str
) -> DataFrame:
    """(rank_col, _cv): the ``n`` corpus rows with the smallest
    (md5(id), id), numbered 1..n in that order — the family's
    deterministic "sample without replacement", reproducible in any
    engine with no RNG state (md5 order is uncorrelated with id order).
    orderBy+limit is TakeOrdered — a distributed partial top-k, not a
    global sort; the numbering window sees only n rows."""
    hashed = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    return (
        hashed.orderBy("_h", id_col)
        .limit(n)
        .withColumn(rank_col, F.row_number().over(Window.orderBy("_h", id_col)))
        .select(rank_col, "_cv")
    )


def _ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    refine_iters: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cell_id, _ucv) unit centroids — the build phase shared by
    ivf_topk and ivf_build_index; arithmetic contract documented on
    ivf_topk. A corpus vector no centroid can score (NULL, ragged,
    non-finite) joins no Lloyd cell, so it never enters a mean."""
    cents = (
        _md5_sample(corpus, n_cells, id_col, vec_col, "cell_id")
        .withColumn("_nrm", l2_norm(F.col("_cv")))
        .select(
            "cell_id",
            # same guard as the Lloyd-mean normalization: a sampled
            # zero-norm (or NULL) vector must yield a NULL centroid,
            # not an ANSI 0/0 job abort (r14 battery find — the
            # initial sample lacked the _mnrm > 0 guard the refine
            # loop has). NULL centroids score against nothing and
            # `_nearest` drops unscorable pairs, so degenerate cells
            # are never probed or assigned; on clean corpora the WHEN
            # always takes the same branch — values bit-identical.
            F.when(
                F.col("_nrm") > 0,
                F.transform(
                    F.col("_cv"), lambda x: x.cast("double") / F.col("_nrm")
                ),
            ).alias("_ucv"),
        )
    )

    if refine_iters > 0:
        # unit corpus vectors once; reused by every Lloyd pass.
        # Arrow kernel: same norm-fold + per-element divide rounding
        # as the HOF form (bit-identical), numpy speed per corpus row.
        # PERSISTED: every Lloyd pass re-reads _u — uncached, the
        # kernel re-evaluated per pass.
        u = corpus.select(
            F.col(id_col), unit_vector_arrow(F.col(vec_col)).alias("_u")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(refine_iters):
        assigned_u = _nearest(u, cents, "dot", 1, "big")
        sums = (
            assigned_u.select("cell_id", F.posexplode("_u").alias("_pos", "_x"))
            .groupBy("cell_id", "_pos")
            .agg(
                F.sum(
                    F.floor(F.col("_x") * LLOYD_SCALE + F.lit(0.5)).cast("long")
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
        )
        means = (
            sums.select(
                "cell_id",
                "_pos",
                (
                    F.col("_s").cast("double")
                    / (F.col("_n") * F.lit(float(LLOYD_SCALE)))
                ).alias("_m"),
            )
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select("cell_id", F.transform(F.col("_pm"), lambda s: s["_m"]).alias("_mv"))
        )
        new_cents = means.select(
            "cell_id", F.col("_mv"), l2_norm(F.col("_mv")).alias("_mnrm")
        ).select(
            "cell_id",
            F.when(
                F.col("_mnrm") > 0,
                F.transform(F.col("_mv"), lambda x: x / F.col("_mnrm")),
            ).alias("_ucv_new"),
        )
        # persist: `cents` is n_cells rows but its lineage is a full
        # corpus assignment pass, collected by the NEXT iteration and
        # twice downstream (corpus assign + query probe). Materialize
        # eagerly (count on n_cells rows) so the previous iteration's
        # cache can be RELEASED immediately: without this, n_iter
        # cached frames accumulated per call.
        prev_cents = cents
        cents = (
            cents.join(new_cents, "cell_id", "left")
            .select("cell_id", F.coalesce("_ucv_new", "_ucv").alias("_ucv"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cents.count()
        if prev_cents.is_cached:
            prev_cents.unpersist()

    if refine_iters > 0:
        # the final cents frame is materialized in its own cache; the
        # unit-vector frame's job is done — release it rather than
        # letting a corpus-sized cache linger for the caller's session
        # (an evicted cents partition would recompute through u's
        # lineage, just slower — correctness unaffected)
        u.unpersist()
    return cents


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign bucket join + exact
    re-rank within candidates. Approximate vs brute force in RECALL,
    but fully deterministic: buckets and scores use the exact-int64
    quantized signature math (SIG_SCALE), so the candidate set and the
    (score desc, id asc) ranking reproduce bit-for-bit in any engine.

    Ranking uses the QUANTIZED cosine (differs from the true cosine by
    ~1e-6; brute_force_topk remains the exact-float baseline).

    Shape: one band of ``n_planes`` planes; the queries' keys are
    broadcast into the corpus keys, both carrying their vectors, then
    the SRP verify tail scores. Candidates grow with the corpus (every
    query meets its whole bucket), so they are never collected or
    broadcast — unlike the ingest-bounded cross-pair core. Zero-norm
    vectors are no neighbours (their cosine is 0/0).
    """
    kc, _ = _srp_keys(
        _spread(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))),
        "neighbor_id", vec_col, 1, n_planes, dim,
    )
    kq, _ = _srp_keys(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        query_id_col, vec_col, 1, n_planes, dim,
    )
    cand = kc.select(
        "_key", "neighbor_id", F.col("_q").alias("_qb"), F.col("_n2").alias("_nb")
    ).join(
        F.broadcast(kq.select(
            "_key", query_id_col, F.col("_q").alias("_qa"), F.col("_n2").alias("_na")
        )),
        "_key",
    )
    scored = (
        _srp_verified(cand, query_id_col, "neighbor_id", None, None)
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select(
            query_id_col,
            "neighbor_id",
            _q_cos_score(F.col("_dot"), F.col("_na"), F.col("_nb")).alias("_score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk")
    )


def label_centroid_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Exact per-(label, dimension) centroid statistics:
    (label, pos, sum_q, n_vecs) — all integers.

    Components are LLOYD_SCALE-quantized to int64 (floor(x*S + 0.5))
    and summed as exact integers, so the result is order-independent
    and engine-exact (same determinism trick as the Lloyd refinement
    above). This all-scalar, all-integer frame is the cross-engine
    CHECKED shape: the repo's hash-robustness policy (plans/queries.py)
    bans both raw doubles and array columns from checked outputs, and
    the mean (one division) is recoverable as sum_q / (n_vecs * S).

    Scale shape: posexplode -> one (label, dim) groupBy with map-side
    combine; shuffle rows = |labels| x dim, independent of corpus size.
    """
    pos = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "_x")
    )
    q = F.floor(F.col("_x").cast("double") * LLOYD_SCALE + F.lit(0.5)).cast("long")
    return (
        pos.withColumn("_q", q)
        .groupBy(label_col, "pos")
        .agg(F.sum("_q").alias("sum_q"), F.count(F.lit(1)).alias("n_vecs"))
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean vector: (label, centroid array<double>, n_vecs).

    Class centroids for embedding spaces (cluster summaries, nearest-
    centroid classification, per-class drift monitoring). Built on
    label_centroid_stats (exact integer sums), divided back once and
    reassembled per label ordered by dimension.
    """
    per_dim = label_centroid_stats(df, vec_col, label_col).withColumn(
        "_m",
        F.col("sum_q").cast("double") / (F.col("n_vecs") * F.lit(float(LLOYD_SCALE))),
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos").alias("_p"), "_m"))),
            lambda s: s["_m"],
        ).alias("centroid"),
        F.max("n_vecs").alias("n_vecs"),
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k-NN majority-vote label prediction — the classification
    application of the similarity stack (auto-labeling a small curated
    query set from a labeled corpus, e.g. topic/quality propagation in
    a training-data pipeline).

    Neighbors come from brute_force_topk (exact, no corpus shuffle);
    labels re-attach by neighbor id; the winning label per query is
    the one with the most votes among the k neighbors,
    ties broken by best (lowest) neighbor rank, then smallest label —
    fully deterministic, int-only output.

    Scale shape: the only shuffles are the skinny (query_id,
    neighbor_id, rk) frames — k rows per query; corpus labels join by
    equi-key. Output: (query_id, predicted_label, n_votes).
    """
    nn = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    labeled = nn.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(label_col)),
        "neighbor_id",
    )
    votes = labeled.groupBy(query_id_col, label_col).agg(
        F.count(F.lit(1)).alias("n_votes"), F.min("rk").alias("_best_rk")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("n_votes").desc(), F.col("_best_rk").asc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            query_id_col,
            F.col(label_col).alias("predicted_label"),
            "n_votes",
        )
    )


def assign_nearest_centroid(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Assign every vector to its nearest label centroid (squared-L2);
    nearest-centroid classification / cluster-coherence audit: the
    output says, for each vector, which label's mean it actually sits
    closest to.

    Determinism: centroid means are exact rationals sum_q/(n*S) from
    label_centroid_stats, materialized as doubles identically in any
    engine (single int64->double division); the distance is a LEFT
    fold over dimension order (zip_with + aggregate), so both engines
    accumulate in the same order and produce bit-identical doubles —
    argmin (ties -> smallest label) is then engine-exact.

    Scale shape: the centroid table is |labels| rows, the small side of
    `_nearest`; the argmin is taken where each vector is scored, so
    the corpus never shuffles and each vector emits at most one row.
    A label whose centroid cannot be scored against a vector (ragged,
    NULL or non-finite) is no candidate for it, and a vector no
    centroid can score (a NULL embedding) gets no row.

    Output: (vec_id, nearest_label) — ints only, hash-stable.
    """
    stats = label_centroid_stats(corpus, vec_col=vec_col, label_col=label_col)
    centroids = stats.groupBy(label_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("_p"),
                        (
                            F.col("sum_q").cast("double")
                            / (F.col("n_vecs") * F.lit(float(LLOYD_SCALE)))
                        ).alias("_m"),
                    )
                )
            ),
            lambda s: s["_m"],
        ).alias("_c")
    ).select(F.col(label_col).alias("_clabel"), "_c")
    return _nearest(
        corpus.select(F.col(id_col), F.col(vec_col)), centroids, "l2", 1, "big"
    ).select(F.col(id_col), F.col("_clabel").alias("nearest_label"))


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall audit of an ANN result against the exact baseline:
    (query_id, n_exact, n_hits) per query — n_hits / n_exact is
    recall@k, kept as two exact integers (the repo's checked-output
    policy bans raw doubles; callers divide if they want the ratio).

    The quality gate every ANN deployment runs after an index change:
    both inputs are (query_id, neighbor_id[, rk]) frames, e.g.
    lsh_topk / ivf_topk audited against brute_force_topk on a sampled
    query set.

    Scale shape: ONE pass over the exact baseline — a left equi-join
    on (query, neighbor) against the deduped approx pairs (skinny int
    pairs only; AQE broadcasts the approx side when it fits) feeding
    a single per-query aggregation that counts rows and hit markers
    together. The baseline's lineage is typically a full brute-force
    pass over the corpus, so single consumption matters: the previous
    two-consumer shape (count agg + semi-join, then a third join to
    stitch them) either recomputed that pass per consumer or paid a
    persist whose materialization cost exceeded the reuse at every
    measured scale (r16 driver −16%, r17 interleaved A/B). The
    dropDuplicates on approx keeps the old semi-join's indifference
    to duplicate approx rows; nothing touches vectors.
    """
    hits = (
        approx.select(query_id_col, neighbor_col)
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.select(query_id_col, neighbor_col)
        .join(hits, [query_id_col, neighbor_col], "left")
        .groupBy(query_id_col)
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_hits"),
        )
    )


def _pq_valid(corpus: DataFrame, dim: int, vec_col: str) -> DataFrame:
    """The IVF-PQ family trains, encodes and serves only `valid_vector`
    rows: a NULL / ragged / non-finite / zero row sampled as a centroid
    or codeword poisons every score, and one left in the corpus gets
    codes from its NULL distances and ranks like a real neighbor."""
    return corpus.filter(valid_vector(F.col(vec_col), dim))


def _pq_codebook(
    corpus: DataFrame,
    m_sub: int,
    k_codes: int,
    dim: int,
    id_col: str,
    vec_col: str,
    lloyd_iters: int = 0,
) -> DataFrame:
    """(code, sub, _cbv) per-subspace codewords: the k_codes corpus
    vectors of `_md5_sample` — `_ivf_centroids`' exact deterministic
    sample — sliced into m_sub subvectors. Tiny
    (m_sub * k_codes rows), always broadcast.

    ``lloyd_iters > 0`` refines each subspace's codebook with exact
    per-subspace k-means passes (the standard PQ training step —
    sampled codewords are the family's weakest layer): assign every
    subvector to its nearest codeword (squared L2, ties -> smaller
    code — `_pq_best_codes`' own rule), then replace each codeword
    with the exact mean of its assigned subvectors. Same determinism
    contract as `_ivf_centroids`' refinement: component sums are
    floor(x*LLOYD_SCALE + 0.5)-quantized int64 BEFORE the cross-row
    sum (order-independent), the mean is one exact double division
    per component, and a codeword that attracts no subvectors keeps
    its previous value. Unlike IVF centroids there is NO unit
    normalization — PQ codewords live in raw subvector space.

    Scale shape per iteration: one `_nearest` pass (keyed by sub) of the
    m_sub-exploded skinny subvector rows (persisted once, reused every
    pass) against the tiny codebook, one (sub, code, pos) count/sum
    aggregation — never a corpus shuffle.
    """
    sd = dim // m_sub
    cb = _md5_sample(corpus, k_codes, id_col, vec_col, "code").select(
        "code",
        F.posexplode(
            F.array(*[F.slice("_cv", s * sd + 1, sd) for s in range(m_sub)])
        ).alias("sub", "_cbv"),
    )
    if lloyd_iters <= 0:
        return cb

    # subvector rows once; every Lloyd pass consumes them twice
    # (assignment argmin + the per-codeword mean explode)
    vx = _subvectors(_spread(corpus), m_sub, sd, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # float -> double up front so refined (double means) and kept
    # (unrefined) codewords stay one array type across iterations
    cb = cb.select(
        "code", "sub",
        F.transform(F.col("_cbv"), lambda x: x.cast("double")).alias("_cbv"),
    )
    for _ in range(lloyd_iters):
        assigned = _nearest(
            vx, cb.select("code", "_cbv", "sub"), "l2", 1, "big", key="sub"
        )
        sums = (
            assigned.select("sub", "code", F.posexplode("_xv").alias("_pos", "_x"))
            .groupBy("sub", "code", "_pos")
            .agg(
                F.sum(
                    F.floor(F.col("_x") * LLOYD_SCALE + F.lit(0.5)).cast("long")
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
        )
        means = (
            sums.select(
                "sub", "code", "_pos",
                (
                    F.col("_s").cast("double")
                    / (F.col("_n") * F.lit(float(LLOYD_SCALE)))
                ).alias("_m"),
            )
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select(
                "sub", "code",
                F.transform(F.col("_pm"), lambda s: s["_m"]).alias("_cbv_new"),
            )
        )
        # same eager-materialize + release discipline as _ivf_centroids:
        # cb is m_sub*k_codes rows but its lineage is a corpus pass
        prev_cb = cb
        cb = (
            cb.join(means, ["sub", "code"], "left")
            .select(
                "code", "sub", F.coalesce("_cbv_new", "_cbv").alias("_cbv")
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cb.count()
        if prev_cb.is_cached:
            prev_cb.unpersist()
    vx.unpersist()
    return cb


def pq_encode(
    corpus: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    err_scale: int = 1_000_000,
    centroids: DataFrame | None = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """Product-quantization ENCODING — the vector-DB-standard
    compression next to the scalar int8 path (`quantize_embeddings`):
    split each vector into ``m_sub`` subvectors, build one
    ``k_codes``-entry codebook per subspace, and store each vector as
    ``m_sub`` small code ids (here 8 codes = 8 bytes vs 64 float
    dims — 32x). Decoding (approximate reconstruction) is a codebook
    lookup; asymmetric-distance search scores queries against
    codebooks instead of raw vectors (compose with `ivf_topk`'s cell
    probe for the IVF-PQ serving shape).

    Codebooks are the PQ analogue of `_ivf_centroids`' build: the
    ``k_codes`` corpus vectors with the smallest (md5(id), id) — the
    same deterministic no-RNG sample, reproducible in any engine —
    sliced per subspace (code j's subvector c_j = sample[j][sub]).
    Assignment is exact nearest-codeword by squared L2 per subspace
    (ties -> smaller code), scored by `_nearest` keyed by subspace
    (bit-identical to the interpreted HOF fold and DuckDB's
    list_reduce at numpy speed; the HOF form would be m*k interpreted
    lambda chains per vector, the hot-surface class the round-5
    verdict evicted).

    Output: (vec_id, sub, code, err_q) — err_q is the squared-L2
    quantization error, floor(x*err_scale + 0.5)-quantized to an
    exact int64 (round() tie rules differ across engines), so the
    registry row is fully integer-hashed. The per-corpus mean of
    err_q/err_scale is the PQ recall-proxy a deployment monitors
    after every codebook rebuild.

    Scale shape: the codebook is m_sub*k_codes tiny rows, the small
    side of `_nearest`; the corpus explodes to m_sub skinny (id, sub,
    subvec) rows, each scored against its subspace's codewords where
    it is read. No corpus shuffle; vectors never leave their stage.

    ``centroids``: a (cell_id, _ucv) unit-centroid index
    (`_ivf_centroids` / `ivf_build_index` renamed) switches on
    RESIDUAL PQ — each vector is assigned to its max-dot cell and the
    codebooks quantize x - centroid instead of x. On corpora WITH
    cluster structure residuals are smaller and the same bits quantize
    finer (measured: mean err_q drops ~9% on planted clusters even
    with these sampled, untrained codewords; trained/Lloyd codebooks
    widen the gap); on STRUCTURELESS data subtracting a centroid adds
    variance and residual err_q is WORSE (measured ~2x on the random
    fixture) — which is precisely what the err_q monitor exists to
    surface before a layout choice ships. Output then carries
    ``cell_id`` too (needed for reconstruction), and the codewords
    are the sampled ids' RESIDUALS. Default (None) is plain PQ on raw
    vectors — the path the registry row gates.

    ``lloyd_iters``: per-subspace k-means refinement passes over the
    codebooks before encoding (see `_pq_codebook`) — the training step
    that closes most of the sampled-codeword error. Measured (probe in
    SCALE.md): mean err_q 1.151 -> 0.282 after ONE pass on the
    planted-cluster fixture (0.156 after three) and 0.095 -> 0.075
    even on the structureless fixture; composes with ``centroids``
    for trained residual PQ (1.048 -> 0.264 clustered), the
    combination the round-8 verdict flagged as the family's missing
    piece. IVF-PQ recall at toy n_cells stays probe-bound (0.32 ->
    0.34 @10) — training sharpens codes, not the candidate set.
    Default 0 = the sampled codebook the registry row gates.
    """
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sd = dim // m_sub
    corpus = _pq_valid(corpus, dim, vec_col)
    if centroids is None:
        frame, fcol = corpus.select(id_col, vec_col), vec_col
        extra: list[str] = []
    else:
        assigned = _nearest(corpus.select(id_col, vec_col), centroids, "dot", 1, "big")
        frame = _pq_residual_frame(assigned, centroids, id_col, vec_col)
        fcol = "_rv"
        extra = ["cell_id"]
    cb = _pq_codebook(frame, m_sub, k_codes, dim, id_col, fcol, lloyd_iters)
    best = _pq_best_codes(frame, cb, m_sub, sd, id_col, fcol, extra)
    return best.select(
        id_col,
        *extra,
        F.col("sub").cast("long").alias("sub"),
        F.col("code").cast("long").alias("code"),
        F.floor(F.col("_score") * err_scale + F.lit(0.5))
        .cast("long")
        .alias("err_q"),
    )


def _pq_residual_frame(
    assigned: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell_id, _rv) — residual vectors x - centroid(cell(x)) of
    (id, vec, cell_id) rows assigned against the (cell_id, _ucv)
    unit-centroid index. The subtraction is one exact IEEE op per element (Arrow
    kernel, no fold), so residual encoding stays as deterministic as
    the raw path."""
    from syncquill_spark.functions.vectors import subtract_arrow

    return (
        assigned.join(F.broadcast(cents), "cell_id")
        .select(
            id_col,
            "cell_id",
            subtract_arrow(F.col(vec_col), F.col("_ucv")).alias("_rv"),
        )
    )


def _subvectors(
    frame: DataFrame, m_sub: int, sd: int, id_col: str, vec_col: str, extra=()
) -> DataFrame:
    """(id, _xv, sub, *extra): one row per subspace slice of each
    vector — the big side of the per-subspace `_nearest` passes."""
    return frame.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(vec_col, s * sd + 1, sd) for s in range(m_sub)])
        ).alias("sub", "_xv"),
        *extra,
    ).select(id_col, "_xv", "sub", *extra)


def _pq_best_codes(
    frame: DataFrame,
    cb: DataFrame,
    m_sub: int,
    sd: int,
    id_col: str,
    vec_col: str,
    extra: list[str],
) -> DataFrame:
    """(id, _xv, sub, *extra, code, _score): each subvector's nearest
    codeword by squared L2 (ties -> smaller code)."""
    return _nearest(
        _subvectors(frame, m_sub, sd, id_col, vec_col, extra),
        cb.select("code", "_cbv", "sub"),
        "l2", 1, "big", key="sub",
    )


def _pq_code_arrays(
    frame: DataFrame,
    cb: DataFrame,
    m_sub: int,
    sd: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, _codes array<long>): per-vector nearest-codeword ids, one
    entry per subspace in subspace order — `_pq_best_codes`' exact
    assignment collapsed into ONE map-side-combinable groupBy(id) with
    m_sub conditional picks. The ADC serve path then shuffles one
    skinny row per vector instead of m_sub, and scores by array lookup
    instead of a per-subspace 3-key join plus a second aggregation
    (guide §2.3: aggregate before you shuffle)."""
    best = _pq_best_codes(frame, cb, m_sub, sd, id_col, vec_col, [])
    return best.groupBy(id_col).agg(
        F.array(
            *[F.min(F.when(F.col("sub") == s, F.col("code"))).cast("long")
              for s in range(m_sub)]
        ).alias("_codes")
    )


def _adc_lut_arrays(
    queries: DataFrame,
    cb: DataFrame,
    m_sub: int,
    sd: int,
    query_id_col: str,
    vec_col: str,
    score_scale: int,
) -> DataFrame:
    """(query_id, _lut array<long>): the per-query ADC lookup table as
    ONE array ordered by (sub, code) — entry sub*k_codes + code (codes
    are 1-based row_numbers; k_codes = size/m_sub) is the
    floor-half-up-quantized partial dot of the query's subvector with
    that codeword, exactly the `_part_q` of the exploded row form this
    replaces. The scoring join then carries one broadcast row per
    query and an m_sub-step integer fold instead of m_sub rows per
    candidate + a 3-key broadcast join + a re-aggregation."""
    q_sub = queries.select(
        F.col(query_id_col),
        F.posexplode(
            F.array(*[F.slice(vec_col, s * sd + 1, sd) for s in range(m_sub)])
        ).alias("sub", "_qv"),
    )
    entries = q_sub.join(F.broadcast(cb), "sub").select(
        F.col(query_id_col),
        F.struct(
            F.col("sub").cast("long").alias("sub"),
            F.col("code").cast("long").alias("code"),
            F.floor(
                dot_arrow(F.col("_qv"), F.col("_cbv")) * score_scale + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        ).alias("_e"),
    )
    # array_sort on (sub, code, q) structs: (sub, code) is unique per
    # query, so the order — and hence every array position — is total
    # and deterministic regardless of collect_list's arrival order
    return entries.groupBy(query_id_col).agg(
        F.transform(F.array_sort(F.collect_list("_e")), lambda s: s["q"]).alias(
            "_lut"
        )
    )


def _adc_probe(
    queries: DataFrame,
    cents: DataFrame,
    nprobe: int,
    query_id_col: str,
    score_scale: int,
) -> DataFrame:
    """(query_id, cell_id, _qc): each query's ``nprobe`` best cells by
    dot on the unit centroids (ties -> lower cell), with the dot
    floor-half-up-quantized like the ADC partials — the centroid term
    of a residual score."""
    return _nearest(queries, cents, "dot", nprobe, "big").select(
        query_id_col,
        "cell_id",
        F.floor(F.col("_score") * score_scale + F.lit(0.5)).cast("long").alias("_qc"),
    )


def _adc_score(codes_col: Column, lut_col: Column, m_sub: int) -> Column:
    """Exact-integer ADC score from a codes array and a LUT array:
    sum over subspaces of lut[sub*k_codes + code[sub]]. NULL partials
    (an invalid query subvector quantizes to a NULL LUT entry) are
    skipped exactly like SUM over the exploded row form, and the
    result is NULL when every partial is NULL — bit-identical to the
    join + SUM(_part_q) formulation this replaces (integer sum, so
    accumulation order is irrelevant)."""
    k = (F.size(lut_col) / F.lit(m_sub)).cast("long")
    parts = F.transform(
        F.sequence(F.lit(1), F.lit(m_sub)),
        lambda i: F.element_at(
            lut_col,
            ((i.cast("long") - F.lit(1)) * k + F.element_at(codes_col, i)).cast(
                "int"
            ),
        ),
    )
    valid = F.filter(parts, lambda v: v.isNotNull())
    return F.when(
        F.size(valid) > 0,
        F.aggregate(valid, F.lit(0).cast("long"), lambda a, v: a + v),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    score_scale: int = 1_000_000,
    residual: bool = False,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-PQ serving: the asymmetric-distance (ADC) composition of
    the IVF cell probe and the PQ codebooks — candidates come from the
    query's ``nprobe`` best cells (never a corpus cross product), and
    each candidate is scored from its 8-byte PQ CODES plus a per-query
    lookup table, without ever touching the candidate's float vector.
    This is the classic large-scale ANN serving shape: the float
    corpus stays cold storage; the hot path reads (cell, codes) only.

    Score: sum over subspaces of dot(query_sub, codeword(code_sub)) ~=
    dot(query, reconstructed(x)). Each per-subspace partial dot is a
    deterministic left-fold double, then floor(x*score_scale + 0.5)-
    quantized to int64 BEFORE the cross-row sum (determinism doctrine
    #3: the sum over m_sub rows must be order-independent, so it is an
    exact integer sum; a double SUM would be aggregation-order-
    dependent). Ranking ties break by neighbor id.

    ``residual=True`` switches to residual PQ — the standard IVF-PQ
    layout: codes quantize x - centroid(cell(x)) and the ADC score
    adds the dot(q, centroid) term the probe already computed,
    quantized like the partials so the whole score stays an exact
    integer sum. Worth switching on only for corpora with cluster
    structure (see pq_encode: residual cuts quantization error there
    and inflates it on structureless data — monitor err_q). Default
    False = plain PQ on raw vectors (the path the registry row gates);
    same composition and determinism story either way.

    Scale shape: centroids and codebooks are tiny small sides of
    `_nearest`; corpus assignment emits one row per vector where it is
    scored, encoding is one map-side-combinable aggregation over skinny
    int64 rows; the LUT is |queries| * m_sub * k_codes rows (bounded by
    the serving batch — broadcast); the candidate join is an equi-join
    on cell_id; final top-k is a per-query window over candidates.
    The corpus' float vectors are read exactly once (to build codes +
    cells) and never shuffle. The one remaining
    corpus-sized (skinny) shuffle here is the candidate⋈codes join on
    vec_id — at deployment use `ivfpq_build_index` +
    `ivfpq_topk_from_index`: codes persisted cell-co-located
    (Hive-partitioned by cell_id), the serve plan broadcast-joins the
    probe onto them with dynamic partition pruning and shuffles
    nothing corpus-sized (verified equal output by unit test).

    Output: (query_id, neighbor_id, rk, score_q) — all ints.
    """
    if dim % m_sub != 0:
        # same guard as pq_encode: without it sd = dim // m_sub would
        # silently drop the trailing dims from both codes and LUT and
        # return plausible-but-wrong neighbors instead of an error
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    corpus = _pq_valid(corpus, dim, vec_col)
    # centroids and codebook are tiny frames with full-corpus lineage
    # and two consumers each (assignment + probe; encoding + LUT):
    # materialize each once instead of re-running the corpus
    # TakeOrdered per consumer (guide §5 / §2.4)
    cents = _materialize_small(_ivf_centroids(corpus, n_cells, 0, id_col, vec_col))
    sd = dim // m_sub

    # queries feed BOTH the LUT build and the cell probe — persist the
    # projection so the (usually unpushable) query-set filter scans
    # the corpus once, not twice
    queries = _materialize_small(queries.select(query_id_col, vec_col))

    assigned = _nearest(corpus.select(id_col, vec_col), cents, "dot", 1, "big")

    if residual:
        # residual PQ: quantize x - centroid(cell(x)); the ADC score
        # decomposes as dot(q, c_cell) + sum_sub dot(q_sub, codeword)
        # — the centroid term rides on the probed (query, cell) pairs,
        # quantized like the partials so the sum stays exact-integer
        frame, fcol = _pq_residual_frame(assigned, cents, id_col, vec_col), "_rv"
    else:
        frame, fcol = corpus.select(id_col, vec_col), vec_col
    cb = _materialize_small(
        _pq_codebook(frame, m_sub, k_codes, dim, id_col, fcol, lloyd_iters)
    )
    # array layout for codes and LUT (see the helpers): the candidate
    # scoring join shrinks from m_sub rows per candidate + a 3-key
    # broadcast join + a second aggregation to one row per candidate,
    # one broadcast join on query_id, and an m_sub-step integer fold
    codes = _pq_code_arrays(frame, cb, m_sub, sd, id_col, fcol)
    lut = _adc_lut_arrays(
        queries, cb, m_sub, sd, query_id_col, vec_col, score_scale
    )

    probed = _adc_probe(queries, cents, nprobe, query_id_col, score_scale)

    cands = probed.join(assigned.select(id_col, "cell_id"), "cell_id").select(
        query_id_col, id_col, "_qc"
    )
    scored = (
        cands.join(codes, id_col)
        .join(F.broadcast(lut), query_id_col)
        .withColumn("_sq", _adc_score(F.col("_codes"), F.col("_lut"), m_sub))
        .select(
            query_id_col,
            id_col,
            (
                (F.col("_qc") + F.col("_sq")) if residual else F.col("_sq")
            ).cast("long").alias("score_q"),
        )
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.col("_rk").cast("long").alias("rk"),
            "score_q",
        )
    )


def ivfpq_build_index(
    corpus: DataFrame,
    n_cells: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    lloyd_iters: int = 0,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build the persisted IVF-PQ index — the cell-CO-LOCATED code
    layout the round-8 verdict asked for (`ivfpq_topk`'s one remaining
    serve-time shuffle is its corpus-sized code join on vec_id; at
    deployment the codes should live pre-joined to their cell). Three
    parts, persisted via ``index_store.save_index(path,
    _partition_by={"codes": ["cell_id"]}, **index)``:

    - ``centroids`` (cell_id, centroid) — unit centroids, tiny;
    - ``codebook`` (code, sub, cbv) — m_sub*k_codes rows, tiny;
    - ``codes`` (cell_id, vec_id, codes array<long>) — the corpus's
      8-byte PQ codes (one row per vector, one array entry per
      subspace in subspace order — r16: was m_sub rows per vector;
      the array row is smaller on disk, 8x fewer rows to scan, and
      serves without any per-subspace join) WITH the cell assignment
      attached at build time. Written Hive-partitioned by cell_id, a
      serve-time probe join on cell_id reads only the probed cells'
      files (dynamic partition pruning) — serve I/O scales with
      nprobe/n_cells of the corpus, not the corpus.

    The corpus's float vectors are read during THIS build and never
    again: `ivfpq_topk_from_index` serves entirely from these parts.
    Same determinism contract as `ivfpq_topk` (which remains the
    one-shot composition of the same arithmetic); ``residual`` /
    ``lloyd_iters`` choose the layout and training exactly as there —
    record the choice with the index, the serve call must match
    ``residual``.

    ``centroids`` / ``codebook``: optional PREBUILT parts in the
    serve format ((cell_id, centroid) / (code, sub, cbv)) — given
    together, training is skipped entirely and the corpus is assigned
    and encoded against the FROZEN parts. This is the incremental
    append's contract (``merge_ivfpq_index``): deployed ANN systems
    encode new vectors against the existing quantizer and retrain on
    their own schedule (err_q drift is the retrain signal), because
    re-deriving centroids per batch would re-encode the corpus."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if (centroids is None) != (codebook is None):
        raise ValueError("centroids and codebook must be given together")
    sd = dim // m_sub
    corpus = _pq_valid(corpus, dim, vec_col)
    if centroids is not None:
        cents = centroids.select("cell_id", F.col("centroid").alias("_ucv"))
    else:
        # tiny, corpus-lineage, two consumers (cell assignment + the
        # returned centroids part): materialize once — see ivfpq_topk
        cents = _materialize_small(_ivf_centroids(corpus, n_cells, 0, id_col, vec_col))
    assigned = _nearest(corpus.select(id_col, vec_col), cents, "dot", 1, "big")
    if residual:
        frame, fcol = _pq_residual_frame(assigned, cents, id_col, vec_col), "_rv"
    else:
        frame, fcol = corpus.select(id_col, vec_col), vec_col
    if codebook is not None:
        cb = codebook.select("code", "sub", F.col("cbv").alias("_cbv"))
    else:
        # two consumers: code assignment + the returned codebook part
        cb = _materialize_small(
            _pq_codebook(frame, m_sub, k_codes, dim, id_col, fcol, lloyd_iters)
        )
    codes = _pq_code_arrays(frame, cb, m_sub, sd, id_col, fcol)
    return {
        "centroids": cents.select("cell_id", F.col("_ucv").alias("centroid")),
        "codebook": cb.select("code", "sub", F.col("_cbv").alias("cbv")),
        "codes": codes.join(assigned.select(id_col, "cell_id"), id_col).select(
            "cell_id", id_col, F.col("_codes").alias("codes")
        ),
    }


def merge_ivfpq_index(
    index: dict[str, DataFrame],
    batch: DataFrame,
    m_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> dict[str, DataFrame]:
    """Incremental IVF-PQ maintenance — the last index family to gain
    the batch-sized append every other family has (MinHash, SRP,
    winnowing, SimHash, bigram-LM, BM25): only the BATCH's floats are
    read; its vectors are assigned and encoded against the STORED
    centroids + codebook (the frozen-quantizer contract of deployed
    ANN systems — FAISS-style add() vs train()), and its codes append
    to the stored cell-co-located codes part. Centroids and codebook
    pass through unchanged, so every query's LUT — and therefore every
    existing vector's score — is untouched by an append.

    Parity (unit-pinned): the merged index equals
    ``ivfpq_build_index(corpus+batch, centroids=stored,
    codebook=stored)`` part-for-part, and serving from it equals
    serving from that rebuilt index row-for-row, in plain AND residual
    modes. NOT pinned (by design): equality with a from-scratch
    rebuild, whose centroids/codebook would differ — monitor err_q on
    appended batches and retrain when it drifts; ``residual`` must
    match the build. Batch ids must be new (single-writer contract)."""
    batch_parts = ivfpq_build_index(
        batch,
        m_sub=m_sub,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        residual=residual,
        centroids=index["centroids"],
        codebook=index["codebook"],
    )
    return {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        # normalize column order: a LOADED codes part has the Hive
        # partition column (cell_id) appended last by discovery
        "codes": index["codes"]
        .select("cell_id", id_col, "codes")
        .unionByName(batch_parts["codes"]),
    }


def ivfpq_topk_from_index(
    queries: DataFrame,
    index: dict[str, DataFrame],
    k: int = 10,
    nprobe: int = 4,
    m_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    score_scale: int = 1_000_000,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ ADC serving from a PERSISTED index (`ivfpq_build_index`
    parts, typically via ``index_store.load_index``) — identical
    output to `ivfpq_topk` with the same parameters (the equivalence a
    unit test pins), but with the serve-time plan the 100 TB
    deployment wants: the codes arrive already co-located with their
    cell, so the probe is ``codes ⋈ broadcast(probed_cells)`` on
    cell_id — with the codes part Hive-partitioned by cell_id, Spark's
    dynamic partition pruning reads ONLY the probed cells' files — and
    scoring is one more broadcast join against the per-query LUT. No
    shuffle of any corpus-sized table anywhere in the serve plan (the
    monolithic `ivfpq_topk` shuffles skinny codes on vec_id once);
    the only aggregation keys are (query, candidate) pairs.

    ``residual`` must match the build: residual codes score as
    dot(q, centroid) + sum of codeword partials, exactly as in
    `ivfpq_topk`."""
    sd = dim // m_sub
    cents = index["centroids"].select(
        "cell_id", F.col("centroid").alias("_ucv")
    )
    cb = index["codebook"].select("code", "sub", F.col("cbv").alias("_cbv"))
    codes = index["codes"]

    # the serving batch feeds both the LUT build and the cell probe —
    # persist the projection so it is computed once (lazy: see
    # _materialize_small)
    queries = _materialize_small(queries.select(query_id_col, vec_col))
    lut = _adc_lut_arrays(
        queries, cb, m_sub, sd, query_id_col, vec_col, score_scale
    )

    probed = _adc_probe(queries, cents, nprobe, query_id_col, score_scale)

    # THE layout payoff: candidates + codes in one broadcast join on
    # the co-location key — DPP prunes unprobed cell partitions — and
    # since r16 the codes arrive as ONE array row per vector, so the
    # ADC score is a broadcast-LUT lookup fold with NO aggregation
    # (the serve plan's only shuffle is the final top-k window)
    scored = (
        codes.join(F.broadcast(probed), "cell_id")
        .join(F.broadcast(lut), query_id_col)
        .withColumn("_sq", _adc_score(F.col("codes"), F.col("_lut"), m_sub))
        .select(
            query_id_col,
            id_col,
            (
                (F.col("_qc") + F.col("_sq")) if residual else F.col("_sq")
            ).cast("long").alias("score_q"),
        )
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.col("_rk").cast("long").alias("rk"),
            "score_q",
        )
    )


def exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Stage-2 EXACT re-rank of an approximate candidate list — the
    refinement half of two-stage ANN serving (coarse ADC/LSH recall,
    exact precision): re-score each (query, candidate) pair with the
    exact float cosine and keep the top ``k`` per query.

    ``candidates`` is any (query_id, neighbor_id) frame — `ivfpq_topk`
    / `ivfpq_topk_from_index` / `lsh_topk` / `ivf_topk` output all fit
    — so one refiner serves every coarse index family.

    Scale shape — the reason two-stage serving is the deployed
    standard: the corpus floats are touched ONLY for candidate rows.
    Candidates are |queries| x R skinny int64 pairs, broadcast onto
    the corpus float table (corpus never shuffles; non-candidates die
    at the join), and the query vectors broadcast onto the survivors.
    Exact scoring runs on |queries| x R rows instead of |corpus| — at
    a 1B-vector corpus with 1k queries x R=100 that is 1e5 exact
    cosines instead of 1e12. Scoring uses the same left-to-right
    cosine fold as `brute_force_topk`, so the re-ranked output equals
    brute force RESTRICTED to the candidate set, row for row (the
    equivalence the unit test pins; ranking ties break by neighbor
    id).

    Output: (query_id, neighbor_id, rk) — `brute_force_topk`'s exact
    schema, ints only.
    """
    cand = candidates.select(
        F.col(query_id_col), F.col("neighbor_id").cast("long").alias("neighbor_id")
    )
    fetched = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
    ).join(F.broadcast(cand), "neighbor_id")
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    scored = fetched.join(F.broadcast(q), query_id_col).select(
        query_id_col,
        "neighbor_id",
        cosine_similarity_arrow(F.col("_qvec"), F.col("_cvec")).alias("_score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        # NULL scores (rows whose embedding is NULL / ragged /
        # non-finite — the kernels mask them, r13 boundary battery)
        # are not neighbors: drop BEFORE ranking, or they'd fill
        # trailing ranks whenever k exceeds the valid candidates
        scored.filter(F.col("_score").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk")
    )


def ivfpq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    n_cells: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    residual: bool = False,
    lloyd_iters: int = 0,
) -> DataFrame:
    """Two-stage IVF-PQ serving: ADC top-``rerank`` candidates
    (`ivfpq_topk` — floats cold, codes hot), then `exact_rerank` down
    to top-``k`` from the true float vectors of the candidates alone.

    This is how the PQ compression loss is bought back in deployed
    ANN: the 8-byte codes bound the candidate set, the exact pass
    fixes the ordering within it — recall is then limited only by the
    coarse stage's candidate coverage (n_cells/nprobe/rerank are the
    knobs), not by quantization error. ``rerank`` must be >= ``k``.

    Output: (query_id, neighbor_id, rk) — ints only.
    """
    if rerank < k:
        raise ValueError(f"rerank depth {rerank} < k {k}")
    cand = ivfpq_topk(
        corpus,
        queries,
        k=rerank,
        n_cells=n_cells,
        nprobe=nprobe,
        m_sub=m_sub,
        k_codes=k_codes,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        residual=residual,
        lloyd_iters=lloyd_iters,
    )
    return exact_rerank(
        cand, corpus, queries, k=k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def random_projection(
    df: DataFrame,
    out_dim: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding_rp",
    seed_tag: str = "rp-v1",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` deterministic md5-derived directions
    (the `_hyperplane` recipe with a seed namespace, scaled by
    1/sqrt(out_dim) so expected squared norms are preserved) — the
    standard cheap shrink before ANN indexing or storage when the
    corpus is embedding-heavy: 64 -> 16 dims is 4x less to shuffle,
    store, and scan, at a distance distortion JL bounds.

    No training, no corpus pass to fit, no RNG state: the projection
    matrix is a pure function of (seed_tag, out_dim, dim), so any two
    jobs — or engines — materialize the identical matrix, and a batch
    projected tomorrow lands in the same space as the corpus projected
    today (the property an incremental pipeline needs; retraining-free
    by construction, unlike PCA).

    Scale shape: the matrix is out_dim x dim literals baked into the
    plan; projection is one Arrow-batched matmul per batch (float64,
    row-major — components accumulate in fixed dim order, so outputs
    are deterministic and engine-portable). Output keeps all input
    columns + ``out_col`` (array<double>, length out_dim).

    Use it as a COARSE stage, not a final ranking: JL bounds distance
    distortion, but on tie-dense corpora (near-equal neighbor cosines
    — this fixture's shape) small distortions reshuffle top-k order.
    Measured here: projected-space top-10 recall 0.26 at out_dim=16,
    recovering to 0.64 when the projected top-100 candidates are
    re-ranked by `exact_rerank` on the ORIGINAL floats — the same
    two-stage pattern as IVF-PQ serving, with the same knob (depth).
    """
    import numpy as np
    import pandas as pd

    if out_dim <= 0 or out_dim > dim:
        raise ValueError(f"out_dim must be in [1, {dim}], got {out_dim}")
    planes = np.array(
        [
            _hyperplane(dim, f"{seed_tag}:{k}")
            for k in range(out_dim)
        ],
        dtype=np.float64,
    ) / np.sqrt(float(out_dim))

    # hint-less form: this module stringifies annotations (see
    # _make_sig_udf's note) — the bare signature takes the SCALAR path
    @pandas_udf("array<double>")
    def _project(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # NULL / wrong-length / non-finite rows -> NULL output instead
        # of aborting the batch (r13 boundary battery)
        rows_ = [None if v is None else np.asarray(v, dtype=np.float64) for v in vecs]
        valid = np.array(
            [
                r is not None
                and r.ndim == 1
                and len(r) == planes.shape[1]
                and bool(np.isfinite(r).all())
                for r in rows_
            ],
            dtype=bool,
        )
        x = np.zeros((len(rows_), planes.shape[1]), dtype=np.float64)
        for i, r in enumerate(rows_):
            if valid[i]:
                x[i] = r
        # fixed-order accumulation over dims: y = sum_j x[:, j] * P[:, j]
        y = np.zeros((x.shape[0], planes.shape[0]), dtype=np.float64)
        for j in range(x.shape[1]):
            y += np.outer(x[:, j], planes[:, j])
        if valid.all():
            return pd.Series(list(y))
        return pd.Series(
            [y[i] if valid[i] else None for i in range(len(rows_))]
        )

    return df.withColumn(out_col, _project(F.col(vec_col)))


def pca_fit(
    df: DataFrame,
    k: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> dict[str, DataFrame]:
    """Fit a PCA basis for embedding reduction — the data-aware
    companion to `random_projection` (which needs no fit but ignores
    structure): top-``k`` eigenvectors of the covariance of the
    (optionally sampled) corpus.

    Determinism, the repo doctrine applied to a fitted model: vector
    components quantize to int64 at SIG_SCALE, so the mean and
    covariance accumulations are EXACT integer sums — independent of
    partitioning and row order (a double covariance sum would make the
    fitted basis run-dependent). Each executor batch contributes one
    partial (count, sum vector, sum of outer products) row via
    mapInPandas (numpy int64 matmul per batch); partials reduce in one
    skinny aggregation; the 64x64 covariance — model-sized — collects
    to the driver for numpy's eigh, whose eigenvectors get a fixed
    sign convention (largest-|component| entry positive). int64 range
    bounds the FIT SAMPLE, not the corpus: |q| <= ~4e6 -> an outer
    product term <= ~1.6e13, safe to ~5e5 sampled rows — pass
    ``sample_mod`` (keep id % mod == 0, the deterministic sample
    idiom) to fit on a bounded sample and project everything, which
    is how production PCA is fitted anyway.

    Returns index_store-ready parts: ``mean`` (1 row: count + mean
    array), ``components`` (k rows: rank, eigval_q, component array —
    eigenvalues int64-quantized for exact cross-run comparisons).
    Persist with ``save_index(path, **pca_fit(...))``.
    """
    import numpy as np
    import pandas as pd

    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")
    src = df.select(F.col(id_col), F.col(vec_col))
    if sample_mod is not None:
        src = src.filter(F.col(id_col) % sample_mod == 0)

    part_schema = "n long, s array<long>, m array<long>"

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            # drop NULL / wrong-length / non-finite rows from the fit
            # sample: a covariance over them is meaningless and the
            # bare np.stack aborted the whole fit on one corrupt row
            # (r13 boundary battery)
            rows_ = [
                None if v is None else np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col]
            ]
            good = [
                r
                for r in rows_
                if r is not None
                and r.ndim == 1
                and len(r) == dim
                and bool(np.isfinite(r).all())
            ]
            if not good:
                continue
            x = np.stack(good)
            q = np.floor(x * float(SIG_SCALE) + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "n": [np.int64(len(q))],
                    "s": [q.sum(axis=0)],
                    "m": [(q.T @ q).reshape(-1)],
                }
            )

    agg = (
        src.mapInPandas(partials, part_schema)
        .select(
            "n",
            F.posexplode(
                F.concat(F.col("s"), F.col("m"))
            ).alias("pos", "val"),
        )
        .groupBy("pos")
        .agg(F.sum("val").cast("long").alias("v"), F.sum(
            F.when(F.col("pos") == 0, F.col("n")).otherwise(0)
        ).cast("long").alias("nn"))
    )
    rows = agg.collect()  # dim + dim*dim + 1 values — model-sized
    vals = {r.pos: r.v for r in rows}
    n = sum(r.nn for r in rows)
    if n == 0:
        raise ValueError("pca_fit: empty (or fully sampled-out) input")
    s = np.array([vals[i] for i in range(dim)], dtype=np.float64)
    m = np.array(
        [vals[dim + i] for i in range(dim * dim)], dtype=np.float64
    ).reshape(dim, dim)
    mu = s / float(n)
    cov = (m - np.outer(mu, s) - np.outer(s, mu) + n * np.outer(mu, mu)) / float(n)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-eigval)[:k]
    comps = []
    for rank, idx in enumerate(order):
        v = eigvec[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:  # fixed sign convention: largest-|entry| positive
            v = -v
        comps.append((rank, int(np.floor(eigval[idx] + 0.5)), [float(c) for c in v]))
    spark = df.sparkSession
    mean_df = spark.createDataFrame(
        [(int(n), [float(c) / float(SIG_SCALE) for c in mu])],
        "n long, mean array<double>",
    )
    comp_df = spark.createDataFrame(
        comps, "rank long, eigval_q long, component array<double>"
    )
    return {"mean": mean_df, "components": comp_df}


def pca_project(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding_pca",
    whiten: bool = False,
) -> DataFrame:
    """Project embeddings onto a fitted PCA basis (`pca_fit` output or
    `index_store.load_index` of a persisted one): y = C @ (x - mean).
    The model is model-sized (k + 1 rows) — collected once into the
    UDF closure, like the BPE merge list; projection is one Arrow
    matmul per batch with fixed-order dim accumulation (deterministic,
    engine-portable). Output keeps input columns + ``out_col``.

    ``whiten=True`` divides each coordinate by its component's std
    (sqrt(eigval_q)/SIG_SCALE — sqrt and divide are correctly-rounded
    IEEE ops, so whitening stays deterministic): coordinates then have
    ~unit variance on the fit sample, the preprocessing isotropic
    distance metrics and downstream quantizers expect. Components
    whose quantized eigenvalue is 0 (numerically empty directions)
    pass through unscaled instead of dividing by zero."""
    import numpy as np
    import pandas as pd

    (mean_row,) = model["mean"].collect()
    mu = np.asarray(mean_row.mean, dtype=np.float64)
    comp_rows = model["components"].orderBy("rank").collect()
    C = np.stack([np.asarray(r.component, dtype=np.float64) for r in comp_rows])
    if whiten:
        ev = np.asarray([r.eigval_q for r in comp_rows], dtype=np.float64)
        std = np.sqrt(ev) / float(SIG_SCALE)
        scale = np.where(std > 0.0, 1.0 / std, 1.0)
        C = C * scale[:, None]

    @pandas_udf("array<double>")
    def _proj(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # NULL / wrong-length / non-finite rows -> NULL output instead
        # of aborting the batch (r13 boundary battery)
        rows_ = [None if v is None else np.asarray(v, dtype=np.float64) for v in vecs]
        valid = np.array(
            [
                r is not None
                and r.ndim == 1
                and len(r) == C.shape[1]
                and bool(np.isfinite(r).all())
                for r in rows_
            ],
            dtype=bool,
        )
        x = np.zeros((len(rows_), C.shape[1]), dtype=np.float64)
        for i, r in enumerate(rows_):
            if valid[i]:
                x[i] = r
        xc = x - mu
        y = np.zeros((x.shape[0], C.shape[0]), dtype=np.float64)
        for j in range(x.shape[1]):  # fixed-order over dims
            y += np.outer(xc[:, j], C[:, j])
        if valid.all():
            return pd.Series(list(y))
        return pd.Series(
            [y[i] if valid[i] else None for i in range(len(rows_))]
        )

    return df.withColumn(out_col, _proj(F.col(vec_col)))


#: Quantization scale for mined-pair scores: cosines become
#: floor(cos * 1e6 + 0.5) int64 BEFORE any cross-row arithmetic (the
#: neighborhood averages and the margin ratio are exact integer ops on
#: these), so the mined set is engine-exact — the same
#: quantize-then-accumulate doctrine as the signature family.
MARGIN_SCALE = 1_000_000


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    min_margin_ppm: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Margin-based bitext mining (the Artetxe & Schwenk 2019 ratio
    criterion, the CCMatrix/LASER recipe): align two monolingual
    corpora by their embedding spaces — for each source vector, its
    best target candidate scored not by raw cosine (absolute cosine is
    incomparable across hubs and deserts) but by the cosine NORMALIZED
    by both endpoints' neighborhood density:

        margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

    where avgNN_k(x) is the mean cosine of x's k nearest candidates on
    the OTHER side. A hub whose whole neighborhood is ~0.9 needs more
    than 0.9 to win; an isolated pair at 0.6 can. Output: one row per
    source vector that found a mate — (src_id, tgt_id, cos_ppm,
    margin_ppm), margin >= ``min_margin_ppm`` (1e6 = margin 1.0), ints
    only, total tie-breaks everywhere.

    All arithmetic after the Arrow cosine kernel is exact int64:
    cosines quantize to ppm, neighborhood averages are SQL integral
    division over exactly the (at most k) kept scorable rows — a pair
    with a NULL, ragged or zero-norm vector is no neighbour — and the
    margin is
    (2e6 * cos_q) DIV (a_q + b_q). Pairs whose denominators are not
    positive are dropped (a neighborhood anti-correlated with the
    other corpus carries no alignment evidence).

    Scale shape: with ``candidates=None`` the candidate set is the
    broadcast cross product (src must be the small side — the
    brute-force baseline, same contract as ``brute_force_topk``); at
    corpus x corpus scale pass ``candidates`` — a skinny
    (src_id, tgt_id) frame from the coarse ANN stages (``lsh_topk`` /
    ``ivfpq_topk`` per direction) — and everything downstream is
    candidate-sized equi-joins; vectors are touched once per candidate
    pair by the Arrow kernel and never shuffle corpus-wide.
    """
    s = _spread(
        src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("_sv"))
    )
    t = _spread(
        tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_tv"))
    )
    if candidates is None:
        pairs = t.join(F.broadcast(s))
    else:
        pairs = (
            candidates.select("src_id", "tgt_id")
            .dropDuplicates(["src_id", "tgt_id"])
            .join(s, "src_id")
            .join(t, "tgt_id")
        )
    scored = pairs.select(
        "src_id",
        "tgt_id",
        F.floor(
            cosine_similarity_arrow(F.col("_sv"), F.col("_tv"))
            * F.lit(float(MARGIN_SCALE))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cos_ppm"),
    )
    # unscorable pairs (NULL cos_ppm: NULL, ragged, zero-norm vectors)
    # are no neighbours: they rank last and are dropped with the rank
    # cut, so each average covers scorable pairs only. (A filter
    # before the window would be pushed below the projection and run
    # the Arrow kernel twice.)
    wf = Window.partitionBy("src_id").orderBy(
        F.col("cos_ppm").desc_nulls_last(), F.col("tgt_id").asc()
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_ppm").desc_nulls_last(), F.col("src_id").asc()
    )
    kept = (F.col("_rk") <= k) & F.col("cos_ppm").isNotNull()
    fwd = scored.withColumn("_rk", F.row_number().over(wf)).filter(kept)
    bwd = scored.withColumn("_rk", F.row_number().over(wb)).filter(kept)
    a = fwd.groupBy("src_id").agg(
        F.expr("sum(cos_ppm) DIV count(1)").alias("_a")
    )
    b = bwd.groupBy("tgt_id").agg(
        F.expr("sum(cos_ppm) DIV count(1)").alias("_b")
    )
    wm = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), F.col("tgt_id").asc()
    )
    return (
        fwd.drop("_rk")
        .join(a, "src_id")
        .join(b, "tgt_id")
        .filter(F.col("_a") + F.col("_b") > 0)
        .withColumn(
            "margin_ppm",
            F.expr(f"({2 * MARGIN_SCALE} * cos_ppm) DIV (_a + _b)"),
        )
        .withColumn("_mrk", F.row_number().over(wm))
        .filter(
            (F.col("_mrk") == 1) & (F.col("margin_ppm") >= min_margin_ppm)
        )
        .select("src_id", "tgt_id", "cos_ppm", "margin_ppm")
    )
