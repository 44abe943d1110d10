"""Vector expressions over array<float|double> columns.

Two equivalent families, bit-identical by construction:

- `dot` / `l2_norm` / `cosine_similarity`: built-in higher-order
  functions (zip_with/aggregate). NOTE these are CodegenFallback in
  Spark — they evaluate INTERPRETED, one lambda call per element —
  so they are the right form only off the hot path (tiny frames,
  centroid tables).
- `dot_arrow` / `cosine_similarity_arrow`: Arrow-batched numpy
  kernels that replay the SAME left-to-right fold — vectorized over
  ROWS, sequential over DIMENSIONS — so every intermediate rounding
  step matches the HOF fold (and DuckDB's list_reduce) bit for bit,
  while running at numpy speed. Use these where a fold is per row
  PAIR (a candidate list, a LUT entry). (A plain numpy dot/einsum
  would pairwise-sum and drift in the last ulp — enough to flip
  near-tie rankings cross-engine.)

Scoring a corpus against a small table and keeping the best rows
(top-k, nearest centroid or codeword, cell probes) does not go through
these per-pair kernels: `operators/similarity.py::_nearest` is the one
core for it. It replays the same folds on a batch x small matrix
(dot, cosine and squared L2), masks the same pairs (`_stack_f64_masked`
plus the zero-norm cosine rule), and ranks valid scores first, best
first, ties to the smaller id, invalid scores last.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (|a|*|b|); sequential left-to-right accumulation in
    double — the same op order DuckDB's list aggregates use, so scores
    compare (and order) identically cross-engine.

    ONE fold computes all three accumulators (dot, |a|^2, |b|^2) as a
    struct; the zero-norm guard and the division read them from the
    aggregate's finish lambda, where the accumulator is a bound
    variable — evaluated once, unlike a repeated Column subtree, which
    HOFs re-fold per reference (they are CodegenFallback, so no
    common-subexpression elimination rescues them; ADVICE r15: the
    guard-plus-division form folded each norm three times). Each
    accumulator's per-element sequence is unchanged, so values stay
    bit-identical to the previous form, the Arrow twin, and DuckDB.

    Zero-norm inputs yield NULL, not NaN — the same guard
    `cosine_similarity_arrow` applies (r14): Spark sorts NaN ABOVE
    every double, so a 0/0 here would top every desc-ordered top-k,
    while NULL sorts last and never passes a threshold. DuckDB's
    x/0 is NULL too, so oracles agree by construction. (ADVICE r15:
    without this the two documented-equivalent forms diverged on
    exactly the degenerate input the Arrow fix targets.)"""
    pairs = F.zip_with(
        a,
        b,
        lambda x, y: F.struct(
            x.cast("double").alias("x"), y.cast("double").alias("y")
        ),
    )
    zero = F.lit(0.0)
    return F.aggregate(
        pairs,
        F.struct(zero.alias("d"), zero.alias("na"), zero.alias("nb")),
        lambda acc, p: F.struct(
            (acc["d"] + p["x"] * p["y"]).alias("d"),
            (acc["na"] + p["x"] * p["x"]).alias("na"),
            (acc["nb"] + p["y"] * p["y"]).alias("nb"),
        ),
        lambda acc: F.when(
            (acc["na"] > zero) & (acc["nb"] > zero),
            acc["d"] / (F.sqrt(acc["na"]) * F.sqrt(acc["nb"])),
        ),
    )


def _stack_f64_masked(a, b=None):
    """(valid, xa, xb): ragged/null-tolerant stacking for the Arrow
    kernels. valid[i] is False when row i is NULL, contains a
    non-finite component, or (two-column form) the pair's lengths
    differ; such rows land as zeros in the matrix and the CALLER must
    emit NULL for them. Why each clause exists:

    - NULL / length-mismatch rows made np.stack throw, ABORTING THE
      JOB on one corrupt row (r13 boundary battery — the vector
      sibling of the jaccard_verify 0/0 crash).
    - non-finite rows poisoned rankings silently: Spark sorts NaN
      ABOVE every double, so one NaN embedding would top every
      desc-ordered top-k. NULL instead never passes a threshold
      filter and sorts last under desc.

    Shorter-than-batch-max valid pairs (both sides equal length) are
    zero-padded; the extra +0.0 accumulation steps are IEEE no-ops, so
    scores stay bit-identical to the per-pair fold.

    Fast path: one np.stack + one vectorized isfinite scan when the
    batch is clean (the overwhelmingly common case) — the per-row
    Python loop runs only on batches that would previously have
    crashed."""
    import numpy as np

    try:
        xa = np.stack([np.asarray(e, dtype=np.float64) for e in a])
        xb = (
            None
            if b is None
            else np.stack([np.asarray(e, dtype=np.float64) for e in b])
        )
        if xb is None or xa.shape == xb.shape:
            valid = np.isfinite(xa).all(axis=1)
            if xb is not None:
                valid &= np.isfinite(xb).all(axis=1)
            if valid.all():
                return valid, xa, xb
            xa = np.where(valid[:, None], xa, 0.0)
            if xb is not None:
                xb = np.where(valid[:, None], xb, 0.0)
            return valid, xa, xb
    except (ValueError, TypeError):
        pass
    # slow path: per-row validity over a ragged/null-bearing batch
    la = [None if e is None else np.asarray(e, dtype=np.float64) for e in a]
    lb = (
        None
        if b is None
        else [None if e is None else np.asarray(e, dtype=np.float64) for e in b]
    )
    n = len(la)
    valid = np.zeros(n, dtype=bool)
    for i in range(n):
        ea = la[i]
        if ea is None or ea.ndim != 1 or not np.isfinite(ea).all():
            continue
        if lb is not None:
            eb = lb[i]
            if (
                eb is None
                or eb.ndim != 1
                or len(eb) != len(ea)
                or not np.isfinite(eb).all()
            ):
                continue
        valid[i] = True
    dim = max((len(la[i]) for i in range(n) if valid[i]), default=0)
    xa = np.zeros((n, dim), dtype=np.float64)
    xb = None if lb is None else np.zeros((n, dim), dtype=np.float64)
    for i in range(n):
        if valid[i]:
            xa[i, : len(la[i])] = la[i]
            if xb is not None:
                xb[i, : len(lb[i])] = lb[i]
    return valid, xa, xb


def _masked_series(values, valid):
    """float64 pandas Series with NULL (None) at invalid rows."""
    import pandas as pd

    if valid.all():
        return pd.Series(values)
    out = [float(v) if ok else None for v, ok in zip(values, valid)]
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def dot_arrow(a, b):
    """Bit-identical Arrow replacement for `dot`: per-element product
    then LEFT-TO-RIGHT accumulation (loop over dims, vectorized over
    rows) — every rounding step matches the interpreted fold and
    DuckDB's list_reduce. NULL / ragged / non-finite rows yield NULL
    (see _stack_f64_masked) instead of aborting the job."""
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    valid, xa, xb = _stack_f64_masked(a, b)
    acc = np.zeros(len(a), dtype=np.float64)
    for j in range(xa.shape[1]):
        acc = acc + xa[:, j] * xb[:, j]
    return _masked_series(acc, valid)


@pandas_udf(DoubleType())
def cosine_similarity_arrow(a, b):
    """Bit-identical Arrow replacement for `cosine_similarity`:
    dot/(|a|*|b|) with all three folds replayed left-to-right and the
    final sqrt/multiply/divide in the same order as the HOF form.

    Zero-norm rows are masked to NULL (ADVICE r13): an all-zero
    embedding is a FINITE input the isfinite mask cannot catch, its
    0/0 cosine is NaN, and Spark sorts NaN above every double — one
    zero vector in the corpus would top every desc-ranked top-k. NULL
    matches both the quantized paths' explicit n2 > 0 guards and the
    DuckDB oracle (x/0 is NULL there, floats included)."""
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    valid, xa, xb = _stack_f64_masked(a, b)
    n = len(a)
    d = np.zeros(n, dtype=np.float64)
    na = np.zeros(n, dtype=np.float64)
    nb = np.zeros(n, dtype=np.float64)
    for j in range(xa.shape[1]):
        ca, cb = xa[:, j], xb[:, j]
        d = d + ca * cb
        na = na + ca * ca
        nb = nb + cb * cb
    with np.errstate(divide="ignore", invalid="ignore"):
        out = d / (np.sqrt(na) * np.sqrt(nb))
    return _masked_series(out, valid & (na > 0.0) & (nb > 0.0))


@pandas_udf(ArrayType(DoubleType()))  # DataType object: a DDL string
def unit_vector_arrow(a):  #     would need an active context at import
    """Bit-identical Arrow replacement for the HOF unit-normalize
    (transform(v, x -> x.cast/l2_norm(v))): the norm replays the
    left-to-right sum-of-squares fold, then one IEEE sqrt and one
    divide per element — the same rounding sequence as the expression
    form. Zero vectors yield +-inf/nan components exactly as the
    division does."""
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype=object)
    valid, xa, _ = _stack_f64_masked(a)
    lens = [None if e is None else len(e) for e in a]
    acc = np.zeros(len(a), dtype=np.float64)
    for j in range(xa.shape[1]):
        c = xa[:, j]
        acc = acc + c * c
    with np.errstate(divide="ignore", invalid="ignore"):
        u = xa / np.sqrt(acc)[:, None]
    # slice each valid row back to its own length (padding is only an
    # accumulation no-op, never an output column); invalid rows -> NULL
    return pd.Series(
        [
            (u[i][: lens[i]] if valid[i] else None)
            for i in range(len(a))
        ]
    )


def max_abs(a: Column) -> Column:
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def quantize_int8(a: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i/scale + 0.5) (explicit half-up — engine-portable,
    unlike round(), whose tie rule differs across engines). Zero vectors
    quantize to all-zero. Returns array<long> in [-127, 127].

    Scale note: projection-only (no shuffle); 64-dim float32 -> int8
    cuts similarity-scan bytes 4x, the standard first rung before IVF/
    PQ. Dequantize with q * scale.
    """
    scale = max_abs(a) / F.lit(127.0)
    return F.transform(
        a,
        lambda x: F.when(scale == 0.0, F.lit(0).cast("long")).otherwise(
            F.floor(x.cast("double") / scale + F.lit(0.5)).cast("long")
        ),
    )


def valid_vector(a: Column, dim: int) -> Column:
    """True when ``a`` is a usable ``dim``-length embedding: not NULL,
    exactly ``dim`` components, each finite and non-NULL, and not all
    zero (no direction, so no cell and no cosine); False otherwise.
    Built-in array functions only — no per-element lambda, so this
    stays off the interpreted HOF path. Spark orders NaN above +inf, so
    ``array_max < inf`` rejects NaN too; ``array_contains`` is NULL
    exactly when an element is NULL (+inf is already excluded)."""
    inf = F.lit(float("inf"))
    hi, lo = F.array_max(a), F.array_min(a)
    return F.coalesce(
        (F.size(a) == dim)
        & (hi < inf)
        & (lo > -inf)
        & ((hi != 0.0) | (lo != 0.0))
        & ~F.array_contains(a, inf),
        F.lit(False),
    )


# Perf notes (measured, don't revisit):
# - Unrolling a known-dim dot into an explicit element_at sum chain to
#   escape interpreted higher-order evaluation is ~7x SLOWER than the
#   folds — 64-term expression trees (1000+ nodes/projection) choke
#   Catalyst optimization and codegen.
# - The right escape is the *_arrow kernels above: same fold order
#   (bit-identical), numpy speed. Mind the Python-UDF plan hazard:
#   a filter referencing a UDF output that Catalyst can push below
#   the projection DUPLICATES the ArrowEvalPython node — keep UDF
#   consumers above a cache barrier or out of pushable predicates
#   (see operators/similarity.py::lsh_topk).


@pandas_udf(ArrayType(DoubleType()))
def subtract_arrow(a, b):
    """Element-wise a - b over array columns (float widened to double
    first, like every kernel here). Each element is ONE IEEE subtract —
    no fold, so no ordering concerns; exact in any engine. NULL /
    ragged / non-finite pairs yield NULL (see _stack_f64_masked)."""
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="object")
    valid, xa, xb = _stack_f64_masked(a, b)
    diff = xa - xb
    # padding is an accumulation no-op only: slice rows back to length
    return pd.Series(
        [(diff[i][: len(a[i])] if valid[i] else None) for i in range(len(a))]
    )
