"""Portable hashing primitives (Spark Column side).

Cross-engine contract: every hash here has a DuckDB-SQL twin that
produces bit-identical int64 values (see plans/queries.py oracle
generators). Base primitive: the first 15 hex chars of md5 parsed as
an integer — a deterministic 60-bit hash available in both engines
(Spark: conv(substring(md5(x),1,15),16,10); DuckDB:
CAST('0x'||substr(md5(x),1,15) AS BIGINT)).

MinHash/SimHash/fingerprint stay in 63-bit-safe modular arithmetic:
with P = 2^31-1 and a,b < P, a*(h%P)+b < 2^62 — no overflow in either
engine's int64.

All functions return Column expressions over built-ins — wholly inside
whole-stage codegen, no Python in the executor path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_MINHASH_SEED = 0x5EED


def portable_hash60(col: Column | str) -> Column:
    """60-bit md5-derived hash, identical to the DuckDB twin."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Array of word k-shingles ('w1 w2 w3' strings); empty if < k tokens.

    Token rule: split on runs of whitespace after trim — mirrored by
    regexp_split_to_array(trim(text), '\\s+') in DuckDB.
    """
    c = F.col(text) if isinstance(text, str) else text
    return word_shingles_from_tokens(F.split(F.trim(c), r"\s+"), k)


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Shingles from a PRE-COMPUTED token array column.

    Prefer this two-projection form in pipelines: project the regex
    split to its own column first (df.select(split(...).alias("_t")))
    and shingle from the attribute — the split then runs ONCE per row.
    This expression references `toks` k+1 times, and interpreted
    evaluation has no subexpression sharing, so inlining the split here
    re-runs it k+1 times (and transform-over-positions re-ran it once
    per shingle, ~n times, before the k-way zip_with form below).

    ``k`` is bounded at 64: the k-way zip_with nests one level per k,
    and Catalyst's converter/analyzer recurses per level — measured on
    Spark 4.1, k=128 dies at plan BUILD (max-depth RuntimeError) and
    k=10,000 with a JVM StackOverflowError, both before any data is
    read. 64 compiles and runs fine and is far beyond any real
    shingle size (found by the r13 boundary battery).
    """
    if not 1 <= k <= 64:
        raise ValueError(
            f"shingle size k={k} out of range 1..64 — the k-way zip_with"
            " plan nests per k and Catalyst overflows past ~64"
        )
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))  # shingle count
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def jaccard_verify(inter: Column, union: Column) -> Column:
    """``inter/union`` as double, NULL when ``union`` is 0.

    The LSH verify-stage guard: two EMPTY shingle sets collide in
    every band (both carry the sentinel signature) yet have no content
    to compare — 0/0 is undefined, and under Spark 4's default ANSI
    mode the bare division ABORTS THE WHOLE JOB the first time a
    corpus holds two documents shorter than k tokens. NULL matches
    DuckDB's x/0 semantics exactly (0.0/0.0 IS NULL there), so the
    oracle twin agrees: the pair fails ``jac >= t`` in both engines
    and is dropped. Found by the r13 boundary battery — the minhash
    sibling of the r12 simhash bits=64 overflow.
    """
    return F.when(union > 0, inter.cast("double") / union.cast("double"))


def minhash_permutations(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_j(x) = (a*x + b) mod P.

    Fixed seed => the DuckDB oracle generator embeds the same pairs.
    """
    rng = random.Random(_MINHASH_SEED)
    return [
        (rng.randrange(1, HASH_PRIME), rng.randrange(0, HASH_PRIME))
        for _ in range(n_perm)
    ]


def shingle_hashes(shingles: Column) -> Column:
    """Array<long> of (md5-derived mod P) hashes for a shingle array.

    MATERIALIZE this in its own projection (``df.select(...)``) before
    feeding it to minhash/simhash/fingerprint: higher-order functions
    evaluate interpreted (outside codegen), and an expression referenced
    by N downstream permutations would otherwise be recomputed N times —
    measured 16x slower for a 32-perm MinHash.
    """
    return F.transform(shingles, lambda s: portable_hash60(s) % HASH_PRIME)


def minhash_from_hashes(hashes: Column, n_perm: int = 32) -> Column:
    """Array<long> MinHash signature over a PRE-MATERIALIZED hash array
    (see shingle_hashes). Empty set => signature of P (sentinel max)."""
    perms = minhash_permutations(n_perm)
    mins = [
        F.coalesce(
            F.array_min(
                F.transform(hashes, _perm_fn(a, b)),
            ),
            F.lit(HASH_PRIME).cast("long"),
        )
        for a, b in perms
    ]
    return F.array(*mins)


def _perm_fn(a: int, b: int):
    # closure factory: Spark introspects lambda arity, so no default-arg
    # binding tricks — each permutation gets its own 1-arg lambda.
    return lambda h: (F.lit(a) * h + F.lit(b)) % HASH_PRIME


def token_hashes(tokens: Column) -> Column:
    """Full-range 60-bit hash per token (no mod — simhash needs the
    bits). Materialize in its own projection (see shingle_hashes)."""
    return F.transform(tokens, lambda t: portable_hash60(t))


def _bit_vote_fn(b: int):
    return lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash over a PRE-MATERIALIZED token-hash array: per bit
    position, sign of the sum of (+1/-1) votes; packed into one int64."""
    bit_cols = [
        F.when(
            F.aggregate(hashes, F.lit(0).cast("long"), _bit_vote_fn(b)) > 0,
            F.lit(2**b).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    ]
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash(tokens: Column, bits: int = 32) -> Column:
    """Convenience one-expression form; prefer token_hashes +
    simhash_from_hashes in pipelines (avoids bits-fold recompute of the
    md5 hashing — see shingle_hashes)."""
    return simhash_from_hashes(token_hashes(tokens), bits)


def rolling_fingerprint(tokens: Column, base: int = 31) -> Column:
    """Order-sensitive polynomial rolling hash over a token array:
    acc = (acc*base + h(tok) mod P) mod P. Document fingerprint that,
    unlike a set hash, distinguishes permuted documents."""
    hashes = F.transform(tokens, lambda t: portable_hash60(t) % HASH_PRIME)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * base + h) % HASH_PRIME,
    )
