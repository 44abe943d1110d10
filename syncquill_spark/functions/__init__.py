"""Column-expression building blocks for the EXT tier.

Everything here returns Spark Column expressions built ONLY from
built-in functions (JVM-side, codegen-friendly) — no Python UDFs in
the hot path. Hashes are md5-derived so a DuckDB oracle can compute
bit-identical values (portable across engines, unlike murmur3/xxhash).
"""

from syncquill_spark.functions.hashing import (
    HASH_PRIME,
    minhash_permutations,
    portable_hash60,
    rolling_fingerprint,
    simhash,
    word_shingles,
)
from syncquill_spark.functions.vectors import cosine_similarity, l2_norm

__all__ = [
    "HASH_PRIME",
    "portable_hash60",
    "word_shingles",
    "minhash_permutations",
    "simhash",
    "rolling_fingerprint",
    "cosine_similarity",
    "l2_norm",
]
