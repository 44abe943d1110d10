"""Dedup operators: exact, n-gram Jaccard, MinHash-LSH, SimHash."""

from __future__ import annotations

import pytest

from syncquill_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)

DOCS = "doc_id long, text string, lang string, n_chars long"


@pytest.fixture(scope="module")
def docs(spark):
    body = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different words describing some other topic entirely here now"
    rows = [
        (1, body, "en", len(body)),
        (2, body, "en", len(body)),          # exact dup of 1
        (3, near, "en", len(near)),          # near dup of 1
        (4, other, "en", len(other)),
        (5, body, "de", len(body)),          # same text, different lang block
    ]
    return spark.createDataFrame(rows, DOCS)


def test_exact_dedup(docs):
    out = {r["keeper_doc_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[1] == 3  # docs 1, 2, 5 share identical text
    assert out[3] == 1
    assert out[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, length_band=None).collect()
    }
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.5 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 4) not in pairs           # unrelated
    assert (1, 5) not in pairs           # blocked by lang


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup must collide in >=1 band at jac~0.85
    assert (1, 4) not in pairs


def test_simhash_full_width_fingerprint(docs):
    """r12 fix: bits=64 used to crash at plan build — packing bit 63
    as lit(2**63) overflows the JVM long (the int64 sign bit's value
    is -(2**63)). Pinned: the full-width call runs; positions 60-63
    pack to zero for every doc (the 60-bit token hash carries no
    entropy there), so fp(64) == fp(60) exactly; the banded join
    accepts the full-width fingerprint, including the single-band
    w=64 mask edge (max_hamming=0, bands=1 — (1 << 64) - 1 also
    overflows; the all-ones mask is -1)."""
    fp64 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs, bits=64).collect()}
    fp60 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs, bits=60).collect()}
    assert fp64 == fp60 and len(fp64) > 0
    near = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, bits=64, max_hamming=5).collect()
    }
    assert near[(1, 2)] == 0
    exact = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(docs, bits=64, max_hamming=0, bands=1).collect()
    }
    assert (1, 2) in exact


def test_simhash_identical_docs_equal(docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]
    near = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=5).collect()
    }
    assert near[(1, 2)] == 0


def test_ngram_jaccard_band_straddle_recall(spark):
    """Two near-dup docs whose lengths straddle a 64-char band edge
    (bands 0 and 1) must still pair up: candidates span adjacent
    bands, not just identical ones."""
    t1 = "the quick brown fox jumps over the lazy dog near the gate"  # < 64
    t2 = t1 + " tomorrow"  # >= 64 chars -> next band
    assert len(t1) < 64 <= len(t2)
    df = spark.createDataFrame(
        [(1, t1, "en", len(t1)), (2, t2, "en", len(t2))], DOCS
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in ngram_jaccard_pairs(df, threshold=0.5, length_band=64).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= 0.5


def test_simhash_pairs_full_recall_vs_brute_force(spark):
    """Banded (pigeonhole) blocking must find EVERY pair within
    max_hamming — including pairs whose differing bits fall in the high
    byte, which the old single-high-prefix blocking missed. Compare the
    operator's output against driver-side brute force over all C(n,2)
    fingerprint pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (i, base + " " + suffix, "en", 1)
        for i, suffix in enumerate(
            ["", "x", "y", "zz", "alpha", "beta beta", "omega psi", "chi phi",
             "one two three", "completely different text entirely"]
        )
    ]
    df = spark.createDataFrame(rows, DOCS)
    max_h = 4
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}
    ids = sorted(fp)
    brute = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(df, max_hamming=max_h).collect()
    }
    assert got == brute
    assert len(brute) > 0  # the fixture must actually exercise recall


# --- property-based: the distributed forms equal naive local recomputation ---

from hypothesis import given, settings, strategies as st  # noqa: E402

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _doc_strategy():
    return st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    )


def _naive_jaccard(a: str, b: str, k: int = 3) -> float | None:
    def sh(t):
        toks = t.strip().split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    union = len(sa | sb)
    return None if union == 0 else len(sa & sb) / union


@settings(max_examples=8, deadline=None)
@given(texts=_doc_strategy())
def test_ngram_jaccard_matches_naive(spark, texts):
    """Set-similarity-join Jaccard == python set math, every pair with
    jac >= threshold and nothing else (no blocking: one bucket)."""
    from syncquill_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.2, block_cols=(), length_band=None
        ).collect()
    }
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            jac = _naive_jaccard(texts[i], texts[j])
            if jac is not None and jac >= 0.2:
                want[(i, j)] = jac
    assert set(got) == set(want)
    for p in got:
        assert abs(got[p] - want[p]) < 1e-12


@settings(max_examples=6, deadline=None)
@given(texts=_doc_strategy())
def test_minhash_signature_matches_pure_python(spark, texts):
    """The MinHash key builder's (id, band, key) rows == a direct python
    recomputation with the same permutations, md5-derived hashes and
    band layout."""
    import hashlib

    from syncquill_spark.functions.hashing import HASH_PRIME, minhash_permutations
    from syncquill_spark.operators.dedup import minhash_band_keys

    n_perm, bands = 8, 4
    r = n_perm // bands
    perms = minhash_permutations(n_perm)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    keys, _ = minhash_band_keys(df, k=3, n_perm=n_perm, bands=bands)
    got = {(row["doc_id"], row["_band"]): row["_key"] for row in keys.collect()}

    def py_sig(text):
        toks = text.strip().split()
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % HASH_PRIME
            for s in shingles
        ]
        return [
            min(((a * h + b) % HASH_PRIME for h in hs), default=HASH_PRIME)
            for a, b in perms
        ]

    want = {}
    for i, t in enumerate(texts):
        sig = py_sig(t)
        for bi in range(bands):
            want[(i, bi)] = ",".join(str(m) for m in sig[bi * r:(bi + 1) * r])
    assert got == want


def test_minhash_signature_forms_emit_identical_keys(spark):
    """The grouped (batch) and per-row (stream) signature forms emit the
    same (id, _band, _key) rows — sub-k, empty, whitespace-only and
    null-text docs included (all carry the sentinel signature). This
    identity is what lets minhash_band_keys pick the form from
    df.isStreaming alone: a stream gate keys exactly like the batch
    index it probes."""
    from syncquill_spark.operators.dedup import _band_keys, minhash_band_keys

    base = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),
            (3, "a a a a a a"),  # repeated shingle
            (4, "two words"),  # sub-k
            (5, ""),  # empty
            (6, "   "),  # whitespace only
            (7, None),  # null text
        ],
        "doc_id long, text string",
    )
    _, sh = minhash_band_keys(docs, k=3, n_perm=32, bands=8)

    def rows(per_row):
        return sorted(
            tuple(r)
            for r in _band_keys(sh, "doc_id", 32, 8, per_row=per_row).collect()
        )

    grouped, per_row = rows(False), rows(True)
    assert len(grouped) == 7 * 8
    assert grouped == per_row
    sentinel = {k for i, _, k in grouped if i in (4, 5, 6, 7)}
    assert len(sentinel) == 1  # every sub-k doc shares the P signature


@settings(max_examples=6, deadline=None)
@given(texts=_doc_strategy())
def test_simhash_matches_pure_python(spark, texts):
    """Vote-sum groupBy SimHash == direct python recomputation."""
    import hashlib

    from syncquill_spark.operators.dedup import simhash_fingerprints

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df, bits=16).collect()
    }

    def py_simhash(text, bits=16):
        toks = text.strip().split() or [""]
        # Spark's split('\s+') on ''/whitespace yields [''] — mirror it
        if text.strip() == "":
            toks = [""]
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        out = 0
        for b in range(bits):
            votes = sum(((h >> b) & 1) * 2 - 1 for h in hs)
            if votes > 0:
                out += 1 << b
        return out

    for i, t in enumerate(texts):
        assert got[i] == py_simhash(t), f"doc {i}: {t!r}"


def test_minhash_incremental_cross_corpus_only(spark):
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    new_side = spark.createDataFrame(
        [(11, near), (12, "entirely different words about spark shuffles and joins")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base.replace("quick", "rapid")), (3, "unrelated corpus text")],
        "doc_id long, text string",
    )
    out = {(r.id_new, r.id_corpus): r.jac for r in minhash_lsh_pairs_against(
        new_side, corpus, threshold=0.3
    ).collect()}
    assert (11, 1) in out  # near-dup of corpus doc found
    assert all(k[0] in (11, 12) and k[1] in (1, 2, 3) for k in out)  # only cross pairs
    assert (12, 3) not in out  # dissimilar pair absent


def test_prefix_filter_equals_exhaustive(spark, sf_dir):
    """The AllPairs prefix filter must be a pure candidate-pruning: the
    output pair set is identical to the exhaustive shingle join at
    every threshold."""
    from syncquill_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.2, 0.6):
        fast = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=True
            ).collect()
        }
        full = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=False
            ).collect()
        }
        assert fast == full


def test_prefix_filter_skips_hub_shingles(spark):
    """A shingle shared by EVERY doc (boilerplate header) must not
    drive candidates: with the filter, docs whose only overlap is the
    hub shingle never pair, yet true near-dups still do."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.dedup import ngram_jaccard_pairs

    hub = "common header line"
    rows = [
        (1, f"{hub} alpha beta gamma delta epsilon", "en", 40),
        (2, f"{hub} alpha beta gamma delta zeta", "en", 40),      # near-dup of 1
        (3, f"{hub} one two three four five", "en", 40),
        (4, f"{hub} six seven eight nine ten", "en", 40),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, k=3, threshold=0.4, block_cols=("lang",), length_band=64
        ).collect()
    }
    assert (1, 2) in got
    assert (3, 4) not in got and (1, 3) not in got


# ---------------------------------------------------------------------------
# fuzzy_name_pairs: record linkage
# ---------------------------------------------------------------------------


def test_fuzzy_name_pairs_basic_linkage(spark):
    """Pairs within max_dist edits that share a token are found with
    the exact distance; far pairs and no-shared-token pairs are not."""
    from syncquill_spark.operators.dedup import fuzzy_name_pairs

    df = spark.createDataFrame(
        [
            (1, "Acme Widget Co"),
            (2, "Acme Widgets Co"),     # dist 1 to #1
            (3, "ACME  widget co"),     # dist 0 to #1 after lower+split... blocked via shared tokens
            (4, "Bolt Supply"),
            (5, "Bolt Suplpy"),         # dist 2 to #4 (transposition = 2 edits)
            (6, "Unrelated Name"),
        ],
        "doc_id long, name string",
    )
    got = {(r.id_a, r.id_b): r.dist for r in fuzzy_name_pairs(df, name_col="name", max_dist=2).collect()}
    assert got[(1, 2)] == 1
    assert got[(4, 5)] == 2
    assert (1, 6) not in got and (4, 6) not in got
    # 3 normalizes to a different string ('acme  widget co' has double
    # space -> dist 1 to 'acme widget co')
    assert got[(1, 3)] == 1


def test_fuzzy_name_pairs_matches_python_model(spark):
    """Full equivalence vs a brute-force python model restricted to
    the blocking contract (>=1 shared token)."""
    from syncquill_spark.operators.dedup import fuzzy_name_pairs

    names = [
        "cold widget", "small widget", "large bolt", "large widget",
        "blue rod", "cold rod", "blue rod", "small widgets",
        "cold  widget", "bold rod",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_name_pairs(df, name_col="name", max_dist=3).collect()
    )

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1,
                d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return d(len(a), len(b))

    want = []
    norm = [n.lower().strip() for n in names]
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            if set(norm[i].split()) & set(norm[j].split()):
                dd = lev(norm[i], norm[j])
                if dd <= 3:
                    want.append((i, j, dd))
    assert got == sorted(want)


def test_fuzzy_name_pairs_token_df_cap(spark):
    """Capping the blocking-token df drops pairs whose only shared
    token is a hub — the documented lossy insurance."""
    from syncquill_spark.operators.dedup import fuzzy_name_pairs

    rows = [(i, f"common uniq{i}") for i in range(10)] + [
        (100, "rare pair one"), (101, "rare pair onx")
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    uncapped = fuzzy_name_pairs(df, name_col="name", max_dist=3)
    capped = fuzzy_name_pairs(df, name_col="name", max_dist=3, max_token_df=5)
    # 'common' (df=10) blocks the first cluster's pairs only when uncapped
    assert uncapped.filter("id_a < 100").count() > 0
    assert capped.filter("id_a < 100").count() == 0
    got = {(r.id_a, r.id_b): r.dist for r in capped.collect()}
    assert got == {(100, 101): 1}


def test_fuzzy_name_pairs_levenshtein_agrees_with_duckdb(spark):
    """Cross-engine pin WITHOUT a registry row (the fixture's name
    columns are degenerate for linkage — see plans/queue_permanent.py):
    on ASCII names Spark's banded levenshtein and DuckDB's levenshtein
    are the same classic unit-cost DP — pair set and distances match
    exactly. (Non-ASCII diverges by design: Spark edits characters,
    DuckDB edits UTF-8 bytes — pinned separately below.)"""
    import duckdb

    from syncquill_spark.operators.dedup import fuzzy_name_pairs

    names = [
        "acme widget co", "acme widgets co", "acme  widget co",
        "bolt supply", "bolt suplpy", "bold supply",
        "unrelated name", "acme wdget co",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_name_pairs(df, name_col="name", max_dist=3).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{n}')" for i, n in rows)
        + ") v(id, name)"
    )
    want = sorted(
        map(
            tuple,
            con.execute("""
WITH nm AS (SELECT id, lower(trim(name)) AS n FROM t),
tok AS (SELECT DISTINCT id, w FROM (
  SELECT id, UNNEST(string_split_regex(n, '\\s+')) AS w FROM nm) x WHERE w <> ''),
cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib
         FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id)
SELECT ia, ib, levenshtein(x.n, y.n) AS d
FROM cand JOIN nm x ON x.id = ia JOIN nm y ON y.id = ib
WHERE abs(len(x.n) - len(y.n)) <= 3 AND levenshtein(x.n, y.n) <= 3
""").fetchall(),
        )
    )
    assert got == want and len(got) > 0


def test_levenshtein_unicode_divergence_documented(spark):
    """The documented cross-engine caveat, pinned so a future engine
    upgrade that changes it is noticed: Spark edits CHARACTERS
    ('wídget' vs 'widget' = 1), DuckDB edits UTF-8 BYTES (= 2)."""
    import duckdb

    from pyspark.sql import functions as F

    (row,) = (
        spark.createDataFrame([("wídget", "widget")], "a string, b string")
        .select(F.levenshtein("a", "b").alias("d"))
        .collect()
    )
    assert row.d == 1
    (dd,) = duckdb.connect().execute(
        "SELECT levenshtein('wídget', 'widget')"
    ).fetchone()
    assert dd == 2


def test_migrated_persists_release_between_batches(spark, docs):
    """r10 verdict #4: the ngram-Jaccard shingle table and the
    minhash-against shingle/bucket tables are tracked_persist sites —
    after the consuming action, release_cached_intermediates() frees
    them all and the context holds no operator-leaked persistent RDDs
    (the same pin train_bpe's checkpoint discipline carries)."""
    from syncquill_spark.operators._cache import release_cached_intermediates
    from syncquill_spark.operators.bpe import _persistent_rdd_ids
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against

    sc = spark.sparkContext
    release_cached_intermediates()  # drain anything earlier tests left
    base_ids = _persistent_rdd_ids(sc)

    ngram_jaccard_pairs(docs, threshold=0.5, length_band=None).count()
    # 1 tracked intermediate: the hashed-shingle frame feeding the
    # prefix-filter pass, both join sides, and the verify lookups
    assert release_cached_intermediates() == 1

    new = docs.filter("doc_id % 2 = 1")
    corpus = docs.filter("doc_id % 2 = 0")
    minhash_lsh_pairs_against(new, corpus, threshold=0.5).count()
    # 2 tracked intermediates: the key builder runs once per side and
    # persists that side's shingle frame
    assert release_cached_intermediates() == 2

    # r11 verdict #2 (executed r12): the self-join variant's two sites
    # migrated from bare persist() to tracked_persist — the shingle
    # frame (signature path + both verify-join sides) and the
    # band-bucket frame (both self-join sides)
    minhash_lsh_pairs(docs, threshold=0.5).count()
    assert release_cached_intermediates() == 2

    leaked = _persistent_rdd_ids(sc) - base_ids
    assert not leaked, f"operator persists leaked: {sorted(leaked)}"


# ---------------------------------------------------------------------------
# r13 boundary-battery regressions: the ANSI 0/0 sentinel-collision
# crash (minhash sibling of the r12 simhash bits=64 overflow), the
# zip_with k-depth plan overflow, and the n_chars schema coupling.
# ---------------------------------------------------------------------------

SHORT_ROWS = [
    (1, "a b", "en"),                                              # < k tokens
    (2, "c d", "en"),                                              # < k tokens
    (3, "the quick brown fox jumps over the lazy dog", "en"),
    (4, "the quick brown fox jumps over the lazy cat", "en"),
]


def test_minhash_short_docs_do_not_crash(spark):
    """Two sub-k-token docs share the sentinel signature, collide in
    every band, and reach the verify with EMPTY shingle sets. Before
    the jaccard_verify guard, the 0/0 division aborted the whole job
    under Spark 4's default ANSI mode (DIVIDE_BY_ZERO) — any real
    corpus holds short docs, so this was a crash-in-waiting at every
    scale. NULL jac (DuckDB's own x/0 value) drops the pair instead;
    genuine near-dups are unaffected."""
    docs = spark.createDataFrame(
        SHORT_ROWS, "doc_id long, text string, lang string"
    )
    pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.5).collect()
    )
    assert pairs == [(3, 4)]  # no crash, no bogus empty-vs-empty pair


def test_minhash_gates_short_docs_do_not_crash(spark):
    """The same sentinel collision at the ingest gates: an empty batch
    doc against a corpus holding an empty doc crashed every *_against
    / from-index / stream-twin path. All of them share one verify tail
    (operators.dedup._jaccard_verified) and its guard; this pins each
    public entry point."""
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against
    from syncquill_spark.streaming.text_dedup import (
        build_text_minhash_index,
        minhash_pairs_from_index,
        stream_text_near_dups,
        text_near_dups_against_index,
    )

    docs = spark.createDataFrame(
        SHORT_ROWS, "doc_id long, text string, lang string"
    )
    new = spark.createDataFrame(
        [(10, "x", "en"), (11, SHORT_ROWS[2][1], "en")],
        "doc_id long, text string, lang string",
    )
    expect = [(11, 3), (11, 4)]

    got = sorted(
        (r["id_new"], r["id_corpus"])
        for r in minhash_lsh_pairs_against(new, docs, threshold=0.5).collect()
    )
    assert got == expect

    keys, sh = build_text_minhash_index(docs)
    got = sorted(
        (r["id_new"], r["id_corpus"])
        for r in text_near_dups_against_index(
            new, keys, sh, threshold=0.5
        ).collect()
    )
    assert got == expect

    got = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_pairs_from_index(keys, sh, threshold=0.5).collect()
    )
    assert got == [(3, 4)]

    got = sorted(
        (r["stream_id"], r["corpus_id"])
        for r in stream_text_near_dups(new, keys, sh, threshold=0.5)
        .dropDuplicates(["stream_id", "corpus_id"])
        .collect()
    )
    assert got == expect


def test_shingle_k_bound_raises_cleanly(spark):
    """k-way zip_with nests one plan level per k: k=128 died at plan
    BUILD (Catalyst max-depth RuntimeError) and k=10,000 with a JVM
    StackOverflowError — both before reading any data. The bound turns
    that into an immediate ValueError."""
    from syncquill_spark.functions.hashing import word_shingles_from_tokens

    docs = spark.createDataFrame(
        SHORT_ROWS, "doc_id long, text string, lang string"
    )
    for bad_k in (0, -1, 65, 128, 10_000):
        with pytest.raises(ValueError, match="out of range 1..64"):
            minhash_lsh_pairs(docs, k=bad_k)
    # the boundary itself compiles and runs
    import pyspark.sql.functions as F

    out = docs.select(
        word_shingles_from_tokens(
            F.split(F.trim("text"), r"\s+"), 64
        ).alias("s")
    )
    assert out.count() == 4


def test_ngram_jaccard_derives_length_without_n_chars(spark):
    """A bare (id, text, lang) frame used to fail analysis because the
    default length banding hard-required an n_chars column; the length
    now derives from the text when the column is absent — and the two
    forms agree (n_chars IS length(text) in this engine's loaders)."""
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        SHORT_ROWS, "doc_id long, text string, lang string"
    )
    bare = sorted(
        (r["id_a"], r["id_b"], r["jac"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    )
    with_n = sorted(
        (r["id_a"], r["id_b"], r["jac"])
        for r in ngram_jaccard_pairs(
            docs.withColumn("n_chars", F.length("text")), k=3, threshold=0.5
        ).collect()
    )
    assert bare == with_n and [p[:2] for p in bare] == [(3, 4)]
