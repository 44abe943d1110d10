"""EXT-tier oracle-checked queries: dedup, similarity, text analysis,
multimodal, as-of/range joins, rollups, windowed event aggregation.

Oracle SQL for hash-based operators (MinHash, SimHash, fingerprints)
is GENERATED from the same constants the Spark expressions use — the
md5-derived portable hash makes the two engines bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from syncquill_spark.functions.hashing import HASH_PRIME, minhash_permutations
from syncquill_spark.operators.asof import asof_join
from syncquill_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_band_layout,
    simhash_fingerprints,
    simhash_near_pairs,
)
from syncquill_spark.operators.multimodal import attach_media_metadata
from syncquill_spark.operators.similarity import (
    SIG_SCALE,
    _hyperplane,
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from syncquill_spark.operators.text import (
    LANG_PROFILES,
    fingerprints,
    language_id,
    quality_features,
    quality_filter,
    readability_scores,
    token_counts,
)
from syncquill_spark.plans.queries import load_tables
from syncquill_spark.streaming.sessionize import GAP_NANOS, sessionize_batch

# Shared SQL fragments -------------------------------------------------------

_TOKS = "regexp_split_to_array(trim({src}), '\\s+')"
_TOKS_LOWER = "regexp_split_to_array(trim(lower({src})), '\\s+')"
# 60-bit md5 hash — twin of functions.hashing.portable_hash60
_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
P = HASH_PRIME


def _shingles_sql(src: str = "text", k: int = 3) -> str:
    """Distinct word k-shingles as a DuckDB list expression."""
    toks = _TOKS.format(src=src)
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')) "
        f"ELSE [] END)"
    )


# ---------------------------------------------------------------------------
# Dedup: n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        documents, k=3, threshold=0.2, block_cols=("lang",), length_band=64
    )


_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang, n_chars // 64 AS band, {_shingles_sql()} AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jac
FROM sh a JOIN sh b
  ON a.lang = b.lang AND abs(a.band - b.band) <= 1 AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2
"""


# ---------------------------------------------------------------------------
# Dedup: MinHash signatures + LSH pairs
# ---------------------------------------------------------------------------

_N_PERM, _BANDS = 32, 8


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        documents, k=3, n_perm=_N_PERM, bands=_BANDS, threshold=0.2
    )


def _minhash_sql() -> str:
    perms = minhash_permutations(_N_PERM)
    hashes = f"list_transform(s, x -> {_H60.format(x='x')} % {P})"
    mins = ", ".join(
        f"coalesce(list_min(list_transform(h, v -> ({a} * v + {b}) % {P})), {P})"
        for a, b in perms
    )
    r = _N_PERM // _BANDS
    band_keys = ", ".join(
        "array_to_string(list_slice(sig, {lo}, {hi}), ',') AS k{bi}".format(
            lo=bi * r + 1, hi=(bi + 1) * r, bi=bi
        )
        for bi in range(_BANDS)
    )
    stack = " UNION ALL ".join(
        f"SELECT doc_id, s, {bi} AS band, k{bi} AS key FROM sigs" for bi in range(_BANDS)
    )
    return f"""
WITH sh AS (SELECT doc_id, {_shingles_sql()} AS s FROM documents),
hs AS (SELECT doc_id, s, {hashes} AS h FROM sh),
sigs AS (SELECT doc_id, s, [{mins}] AS sig FROM hs),
sigs2 AS (SELECT doc_id, s, {band_keys} FROM sigs),
buckets AS ({stack.replace('FROM sigs', 'FROM sigs2')}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) AS jac
FROM cand c
JOIN sh x ON x.doc_id = c.id_a
JOIN sh y ON y.doc_id = c.id_b
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.2
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: odd doc_ids play the incoming snapshot, even
    doc_ids the existing corpus; emit near-dups of new against corpus
    (banded MinHash candidates, exact-Jaccard verified)."""
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against

    (documents,) = load_tables(spark, sf_dir, "documents")
    new_side = documents.filter(F.col("doc_id") % 2 == 1)
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    return minhash_lsh_pairs_against(
        new_side, corpus, k=3, n_perm=_N_PERM, bands=_BANDS, threshold=0.2
    )


def _minhash_incremental_sql() -> str:
    # Same signature/band pipeline as _minhash_sql; only the candidate
    # join changes: new-side x corpus-side instead of the a<b self-join.
    # Each replace target must appear exactly once or the patch is
    # stale — fail at import, not as a confusing audit-time mismatch.
    base = _minhash_sql()
    cand_old = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
    cand_new = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key
   AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
)"""
    sel_old, sel_new = "c.id_a, c.id_b,", "c.id_a AS id_new, c.id_b AS id_corpus,"
    assert base.count(cand_old) == 1 and base.count(sel_old) == 1, (
        "_minhash_sql changed shape; update _minhash_incremental_sql"
    )
    return base.replace(cand_old, cand_new).replace(sel_old, sel_new)


# ---------------------------------------------------------------------------
# Dedup: SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return simhash_fingerprints(documents, bits=_SIMHASH_BITS)


def _simhash_fp_expr() -> str:
    """The fingerprint expression shared by the fingerprint oracle and
    the pairs oracle (pack per-bit majority votes into an int64)."""
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, v -> ((v >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return bit_terms


def _simhash_sql() -> str:
    toks = _TOKS.format(src="text")
    h = _H60.format(x="t")
    return f"""
WITH hs_t AS (
  SELECT doc_id, list_transform({toks}, t -> {h}) AS hs FROM documents
)
SELECT doc_id, {_simhash_fp_expr()} AS simhash FROM hs_t
"""


_SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with banded (pigeonhole) blocking — full
    recall at hamming <= max_hamming, exact-oracle-checkable because
    the fingerprints and band layout are identical in both engines."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return simhash_near_pairs(
        documents, bits=_SIMHASH_BITS, max_hamming=_SIMHASH_MAX_HAMMING
    )


def _simhash_pairs_sql() -> str:
    """Oracle twin of q_dedup_simhash_pairs: same fingerprints, same
    (offset, width) band layout from simhash_band_layout, same
    bit_count(xor) hamming — identical candidates and results."""
    toks = _TOKS.format(src="text")
    h = _H60.format(x="t")
    layout = simhash_band_layout(_SIMHASH_BITS, _SIMHASH_MAX_HAMMING + 1)
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {bi} AS band, "
        f"(simhash >> {off}) & {(1 << w) - 1} AS val FROM fp"
        for bi, (off, w) in enumerate(layout)
    )
    return f"""
WITH hs_t AS (
  SELECT doc_id, list_transform({toks}, t -> {h}) AS hs FROM documents
),
fp AS (
  SELECT doc_id, {_simhash_fp_expr()} AS simhash FROM hs_t
),
keyed AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Similarity: brute-force top-k cosine
# ---------------------------------------------------------------------------

_TOPK = 10
_QUERY_MOD = 100  # vec_id % 100 == 0 rows are the query set


def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(embeddings, queries, k=_TOPK)


_SIMILARITY_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {_QUERY_MOD} = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
             (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
                i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))
          * sqrt(list_reduce(list_transform(range(1, len(c.embedding) + 1),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
         AS score
  FROM embeddings c CROSS JOIN q
)
SELECT query_id, neighbor_id, rk FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored) t
WHERE rk <= {_TOPK}
"""


_LSH_PLANES = 8


def q_similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH. Approximate vs the
    brute-force baseline, but EXACTLY oracle-checkable: the hyperplanes
    are md5-derived, so DuckDB rebuilds the identical sign buckets and
    the identical candidate set (see _lsh_topk_sql)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(embeddings, queries, k=_TOPK, n_planes=_LSH_PLANES, dim=64)


def _lsh_topk_sql() -> str:
    """Oracle twin of q_similarity_topk_lsh: the SAME quantized
    hyperplanes build the same int64 sign bucket per vector, the
    bucket equi-join yields the identical candidate set, and the same
    quantized cosine (exact int64 dot over exact int64 norms, one
    fixed IEEE divide) + (score desc, id asc) tie-break ranks them
    identically — an EXACT oracle for an approximate ANN query (the
    approximation is in the recall vs brute force, not in the
    result's determinism). The helpers live next to
    _embedding_neardup_sql below."""
    d = 64
    score = (
        f"CAST({_dotq_sql('q2.q', 'c.q', d)} AS DOUBLE) "
        f"/ sqrt(CAST(q2.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE))"
    )
    return f"""
WITH sig AS (
  SELECT vec_id, q, {_n2_sql()} AS n2, {_band_key_sql(0, _LSH_PLANES, d)} AS bucket
  FROM (SELECT vec_id, {_qvec_sql()} AS q FROM embeddings)
),
scored AS (
  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, {score} AS score
  FROM sig c JOIN sig q2 ON c.bucket = q2.bucket
  WHERE q2.vec_id % {_QUERY_MOD} = 0 AND c.n2 > 0 AND q2.n2 > 0
)
SELECT query_id, neighbor_id, rk FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored) t
WHERE rk <= {_TOPK}
"""


_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_REFINE = 1


def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN: deterministic md5-sampled centroids,
    max-cosine cell assignment, nprobe probing, exact re-rank. Unlike
    LSH this is fully oracle-checkable — centroid choice is a total
    order (md5, id), so both engines build the identical index."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        embeddings, queries, k=_TOPK, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE
    )


def q_similarity_topk_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with one spherical-k-means (Lloyd) refinement pass over the
    sampled centroids — the index-build path for clustered corpora
    (tests/test_similarity.py shows the recall win on planted
    clusters; on this near-orthogonal random fixture refinement is
    neutral-to-negative, which is expected — there are no clusters to
    find). Fully oracle-checked: the Lloyd mean uses order-independent
    scaled-int sums, so both engines build the identical refined
    index."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        embeddings,
        queries,
        k=_TOPK,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_NPROBE,
        refine_iters=_IVF_REFINE,
    )


def _ivf_sql(refine: int = 0) -> str:
    """Oracle twin of q_similarity_topk_ivf[_refined]: same (md5,
    id)-ordered centroid sample, same Lloyd refinement (scaled-int
    exact means, floor-half-up quantization), same left-fold double
    dots, same tie-breaks — bit-identical index and ranking."""
    from syncquill_spark.operators.similarity import LLOYD_SCALE

    d = 64
    sq_norm = (
        f"list_reduce(list_transform(embedding, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    )

    def dot_ucv(vec: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {d + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * CAST(ct.ucv[i] AS DOUBLE)), "
            f"(a, b) -> a + b)"
        )

    # Lloyd refinement CTE chain (mirrors ivf_topk's refine_iters loop)
    refine_ctes = ""
    prev = "cents_0"
    if refine > 0:
        refine_ctes += f""",
ru AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / unrm) AS u
  FROM (SELECT vec_id, embedding, sqrt({sq_norm}) AS unrm FROM embeddings)
)"""
    for it in range(refine):
        u_dot = (
            f"list_reduce(list_transform(range(1, {d + 1}), "
            f"i -> r.u[i] * ct.ucv[i]), (a, b) -> a + b)"
        )
        m_norm = "sqrt(list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b))"
        refine_ctes += f""",
a_{it} AS (
  SELECT vec_id, cell_id, u FROM (
    SELECT r.vec_id, ct.cell_id, r.u,
           ROW_NUMBER() OVER (PARTITION BY r.vec_id
                              ORDER BY {u_dot} DESC, ct.cell_id ASC) AS rn
    FROM ru r CROSS JOIN {prev} ct) t WHERE rn = 1
),
s_{it} AS (
  SELECT cell_id, pos,
         SUM(CAST(floor(x * {LLOYD_SCALE} + 0.5) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM (SELECT cell_id, unnest(u) AS x, generate_subscripts(u, 1) AS pos
        FROM a_{it})
  GROUP BY cell_id, pos
),
m_{it} AS (
  SELECT cell_id,
         list(CAST(s AS DOUBLE) / (n * {float(LLOYD_SCALE)}) ORDER BY pos) AS mv
  FROM s_{it} GROUP BY cell_id
),
n_{it} AS (
  SELECT cell_id,
         CASE WHEN mnrm > 0 THEN list_transform(mv, x -> x / mnrm) END AS ucv_new
  FROM (SELECT cell_id, mv, {m_norm} AS mnrm FROM m_{it})
),
cents_{it + 1} AS (
  SELECT c.cell_id, coalesce(n.ucv_new, c.ucv) AS ucv
  FROM {prev} c LEFT JOIN n_{it} n USING (cell_id)
)"""
        prev = f"cents_{it + 1}"
    refine_ctes += f""",
cents AS (SELECT cell_id, ucv FROM {prev})"""

    cos = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        f"i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), "
        f"(a, b) -> a + b) "
        f"/ (sqrt(list_reduce(list_transform(q.embedding, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) "
        f"* sqrt(list_reduce(list_transform(c.embedding, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))"
    )
    return f"""
WITH cents0 AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings ORDER BY h, vec_id LIMIT {_IVF_CELLS}
),
cents_0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) AS cell_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ucv
  FROM (SELECT vec_id, embedding, h, sqrt({sq_norm}) AS nrm FROM cents0) t
){refine_ctes},
assign AS (
  SELECT neighbor_id, cell_id FROM (
    SELECT c.vec_id AS neighbor_id, ct.cell_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
                              ORDER BY {dot_ucv("c.embedding")} DESC,
                                       ct.cell_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents ct) t WHERE rn = 1
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.vec_id AS query_id, ct.cell_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {dot_ucv("q.embedding")} DESC,
                                       ct.cell_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents ct
    WHERE q.vec_id % {_QUERY_MOD} = 0) t WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, a.neighbor_id, {cos} AS score
  FROM assign a JOIN probes p USING (cell_id)
  JOIN embeddings c ON c.vec_id = a.neighbor_id
  JOIN embeddings q ON q.vec_id = p.query_id
)
SELECT query_id, neighbor_id, rk FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored) t
WHERE rk <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# Text: pandas_udf readability scoring (Arrow-vectorized Python path)
# ---------------------------------------------------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas_udf scoring with an EXACT oracle: the score
    is per-row double arithmetic over integer counts (no cross-row
    accumulation), so numpy and DuckDB produce bit-identical doubles."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return readability_scores(documents)


def _readability_sql() -> str:
    toks = _TOKS.format(src="text")
    w = f"CAST(len({toks}) AS DOUBLE)"
    s = "CAST(length(text) - length(replace(text, '.', '')) + 1 AS DOUBLE)"
    v = "CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS DOUBLE)"
    return f"""
SELECT doc_id,
       206.835 - 1.015 * ({w} / {s}) - 84.6 * ({v} / {w}) AS readability
FROM documents
"""


# ---------------------------------------------------------------------------
# Text: sentence explosion via Python UDTF (table function surface)
# ---------------------------------------------------------------------------


def q_text_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one row per non-empty
    sentence with its original split index, consumed via LATERAL join.
    The 1->K expansion happens inside the table function (same shape as
    multimodal frame sampling); string ops mirror the SQL oracle
    exactly (split on '.', strip spaces only)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, text):  # noqa: ANN001 — UDTF protocol
            if text is None:
                return
            for i, part in enumerate(text.split(".")):
                s = part.strip(" ")
                if s:
                    yield i, s

    (documents,) = load_tables(spark, sf_dir, "documents")
    documents.createOrReplaceTempView("documents_v")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM documents_v d, LATERAL split_sentences(d.text) s
        """
    )


_TEXT_SENTENCES_SQL = """
WITH parts AS (
  SELECT doc_id, string_split(text, '.') AS ps FROM documents
),
e AS (
  SELECT doc_id, unnest(ps) AS sentence,
         generate_subscripts(ps, 1) AS idx
  FROM parts
)
SELECT doc_id, CAST(idx - 1 AS INTEGER) AS sentence_idx, trim(sentence) AS sentence
FROM e WHERE trim(sentence) <> ''
"""


# ---------------------------------------------------------------------------
# Text: TF/DF term statistics (inverted-index shape)
# ---------------------------------------------------------------------------


def q_text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by term frequency, with corpus document
    frequency attached — the explode -> (doc,term) groupBy -> term-level
    groupBy pipeline IS the inverted-index build at scale (both
    aggregations shuffle on their group keys with map-side combine; the
    df side is term-count-sized, broadcastable back onto tf). Integer
    outputs + (tf desc, term asc) tie-break = engine-exact ranking."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "rk")
    )


def _term_stats_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
)
SELECT doc_id, term, tf, df, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, tf.term ASC) AS rk
  FROM tf JOIN dfreq ON tf.term = dfreq.term) t
WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# Dedup: pairs -> connected components -> cluster/keeper assignment
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the n-gram Jaccard near-dup pairs: every
    clustered doc with its cluster id (= min doc_id reachable). The
    min-label fixpoint is iteration-order-independent, so the iterative
    Spark loop and DuckDB's recursive CTE provably agree."""
    from syncquill_spark.operators.clusters import connected_components

    (documents,) = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        documents, k=3, threshold=0.2, block_cols=("lang",), length_band=64
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
{_DEDUP_NGRAM_JACCARD_SQL}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLICATION step of corpus dedup: resolve the MinHash
    near-dup pairs to clusters and keep exactly one document per
    cluster (the min id), passing untouched docs through — the
    end-to-end "give me the deduped corpus" call (apply_dedup,
    operators/clusters.py). Output is the kept (doc_id, lang) — the
    drop list is sized by the duplicate count, applied with one
    left-anti join; the corpus never shuffles payloads."""
    from syncquill_spark.operators.clusters import apply_dedup

    (documents,) = load_tables(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        documents, k=3, n_perm=_N_PERM, bands=_BANDS, threshold=0.2
    )
    return apply_dedup(documents, pairs).select("doc_id", "lang")


def _dedup_apply_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_sql()}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS node, MIN(v) AS keeper FROM reach GROUP BY u),
drops AS (SELECT node FROM cc WHERE node <> keeper)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM drops)
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the SimHash near-dup transitive
    closure — the dedup AUDIT a curation run reports before applying
    drops: how many 2-doc clusters vs giant boilerplate blobs, and how
    many docs each size class would remove (n_dropped = clusters *
    (size - 1), keep-one-per-cluster). Composes connected components
    with a DIFFERENT pair source than dedup_clusters (SimHash bands vs
    n-gram Jaccard), so the CC operator's contract is exercised across
    emitters. Scale shape: CC is O(diameter) cycles over skinny edges;
    the histogram is two tiny keyed aggregations."""
    from syncquill_spark.operators.clusters import connected_components

    (documents,) = load_tables(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(
        documents, bits=_SIMHASH_BITS, max_hamming=_SIMHASH_MAX_HAMMING
    )
    cc = connected_components(pairs)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).alias("n_dropped"),
    )


def _cluster_stats_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{_simhash_pairs_sql()}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS node, MIN(v) AS comp FROM reach GROUP BY u),
sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM cc GROUP BY comp)
SELECT cluster_size, COUNT(*) AS n_clusters,
       COUNT(*) * (cluster_size - 1) AS n_dropped
FROM sizes GROUP BY cluster_size
"""


# ---------------------------------------------------------------------------
# Dedup: embedding-cosine near-dup (banded SRP-LSH blocking + exact verify)
# ---------------------------------------------------------------------------

_NEARDUP_THRESHOLD = 0.35
_NEARDUP_BANDS = 4
_NEARDUP_R = 4  # planes per band
_NEARDUP_DIM = 64


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the embedding column. The 0.35 threshold fits
    the synthetic near-orthogonal fixture (max pairwise cosine ~0.51);
    real near-dup corpora use ~0.9+, where the same band/plane config
    has ~0.996 recall and far sparser candidates (sign agreement rises
    with cosine). The oracle mirrors the blocking exactly, so the check
    is exact regardless of the recall regime."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        embeddings,
        threshold=_NEARDUP_THRESHOLD,
        bands=_NEARDUP_BANDS,
        planes_per_band=_NEARDUP_R,
        dim=_NEARDUP_DIM,
    )


def _qvec_sql(vec: str = "embedding") -> str:
    """Quantize a float vector to SIG_SCALE int64 — the same float64
    op sequence as the Spark-side numpy kernel (x * S + 0.5, floor),
    so both engines hold identical integer vectors."""
    return (
        f"list_transform({vec}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {float(SIG_SCALE)} + 0.5) AS BIGINT))"
    )


def _qplane(plane: list[float]) -> list[int]:
    """SIG_SCALE-quantized integer hyperplane (same math as
    similarity._quantized_planes: c * S + 0.5 in float64, floor)."""
    import math

    return [math.floor(c * float(SIG_SCALE) + 0.5) for c in plane]


def _n2_sql(vec: str = "q") -> str:
    """Exact int64 squared norm of a quantized vector."""
    return f"list_reduce(list_transform({vec}, x -> x * x), (a, b) -> a + b)"


def _dotq_sql(a: str, b: str, dim: int) -> str:
    """Exact int64 dot of two quantized vectors (order-independent —
    any fold order matches the Spark-side numpy matmul)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _band_key_sql(
    band_idx: int, planes_per_band: int, dim: int, vec: str = "q"
) -> str:
    """Int64 band key: bit p set iff the quantized dot with the band's
    plane p is >= 0 — mirrors the Spark kernel's sign-bits-to-int
    packing bit for bit."""
    terms = []
    for p in range(planes_per_band):
        qp = _qplane(_hyperplane(dim, band_idx * planes_per_band + p))
        lits = "[" + ", ".join(str(c) for c in qp) + "]"
        dot_p = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> {vec}[i] * ({lits})[i]), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {dot_p} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _embedding_neardup_sql() -> str:
    """Oracle twin of q_dedup_embedding_cosine: the SAME md5-derived
    hyperplanes, quantized to the SAME int64 values, build the same
    int64 band keys; the verify compares the exact integer dot against
    threshold * sqrt(n2a * n2b) with the identical tiny IEEE-double
    expression — bit-identical candidates and verdicts, independent of
    summation order on either side."""
    band_selects = [
        f"SELECT vec_id, {bi} AS band, "
        f"{_band_key_sql(bi, _NEARDUP_R, _NEARDUP_DIM)} AS key FROM qv"
        for bi in range(_NEARDUP_BANDS)
    ]
    keyed = "\nUNION ALL\n".join(band_selects)
    verify = (
        f"CAST({_dotq_sql('a.q', 'b.q', _NEARDUP_DIM)} AS DOUBLE) >= "
        f"{_NEARDUP_THRESHOLD} * sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
    )
    return f"""
WITH qv AS (
  SELECT vec_id, q, {_n2_sql()} AS n2
  FROM (SELECT vec_id, {_qvec_sql()} AS q FROM embeddings)
),
keyed AS (
{keyed}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT cand.id_a, cand.id_b
FROM cand
JOIN qv a ON cand.id_a = a.vec_id
JOIN qv b ON cand.id_b = b.vec_id
WHERE a.n2 > 0 AND b.n2 > 0 AND {verify}
"""


def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time vector dedup: 'new' embeddings (vec_id % 7 == 0)
    checked against the existing corpus (the rest) — band-bucket
    equi-join new x corpus only, exact cosine verify."""
    from syncquill_spark.operators.similarity import embedding_near_dup_against

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    new = embeddings.filter(F.col("vec_id") % 7 == 0)
    corpus = embeddings.filter(F.col("vec_id") % 7 != 0)
    return embedding_near_dup_against(
        new,
        corpus,
        threshold=_NEARDUP_THRESHOLD,
        bands=_NEARDUP_BANDS,
        planes_per_band=_NEARDUP_R,
        dim=_NEARDUP_DIM,
    )


def _embedding_neardup_incremental_sql() -> str:
    """Oracle twin of q_dedup_embedding_incremental: identical
    quantized hyperplanes, int64 band keys per side, new x corpus
    bucket join, exact-integer dot verify."""
    band_selects = [
        f"SELECT vec_id, {bi} AS band, "
        f"{_band_key_sql(bi, _NEARDUP_R, _NEARDUP_DIM)} AS key FROM qv"
        for bi in range(_NEARDUP_BANDS)
    ]
    keyed = "\nUNION ALL\n".join(band_selects)
    verify = (
        f"CAST({_dotq_sql('a.q', 'b.q', _NEARDUP_DIM)} AS DOUBLE) >= "
        f"{_NEARDUP_THRESHOLD} * sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
    )
    return f"""
WITH qv AS (
  SELECT vec_id, q, {_n2_sql()} AS n2
  FROM (SELECT vec_id, {_qvec_sql()} AS q FROM embeddings)
),
keyed AS (
{keyed}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_new, b.vec_id AS id_corpus
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key
   AND a.vec_id % 7 = 0 AND b.vec_id % 7 != 0
)
SELECT cand.id_new, cand.id_corpus
FROM cand
JOIN qv a ON cand.id_new = a.vec_id
JOIN qv b ON cand.id_corpus = b.vec_id
WHERE a.n2 > 0 AND b.n2 > 0 AND {verify}
"""


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling snapshot: per-column null and exact distinct
    counts in ONE corpus pass (the data-quality health check every
    ingest pipeline runs before training). Multiple exact distinct
    aggregates compile to a single expand + aggregate — one job, no
    per-column scans; at 100 TB swap countDistinct for
    approx_count_distinct per column for fixed-size state."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    row = documents.agg(*aggs)
    stack = ", ".join(f"'{c}', _nn_{c}, _nd_{c}" for c in _PROFILE_COLS)
    return row.selectExpr(
        "_n",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (col_name, _nn, n_distinct)",
    ).select(
        "col_name",
        F.col("_n").alias("n_rows"),
        (F.col("_n") - F.col("_nn")).alias("n_nulls"),
        "n_distinct",
    )


def _profile_documents_sql() -> str:
    stats = ", ".join(
        f"COUNT({c}) AS nn_{c}, COUNT(DISTINCT {c}) AS nd_{c}" for c in _PROFILE_COLS
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n AS n_rows, n - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct FROM s"
        for c in _PROFILE_COLS
    )
    return f"WITH s AS (SELECT COUNT(*) AS n, {stats} FROM documents)\n{selects}"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return language_id(documents)


def _language_id_sql() -> str:
    from syncquill_spark.operators.text import LANG_PROFILES

    toks = _TOKS_LOWER.format(src="text")
    scores = {
        lang: f"len(list_filter({toks}, t -> list_contains({list(prof)!r}, t)))"
        for lang, prof in LANG_PROFILES.items()
    }
    langs = sorted(scores)
    best = f"greatest({', '.join(scores[lang] for lang in langs)})"
    pick = "CASE " + " ".join(
        f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, text, {best} AS best FROM documents)
SELECT doc_id,
       CASE WHEN best > 0 THEN {pick} ELSE 'und' END AS pred_lang,
       CAST(best AS BIGINT) AS best_score
FROM scored
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return quality_features(documents)


def _quality_sql() -> str:
    from syncquill_spark.operators.text import LANG_PROFILES

    toks = _TOKS_LOWER.format(src="text")
    en = list(LANG_PROFILES["en"])
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({toks})) AS BIGINT) AS n_unique_tokens,
       CAST(length(text) AS DOUBLE) / CAST(len({toks}) AS DOUBLE) AS chars_per_token,
       CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(len(list_filter({toks}, t -> list_contains({en!r}, t))) AS BIGINT) AS n_stopwords,
       CAST(len(list_distinct({toks})) AS DOUBLE) / CAST(len({toks}) AS DOUBLE) AS uniq_ratio
FROM documents
"""


def _shingles_from_toks_sql(toks_expr: str, k: int, distinct: bool = True) -> str:
    """Word k-shingles over an existing DuckDB token-list expression."""
    body = (
        f"CASE WHEN len({toks_expr}) >= {k} THEN "
        f"list_transform(range(1, len({toks_expr}) - {k} + 2), "
        f"i -> array_to_string(list_slice({toks_expr}, i, i + {k - 1}), ' ')) "
        f"ELSE [] END"
    )
    return f"list_distinct({body})" if distinct else body


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: top token/bigram frequency and
    duplicate-bigram mass per document. Two two-level groupBys (term
    counts then per-doc max/sum) — map-side combine at both levels,
    shuffle bounded by vocabulary not text size."""
    from syncquill_spark.operators.text import repetition_signals

    (documents,) = load_tables(spark, sf_dir, "documents")
    return repetition_signals(documents)


def _repetition_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    sh2 = _shingles_from_toks_sql("t", 2, distinct=False)
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
uc AS (SELECT doc_id, term, COUNT(*) AS c
       FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
ua AS (SELECT doc_id, MAX(c) AS mt, SUM(c) AS nt FROM uc GROUP BY 1),
bc AS (SELECT doc_id, bg, COUNT(*) AS c
       FROM (SELECT doc_id, unnest({sh2}) AS bg FROM toks) GROUP BY 1, 2),
ba AS (SELECT doc_id, MAX(c) AS mb,
              SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS db,
              SUM(c) AS tb
       FROM bc GROUP BY 1)
SELECT ua.doc_id,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(mt AS BIGINT) AS max_tok_freq,
       CAST(coalesce(mb, 0) AS BIGINT) AS max_bigram_freq,
       CAST(coalesce(db, 0) AS BIGINT) AS dup_bigrams,
       CAST(coalesce(tb, 0) AS BIGINT) AS total_bigrams,
       coalesce(CAST(db AS DOUBLE) / CAST(tb AS DOUBLE), 0.0) AS dup_bigram_frac,
       CAST(CASE WHEN mt * 5 > nt THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
"""


def q_text_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality envelope: per-rule 0/1 verdicts + keep flag,
    integer cross-multiplication comparisons throughout."""
    from syncquill_spark.operators.text import quality_rules

    (documents,) = load_tables(spark, sf_dir, "documents")
    return quality_rules(documents)


def _quality_rules_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    sh2 = _shingles_from_toks_sql("t", 2, distinct=False)
    return f"""
WITH toks AS (SELECT doc_id, text, {toks} AS t FROM documents),
ua AS (SELECT doc_id, MAX(c) AS mt, SUM(c) AS nt
       FROM (SELECT doc_id, term, COUNT(*) AS c
             FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2)
       GROUP BY 1),
ba AS (SELECT doc_id,
              SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS db,
              SUM(c) AS tb
       FROM (SELECT doc_id, bg, COUNT(*) AS c
             FROM (SELECT doc_id, unnest({sh2}) AS bg FROM toks) GROUP BY 1, 2)
       GROUP BY 1),
f AS (SELECT doc_id, length(text) AS nc, len(t) AS ntt,
             len(list_distinct(t)) AS nu
      FROM toks),
r AS (SELECT f.doc_id,
             CASE WHEN ntt >= 10 AND ntt <= 100000 THEN 1 ELSE 0 END AS p_len,
             CASE WHEN nc <= 12 * ntt THEN 1 ELSE 0 END AS p_cpt,
             CASE WHEN 100 * nu >= 30 * ntt THEN 1 ELSE 0 END AS p_uniq,
             CASE WHEN mt * 5 > nt THEN 0 ELSE 1 END AS p_rep,
             CASE WHEN 100 * coalesce(db, 0) <= 60 * coalesce(tb, 0)
                  THEN 1 ELSE 0 END AS p_dupbi
      FROM f
      JOIN ua ON f.doc_id = ua.doc_id
      LEFT JOIN ba ON f.doc_id = ba.doc_id)
SELECT doc_id,
       CAST(p_len AS BIGINT) AS pass_length,
       CAST(p_cpt AS BIGINT) AS pass_chars_per_token,
       CAST(p_uniq AS BIGINT) AS pass_uniq_ratio,
       CAST(p_rep AS BIGINT) AS pass_not_repetitive,
       CAST(p_dupbi AS BIGINT) AS pass_dup_bigrams,
       CAST(p_len * p_cpt * p_uniq * p_rep * p_dupbi AS BIGINT) AS keep
FROM r
"""


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension centroid stats with scaled-int exact
    sums; the (label, dim) shuffle is corpus-size independent.

    Checked output is the all-integer per-dim frame (label, pos,
    sum_q, n_vecs): the driver's canonicalizer pandas-sorts every
    column, so array-typed cells (the assembled centroid) are banned
    from checked outputs — label_centroids reassembles the arrays for
    API users, from exactly these stats."""
    from syncquill_spark.operators.similarity import label_centroid_stats

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return label_centroid_stats(embeddings).select(
        "label", "pos", "sum_q", "n_vecs"
    )


_EMBEDDING_LABEL_CENTROIDS_SQL = """
WITH p AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS q
  FROM embeddings
)
SELECT label, pos, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n_vecs
FROM p GROUP BY label, pos
"""


_BM25_TERMS = ("spark", "hash", "merge", "window")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 against a fixed query term set; per-term scores are
    per-row IEEE math, the per-doc sum is decimal-rounded so the one
    cross-row float reduction is order-independent."""
    from syncquill_spark.operators.text import bm25_scores

    (documents,) = load_tables(spark, sf_dir, "documents")
    return bm25_scores(documents, _BM25_TERMS)


def _bm25_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = 1.2, 0.75
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b})
              + {k1} * {b} * (CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
                              / CAST(total_len AS DOUBLE))),
           9) AS DECIMAL(18,9)) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25, COUNT(*) AS n_matched
FROM scored GROUP BY doc_id
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return token_counts(documents)


def _token_counts_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    return f"""
SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens_ws,
       CAST(list_sum(list_transform({toks},
           t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens_bpeish
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    return fingerprints(documents)


def _fingerprint_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h = _H60.format(x="t")
    return f"""
WITH hs_t AS (
  SELECT doc_id, list_transform({toks}, t -> {h} % {P}) AS hs FROM documents
)
SELECT doc_id,
       CASE WHEN len(hs) = 0 THEN 0
            ELSE list_reduce(hs, (a, b) -> (a * 31 + b) % {P}) END AS fingerprint
FROM hs_t
"""


# ---------------------------------------------------------------------------
# Multimodal: binary payload stats (payload = utf-8 bytes of text)
# ---------------------------------------------------------------------------


def q_multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tables(spark, sf_dir, "documents")
    media = attach_media_metadata(
        documents.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        ),
        modality="text-bytes",
    )
    return media.select(
        "media_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.substring(F.col("meta.content_sha"), 1, 8).alias("sha_prefix"),
        F.hex(F.encode(F.substring(F.col("payload").cast("string"), 1, 4), "utf-8")).alias("magic_hex"),
    )


_MULTIMODAL_MEDIA_STATS_SQL = """
SELECT doc_id AS media_id,
       'text-bytes' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(sha256(text), 1, 8) AS sha_prefix,
       upper(hex(encode(substr(text, 1, 4)))) AS magic_hex
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas feature-extraction path, oracle-checked end to
    end: Arrow batches -> per-payload stub featurizer -> per-dim rows.
    The codec stub is a deterministic md5 keystream (real deployments
    swap the stub body for an image decode; the Spark plumbing —
    schema, batching, explode shape — is exactly what runs here), so
    DuckDB can recompute every feature byte from the same md5. Output
    is all-integer (media_id, pos, byte_val): feature component i is
    digest_byte[i % 16] / 255, so byte_val = round(f * 255) recovers
    the exact byte."""
    from syncquill_spark.operators.multimodal import extract_features

    (documents,) = load_tables(spark, sf_dir, "documents")
    media = attach_media_metadata(
        documents.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        ),
        modality="text-bytes",
    )
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id", F.posexplode("feature").alias("pos", "_f")
    ).select(
        "media_id",
        "pos",
        F.floor(F.col("_f") * 255 + F.lit(0.5)).cast("long").alias("byte_val"),
    )


_MULTIMODAL_FEATURES_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents
),
p AS (
  SELECT unnest(range(0, 8)) AS pos
)
SELECT m.media_id, p.pos,
       CAST((strpos('0123456789abcdef', substr(m.h, 2 * p.pos + 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(m.h, 2 * p.pos + 2, 1)) - 1)
            AS BIGINT) AS byte_val
FROM m CROSS JOIN p
"""


# ---------------------------------------------------------------------------
# As-of join, range join, rollup, event windows, running totals
# ---------------------------------------------------------------------------


def q_join_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the most recent 'signup' event of the same user
    at or before it (point-in-time lookup via the as-of operator)."""
    (events,) = load_tables(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", F.col("ts").alias("ts_ns"))
    right = (
        events.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("ts_ns"), F.col("event_id").alias("signup_event_id"))
    )
    out = asof_join(left, right, on="user_id", ts="ts_ns",
                    right_value_cols=["signup_event_id"], suffix="")
    return out.select("event_id", "user_id", "signup_event_id")


_JOIN_ASOF_SIGNUP_SQL = """
SELECT e.event_id, e.user_id, s.event_id AS signup_event_id
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


def q_join_range_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems shipped within 90 days of their order date,
    counted per order priority (equi key + range residual — Spark plans
    the equi part as the join key, the range as a post-filter)."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_shipped_90d"))
    )


_JOIN_RANGE_SHIPMENTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_shipped_90d
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
"""


def q_join_binned_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key) via interval binning: supplier
    balances (points) against nation-level customer balance envelopes
    (intervals) — count, per nation name, the suppliers from ANY nation
    whose balance falls inside that nation's [min, max] customer
    balance. A naive plan is a nested-loop cartesian; the binned form
    equi-joins on a width-1000 bin first."""
    from syncquill_spark.operators.ranges import binned_range_join

    customer, supplier, nation = load_tables(
        spark, sf_dir, "customer", "supplier", "nation"
    )
    intervals = (
        customer.groupBy("c_nationkey")
        .agg(F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "lo", "hi")
    )
    points = supplier.select("s_suppkey", F.col("s_acctbal").cast("double").alias("bal"))
    return (
        binned_range_join(points, intervals, "bal", "lo", "hi", bin_width=1000.0)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers_in_range"))
    )


_JOIN_BINNED_RANGE_SQL = """
WITH intervals AS (
  SELECT n_name, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, COUNT(*) AS n_suppliers_in_range
FROM supplier JOIN intervals
  ON CAST(s_acctbal AS DOUBLE) >= lo AND CAST(s_acctbal AS DOUBLE) <= hi
GROUP BY n_name
"""


def q_agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: order counts + exact decimal revenue at
    (status, priority), (status), and grand-total levels."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


_AGG_ROLLUP_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


_WINDOW_NS = 300 * 10**9  # 5-minute tumbling buckets in epoch-nanos


def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation (the
    streaming variant reuses this exact grouping — see
    syncquill_spark/streaming). ts is epoch-nanos int64."""
    (events,) = load_tables(spark, sf_dir, "events")
    return (
        events.withColumn("bucket", F.expr(f"ts div {_WINDOW_NS}"))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


_EVENTS_TUMBLING_WINDOW_SQL = f"""
SELECT epoch_ns(ts) // {_WINDOW_NS} AS bucket, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history: each user's event_type observation
    stream collapsed into versioned [valid_from, valid_to) rows —
    the warehouse-side complement of the sync engine's point-in-time
    change sets. One shuffle + two window passes."""
    from syncquill_spark.operators.scd2 import scd2_history

    (events,) = load_tables(spark, sf_dir, "events")
    # micros, not nanos: DuckDB truncates TIMESTAMP(NANOS) to micro
    # precision, so the oracle can only see epoch_us (same convention
    # as events_sessionization)
    hist = scd2_history(
        events.withColumn("ts_us", F.expr("ts div 1000")),
        key_col="user_id",
        order_col="ts_us",
        tracked_cols=["event_type"],
        tie_cols=["event_id"],
    )
    # -1 sentinel for the open-ended current version: a nullable int64
    # column round-trips through pandas as float64, which cannot hold
    # nanosecond timestamps exactly (the operator itself keeps NULL)
    return hist.withColumn(
        "valid_to", F.coalesce("valid_to", F.lit(-1).cast("long"))
    )


_CDC_SCD2_SQL = """
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts, event_type FROM events
),
m AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM o
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
v AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM m
),
g AS (
  SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
         MIN(ts) AS valid_from, COUNT(*) AS n_obs
  FROM v GROUP BY 1, 2, 3
)
SELECT user_id, event_type, version, valid_from,
       coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version),
                CAST(-1 AS BIGINT)) AS valid_to,
       n_obs
FROM g
"""


_Z_BITS = 10


def q_storage_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (user bucket, value bucket): the
    sort key a layout job uses before writing parquet so zone maps
    prune on either dimension. Pure codegen bit arithmetic."""
    from syncquill_spark.functions.zorder import zorder_key

    (events,) = load_tables(spark, sf_dir, "events")
    u = F.col("user_id") % 1024
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long") % 1024
    return events.select(
        "event_id",
        u.cast("long").alias("u_bucket"),
        v.alias("v_bucket"),
        zorder_key([u, v], bits=_Z_BITS).alias("zkey"),
    )


def _zorder_sql() -> str:
    from syncquill_spark.functions.zorder import zorder_key_sql

    u = "(user_id % 1024)"
    v = "(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 1024)"
    return f"""
SELECT event_id,
       CAST({u} AS BIGINT) AS u_bucket,
       CAST({v} AS BIGINT) AS v_bucket,
       {zorder_key_sql([u, v], bits=_Z_BITS)} AS zkey
FROM events
"""


_IVM_CUTOFF = "1997-01-01"


def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-priority orders rollup is
    maintained from a change feed (inserts = post-cutoff orders,
    deletes = pre-cutoff orders with o_orderkey % 10 == 3) WITHOUT
    rescanning the base facts. The oracle recomputes the final state
    directly — incremental-equals-recompute IS the invariant under
    test. Decimal accumulation makes the update exactly associative."""
    from syncquill_spark.operators.incremental import (
        incremental_agg_update,
        snapshot_agg,
    )

    (orders,) = load_tables(spark, sf_dir, "orders")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    old = orders.filter(F.col("o_orderdate") < cutoff)
    base = snapshot_agg(old, ["o_orderpriority"], ["o_totalprice"])
    inserts = orders.filter(F.col("o_orderdate") >= cutoff).select(
        F.lit("I").alias("op"), "o_orderpriority", "o_totalprice"
    )
    deletes = old.filter(F.col("o_orderkey") % 10 == 3).select(
        F.lit("D").alias("op"), "o_orderpriority", "o_totalprice"
    )
    updated = incremental_agg_update(
        base,
        inserts.unionByName(deletes),
        ["o_orderpriority"],
        ["o_totalprice"],
    )
    return updated.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("total_price"),
        "n_rows",
    )


_CDC_INCREMENTAL_AGG_SQL = f"""
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_rows
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '{_IVM_CUTOFF}' AND o_orderkey % 10 = 3)
GROUP BY o_orderpriority
"""


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in dynamic-gap session windows (F.session_window) per
    user; the same plan runs under readStream with a watermark. The
    custom applyInPandasWithState sessionizer is the other primitive
    for these semantics (events_sessionization)."""
    from syncquill_spark.streaming.windows import session_window_stats

    (events,) = load_tables(spark, sf_dir, "events")
    return session_window_stats(events, gap="30 minutes")


# Gaps-and-islands twin of F.session_window: a NEW session starts when
# the gap since the previous event EXCEEDS 30 min. The boundary is
# inclusive — an event at exactly last_ts + gap still extends the
# session (Spark merges sessions when next_start <= prev_end, end =
# last + gap; verified empirically in
# tests/test_streaming.py::test_session_gap_boundary_is_inclusive).
_EVENTS_SESSION_WINDOW_SQL = """
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, sid
"""


_SLIDE_US = 300 * 10**6  # 5-minute slide
_WIDTH_US = 600 * 10**6  # 10-minute windows -> each event in 2 windows


def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed training-data pass:

    exact dedup (keep min doc_id per distinct text, grouped on sha2 so
    the shuffle carries 64-byte keys, not documents) → quality filter
    (token count / chars-per-token / uniqueness envelope) → language ID
    → per-language token + char accounting. One declarative plan: the
    stages fuse into ~3 shuffles total (dedup window, doc_id joins,
    final agg); nothing materializes between stages.
    """
    from syncquill_spark.operators._cache import tracked_persist

    (documents,) = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    # `keep` feeds the quality filter AND its join's left side;
    # `curated` feeds THREE downstream projections (language, tokens,
    # chars) — unpersisted, the dedup window ran up to 4x (r16)
    keep = tracked_persist(
        documents.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )
    curated = tracked_persist(keep.join(quality_filter(keep), "doc_id"))
    stats = (
        language_id(curated)
        .join(token_counts(curated), "doc_id")
        .join(
            curated.select("doc_id", F.length("text").cast("long").alias("n_chars")),
            "doc_id",
        )
    )
    return stats.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_bpeish").alias("total_tokens_bpeish"),
        F.sum("n_chars").alias("total_chars"),
    )


def _pipeline_curation_sql() -> str:
    """Composed oracle: the dedup/filter/language/token CTEs chained,
    each the exact SQL twin of the operator the Spark plan reuses."""
    toks = _TOKS_LOWER.format(src="text")
    langs = sorted(LANG_PROFILES)
    scores = {
        lang: f"len(list_filter(toks, t -> list_contains({list(LANG_PROFILES[lang])!r}, t)))"
        for lang in langs
    }
    best = f"greatest({', '.join(scores[lang] for lang in langs)})"
    pick = "CASE " + " ".join(
        f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH keep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents) t WHERE rn = 1
),
feat AS (
  SELECT doc_id, text, {toks} AS toks FROM keep
),
filt AS (
  SELECT doc_id, text, toks FROM feat
  WHERE len(toks) >= 10
    AND CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE) <= 12.0
    AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.3
),
lang AS (
  SELECT doc_id,
         CASE WHEN best > 0 THEN {pick} ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, toks, {best} AS best FROM filt) s
)
SELECT l.pred_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(list_sum(list_transform(f.toks,
           t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT) AS total_tokens_bpeish,
       CAST(SUM(length(f.text)) AS BIGINT) AS total_chars
FROM filt f JOIN lang l USING (doc_id)
GROUP BY l.pred_lang
"""


def q_join_events_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.enrich_with_dim: events enriched with
    the customer dim (broadcast — the fact side never shuffles for the
    join), then aggregated per market segment. Left join so events
    with no matching customer keep flowing (null segment bucket)."""
    events, customer = load_tables(spark, sf_dir, "events", "customer")
    return (
        events.join(
            F.broadcast(customer),
            events["user_id"] == customer["c_custkey"],
            "left",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


_JOIN_EVENTS_CUSTOMERS_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (width 10 min, slide 5 min) via
    F.window over a real timestamp — Spark expands each event into its
    overlapping windows before the grouping shuffle. Window starts are
    emitted as epoch-micros int64 (engine-portable, no tz)."""
    (events,) = load_tables(spark, sf_dir, "events")
    return (
        events.withColumn("event_time", F.expr("timestamp_micros(ts div 1000)"))
        .groupBy(
            F.window("event_time", "10 minutes", "5 minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("win.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_EVENTS_SLIDING_WINDOW_SQL = f"""
WITH e AS (
  SELECT epoch_us(ts) AS t, event_type, value FROM events
),
assigned AS (
  SELECT (t // {_SLIDE_US}) * {_SLIDE_US} AS window_start_us, event_type, value FROM e
  UNION ALL
  SELECT (t // {_SLIDE_US}) * {_SLIDE_US} - {_SLIDE_US} AS window_start_us,
         event_type, value FROM e
)
SELECT window_start_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY 1, 2
"""


_FUNNEL_LAG_MINUTES = 10


def q_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windows.stream_stream_funnel: every
    click joined to same-user purchases within 10 minutes after it.
    All time math is integer microseconds (ts div 1000), matching the
    streaming version's unix_micros arithmetic bit-for-bit, so the
    stream-vs-batch test AND the DuckDB oracle are exact.

    Scale shape: equi-join on user_id (one co-partitioning shuffle of
    each side) with the time-range predicate evaluated within
    partitions — the batch analogue of the stream-stream interval
    join's state-store bound."""
    (events,) = load_tables(spark, sf_dir, "events")
    lag_us = _FUNNEL_LAG_MINUTES * 60 * 1_000_000
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.expr("ts div 1000").alias("_cus"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("_p_user_id"),
        F.expr("ts div 1000").alias("_pus"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("_p_user_id"))
            & (F.col("_pus") >= F.col("_cus"))
            & (F.col("_pus") < F.col("_cus") + F.lit(lag_us)),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.expr("(_pus - _cus) div 1000000").cast("long").alias("lag_seconds"),
        )
    )


_FUNNEL_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, p.purchase_id,
       CAST((p.pus - c.cus) // 1000000 AS BIGINT) AS lag_seconds
FROM c JOIN p ON c.user_id = p.user_id
 AND p.pus >= c.cus
 AND p.pus < c.cus + {_FUNNEL_LAG_MINUTES * 60 * 1_000_000}
"""


def q_agg_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct users — the oracle-checked twin of the
    HLL sketch below (two shuffles: distinct-ize then count)."""
    (events,) = load_tables(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


_AGG_DISTINCT_USERS_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


_APPROX_RSD = 0.02


def q_agg_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct count — ONE shuffle of fixed-size sketch
    state instead of the exact form's distinct-ize shuffle; the 100 TB
    cardinality path. The raw estimate can't be hash-compared (HLL
    estimators differ per engine), so the query computes exact AND
    approx in one plan and emits the error-bound CHECK as a column:
    ``within_bound = |approx - exact| / exact <= 3 * rsd``. The oracle
    recomputes the exact count and asserts within_bound = TRUE — a
    real hash-checked guarantee that the sketch is inside its
    advertised accuracy, per group."""
    (events,) = load_tables(spark, sf_dir, "events")
    both = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=_APPROX_RSD).alias("_approx"),
    )
    rel_err = F.abs(F.col("_approx") - F.col("n_users_exact")) / F.col(
        "n_users_exact"
    ).cast("double")
    return both.select(
        "event_type",
        "n_users_exact",
        (rel_err <= 3 * _APPROX_RSD).alias("within_bound"),
    )


_AGG_DISTINCT_USERS_APPROX_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


_PCT_ACC = 1000  # GK sketch accuracy: rank error <= n / accuracy


def q_agg_quantiles_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx with its Greenwald-Khanna guarantee verified
    IN-PLAN: the sketch promises a value whose rank is within
    n/accuracy of the target rank. The query computes the returned
    value's exact rank interval from per-value counts (one small
    groupBy + running sum) and emits the bound check as a column; the
    oracle recomputes group sizes and asserts TRUE. Same pattern as
    the HLL bound check — the approximate answer itself is not
    hash-comparable, its advertised guarantee is."""
    from pyspark.sql.window import Window

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    cnt = lineitem.groupBy("l_linestatus", "l_quantity").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.partitionBy("l_linestatus").orderBy("l_quantity")
    cum = cnt.withColumn(
        "_cum_le", F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    approx = lineitem.groupBy("l_linestatus").agg(
        F.percentile_approx("l_quantity", 0.5, _PCT_ACC).alias("_p50"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = approx.join(
        cum,
        (approx["l_linestatus"] == cum["l_linestatus"])
        & (F.col("_p50") == F.col("l_quantity")),
    )
    target = 0.5 * F.col("n_lines").cast("double")
    err = F.col("n_lines").cast("double") / _PCT_ACC
    within = (
        ((F.col("_cum_le") - F.col("_c")).cast("double") < target + err)
        & (F.col("_cum_le").cast("double") >= target - err)
    )
    return j.select(
        approx["l_linestatus"].alias("l_linestatus"),
        "n_lines",
        within.alias("within_bound"),
    )


_AGG_QUANTILES_APPROX_SQL = """
SELECT l_linestatus, COUNT(*) AS n_lines, TRUE AS within_bound
FROM lineitem GROUP BY l_linestatus
"""


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming applyInPandasWithState sessionizer
    (streaming/sessionize.py): 30-min-gap sessions per user. Session
    math runs in MICROseconds (ts div 1000) because DuckDB's timestamp
    type truncates the fixture's nanos — sub-µs digits can't survive a
    cross-engine comparison."""
    (events,) = load_tables(spark, sf_dir, "events")
    return sessionize_batch(
        events.withColumn("ts", F.expr("ts div 1000")),
        gap_nanos=GAP_NANOS // 1000,
    )


_SESSION_GAP_US = GAP_NANOS // 1000

_EVENTS_SESSIONIZATION_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events
),
marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_id
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event count + running value total (ordered by
    event_id; exact decimal accumulation surfaced as double)."""
    (events,) = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
    )


_WINDOW_RUNNING_TOTAL_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS running_n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame moving aggregate: trailing-3-event mean value per
    user (rowsBetween(-2, 0)). The mean is one division of an exact
    decimal frame-sum by the frame count — engine-exact. Also emits
    lag/lead deltas, covering the offset-function surface."""
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    frame = w.rowsBetween(-2, 0)
    dec_v = F.col("value").cast("decimal(18,2)")
    return events.select(
        "event_id",
        "user_id",
        (
            F.sum(dec_v).over(frame).cast("double")
            / F.count(F.lit(1)).over(frame).cast("double")
        ).alias("moving_avg"),
        (dec_v - F.lag(dec_v, 1).over(w)).cast("double").alias("delta_prev"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )


_WINDOW_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER f AS DOUBLE)
         / CAST(COUNT(*) OVER f AS DOUBLE) AS moving_avg,
       CAST(CAST(value AS DECIMAL(18,2))
            - lag(CAST(value AS DECIMAL(18,2)), 1) OVER w AS DOUBLE)
           AS delta_prev,
       lead(event_type, 1) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
       f AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL bag semantics: per-customer order-priority
    multiset minus the urgent multiset — duplicates preserved
    (exceptAll keeps max(count_left - count_right, 0) copies, unlike
    EXCEPT's set semantics). Counted per priority for a compact,
    duplicate-sensitive result."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    left = orders.select("o_custkey", "o_orderpriority")
    right = orders.filter(F.col("o_totalprice") > 100000).select(
        "o_custkey", "o_orderpriority"
    )
    return (
        left.exceptAll(right)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_remaining"))
    )


_SETOP_EXCEPT_ALL_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_remaining
FROM (
  SELECT o_custkey, o_orderpriority FROM orders
  EXCEPT ALL
  SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 100000
) t
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Curation: hash split / PII redaction / sequence packing / int8 quantization
# ---------------------------------------------------------------------------


def q_curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — pure projection, and
    bit-identical across engines/runs (the property that keeps held-out
    data held out when a 100 TB pipeline is re-run)."""
    from syncquill_spark.operators.curation import hash_split

    (documents,) = load_tables(spark, sf_dir, "documents")
    return hash_split(documents).select("doc_id", "bucket", "split")


_CURATION_HASH_SPLIT_SQL = f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < 96 THEN 'train'
            WHEN bucket < 98 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             {_H60.format(x="'split-v1:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents) t
"""


def _pii_synth_spark(doc_id: str = "doc_id", text: str = "text"):
    did = F.col(doc_id)
    return F.concat_ws(
        " ",
        F.col(text),
        F.lit("contact"),
        F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com")),
        F.lit("tel"),
        F.concat(F.lit("+1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        F.lit("ip"),
        F.concat(
            F.lit("10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 7) % 256).cast("string"),
        ),
    )


_PII_SYNTH_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 7) % 256 AS VARCHAR)"
)


def q_curation_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus seeded with synthetic emails/phones/
    IPs (the fixture text has none — the synth column makes the regexes
    do real work and the oracle proves Java-regex/RE2 agreement)."""
    from syncquill_spark.operators.curation import redact_pii

    (documents,) = load_tables(spark, sf_dir, "documents")
    seeded = documents.select("doc_id", _pii_synth_spark().alias("pii"))
    return redact_pii(seeded, text_col="pii", out_col="pii_redacted").select(
        "doc_id", "n_emails", "n_ips", "n_phones", "pii_redacted"
    )


def _curation_redact_sql() -> str:
    from syncquill_spark.operators.curation import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
WITH seeded AS (SELECT doc_id, {_PII_SYNTH_SQL} AS pii FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(pii, '{IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(pii, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(pii,
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS pii_redacted
FROM seeded
"""


_DECONTAM_K = 5
_DECONTAM_EVAL_MOD = 100  # doc_id % 100 == 0 rows play the benchmark set
_DECONTAM_LEAK_MOD = 97   # doc_id % 97 == 3 train docs get a leaked eval text


def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    5-gram with the "benchmark" subset (doc_id % 100 == 0), with the
    count of overlapping grams. Leakage is additionally SEEDED
    deterministically (train docs with doc_id % 97 == 3 get the text
    of eval doc (doc_id % 5)*100 appended) so the flagged set is
    non-empty at every scale factor; naturally-overlapping docs (the
    fixture has some at sf0.001/sf0.1, none at sf0.01) are flagged
    too, as they should be. One equi-join on the gram — never
    doc x doc."""
    from syncquill_spark.operators.curation import decontaminate

    (documents,) = load_tables(spark, sf_dir, "documents")
    eval_df = documents.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
    eval_texts = eval_df.select(
        (F.col("doc_id") / _DECONTAM_EVAL_MOD).cast("long").alias("_ek"),
        F.col("text").alias("_etext"),
    )
    leaky = (F.col("doc_id") % _DECONTAM_LEAK_MOD == 3) & (
        F.col("doc_id") % _DECONTAM_EVAL_MOD != 0
    )
    corpus = (
        documents.withColumn(
            "_lk", F.when(leaky, F.col("doc_id") % 5).otherwise(F.lit(None))
        )
        .join(F.broadcast(eval_texts), F.col("_lk") == F.col("_ek"), "left")
        .select(
            "doc_id",
            F.when(
                F.col("_etext").isNotNull(),
                F.concat_ws(" ", F.col("text"), F.col("_etext")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return decontaminate(corpus, eval_df, k=_DECONTAM_K)


def _decontaminate_sql() -> str:
    # lower() to match text._tokens (the operator case-folds before
    # shingling; the dedup-family shinglers do not)
    grams = _shingles_sql(src="lower(text)", k=_DECONTAM_K)
    grams_c = _shingles_sql(src="lower(ctext)", k=_DECONTAM_K)
    return f"""
WITH eval_texts AS (
  SELECT doc_id // {_DECONTAM_EVAL_MOD} AS ek, text AS etext
  FROM documents WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0
),
corpus AS (
  SELECT d.doc_id,
         CASE WHEN e.etext IS NOT NULL THEN d.text || ' ' || e.etext
              ELSE d.text END AS ctext
  FROM documents d
  LEFT JOIN eval_texts e
    ON d.doc_id % {_DECONTAM_LEAK_MOD} = 3
   AND d.doc_id % {_DECONTAM_EVAL_MOD} <> 0
   AND d.doc_id % 5 = e.ek
),
eval_grams AS (
  SELECT DISTINCT unnest({grams}) AS ngram
  FROM documents WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0
),
train_grams AS (
  SELECT doc_id, unnest({grams_c}) AS ngram
  FROM corpus WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0
)
SELECT doc_id, COUNT(*) AS n_contaminated_ngrams
FROM train_grams JOIN eval_grams USING (ngram)
GROUP BY doc_id
"""


_N_SHARDS = 8


def q_curation_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global permutation into training shards: one
    hash-partitioned shuffle + per-shard sort, no global sort."""
    from syncquill_spark.operators.curation import deterministic_shuffle

    (documents,) = load_tables(spark, sf_dir, "documents")
    return deterministic_shuffle(documents, _N_SHARDS).select("doc_id", "shard", "pos")


def _curation_shuffle_sql() -> str:
    h = _H60.format(x="'shuffle-v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM (SELECT doc_id, {h} AS h, ({h}) % {_N_SHARDS} AS shard FROM documents) t
"""


_BLOCKED_SOURCES = ("src1", "src3", "src5", "src7")


def q_curation_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain blocklist: broadcast anti-join — the corpus never
    shuffles."""
    from syncquill_spark.operators.curation import filter_blocklist

    (documents,) = load_tables(spark, sf_dir, "documents")
    blocked = spark.createDataFrame(
        [(s,) for s in _BLOCKED_SOURCES], "source string"
    )
    return filter_blocklist(documents, blocked).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _curation_blocklist_sql() -> str:
    blocked = ", ".join(f"'{s}'" for s in _BLOCKED_SOURCES)
    # IS NULL arm: the anti-join keeps NULL-source rows (NULL matches
    # no blocklist entry), while bare NOT IN would drop them
    return f"""
SELECT doc_id, lang, source, n_chars
FROM documents WHERE source IS NULL OR source NOT IN ({blocked})
"""


_STRATA_FRACTIONS = {"en": 0.1, "de": 0.5, "es": 0.25, "fr": 0.75, "zh": 1.0}


def q_curation_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling: down-weight dominant en
    (10%), keep all zh — the standard pretraining-mix rebalance. Hash-
    threshold membership, so the sample is stable across engines,
    runs, and partitionings."""
    from syncquill_spark.operators.curation import stratified_sample

    (documents,) = load_tables(spark, sf_dir, "documents")
    return stratified_sample(documents, _STRATA_FRACTIONS)


def _sample_stratified_sql() -> str:
    case = " ".join(
        f"WHEN '{lang}' THEN {int(frac * 1_000_000)}"
        for lang, frac in sorted(_STRATA_FRACTIONS.items())
    )
    h = _H60.format(x="'sample-v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, text, lang, source, n_chars
FROM documents
WHERE ({h}) % 1000000 < CASE lang {case} ELSE 0 END
"""


_EVAL_K = 20


def q_curation_eval_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-k eval set per language: hash-ranked
    top-20 doc ids per lang — the holdout-construction twin of the
    fraction-based stratified sample (exact counts even for small
    strata). Output is (lang, doc_id) ints/strings only."""
    from syncquill_spark.operators.curation import exact_k_per_stratum

    (documents,) = load_tables(spark, sf_dir, "documents")
    return exact_k_per_stratum(documents, k=_EVAL_K).select("lang", "doc_id")


def _eval_k_per_lang_sql() -> str:
    h = _H60.format(x="'evalset-v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY ({h}) ASC, doc_id ASC) AS rk
  FROM documents) t
WHERE rk <= {_EVAL_K}
"""


def q_curation_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate k-grams: word 3-grams appearing in >= 2
    distinct documents. Per-doc-distinct explode -> one map-side-
    combined count per gram."""
    from syncquill_spark.operators.curation import boilerplate_ngrams

    (documents,) = load_tables(spark, sf_dir, "documents")
    return boilerplate_ngrams(documents, k=3, min_docs=2)


def _boilerplate_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    sh3 = _shingles_from_toks_sql("t", 3, distinct=True)
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
grams AS (SELECT doc_id, unnest({sh3}) AS ngram FROM toks)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM grams GROUP BY ngram HAVING COUNT(*) >= 2
"""


def q_curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: contiguous 512-token context-
    window assignment per language via one window cumsum."""
    from syncquill_spark.operators.curation import pack_sequences

    (documents,) = load_tables(spark, sf_dir, "documents")
    return pack_sequences(documents, budget=512, stratify_col="lang")


def _curation_pack_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform({toks},
             x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           / 512) AS BIGINT) AS pack_id
FROM t
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with
    integer-only audit stats (L1 mass, extremes, zero count) — the
    4x-compression first rung under the ANN indexes. Projection only.
    The quantized array is staged in its own projection: interpreted
    higher-order expressions re-evaluate per reference, and the four
    stats reference it four times (measured ~2x on this query)."""
    from syncquill_spark.functions.vectors import quantize_int8

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    staged = embeddings.select(
        "vec_id", quantize_int8(F.col("embedding")).alias("_q")
    )
    q = F.col("_q")
    return staged.select(
        "vec_id",
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.array_max(q).cast("long").alias("q_max"),
        F.array_min(q).cast("long").alias("q_min"),
        F.size(F.filter(q, lambda x: x == 0)).cast("long").alias("n_zero"),
    )


_EMBEDDING_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
),
qt AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) END) AS q
  FROM s
)
SELECT vec_id,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       CAST(list_max(q) AS BIGINT) AS q_max,
       CAST(list_min(q) AS BIGINT) AS q_min,
       CAST(len(list_filter(q, x -> x = 0)) AS BIGINT) AS n_zero
FROM qt
"""


def q_similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling: the held-out query vectors
    (vec_id % _QUERY_MOD == 0) get labels propagated from their 5
    nearest labeled corpus neighbors (corpus = everything else, so a
    query never votes for itself). Broadcast queries, no corpus
    shuffle; int-only deterministic output."""
    from syncquill_spark.operators.similarity import knn_classify

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.filter(F.col("vec_id") % _QUERY_MOD != 0)
    return knn_classify(corpus, queries, k=5)


_SIMILARITY_KNN_CLASSIFY_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {_QUERY_MOD} = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
         list_reduce(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
             (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
                i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))
          * sqrt(list_reduce(list_transform(range(1, len(c.embedding) + 1),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
         AS score
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id % {_QUERY_MOD} != 0
),
nn AS (
  SELECT query_id, neighbor_id, label, rk FROM (
    SELECT query_id, neighbor_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS rk
    FROM scored) t
  WHERE rk <= 5
),
votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes, MIN(rk) AS best_rk
  FROM nn GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n_votes FROM (
  SELECT query_id, label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, best_rk ASC, label ASC) AS rn
  FROM votes) t
WHERE rn = 1
"""


def q_embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment: which label's (exact-int-mean)
    centroid each vector actually sits closest to — cluster-coherence
    audit over the embeddings table. Centroids broadcast; corpus never
    shuffles payloads."""
    from syncquill_spark.operators.similarity import assign_nearest_centroid

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return assign_nearest_centroid(embeddings)


_EMBEDDING_NEAREST_CENTROID_SQL = """
WITH p AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS q
  FROM embeddings
),
d AS (
  SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
  FROM p GROUP BY label, pos
),
c AS (
  SELECT label, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cm
  FROM d GROUP BY label
),
scored AS (
  SELECT e.vec_id, c.label,
         list_reduce(list_transform(range(1, len(e.embedding) + 1),
             i -> (CAST(e.embedding[i] AS DOUBLE) - cm[i])
                * (CAST(e.embedding[i] AS DOUBLE) - cm[i])),
             (a, b) -> a + b) AS d2
  FROM embeddings e CROSS JOIN c
)
SELECT vec_id, label AS nearest_label FROM (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, label ASC) AS rn
  FROM scored WHERE d2 IS NOT NULL) t
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-shaped): cell-partitioned embedding near-dups
# ---------------------------------------------------------------------------

_SEMANTIC_CELLS = 16
_SEMANTIC_THRESHOLD = 0.35


def q_dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup pairs: deterministic-cell partition of the
    embedding space (ivf-style md5-sampled centroids), within-cell
    pairs by exact quantized cosine — the SemDeDup pipeline shape
    (cluster, then pairwise inside the cluster only)."""
    from syncquill_spark.operators.similarity import semantic_dedup_pairs

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        embeddings, n_cells=_SEMANTIC_CELLS, threshold=_SEMANTIC_THRESHOLD
    )


def _semantic_pairs_sql() -> str:
    """Oracle twin of q_dedup_semantic_pairs: same (md5, id)-ordered
    centroid sample and left-fold double assignment dots as the IVF
    oracle; same exact-int64 quantized-cosine verify as the signature
    family's oracles."""
    d = 64
    sq_norm = (
        "list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    )
    dot_ucv = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        f"i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ucv[i] AS DOUBLE)), "
        f"(a, b) -> a + b)"
    )
    verify = (
        f"CAST({_dotq_sql('x.q', 'y.q', d)} AS DOUBLE) >= "
        f"{_SEMANTIC_THRESHOLD} * sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE))"
    )
    return f"""
WITH cents0 AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings ORDER BY h, vec_id LIMIT {_SEMANTIC_CELLS}
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) AS cell_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ucv
  FROM (SELECT vec_id, embedding, h, sqrt({sq_norm}) AS nrm FROM cents0) t
),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT c.vec_id, ct.cell_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
                              ORDER BY {dot_ucv} DESC, ct.cell_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents ct) t WHERE rn = 1
),
qv AS (
  SELECT vec_id, q, {_n2_sql()} AS n2
  FROM (SELECT vec_id, {_qvec_sql()} AS q FROM embeddings)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell_id
FROM assign a
JOIN assign b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
JOIN qv x ON a.vec_id = x.vec_id
JOIN qv y ON b.vec_id = y.vec_id
WHERE x.n2 > 0 AND y.n2 > 0 AND {verify}
"""


# ---------------------------------------------------------------------------
# Curation: fuzzy (near-dup) benchmark decontamination
# ---------------------------------------------------------------------------

_FUZZY_EVAL_MOD = 17


def q_curation_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination audit: documents with doc_id % 17 == 0
    play the held-out eval set; corpus docs near-duplicate to any eval
    doc (MinHash bands -> exact Jaccard >= 0.2) are contaminated.
    Output: per-lang totals / kept / dropped — the summary a curation
    run reports before shipping a corpus."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against

    corpus = documents.filter(F.col("doc_id") % _FUZZY_EVAL_MOD != 0)
    eval_df = documents.filter(F.col("doc_id") % _FUZZY_EVAL_MOD == 0)
    pairs = minhash_lsh_pairs_against(
        corpus, eval_df, k=3, n_perm=_N_PERM, bands=_BANDS, threshold=0.2
    )
    contaminated = (
        pairs.select(F.col("id_new").alias("doc_id"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    return (
        corpus.join(F.broadcast(contaminated), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            (F.count(F.lit(1)) - F.count("_c")).alias("n_kept"),
            F.count("_c").alias("n_dropped"),
        )
    )


def _fuzzy_pairs_sql() -> str:
    """The corpus x eval MinHash pair pipeline: _minhash_sql with the
    candidate join re-aimed at corpus (doc_id % 17 != 0) x eval
    (% 17 == 0). Patch-targets asserted so a reshape of _minhash_sql
    fails here at import, not as an audit-time mismatch. Shared by the
    fuzzy-decontaminate oracle and the training-mix pipeline oracle."""
    base = _minhash_sql()
    cand_old = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
    cand_new = f"""cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key
   AND a.doc_id % {_FUZZY_EVAL_MOD} != 0 AND b.doc_id % {_FUZZY_EVAL_MOD} = 0
)"""
    assert base.count(cand_old) == 1, (
        "_minhash_sql changed shape; update _fuzzy_pairs_sql"
    )
    return base.replace(cand_old, cand_new)


def _fuzzy_decontaminate_sql() -> str:
    """Oracle twin of q_curation_fuzzy_decontaminate: the shared
    corpus x eval pair pipeline wrapped in the per-lang keep/drop
    aggregation."""
    return f"""
WITH pairs AS ({_fuzzy_pairs_sql()}),
contaminated AS (SELECT DISTINCT id_a AS doc_id FROM pairs)
SELECT d.lang,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE c.doc_id IS NULL) AS n_kept,
       COUNT(*) FILTER (WHERE c.doc_id IS NOT NULL) AS n_dropped
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % {_FUZZY_EVAL_MOD} != 0
GROUP BY d.lang
"""


# ---------------------------------------------------------------------------
# Pipeline: full training-mix composition
# ---------------------------------------------------------------------------

_PIPE_MIX_TARGETS = {"en": 100, "zh": 40, "de": 30}


def q_pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pass, composed from this repo's
    operators in production order: fuzzy benchmark decontamination
    (MinHash corpus x eval, eval = doc_id % 17 == 0) -> exact dedup
    (keep min doc_id per distinct text) -> target mixture (per-lang
    document budgets, prefix-stable) -> per-lang doc + token
    accounting. One declarative plan end to end — nothing
    materializes between stages, and every stage reuses a registry
    operator whose oracle twin composes into this query's oracle."""
    from syncquill_spark.operators._cache import tracked_persist
    from syncquill_spark.operators.curation import fuzzy_decontaminate, target_mix

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % _FUZZY_EVAL_MOD != 0)
    eval_df = documents.filter(F.col("doc_id") % _FUZZY_EVAL_MOD == 0)
    clean = fuzzy_decontaminate(
        corpus, eval_df, k=3, n_perm=_N_PERM, bands=_BANDS, threshold=0.2
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    keep = (
        clean.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "text")
    )
    # `mixed` feeds BOTH the token-count projection and the final join
    # — unpersisted, the whole decontaminate -> dedup -> mix subtree
    # (including the MinHash band join) evaluates twice (r16, guide §5)
    mixed = tracked_persist(target_mix(keep, _PIPE_MIX_TARGETS))
    toks = token_counts(mixed).select("doc_id", "n_tokens_bpeish")
    return (
        mixed.join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_bpeish").alias("total_tokens"),
        )
    )


def _pipeline_training_mix_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h = _H60.format(x="'mix-v1:' || CAST(doc_id AS VARCHAR)")
    case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _PIPE_MIX_TARGETS.items())
    return f"""
WITH pairs AS ({_fuzzy_pairs_sql()}),
contaminated AS (SELECT DISTINCT id_a AS doc_id FROM pairs),
clean AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d
  WHERE d.doc_id % {_FUZZY_EVAL_MOD} != 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
keep AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM clean) t WHERE rn = 1
),
mix AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY {h} ASC, doc_id ASC) AS mix_rank
    FROM keep) t
  WHERE mix_rank <= CASE lang {case} ELSE 0 END
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(list_sum(list_transform({toks},
           t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)) AS BIGINT)
         AS total_tokens
FROM mix GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Curation: per-domain quota (domain balancing)
# ---------------------------------------------------------------------------

_DOMAIN_QUOTA = 40


def q_curation_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap every source at 40 documents, keeping the
    most lexically diverse (n_unique_tokens desc, doc_id tie-break) —
    integer ordering keys, engine-exact ranks."""
    from syncquill_spark.operators.curation import domain_quota
    from syncquill_spark.operators.text import quality_features

    (documents,) = load_tables(spark, sf_dir, "documents")
    feats = quality_features(documents).select("doc_id", "n_unique_tokens")
    ranked = domain_quota(
        documents.select("doc_id", "source").join(feats, "doc_id"),
        quota=_DOMAIN_QUOTA,
        domain_col="source",
        order_by=[F.col("n_unique_tokens").desc()],
    )
    return ranked.select("source", "doc_id", "quota_rank")


def _domain_quota_sql() -> str:
    toks = _TOKS.format(src="text")
    return f"""
SELECT source, doc_id, quota_rank FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY len(list_distinct({toks})) DESC,
                                     doc_id ASC) AS quota_rank
  FROM documents) t
WHERE quota_rank <= {_DOMAIN_QUOTA}
"""


# ---------------------------------------------------------------------------
# Text: tf-idf-family distinctive terms per document
# ---------------------------------------------------------------------------


def q_text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 DISTINCTIVE terms per doc by tf * N / df (linear idf —
    one IEEE divide of exact integers, engine-exact; see
    top_distinctive_terms). Complements text_term_stats' frequency
    ranking: frequent terms are corpus stopwords, distinctive terms
    are the document's topic."""
    from syncquill_spark.operators.text import top_distinctive_terms

    (documents,) = load_tables(spark, sf_dir, "documents")
    return top_distinctive_terms(documents, top_n=3)


def _tfidf_terms_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS nd FROM documents)
SELECT doc_id, term, rk FROM (
  SELECT tf.doc_id, tf.term,
         ROW_NUMBER() OVER (
             PARTITION BY tf.doc_id
             ORDER BY CAST(tf.tf * n.nd AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
                      tf.term ASC) AS rk
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) t
WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# Curation: target mixture (exact per-stratum counts)
# ---------------------------------------------------------------------------

# FK edges of the fixture schema, child -> parent
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def q_profile_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the fixture
    schema: (relation, n_children, n_orphans) per edge — the
    data-quality gate a pipeline runs before training joins (orphaned
    facts silently vanish from inner joins). Each edge is one
    keys-only left-anti join; parents broadcast under AQE."""
    from syncquill_spark.operators.validate import referential_orphans

    tables = {}
    for child, ck, parent, pk in _FK_EDGES:
        for t in (child, parent):
            if t not in tables:
                (tables[t],) = load_tables(spark, sf_dir, t)
    out = None
    for child, ck, parent, pk in _FK_EDGES:
        row = referential_orphans(
            tables[child], tables[parent], ck, pk,
            relation=f"{child}.{ck}->{parent}.{pk}",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _profile_referential_sql() -> str:
    parts = []
    for child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{child}.{ck}->{parent}.{pk}' AS relation,
       (SELECT COUNT(*) FROM {child}) AS n_children,
       (SELECT COUNT(*) FROM {child} c
        WHERE c.{ck} IS NULL
           OR NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}))
         AS n_orphans""")
    return "\nUNION ALL\n".join(parts)


_MIX_TARGETS = {"en": 150, "zh": 60, "es": 60, "de": 50, "fr": 40}


def q_curation_target_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition: apply a per-language document budget
    (DoReMi-style weights resolved to counts) with exact, deterministic
    membership — a smaller budget is always a prefix of a larger one,
    so ablation mixes share documents by construction."""
    from syncquill_spark.operators.curation import target_mix

    (documents,) = load_tables(spark, sf_dir, "documents")
    return target_mix(documents, _MIX_TARGETS).select("doc_id", "lang", "mix_rank")


def _target_mix_sql() -> str:
    h = _H60.format(x="'mix-v1:' || CAST(doc_id AS VARCHAR)")
    case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS.items()
    )
    return f"""
SELECT doc_id, lang, mix_rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {h} ASC, doc_id ASC) AS mix_rank
  FROM documents) t
WHERE mix_rank <= CASE lang {case} ELSE 0 END
"""


_MIX_TOKEN_BUDGETS = {"en": 9000, "zh": 3000, "de": 2500}


def q_curation_target_mix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition in the unit mixes are actually
    specified in — TOKENS per stratum: same salted-hash prefix
    determinism as curation_target_mix, cut by running token budget
    (boundary doc may overflow, docs never split). es/fr absent from
    the budgets -> excluded entirely."""
    from syncquill_spark.operators.curation import target_mix_tokens

    (documents,) = load_tables(spark, sf_dir, "documents")
    return target_mix_tokens(documents, _MIX_TOKEN_BUDGETS)


def _target_mix_tokens_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h = _H60.format(x="'mix-v1:' || CAST(doc_id AS VARCHAR)")
    case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TOKEN_BUDGETS.items())
    return f"""
WITH tk AS (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform({toks},
             t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens,
         {h} AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY h ASC, doc_id ASC) AS mix_rank,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY h ASC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS cum_before
  FROM tk
)
SELECT doc_id, lang, n_tokens, mix_rank FROM ranked
WHERE cum_before < CASE lang {case} ELSE 0 END
"""


# ---------------------------------------------------------------------------
# Similarity: ANN recall audit (approx vs exact baseline)
# ---------------------------------------------------------------------------


def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the LSH index against the brute-force
    baseline — the quality gate an ANN deployment runs after every
    index change. Output is (query_id, n_exact, n_hits) as exact
    integers (callers divide for the ratio; the checked-output policy
    bans raw doubles). Composition of two registry queries
    (similarity_topk_lsh, similarity_topk_cosine) through ann_recall's
    skinny (query, neighbor) semi-join — nothing here touches vectors."""
    from syncquill_spark.operators.similarity import ann_recall

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=_TOPK)
    approx = lsh_topk(embeddings, queries, k=_TOPK, n_planes=_LSH_PLANES, dim=64)
    return ann_recall(approx, exact)


def _ann_recall_sql() -> str:
    """Oracle twin of q_similarity_ann_recall: the two existing topk
    oracles joined by the same semi-join + count shape (mirrors
    tests/test_similarity.py's pre-registration twin)."""
    return f"""
WITH exact AS ({_SIMILARITY_TOPK_SQL}),
approx AS ({_lsh_topk_sql()}),
e AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id),
h AS (
  SELECT x.query_id, COUNT(*) AS n_hits
  FROM exact x SEMI JOIN approx a
    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
  GROUP BY x.query_id
)
SELECT e.query_id, e.n_exact, COALESCE(h.n_hits, 0) AS n_hits
FROM e LEFT JOIN h ON e.query_id = h.query_id
"""


# ---------------------------------------------------------------------------
# Text: document chunking (context-window prep)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS, _CHUNK_OVERLAP = 32, 8


def q_text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document — the RAG /
    training context prep step (long docs to model-sized pieces,
    overlap preserving cross-boundary context). Pure projection +
    posexplode, no shuffle."""
    from syncquill_spark.operators.text import chunk_documents

    (documents,) = load_tables(spark, sf_dir, "documents")
    out = chunk_documents(
        documents, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def _chunk_documents_sql() -> str:
    stride = _CHUNK_TOKENS - _CHUNK_OVERLAP
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS.format(src="text")} AS t FROM documents
),
chunks AS (
  SELECT doc_id, t,
         UNNEST(range(0, greatest(len(t) - 1, 0) + 1, {stride})) AS start
  FROM base
)
SELECT doc_id, CAST(start / {stride} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(t, start + 1, start + {_CHUNK_TOKENS})) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(list_slice(t, start + 1, start + {_CHUNK_TOKENS}), ' ')
         AS chunk_text
FROM chunks
"""


# ---------------------------------------------------------------------------
# Curation: leakage-safe split (cluster-granular train/val/test)
# ---------------------------------------------------------------------------


def q_curation_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash_split at near-duplicate-CLUSTER granularity: connected
    components over the n-gram Jaccard pairs, every doc assigned by
    the hash of its cluster id (singletons by their own id) — so a
    near-dup of a test doc can never land in train. Same pair
    parameters as dedup_ngram_jaccard."""
    from syncquill_spark.operators.curation import leakage_safe_split

    (documents,) = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        documents, k=3, threshold=0.2, block_cols=("lang",), length_band=64
    )
    return leakage_safe_split(documents, pairs).select(
        "doc_id", "cluster_id", "bucket", "split"
    )


def _leakage_split_sql() -> str:
    """Oracle twin: recursive-CTE connected components over the
    ngram-Jaccard pairs oracle + the hash_split md5 bucket math keyed
    on the cluster id (mirrors tests/test_curation.py's twin)."""
    h = _H60.format(x="'split-v1:' || CAST(cluster_id AS VARCHAR)")
    return f"""
WITH RECURSIVE pairs AS (
{_DEDUP_NGRAM_JACCARD_SQL}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS doc_id, MIN(v) AS comp FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < 96 THEN 'train'
            WHEN bucket < 98 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id, {h} % 100 AS bucket FROM assigned) t
"""


# ---------------------------------------------------------------------------
# Text: intra-document segment dedup
# ---------------------------------------------------------------------------


def q_text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving removal of duplicate segments inside each
    document. The fixture's text has no newlines, so the registry form
    segments on single spaces (word granularity) — the fixture's heavy
    word repetition exercises the first-occurrence semantics hard
    (every doc shrinks). Linear per doc via array_distinct; pure
    projection, no shuffle."""
    from syncquill_spark.operators.text import dedup_segments_within_doc

    (documents,) = load_tables(spark, sf_dir, "documents")
    return dedup_segments_within_doc(documents, delimiter=" ").select(
        "doc_id", "n_segments", "n_unique_segments", "text_deduped"
    )


_SEGMENT_DEDUP_SQL = """
WITH segs AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS seg,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
firsts AS (
  SELECT doc_id, seg, MIN(pos) AS pos FROM segs GROUP BY doc_id, seg
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_unique_segments,
         string_agg(seg, ' ' ORDER BY pos) AS text_deduped
  FROM firsts GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_segments,
       a.n_unique_segments,
       a.text_deduped
FROM documents d JOIN agg a ON d.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# Storage lifecycles made driver-visible (round-6 verdict #2): the
# versioned table and the persisted index each round-trip through disk
# INSIDE a registry query whose oracle is the un-persisted plan's own
# DuckDB twin — storage must change nothing.
# ---------------------------------------------------------------------------


def q_storage_versioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedParquetTable end to end: overwrite (v1 = even doc_ids),
    hardlink-append (v2 = +odd doc_ids), a second overwrite (v3 = en
    only — the 'bad deploy'), then ``rollback(2)`` and read. The final
    read must be EXACTLY the full documents projection: v2 was evens
    plus appended odds, and the rollback makes v3 invisible without
    moving data. After the rollback, ``compact()`` rewrites the live
    (hardlink-accumulated) version as few-file v4 through the same
    manifest flip — and must change nothing either. Exercises version
    numbering, the manifest pointer flip, zero-copy append, time
    travel, O(1) rollback, and maintenance compaction — all under the
    driver's value-hash gate with a one-line oracle (the base table
    itself: persistence + rollback + compaction must be invisible)."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.sources.parquet import VersionedParquetTable

    (documents,) = load_tables(spark, sf_dir, "documents")
    skinny = documents.select("doc_id", "lang", "n_chars")
    root = _tempfile.mkdtemp(prefix="sq_versioned_q_")
    t = VersionedParquetTable(_os.path.join(root, "docs"))
    t.overwrite(skinny.filter(F.col("doc_id") % 2 == 0))   # v1
    t.append(skinny.filter(F.col("doc_id") % 2 == 1))      # v2 = all rows
    t.overwrite(skinny.filter(F.col("lang") == "en"))      # v3, rolled back
    t.rollback(2)
    t.compact(spark)                                       # v4 == v2, fewer files
    assert t.versions() == [1, 2, 3, 4] and t.current_version() == 4
    return t.read(spark)


_STORAGE_VERSIONED_SQL = """
SELECT doc_id, lang, n_chars FROM documents
"""


def q_storage_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index lifecycle under the oracle gate: build the
    corpus MinHash index (even doc_ids), ``save_index`` it to disk,
    ``load_index`` it back, and run the ingest-time fuzzy gate (odd
    doc_ids as the incoming snapshot) against the RELOADED frames.
    The oracle is ``dedup_incremental``'s own SQL twin — the operator
    that recomputes both sides from text — so a green row proves the
    save/load round trip is result-identical to never persisting.
    Scale shape: only the new side is shingled; the corpus side is the
    stored skinny (id, band, key) + (id, shingles) parquet."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.sources.index_store import load_index, save_index
    from syncquill_spark.streaming.text_dedup import (
        build_text_minhash_index,
        text_near_dups_against_index,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    new_side = documents.filter(F.col("doc_id") % 2 == 1)
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    keys, shingles = build_text_minhash_index(
        corpus, k=3, n_perm=_N_PERM, bands=_BANDS
    )
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_index_q_"), "minhash_idx")
    save_index(path, keys=keys, shingles=shingles)
    loaded = load_index(spark, path)
    return text_near_dups_against_index(
        new_side,
        loaded["keys"],
        loaded["shingles"],
        k=3,
        n_perm=_N_PERM,
        bands=_BANDS,
        threshold=0.2,
    )


# ---------------------------------------------------------------------------
# Multimodal: REAL image decode (pure-numpy PPM codec) under the gate
# ---------------------------------------------------------------------------


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode, oracle-checked: each document becomes a
    VALID binary PPM (P6) payload — header + 4x4 RGB raster whose 48
    pixel bytes are three chained md5 digests of the text — built with
    pure built-ins (md5/unhex/concat). ``image_moments`` then runs the
    real numpy codec on the payload bytes (actual header parse, raster
    reshape) and emits exact integer channel sums. The oracle never
    'decodes': it recomputes the same sums straight from the md5 hex —
    so a green row proves the codec reads back precisely the bytes the
    header says are there. (The feature side of the stub path,
    multimodal_features, stays as the JPEG/PNG-shaped plumbing check.)
    """
    from syncquill_spark.operators.multimodal import image_moments

    (documents,) = load_tables(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5(F.concat(F.col("text"), F.lit("|0"))),
        F.md5(F.concat(F.col("text"), F.lit("|1"))),
        F.md5(F.concat(F.col("text"), F.lit("|2"))),
    )
    media = documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "UTF-8"), F.unhex(hx)
        ).alias("payload"),
    )
    return image_moments(media)


def q_storage_media_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media lifecycle end to end under the gate: build valid PPM
    payloads from fixture text (multimodal_decode's construction),
    EXPORT them as one .ppm file per document (``write_media_dir`` —
    executor-side writes, payloads never collect to the driver),
    re-ingest the directory through the binaryFile source
    (``read_media_dir``), re-derive each doc id from its file name,
    and decode with the real numpy codec. Oracle = multimodal_decode's
    own SQL twin: a trip through actual files on disk must change
    nothing."""
    import tempfile as _tempfile

    from syncquill_spark.operators.multimodal import image_moments
    from syncquill_spark.sources.media_files import (
        read_media_dir,
        write_media_dir,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5(F.concat(F.col("text"), F.lit("|0"))),
        F.md5(F.concat(F.col("text"), F.lit("|1"))),
        F.md5(F.concat(F.col("text"), F.lit("|2"))),
    )
    payloads = documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "UTF-8"), F.unhex(hx)
        ).alias("payload"),
    )
    out = _tempfile.mkdtemp(prefix="sq_media_rt_") + "/export"
    write_media_dir(payloads, out, ext="ppm")
    media = read_media_dir(spark, out, glob="*.ppm").select(
        F.regexp_extract(F.col("source_path"), r"(\d+)\.ppm$", 1)
        .cast("long")
        .alias("media_id"),
        "payload",
    )
    return image_moments(media)


def q_storage_media_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media file round trip for the AUDIO codec family (round-7
    verdict #6 — the PPM row above covers images): build valid PCM WAV
    payloads from fixture text (multimodal_audio_decode's
    construction), export one .wav per document via ``write_media_dir``
    (executor-side writes), re-ingest through binaryFile, re-derive ids
    from file names, and decode with the real chunk-walking WAV parser.
    Oracle = multimodal_audio_decode's own SQL twin: the trip through
    actual files must change nothing."""
    import tempfile as _tempfile

    from syncquill_spark.operators.multimodal import audio_moments
    from syncquill_spark.sources.media_files import (
        read_media_dir,
        write_media_dir,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5(F.concat(F.col("text"), F.lit("|w0"))),
        F.md5(F.concat(F.col("text"), F.lit("|w1"))),
        F.md5(F.concat(F.col("text"), F.lit("|w2"))),
    )
    payloads = documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.unhex(F.lit(_WAV_HEADER_HEX)), F.unhex(hx)).alias("payload"),
    )
    out = _tempfile.mkdtemp(prefix="sq_media_wav_rt_") + "/export"
    write_media_dir(payloads, out, ext="wav")
    media = read_media_dir(spark, out, glob="*.wav").select(
        F.regexp_extract(F.col("source_path"), r"(\d+)\.wav$", 1)
        .cast("long")
        .alias("media_id"),
        "payload",
    )
    return audio_moments(media)


def _multimodal_decode_sql() -> str:
    def chan_sum(c: int) -> str:
        return (
            "CAST(list_sum(list_transform(range(0, 16), "
            f"i -> CAST(('0x' || substr(h, (i*3+{c})*2+1, 2)) AS BIGINT))) "
            "AS BIGINT)"
        )

    all_bytes = (
        "list_transform(range(0, 48), "
        "i -> CAST(('0x' || substr(h, i*2+1, 2)) AS BIGINT))"
    )
    return f"""
WITH hx AS (
  SELECT doc_id,
         md5(text || '|0') || md5(text || '|1') || md5(text || '|2') AS h
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(255 AS BIGINT) AS maxval,
       {chan_sum(0)} AS r_sum,
       {chan_sum(1)} AS g_sum,
       {chan_sum(2)} AS b_sum,
       CAST(list_min({all_bytes}) AS BIGINT) AS px_min,
       CAST(list_max({all_bytes}) AS BIGINT) AS px_max
FROM hx
"""


def q_storage_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index MAINTENANCE under the gate: build the MinHash
    index over half the corpus (even doc_ids), persist it, reload it,
    extend it with the other half via ``merge_text_minhash_index``
    (only the batch is shingled — the stored corpus rows are reused
    as-is), persist the merged index OVER the first (exercising
    atomic_replace_dir's exchange), reload again, and emit the full
    self-join near-dup pairs from the index alone
    (``minhash_pairs_from_index`` — no text touched). The oracle is
    ``dedup_minhash_lsh``'s own SQL twin over ALL documents: append
    must be indistinguishable from rebuild."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.sources.index_store import load_index, save_index
    from syncquill_spark.streaming.text_dedup import (
        build_text_minhash_index,
        merge_text_minhash_index,
        minhash_pairs_from_index,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    first_half = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    keys, shingles = build_text_minhash_index(
        first_half, k=3, n_perm=_N_PERM, bands=_BANDS
    )
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_index_inc_"), "minhash_idx")
    save_index(path, keys=keys, shingles=shingles)
    loaded = load_index(spark, path)
    mkeys, msh = merge_text_minhash_index(
        loaded["keys"], loaded["shingles"], batch,
        k=3, n_perm=_N_PERM, bands=_BANDS,
    )
    save_index(path, keys=mkeys, shingles=msh)  # atomic in-place replace
    merged = load_index(spark, path)
    return minhash_pairs_from_index(
        merged["keys"], merged["shingles"], threshold=0.2
    )


def q_storage_text_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text ingestion under the gate: write the documents' text as
    plain one-record-per-line text files (Spark's own text sink — the
    crawl-dump layout), ingest the directory back through
    ``read_text_dir(per_line=True, path_in_id=False)``, and return
    (doc_id, text, n_chars). Content-derived ids make the round trip
    oracle-checkable: DuckDB recomputes the exact 60-bit id from the
    text alone, never having seen the file layout — and duplicate
    texts collapse to one row on ingest, exactly as the oracle's
    DISTINCT does."""
    import tempfile as _tempfile

    from syncquill_spark.sources.text_files import read_text_dir

    (documents,) = load_tables(spark, sf_dir, "documents")
    dump = _tempfile.mkdtemp(prefix="sq_text_ingest_") + "/dump"
    documents.select("text").write.mode("overwrite").text(dump)
    ingested = read_text_dir(spark, dump, per_line=True, path_in_id=False)
    return ingested.select("doc_id", "text", "n_chars")


def _text_ingest_sql() -> str:
    h = _H60.format(x="'textdoc-v1:' || text")
    return f"""
SELECT {h} AS doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
FROM (SELECT DISTINCT text FROM documents)
"""


# Constant PCM WAV header for a mono/8kHz/16-bit/48-byte-data clip —
# every field fixed because the payload length is fixed (24 samples)
_WAV_HEADER_HEX = (
    "524946465400000057415645666D7420100000000100"
    "0100401F0000803E0000020010006461746130000000"
)


def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real AUDIO decode, oracle-checked — the WAV sibling of
    multimodal_decode: each document becomes a VALID PCM WAV payload
    (constant RIFF header + 48 md5-derived data bytes = 24 int16
    little-endian mono samples at 8 kHz) built from pure built-ins;
    ``audio_moments`` runs the real chunk-walking parser and emits
    exact integer sample moments; the oracle recomputes the signed
    little-endian samples straight from the md5 hex."""
    from syncquill_spark.operators.multimodal import audio_moments

    (documents,) = load_tables(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5(F.concat(F.col("text"), F.lit("|w0"))),
        F.md5(F.concat(F.col("text"), F.lit("|w1"))),
        F.md5(F.concat(F.col("text"), F.lit("|w2"))),
    )
    media = documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.unhex(F.lit(_WAV_HEADER_HEX)), F.unhex(hx)).alias("payload"),
    )
    return audio_moments(media)


def _multimodal_audio_sql() -> str:
    # int16 LE sample i: lo = byte 2i, hi = byte 2i+1 (hex pair j sits
    # at substr(h, j*2+1, 2)); signed = raw - 65536 when raw >= 32768
    sample = (
        "(CAST(('0x' || substr(h, (i*2)*2+1, 2)) AS BIGINT)"
        " + 256 * CAST(('0x' || substr(h, (i*2+1)*2+1, 2)) AS BIGINT))"
    )
    signed = f"({sample} - CASE WHEN {sample} >= 32768 THEN 65536 ELSE 0 END)"
    samples = f"list_transform(range(0, 24), i -> {signed})"
    return f"""
WITH hx AS (
  SELECT doc_id,
         md5(text || '|w0') || md5(text || '|w1') || md5(text || '|w2') AS h
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(24 AS BIGINT) AS n_frames,
       CAST(list_sum({samples}) AS BIGINT) AS sample_sum,
       CAST(list_min({samples}) AS BIGINT) AS sample_min,
       CAST(list_max({samples}) AS BIGINT) AS sample_max
FROM hx
"""


_VOCAB_SIZE = 200


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-planning view: per-document token count + OOV
    occurrences against the corpus' own top-200 vocabulary (terms by
    count desc, term asc — a total order, so both engines build the
    identical vocab). High-OOV docs are the non-linguistic-noise
    signal a curation pass cuts before tokenizer training."""
    from syncquill_spark.operators.text import vocab_coverage

    (documents,) = load_tables(spark, sf_dir, "documents")
    return vocab_coverage(documents, vocab_size=_VOCAB_SIZE)


def _vocab_coverage_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (
  SELECT t FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rk FROM counts) v
  WHERE rk <= {_VOCAB_SIZE}
)
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM tok LEFT JOIN vocab ON tok.t = vocab.t
GROUP BY tok.doc_id
"""


_QPF_KEEP = 0.8


def q_curation_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate: keep the top 80% of each language by
    lexical diversity (n_unique_tokens, doc_id tie-break) — the
    percentile-threshold form of quality filtering (no magic absolute
    cutoffs; each language graded on its own curve). The kept set is
    exact (cutoff ceil(keep_frac * N_lang)); the plan is the two-pass
    bracketed order-statistic (round-7 verdict #2), so only the
    ~2*delta*N boundary rows of each language are ever ranked — the
    oracle ranks everything, the engine must not."""
    from syncquill_spark.operators._cache import tracked_persist
    from syncquill_spark.operators.curation import quality_percentile_filter
    from syncquill_spark.operators.text import quality_features

    (documents,) = load_tables(spark, sf_dir, "documents")
    feats = quality_features(documents).select("doc_id", "n_unique_tokens")
    # quality_percentile_filter's final membership join re-evaluates
    # its input frame — persisted, the tokenizing feature pass runs
    # once instead of twice (the filter's own skinny persist only
    # covers the cutoff passes; r16, guide §5)
    scored = tracked_persist(documents.select("doc_id", "lang").join(feats, "doc_id"))
    kept = quality_percentile_filter(
        scored, "n_unique_tokens", keep_frac=_QPF_KEEP, stratify_col="lang"
    )
    return kept.select(
        "doc_id", "lang", F.col("n_unique_tokens").cast("long").alias("sig")
    )


def _quality_filter_sql() -> str:
    toks = _TOKS.format(src="text")
    return f"""
WITH s AS (
  SELECT doc_id, lang, len(list_distinct({toks})) AS sig FROM documents
),
c AS (SELECT lang, COUNT(*) AS n FROM s GROUP BY lang),
r AS (
  SELECT doc_id, lang, sig,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sig DESC, doc_id ASC) AS rk
  FROM s
)
SELECT r.doc_id, r.lang, CAST(r.sig AS BIGINT) AS sig
FROM r JOIN c ON r.lang = c.lang
WHERE rk <= ceil({_QPF_KEEP} * n)
"""


_WIN_K, _WIN_W = 3, 4


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: k-gram hashes ->
    sliding-window minima with the rightmost-tie rule, one row per
    selected (gram position, hash). The substring-robust fingerprint
    family (plagiarism / quote / boilerplate-run detection) next to
    whole-doc MinHash; the oracle replays the identical selection with
    list ops."""
    from syncquill_spark.operators.text import winnowing_fingerprints

    (documents,) = load_tables(spark, sf_dir, "documents")
    return winnowing_fingerprints(documents, k=_WIN_K, window=_WIN_W)


def _winnowing_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h60 = _H60.format(x="g")
    k, w = _WIN_K, _WIN_W
    sl = f"list_slice(hs, i, i + {w - 1})"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= {k} THEN
           list_transform(range(1, len(tk) - {k} + 2),
             i -> array_to_string(list_slice(tk, i, i + {k - 1}), ' '))
         ELSE [] END AS gs
  FROM t
),
h AS (SELECT doc_id, list_transform(gs, g -> {h60}) AS hs FROM g),
p AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(range(1, len(hs) - {w} + 2),
           i -> (i - 1) + ({w} - list_position(list_reverse({sl}),
                                               list_min({sl}))))) AS picks
  FROM h WHERE len(hs) >= {w}
)
SELECT doc_id, CAST(u AS BIGINT) AS gram_pos, hs[u + 1] AS fp
FROM (SELECT doc_id, hs, unnest(picks) AS u FROM p) q
"""


_WIN_MIN_SHARED, _WIN_MAX_DF = 2, 20


def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-match pair detection from winnowing fingerprints:
    pairs sharing >= 2 distinct fingerprints after dropping hub
    fingerprints (df > 20 docs — corpus boilerplate carries no
    pair-discriminating signal and would make the join quadratic, the
    same hub-key cap as ngram_jaccard's prefix filter). Complements
    MinHash: a shared RUN of >= window+k-1 tokens is guaranteed a hit
    regardless of whole-document similarity."""
    from syncquill_spark.operators.text import winnowing_match_pairs

    (documents,) = load_tables(spark, sf_dir, "documents")
    return winnowing_match_pairs(
        documents,
        k=_WIN_K,
        window=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_DF,
    )


def _winnowing_pairs_sql() -> str:
    return f"""
WITH wfp AS (
  SELECT DISTINCT doc_id, fp FROM ({_winnowing_sql()}) w
),
rare AS (
  SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM wfp GROUP BY fp) t
  WHERE c <= {_WIN_MAX_DF}
),
f AS (SELECT wfp.doc_id, wfp.fp FROM wfp JOIN rare ON wfp.fp = rare.fp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_WIN_MIN_SHARED}
"""


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring: each document's exact integer
    sum of quantized conditional bigram frequencies under the corpus's
    own bigram model — the doctrine-compliant linear surrogate for
    CCNet-style LM-perplexity filtering (no log/exp; integer division,
    quantized before accumulation; see SCALE.md determinism #3/#6).
    Low sum_q/n_bigrams = rare transitions (gibberish, OCR noise,
    wrong-language fragments)."""
    from syncquill_spark.operators.text import bigram_commonness

    (documents,) = load_tables(spark, sf_dir, "documents")
    return bigram_commonness(documents)


def _bigram_lm_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h1 = _H60.format(x="tk[i]")
    h12 = _H60.format(x="(tk[i] || ' ' || tk[i+1])")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
o AS (SELECT doc_id, UNNEST(range(1, len(tk))) AS i, tk FROM t),
occ AS (
  SELECT doc_id, {h1} AS h1, {h12} AS h12 FROM o
),
c12 AS (SELECT h12, COUNT(*) AS c12 FROM occ GROUP BY h12),
c1 AS (SELECT h1, COUNT(*) AS c1 FROM occ GROUP BY h1)
SELECT occ.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM((1000000 * c12.c12) // c1.c1) AS BIGINT) AS sum_q
FROM occ JOIN c12 ON occ.h12 = c12.h12 JOIN c1 ON occ.h1 = c1.h1
GROUP BY occ.doc_id
"""


def q_storage_bigram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM model LIFECYCLE under the gate (round-8 verdict #3 —
    every corpus-derived artifact persisted): build the (h1, c1)/(h12,
    c12) count model over half the corpus (even doc_ids), persist both
    parts via ``index_store.save_index``, reload, extend with the other
    half via ``merge_bigram_model`` (only the batch is tokenized —
    counts simply add), persist the merged counts through the
    batch-I/O ``append_index(_replace=...)`` (both count parts are
    AGGREGATED — merge changes existing rows — so they rewrite fresh
    in one atomic swap; they are vocab-sized, the cheap kind), reload,
    and score ALL documents against the STORED counts alone
    (``bigram_score_against`` — corpus text never re-tokenized on the
    model side). Oracle = ``text_bigram_lm``'s own SQL twin: a model
    that went through save/load/merge/commit/load must be
    indistinguishable from the one-shot in-memory model."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.operators.text import (
        bigram_score_against,
        build_bigram_model,
        merge_bigram_model,
    )
    from syncquill_spark.sources.index_store import (
        append_index,
        load_index,
        save_index,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    first_half = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    c1, c12 = build_bigram_model(first_half)
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_bigram_"), "bigram_lm")
    save_index(path, unigrams=c1, bigrams=c12)
    loaded = load_index(spark, path)
    m1, m12 = merge_bigram_model(loaded["unigrams"], loaded["bigrams"], batch)
    append_index(path, _replace={"unigrams": m1, "bigrams": m12})
    reloaded = load_index(spark, path)
    return bigram_score_against(
        documents, reloaded["unigrams"], reloaded["bigrams"]
    )


def q_text_bigram_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram-LM INGEST GATE: a new batch (odd doc_ids) quality-
    scored against the model trained on the corpus (even doc_ids) —
    exactly how a CCNet-style filter deploys: only the batch is
    tokenized; the corpus side is the stored (h1, c1)/(h12, c12)
    counts. Bigrams the model never saw score q = 0 (maximally rare)
    while still counting toward n_bigrams, so sum_q / n_bigrams stays
    the comparable commonness rate — the oracle replays the left-join
    + COALESCE 0 semantics without ever seeing the model tables."""
    from syncquill_spark.operators.text import (
        bigram_score_against,
        build_bigram_model,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    c1, c12 = build_bigram_model(corpus)
    return bigram_score_against(batch, c1, c12)


def _bigram_gate_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    h1 = _H60.format(x="tk[i]")
    h12 = _H60.format(x="(tk[i] || ' ' || tk[i+1])")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
o AS (SELECT doc_id, UNNEST(range(1, len(tk))) AS i, tk FROM t),
occ AS (
  SELECT doc_id, {h1} AS h1, {h12} AS h12 FROM o
),
c12 AS (
  SELECT h12, COUNT(*) AS c12 FROM occ WHERE doc_id % 2 = 0 GROUP BY h12
),
c1 AS (
  SELECT h1, COUNT(*) AS c1 FROM occ WHERE doc_id % 2 = 0 GROUP BY h1
)
SELECT occ.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(COALESCE((1000000 * c12.c12) // c1.c1, 0)) AS BIGINT) AS sum_q
FROM occ
LEFT JOIN c12 ON occ.h12 = c12.h12
LEFT JOIN c1 ON occ.h1 = c1.h1
WHERE occ.doc_id % 2 = 1
GROUP BY occ.doc_id
"""


_PQ_M, _PQ_K, _PQ_DIM = 8, 16, 64


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus: 8
    subspaces x 16-entry codebooks (deterministic md5-sample
    codewords), exact nearest-codeword assignment per subspace, and
    the int64-quantized squared-L2 reconstruction error — the 32x
    vector-compression path next to scalar int8 quantization, and the
    build step of IVF-PQ serving. All-integer output; the oracle
    replays the sample, the slicing, the left-fold distance, and the
    (dist, code) tie-break exactly."""
    from syncquill_spark.operators.similarity import pq_encode

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return pq_encode(embeddings, m_sub=_PQ_M, k_codes=_PQ_K, dim=_PQ_DIM)


def _pq_codes_sql() -> str:
    m, k, d = _PQ_M, _PQ_K, _PQ_DIM
    sd = d // m
    dist = (
        f"list_reduce(list_transform(range(1, {sd + 1}), "
        f"i -> (CAST(xv[i] AS DOUBLE) - CAST(cbv[i] AS DOUBLE)) * "
        f"(CAST(xv[i] AS DOUBLE) - CAST(cbv[i] AS DOUBLE))), (a, b) -> a + b)"
    )
    return f"""
WITH h AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS hh FROM embeddings
),
samp AS (
  SELECT embedding AS cv,
         ROW_NUMBER() OVER (ORDER BY hh ASC, vec_id ASC) AS code
  FROM h ORDER BY hh ASC, vec_id ASC LIMIT {k}
),
subs AS (SELECT UNNEST(range(0, {m})) AS sub),
cb AS (
  SELECT code, sub, list_slice(cv, sub * {sd} + 1, (sub + 1) * {sd}) AS cbv
  FROM samp, subs
),
vx AS (
  SELECT vec_id, sub,
         list_slice(embedding, sub * {sd} + 1, (sub + 1) * {sd}) AS xv
  FROM embeddings, subs
),
scored AS (
  SELECT vec_id, vx.sub AS sub, code, {dist} AS dist
  FROM vx JOIN cb ON vx.sub = cb.sub
),
r AS (
  SELECT vec_id, sub, code, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                            ORDER BY dist ASC, code ASC) AS rn
  FROM scored
)
SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
       CAST(floor(dist * 1000000 + 0.5) AS BIGINT) AS err_q
FROM r WHERE rn = 1
"""


def q_similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving: candidates from the IVF cell probe, scored from
    8-byte PQ codes + a per-query lookup table (asymmetric distance) —
    the classic large-scale ANN shape where the hot path never touches
    a candidate's float vector. Per-subspace partial dots are
    floor-half-up quantized to int64 BEFORE the cross-row sum, so the
    score is an exact integer and the whole ranking is engine-exact."""
    from syncquill_spark.operators.similarity import ivfpq_topk

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        embeddings, queries, k=_TOPK, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
        m_sub=_PQ_M, k_codes=_PQ_K, dim=_PQ_DIM,
    )


def _ivfpq_sql(k: int = _TOPK) -> str:
    m, kc, d = _PQ_M, _PQ_K, _PQ_DIM
    sd = d // m
    scale = 1_000_000
    sq_norm = (
        "list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    )

    def dot_ucv(vec: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {d + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * CAST(ct.ucv[i] AS DOUBLE)), "
            f"(a, b) -> a + b)"
        )

    l2 = (
        f"list_reduce(list_transform(range(1, {sd + 1}), "
        f"i -> (CAST(xv[i] AS DOUBLE) - CAST(cbv[i] AS DOUBLE)) * "
        f"(CAST(xv[i] AS DOUBLE) - CAST(cbv[i] AS DOUBLE))), (a, b) -> a + b)"
    )
    qdot = (
        f"list_reduce(list_transform(range(1, {sd + 1}), "
        f"i -> CAST(qv[i] AS DOUBLE) * CAST(cbv[i] AS DOUBLE)), "
        f"(a, b) -> a + b)"
    )
    return f"""
WITH h AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS hh FROM embeddings
),
cents0 AS (
  SELECT vec_id, embedding, hh FROM h ORDER BY hh, vec_id LIMIT {_IVF_CELLS}
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS cell_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ucv
  FROM (SELECT vec_id, embedding, hh, sqrt({sq_norm}) AS nrm FROM cents0) t
),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT c.vec_id, ct.cell_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
                              ORDER BY {dot_ucv("c.embedding")} DESC,
                                       ct.cell_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents ct) t WHERE rn = 1
),
qset AS (
  SELECT vec_id AS query_id, embedding FROM embeddings
  WHERE vec_id % {_QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.query_id, ct.cell_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {dot_ucv("q.embedding")} DESC,
                                       ct.cell_id ASC) AS rn
    FROM qset q CROSS JOIN cents ct) t WHERE rn <= {_IVF_NPROBE}
),
samp AS (
  SELECT embedding AS cv, ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS code
  FROM h ORDER BY hh, vec_id LIMIT {kc}
),
subs AS (SELECT UNNEST(range(0, {m})) AS sub),
cb AS (
  SELECT code, sub, list_slice(cv, sub * {sd} + 1, (sub + 1) * {sd}) AS cbv
  FROM samp, subs
),
vx AS (
  SELECT vec_id, sub,
         list_slice(embedding, sub * {sd} + 1, (sub + 1) * {sd}) AS xv
  FROM embeddings, subs
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, vx.sub AS sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, vx.sub
                              ORDER BY {l2} ASC, code ASC) AS rn
    FROM vx JOIN cb ON vx.sub = cb.sub) t WHERE rn = 1
),
lutq AS (
  SELECT query_id, sub,
         list_slice(embedding, sub * {sd} + 1, (sub + 1) * {sd}) AS qv
  FROM qset, subs
),
lut AS (
  SELECT query_id, cb.sub AS sub, code,
         CAST(floor({qdot} * {scale} + 0.5) AS BIGINT) AS part_q
  FROM lutq JOIN cb ON lutq.sub = cb.sub
),
cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell_id)
),
scored AS (
  SELECT c.query_id, c.vec_id, SUM(part_q) AS score_q
  FROM cand c
  JOIN codes k2 ON c.vec_id = k2.vec_id
  JOIN lut ON lut.query_id = c.query_id
          AND lut.sub = k2.sub AND lut.code = k2.code
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id AS neighbor_id, CAST(rk AS BIGINT) AS rk,
       CAST(score_q AS BIGINT) AS score_q
FROM (
  SELECT query_id, vec_id, score_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, vec_id ASC) AS rk
  FROM scored) t
WHERE rk <= {k}
"""


def q_storage_winnowing_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing index LIFECYCLE under the gate (round-7 verdict #3 —
    the family's symmetry with MinHash/SRP): build the fingerprint
    index over half the corpus (even doc_ids), persist it, reload it,
    extend it with the other half via ``merge_winnowing_index`` (only
    the batch is fingerprinted — the stored rows are reused as-is),
    persist the merged index OVER the first (atomic exchange), reload,
    and emit the full substring-match pairs from the index alone
    (``winnowing_pairs_from_index`` — no text touched). The index
    carries TWO parts: the (corpus_id, fp) rows and the (fp, df)
    document-frequency table, the latter maintained incrementally
    (``merge_winnowing_df`` — batch-sized outer-join add, never an
    index pass) and used for the hub cap at emit time. Persistence is
    the batch-I/O path: ``append_index`` writes ONLY the batch's fp
    rows (stored files carried as hardlinks) and rewrites the small
    aggregated df part via ``_replace`` in the SAME atomic swap — the
    nightly merge never re-writes the corpus-sized part. Oracle =
    ``dedup_winnowing_pairs``' own SQL twin over ALL documents: append
    must be indistinguishable from rebuild, stored df included."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.sources.index_store import (
        append_index,
        load_index,
        save_index,
    )
    from syncquill_spark.streaming.text_dedup import (
        build_winnowing_index,
        merge_winnowing_df,
        winnowing_fp_df,
        winnowing_pairs_from_index,
    )

    from syncquill_spark.operators._cache import tracked_persist

    (documents,) = load_tables(spark, sf_dir, "documents")
    first_half = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    # each build feeds TWO write/aggregate consumers (fps: the fps
    # part write + the fpdf aggregation; batch_fps: the df merge + the
    # append write) — persisted, the corpus is winnowed once per half
    # instead of once per consumer (guide §2.4; r16 optimization)
    fps = tracked_persist(build_winnowing_index(first_half, k=_WIN_K, window=_WIN_W))
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_win_idx_"), "win_idx")
    save_index(path, fps=fps, fpdf=winnowing_fp_df(fps))
    loaded = load_index(spark, path)
    batch_fps = tracked_persist(
        build_winnowing_index(batch, k=_WIN_K, window=_WIN_W)
    )
    merged_df = merge_winnowing_df(loaded["fpdf"], batch_fps)
    append_index(path, fps=batch_fps, _replace={"fpdf": merged_df})
    reloaded = load_index(spark, path)
    return winnowing_pairs_from_index(
        reloaded["fps"],
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_DF,
        index_df=reloaded["fpdf"],
    )


def q_dedup_winnowing_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing INGEST GATE: a new batch (odd doc_ids) checked for
    substring matches against the corpus index (even doc_ids) — only
    the batch is fingerprinted, the corpus side is the index's stored
    skinny (corpus_id, fp) rows. The hub cap's document frequency is
    the STORED (fp, df) table plus the batch's own counts (df is a
    corpus property and batch ids are new, so counts add — one
    batch-sized aggregation + an outer join, never an index-wide
    groupBy per batch), so the gate's matches equal a full rebuild's
    pairs restricted to (new x corpus) — which is exactly what the
    oracle computes, never having seen the index."""
    from syncquill_spark.streaming.text_dedup import (
        build_winnowing_index,
        winnowing_fp_df,
        winnowing_matches_against,
    )

    from syncquill_spark.operators._cache import tracked_persist

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    # consumed twice (the gate's corpus join side + the fp_df
    # aggregation) — persisted, the corpus half is winnowed once
    # (guide §2.4; in deployment this side is the STORED index, so
    # the persist models the stored part, not a new cost)
    index_fps = tracked_persist(
        build_winnowing_index(corpus, k=_WIN_K, window=_WIN_W)
    )
    return winnowing_matches_against(
        batch,
        index_fps,
        k=_WIN_K,
        window=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_DF,
        index_df=winnowing_fp_df(index_fps),
    )


def _winnowing_against_sql() -> str:
    return f"""
WITH wfp AS (
  SELECT DISTINCT doc_id, fp FROM ({_winnowing_sql()}) w
),
rare AS (
  SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM wfp GROUP BY fp) t
  WHERE c <= {_WIN_MAX_DF}
),
f AS (SELECT wfp.doc_id, wfp.fp FROM wfp JOIN rare ON wfp.fp = rare.fp)
SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM f n JOIN f c ON n.fp = c.fp
WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
GROUP BY n.doc_id, c.doc_id
HAVING COUNT(*) >= {_WIN_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Curation: first-fit-decreasing packing under the gate (round-6
# verdict #5 — the last unit-only curation operator)
# ---------------------------------------------------------------------------

_FFD_BUDGET = 512


def q_curation_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing per language at the same
    512-token budget as curation_pack_sequences — the grouped-map
    applyInPandas operator, now oracle-checked: FFD is deterministic
    ((n_tokens desc, doc_id asc) placement order, first-fit bin probe),
    so DuckDB replays the exact algorithm with a recursive CTE that
    carries the bins' remaining-capacity list through the per-stratum
    recursion."""
    from syncquill_spark.operators.curation import pack_sequences_ffd

    (documents,) = load_tables(spark, sf_dir, "documents")
    return pack_sequences_ffd(documents, budget=_FFD_BUDGET, stratify_col="lang")


def _curation_pack_ffd_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    b = _FFD_BUDGET
    # first-fit probe: 1-based index of the first bin with room, 0 if
    # none fits (DuckDB's list_position returns 0, not NULL, on a
    # miss); on a miss a new bin opens — oversized docs open a
    # 0-capacity bin, matching the operator's max(budget - t, 0)
    fit = "list_position(list_transform(f.rem, r -> r >= o.n_tokens), true)"
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform({toks},
             x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens
  FROM documents
),
ordered AS (
  SELECT doc_id, lang, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_tokens DESC, doc_id ASC) AS rn
  FROM t
),
ffd AS (
  SELECT lang, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id,
         [greatest({b} - n_tokens, CAST(0 AS BIGINT))] AS rem
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.rn, o.doc_id, o.n_tokens,
         CAST(CASE WHEN {fit} > 0 THEN {fit} - 1
                   ELSE len(f.rem) END AS BIGINT) AS pack_id,
         CASE WHEN {fit} > 0
              THEN list_transform(range(1, len(f.rem) + 1),
                   i -> CASE WHEN i = {fit} THEN f.rem[i] - o.n_tokens
                             ELSE f.rem[i] END)
              ELSE list_append(f.rem, greatest({b} - o.n_tokens,
                                               CAST(0 AS BIGINT)))
         END AS rem
  FROM ffd f JOIN ordered o ON o.lang = f.lang AND o.rn = f.rn + 1
)
SELECT doc_id, lang, n_tokens, pack_id FROM ffd
"""


# --- registered in r10 from plans/queue_r10.py (window-capacity
# policy rule 3: finished and fingerprint-verified in r09, promoted
# under the net-+4 growth cap once window slots existed) ----------


def q_storage_simhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash index LIFECYCLE under the gate — the fourth and last
    dedup index family's symmetry row (MinHash r06, SRP r06, winnowing
    r08): build the (corpus_id, simhash) index over half the corpus
    (even doc_ids), persist via ``index_store.save_index``, extend
    with the other half via the batch-I/O ``append_index`` (only the
    batch is tokenized AND only its rows are written — stored files
    carried as hardlinks behind one atomic swap), reload, and emit
    near-dup pairs from the stored rows alone
    (``simhash_pairs_from_index`` — no text touched). Oracle = ``dedup_simhash_pairs``' own SQL twin
    over ALL documents: append must be indistinguishable from
    rebuild."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.sources.index_store import (
        append_index,
        load_index,
        save_index,
    )
    from syncquill_spark.streaming.text_dedup import (
        build_simhash_index,
        simhash_pairs_from_index,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    first_half = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    fps = build_simhash_index(first_half, bits=_SIMHASH_BITS)
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_sh_idx_"), "sh_idx")
    save_index(path, fps=fps)
    # the batch-I/O nightly merge: only the batch's rows are written,
    # stored files carried as hardlinks, one atomic swap (equivalent
    # to merge_simhash_index + save-over, which rewrites the corpus)
    append_index(path, fps=build_simhash_index(batch, bits=_SIMHASH_BITS))
    reloaded = load_index(spark, path)
    return simhash_pairs_from_index(
        reloaded["fps"], bits=_SIMHASH_BITS, max_hamming=_SIMHASH_MAX_HAMMING
    )


def q_dedup_simhash_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash INGEST GATE: a new batch (odd doc_ids) checked for
    near-duplicates against the corpus index (even doc_ids) — only the
    batch is fingerprinted; the corpus side is the stored
    (corpus_id, simhash) rows. The gate's matches equal a full
    rebuild's pairs restricted to (new x corpus) — exactly what the
    oracle computes, never having seen the index."""
    from syncquill_spark.streaming.text_dedup import (
        build_simhash_index,
        simhash_matches_against,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    return simhash_matches_against(
        batch,
        build_simhash_index(corpus, bits=_SIMHASH_BITS),
        bits=_SIMHASH_BITS,
        max_hamming=_SIMHASH_MAX_HAMMING,
    )


def _simhash_against_sql() -> str:
    """Cross-orientation wrapper of the pairs oracle: the gate orients
    (new=odd, corpus=even); the pairs SQL orients id_a < id_b."""
    return f"""
WITH full_pairs AS ({_simhash_pairs_sql()})
SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS id_new,
       CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS id_corpus,
       hamming
FROM full_pairs
WHERE (id_a % 2) != (id_b % 2)
"""


def q_storage_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index LIFECYCLE under the gate: build the three-part
    index (unit centroids, PQ codebook, codes pre-joined to their cell
    and written Hive-partitioned by cell_id), persist, reload, and
    serve top-k for the query set from the STORED parts alone — the
    corpus's float vectors are read at build and never again, and the
    serve plan broadcast-joins the probe under dynamic partition
    pruning (SCALE.md: 2.4-3x faster than the fused path, wall-flat
    across 8x corpus growth). Oracle = ``similarity_topk_ivfpq``'s own
    SQL: serve-from-index must be indistinguishable from the
    monolithic composition."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_topk_from_index,
    )
    from syncquill_spark.sources.index_store import load_index, save_index

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = ivfpq_build_index(
        embeddings,
        n_cells=_IVF_CELLS,
        m_sub=_PQ_M,
        k_codes=_PQ_K,
        dim=_PQ_DIM,
    )
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_ivfpq_"), "ivfpq_idx")
    save_index(path, _partition_by={"codes": ["cell_id"]}, **index)
    loaded = load_index(spark, path)
    return ivfpq_topk_from_index(
        queries, loaded, k=_TOPK, nprobe=_IVF_NPROBE, m_sub=_PQ_M, dim=_PQ_DIM
    )


def q_storage_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval-index LIFECYCLE under the gate: build the
    four-part inverted index (term-bucket-partitioned postings,
    doclens, incrementally-maintained dfreq, one stats row) over half
    the corpus, persist via ``index_store.save_index`` with the
    postings part Hive-partitioned by term_bucket, reload, extend with
    the other half via ``append_bm25_index`` (only the batch is
    tokenized; row parts append, df counts and stats ADD — one atomic
    commit), reload, and serve the registered query terms from the
    stored parts alone — the serve scan reads only the query's term
    buckets (partition pruning via the manifest-stamped bucket width,
    plan-asserted in unit tests) and ZERO doclens rows (per-doc
    lengths ride inline on the posting rows since r16; the doclens
    join was the serve's last corpus-proportional term, SCALE.md r15).
    Oracle = ``text_bm25``'s own SQL: a served score after
    save/load/append/load must be indistinguishable from recomputing
    over all text."""
    import os as _os
    import tempfile as _tempfile

    from syncquill_spark.operators.text import (
        append_bm25_index,
        bm25_from_index,
        build_bm25_index,
        load_bm25_index,
        save_bm25_index,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    first_half = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    path = _os.path.join(_tempfile.mkdtemp(prefix="sq_bm25_"), "bm25_idx")
    save_bm25_index(path, build_bm25_index(first_half))
    # the full nightly merge in ONE atomic commit: row parts appended
    # batch-sized (postings, doclens), the small aggregated parts
    # (dfreq, stats) rewritten with their merged frames; the stamp
    # check refuses a width-mismatched or pre-inline-dl stored index
    append_bm25_index(path, load_bm25_index(spark, path), batch)
    reloaded = load_bm25_index(spark, path)
    return bm25_from_index(reloaded, _BM25_TERMS)


# --- registered in r11 from plans/queue_r10.py / queue_r11.py — the
# FINAL FOUR of the declared 142-row end-state (registry policy,
# tools/window.py): these complete the contamination
# detect -> localize -> cut story and the classifier-gate and CCNet
# bucket families, the only driver-unverified capabilities left. The
# five pairs remaining in plans/queue_permanent.py stay PERMANENTLY
# queue-verified; registry growth is FROZEN at 142. ----------------


_LM_FRAC_HEAD, _LM_FRAC_TAIL = 0.1, 0.3


def q_curation_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality buckets per language over the
    corpus-bigram-LM signal — the complete CCNet deployment story:
    ``bigram_commonness`` scores every document under the corpus's own
    bigram model (exact integer sum of quantized conditional
    frequencies), the per-doc rate lm_q = sum_q DIV n_bigrams is the
    signal, and ``quality_value_buckets`` labels the best ~10% of each
    language 'head' and the worst ~30% 'tail' by exact rank-k VALUE
    thresholds (ties land in the better bucket) — computed with the
    bracketed two-pass order statistic, so the dominant language never
    whole-sorts. Docs with < 2 tokens have no bigrams and are absent
    (same contract as text_bigram_lm)."""
    from syncquill_spark.operators._cache import tracked_persist
    from syncquill_spark.operators.curation import quality_value_buckets
    from syncquill_spark.operators.text import bigram_commonness

    (documents,) = load_tables(spark, sf_dir, "documents")
    # quality_value_buckets' final bucket join re-evaluates its input
    # frame — persisted, the bigram scoring (3-way join + per-doc agg
    # over the occurrence rows) runs once instead of twice (r16)
    scored = tracked_persist(
        bigram_commonness(documents)
        .join(documents.select("doc_id", "lang"), "doc_id")
        .withColumn("lm_q", F.expr("sum_q DIV n_bigrams"))
    )
    return quality_value_buckets(
        scored,
        "lm_q",
        frac_head=_LM_FRAC_HEAD,
        frac_tail=_LM_FRAC_TAIL,
        stratify_col="lang",
    ).select("doc_id", "lang", F.col("lm_q").cast("long").alias("lm_q"), "bucket")


def _lm_buckets_sql() -> str:
    """Oracle twin of q_curation_lm_buckets: the text_bigram_lm CTEs
    for the signal, then per-language rank-k cutoff VALUES via a plain
    SQL window (DuckDB can afford the whole sort the Spark plan
    avoids) and the same value-threshold CASE."""
    toks = _TOKS_LOWER.format(src="text")
    h1 = _H60.format(x="tk[i]")
    h12 = _H60.format(x="(tk[i] || ' ' || tk[i+1])")
    fh, ft = _LM_FRAC_HEAD, 1.0 - _LM_FRAC_TAIL
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
o AS (SELECT doc_id, UNNEST(range(1, len(tk))) AS i, tk FROM t),
occ AS (
  SELECT doc_id, {h1} AS h1, {h12} AS h12 FROM o
),
c12 AS (SELECT h12, COUNT(*) AS c12 FROM occ GROUP BY h12),
c1 AS (SELECT h1, COUNT(*) AS c1 FROM occ GROUP BY h1),
scored AS (
  SELECT occ.doc_id,
         COUNT(*) AS n_bigrams,
         SUM((1000000 * c12.c12) // c1.c1) AS sum_q
  FROM occ JOIN c12 ON occ.h12 = c12.h12 JOIN c1 ON occ.h1 = c1.h1
  GROUP BY occ.doc_id
),
sig AS (
  SELECT s.doc_id, d.lang, (s.sum_q // s.n_bigrams) AS lm_q
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, lang, lm_q,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY lm_q DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM sig
),
cuts AS (
  SELECT lang,
         MAX(CASE WHEN rk = CAST(ceil({fh} * n) AS BIGINT)
                  THEN lm_q END) AS v_head,
         MAX(CASE WHEN rk = CAST(ceil({ft} * n) AS BIGINT)
                  THEN lm_q END) AS v_tail
  FROM ranked GROUP BY lang
)
SELECT sig.doc_id, sig.lang, CAST(sig.lm_q AS BIGINT) AS lm_q,
       CASE WHEN sig.lm_q >= cuts.v_head THEN 'head'
            WHEN sig.lm_q <  cuts.v_tail THEN 'tail'
            ELSE 'middle' END AS bucket
FROM sig JOIN cuts ON sig.lang = cuts.lang
"""


def q_text_winnowing_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style span localization of winnowing substring matches:
    detected pairs (same parameters as ``dedup_winnowing_pairs``) are
    localized to token spans by anchoring every shared fingerprint at
    its positions in both documents and merging anchors on the same
    DIAGONAL (pos_b - pos_a constant — a contiguous copied passage
    advances both docs in lockstep) into runs wherever consecutive
    anchors are <= window grams apart. All-int output
    (id_a, id_b, start_a, end_a, start_b, end_b, n_anchors); the
    oracle replays selection, positions, pair detection, and the
    gaps-and-islands merge in plain SQL windows.

    Runs through ``winnowing_self_spans`` — ONE winnowing pass feeds
    the pair basis and both anchor sides (the naive composition pays
    the selection subtree up to three times); pairs-from-positions ==
    pairs-from-text is the index family's pinned identity, so the
    oracle is unchanged."""
    from syncquill_spark.streaming.text_dedup import winnowing_self_spans

    (documents,) = load_tables(spark, sf_dir, "documents")
    return winnowing_self_spans(
        documents,
        k=_WIN_K,
        window=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_DF,
    )


def _winnowing_spans_sql() -> str:
    k, gap = _WIN_K, _WIN_W
    return f"""
WITH pos AS (
  SELECT doc_id, fp, gram_pos FROM ({_winnowing_sql()}) p0
),
pairs AS (
  SELECT id_a, id_b FROM ({_winnowing_pairs_sql()}) pr
),
anchors AS (
  SELECT p.id_a, p.id_b, a.gram_pos AS pa, b.gram_pos AS pb,
         b.gram_pos - a.gram_pos AS diag
  FROM pairs p
  JOIN pos a ON a.doc_id = p.id_a
  JOIN pos b ON b.doc_id = p.id_b AND b.fp = a.fp
),
marked AS (
  SELECT id_a, id_b, diag, pa, pb,
         CASE WHEN lag(pa) OVER w IS NULL
                   OR pa - lag(pa) OVER w > {gap}
              THEN 1 ELSE 0 END AS new_run
  FROM anchors
  WINDOW w AS (PARTITION BY id_a, id_b, diag ORDER BY pa)
),
runs AS (
  SELECT id_a, id_b, diag, pa, pb,
         SUM(new_run) OVER (PARTITION BY id_a, id_b, diag ORDER BY pa
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
)
SELECT id_a, id_b,
       CAST(MIN(pa) AS BIGINT) AS start_a,
       CAST(MAX(pa) + {k - 1} AS BIGINT) AS end_a,
       CAST(MIN(pb) AS BIGINT) AS start_b,
       CAST(MAX(pb) + {k - 1} AS BIGINT) AS end_b,
       CAST(COUNT(*) AS BIGINT) AS n_anchors
FROM runs
GROUP BY id_a, id_b, diag, run
"""


def q_curation_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-removal DECONTAMINATION end to end: detect within-corpus
    substring matches (winnowing, ``text_winnowing_spans``' exact
    parameters), localize them to token spans, and CUT the id_b side
    (pairs orient id_a < id_b, so the later document loses the copied
    passage — keep-first) with ``remove_spans`` at
    pad = window - 1 (the selection-guarantee margin that makes the
    cut cover the whole true match). Documents with no matches pass
    through byte-exact; cut documents are rebuilt from surviving
    tokens. The oracle replays detection + spans in SQL windows, then
    the same pad/filter/rebuild with string_split_regex +
    NOT EXISTS + ordered string_agg.

    Detection + localization run through ``winnowing_self_spans``
    (one winnowing pass — see ``text_winnowing_spans``)."""
    from syncquill_spark.operators.curation import remove_spans
    from syncquill_spark.streaming.text_dedup import winnowing_self_spans

    (documents,) = load_tables(spark, sf_dir, "documents")
    spans = winnowing_self_spans(
        documents,
        k=_WIN_K,
        window=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_fp_df=_WIN_MAX_DF,
    )
    return remove_spans(
        documents,
        spans,
        span_id_col="id_b",
        start_col="start_b",
        end_col="end_b",
        pad=_WIN_W - 1,
    )


def _remove_spans_sql() -> str:
    pad = _WIN_W - 1
    return f"""
WITH sp AS (
  SELECT id_b AS doc_id, GREATEST(start_b - {pad}, 0) AS s, end_b + {pad} AS e
  FROM ({_winnowing_spans_sql()}) spans
),
flagged AS (SELECT DISTINCT doc_id FROM sp),
tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM documents
),
tok AS (
  SELECT doc_id, UNNEST(range(1, len(tks) + 1)) AS i, tks FROM tk
),
tok2 AS (SELECT doc_id, i, tks[i] AS tok FROM tok),
kept AS (
  SELECT t.doc_id, t.i, t.tok FROM tok2 t
  JOIN flagged f USING (doc_id)
  WHERE NOT EXISTS (
    SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id AND t.i - 1 BETWEEN sp.s AND sp.e
  )
),
reb AS (
  SELECT doc_id, COUNT(*) AS nk, string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(tk.tks) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN f.doc_id IS NULL THEN len(tk.tks)
                 ELSE COALESCE(reb.nk, 0) END AS BIGINT) AS n_tokens_kept,
       CASE WHEN f.doc_id IS NULL THEN d.text
            ELSE COALESCE(reb.txt, '') END AS text_clean
FROM documents d
JOIN tk ON tk.doc_id = d.doc_id
LEFT JOIN flagged f ON f.doc_id = d.doc_id
LEFT JOIN reb ON reb.doc_id = d.doc_id
"""


def q_text_clf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised token-weight quality gate (fastText/LR-surrogate,
    ``classifier_score_against``): train the (th, c_pos, c_neg) count
    model on the labeled even-doc_id half (label = doc_id % 4 == 0 —
    the deterministic seed-set stand-in), score the odd half against
    it. Per-token weight is the add-one-smoothed quantized positive
    rate (1e6*(c_pos+1)) div (c_pos+c_neg+2); unseen tokens score the
    neutral 500000. The oracle replays the md5-derived token hashes
    and the integer division exactly."""
    from syncquill_spark.operators.text import (
        build_token_classifier,
        classifier_score_against,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 2 == 0).withColumn(
        "label", (F.col("doc_id") % 4 == 0).cast("int")
    )
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    return classifier_score_against(batch, build_token_classifier(corpus))


def _clf_gate_sql() -> str:
    toks = _TOKS_LOWER.format(src="text")
    th = _H60.format(x="tk[i]")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
o AS (SELECT doc_id, UNNEST(range(1, len(tk) + 1)) AS i, tk FROM t),
occ AS (
  SELECT doc_id, {th} AS th FROM o WHERE tk[i] <> ''
),
m AS (
  SELECT th,
         SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END) AS c_neg
  FROM occ WHERE doc_id % 2 = 0 GROUP BY th
)
SELECT occ.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE((1000000 * (m.c_pos + 1)) // (m.c_pos + m.c_neg + 2),
                         500000)) AS BIGINT) AS sum_w
FROM occ
LEFT JOIN m ON occ.th = m.th
WHERE occ.doc_id % 2 = 1
GROUP BY occ.doc_id
"""


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "similarity_knn_classify": q_similarity_knn_classify,
    "embedding_nearest_centroid": q_embedding_nearest_centroid,
    "multimodal_features": q_multimodal_features,
    "dedup_embedding_incremental": q_dedup_embedding_incremental,
    "profile_documents": q_profile_documents,
    "curation_eval_k_per_lang": q_curation_eval_k_per_lang,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_clusters": q_dedup_clusters,
    "similarity_topk_cosine": q_similarity_topk_cosine,
    "similarity_topk_lsh": q_similarity_topk_lsh,
    "similarity_topk_ivf": q_similarity_topk_ivf,
    "similarity_topk_ivf_refined": q_similarity_topk_ivf_refined,
    "text_language_id": q_text_language_id,
    "text_quality": q_text_quality,
    "text_repetition": q_text_repetition,
    "text_quality_rules": q_text_quality_rules,
    "text_bm25": q_text_bm25,
    "embedding_label_centroids": q_embedding_label_centroids,
    "window_moving_avg": q_window_moving_avg,
    "setop_except_all": q_setop_except_all,
    "text_token_counts": q_text_token_counts,
    "text_term_stats": q_text_term_stats,
    "text_readability": q_text_readability,
    "text_sentences_udtf": q_text_sentences_udtf,
    "text_fingerprint": q_text_fingerprint,
    "multimodal_media_stats": q_multimodal_media_stats,
    "join_asof_signup": q_join_asof_signup,
    "join_range_shipments": q_join_range_shipments,
    "join_binned_range": q_join_binned_range,
    "agg_rollup_orders": q_agg_rollup_orders,
    "events_tumbling_window": q_events_tumbling_window,
    "events_session_window": q_events_session_window,
    "cdc_scd2_history": q_cdc_scd2_history,
    "cdc_incremental_agg": q_cdc_incremental_agg,
    "storage_zorder_key": q_storage_zorder_key,
    "agg_quantiles_approx_check": q_agg_quantiles_approx_check,
    "events_sliding_window": q_events_sliding_window,
    "funnel_click_purchase": q_funnel_click_purchase,
    "agg_distinct_users_exact": q_agg_distinct_users_exact,
    "agg_distinct_users_approx": q_agg_distinct_users_approx,
    "events_sessionization": q_events_sessionization,
    "window_running_total": q_window_running_total,
    "join_events_customers": q_join_events_customers,
    "pipeline_corpus_curation": q_pipeline_corpus_curation,
    "curation_hash_split": q_curation_hash_split,
    "curation_decontaminate": q_curation_decontaminate,
    "curation_sample_stratified": q_curation_sample_stratified,
    "curation_shuffle": q_curation_shuffle,
    "curation_blocklist": q_curation_blocklist,
    "curation_boilerplate": q_curation_boilerplate,
    "curation_redact_pii": q_curation_redact_pii,
    "curation_pack_sequences": q_curation_pack_sequences,
    "embedding_quantize": q_embedding_quantize,
    "dedup_semantic_pairs": q_dedup_semantic_pairs,
    "curation_fuzzy_decontaminate": q_curation_fuzzy_decontaminate,
    "curation_domain_quota": q_curation_domain_quota,
    "text_tfidf_terms": q_text_tfidf_terms,
    "similarity_ann_recall": q_similarity_ann_recall,
    "text_chunk_documents": q_text_chunk_documents,
    "curation_leakage_split": q_curation_leakage_split,
    "text_segment_dedup": q_text_segment_dedup,
    "curation_target_mix": q_curation_target_mix,
    "curation_target_mix_tokens": q_curation_target_mix_tokens,
    "profile_referential": q_profile_referential,
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "dedup_apply": q_dedup_apply,
    "pipeline_training_mix": q_pipeline_training_mix,
    "storage_versioned_roundtrip": q_storage_versioned_roundtrip,
    "storage_index_roundtrip": q_storage_index_roundtrip,
    "multimodal_decode": q_multimodal_decode,
    "curation_pack_ffd": q_curation_pack_ffd,
    "storage_index_incremental": q_storage_index_incremental,
    "storage_text_ingest_roundtrip": q_storage_text_ingest_roundtrip,
    "multimodal_audio_decode": q_multimodal_audio_decode,
    "text_vocab_coverage": q_text_vocab_coverage,
    "curation_quality_filter": q_curation_quality_filter,
    "text_winnowing": q_text_winnowing,
    "dedup_winnowing_pairs": q_dedup_winnowing_pairs,
    "storage_media_ingest_roundtrip": q_storage_media_ingest_roundtrip,
    "storage_winnowing_index": q_storage_winnowing_index,
    "dedup_winnowing_against": q_dedup_winnowing_against,
    "storage_media_wav_roundtrip": q_storage_media_wav_roundtrip,
    "text_bigram_lm": q_text_bigram_lm,
    "embedding_pq_codes": q_embedding_pq_codes,
    "similarity_topk_ivfpq": q_similarity_topk_ivfpq,
    "storage_bigram_model": q_storage_bigram_model,
    "text_bigram_gate": q_text_bigram_gate,
    "storage_simhash_index": q_storage_simhash_index,
    "dedup_simhash_against": q_dedup_simhash_against,
    "storage_ivfpq_index": q_storage_ivfpq_index,
    "storage_bm25_index": q_storage_bm25_index,
    "text_winnowing_spans": q_text_winnowing_spans,
    "curation_lm_buckets": q_curation_lm_buckets,
    "curation_remove_spans": q_curation_remove_spans,
    "text_clf_gate": q_text_clf_gate,
}

EXT_ORACLES: dict[str, str | None] = {
    "similarity_knn_classify": _SIMILARITY_KNN_CLASSIFY_SQL,
    "embedding_nearest_centroid": _EMBEDDING_NEAREST_CENTROID_SQL,
    "multimodal_features": _MULTIMODAL_FEATURES_SQL,
    "dedup_embedding_incremental": _embedding_neardup_incremental_sql(),
    "profile_documents": _profile_documents_sql(),
    "curation_eval_k_per_lang": _eval_k_per_lang_sql(),
    "dedup_ngram_jaccard": _DEDUP_NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_incremental": _minhash_incremental_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
    "dedup_embedding_cosine": _embedding_neardup_sql(),
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "similarity_topk_cosine": _SIMILARITY_TOPK_SQL,
    "similarity_topk_lsh": _lsh_topk_sql(),
    "similarity_topk_ivf": _ivf_sql(),
    "similarity_topk_ivf_refined": _ivf_sql(refine=_IVF_REFINE),
    "text_language_id": _language_id_sql(),
    "text_quality": _quality_sql(),
    "text_repetition": _repetition_sql(),
    "text_quality_rules": _quality_rules_sql(),
    "text_bm25": _bm25_sql(),
    "embedding_label_centroids": _EMBEDDING_LABEL_CENTROIDS_SQL,
    "window_moving_avg": _WINDOW_MOVING_AVG_SQL,
    "setop_except_all": _SETOP_EXCEPT_ALL_SQL,
    "text_token_counts": _token_counts_sql(),
    "text_term_stats": _term_stats_sql(),
    "text_readability": _readability_sql(),
    "text_sentences_udtf": _TEXT_SENTENCES_SQL,
    "text_fingerprint": _fingerprint_sql(),
    "multimodal_media_stats": _MULTIMODAL_MEDIA_STATS_SQL,
    "join_asof_signup": _JOIN_ASOF_SIGNUP_SQL,
    "join_range_shipments": _JOIN_RANGE_SHIPMENTS_SQL,
    "join_binned_range": _JOIN_BINNED_RANGE_SQL,
    "agg_rollup_orders": _AGG_ROLLUP_ORDERS_SQL,
    "events_tumbling_window": _EVENTS_TUMBLING_WINDOW_SQL,
    "events_session_window": _EVENTS_SESSION_WINDOW_SQL,
    "cdc_scd2_history": _CDC_SCD2_SQL,
    "cdc_incremental_agg": _CDC_INCREMENTAL_AGG_SQL,
    "storage_zorder_key": _zorder_sql(),
    "agg_quantiles_approx_check": _AGG_QUANTILES_APPROX_SQL,
    "events_sliding_window": _EVENTS_SLIDING_WINDOW_SQL,
    "funnel_click_purchase": _FUNNEL_SQL,
    "agg_distinct_users_exact": _AGG_DISTINCT_USERS_SQL,
    "agg_distinct_users_approx": _AGG_DISTINCT_USERS_APPROX_SQL,
    "events_sessionization": _EVENTS_SESSIONIZATION_SQL,
    "window_running_total": _WINDOW_RUNNING_TOTAL_SQL,
    "join_events_customers": _JOIN_EVENTS_CUSTOMERS_SQL,
    "pipeline_corpus_curation": _pipeline_curation_sql(),
    "curation_hash_split": _CURATION_HASH_SPLIT_SQL,
    "curation_decontaminate": _decontaminate_sql(),
    "curation_sample_stratified": _sample_stratified_sql(),
    "curation_shuffle": _curation_shuffle_sql(),
    "curation_blocklist": _curation_blocklist_sql(),
    "curation_boilerplate": _boilerplate_sql(),
    "curation_redact_pii": _curation_redact_sql(),
    "curation_pack_sequences": _curation_pack_sql(),
    "embedding_quantize": _EMBEDDING_QUANTIZE_SQL,
    "dedup_semantic_pairs": _semantic_pairs_sql(),
    "curation_fuzzy_decontaminate": _fuzzy_decontaminate_sql(),
    "curation_domain_quota": _domain_quota_sql(),
    "text_tfidf_terms": _tfidf_terms_sql(),
    "similarity_ann_recall": _ann_recall_sql(),
    "text_chunk_documents": _chunk_documents_sql(),
    "curation_leakage_split": _leakage_split_sql(),
    "text_segment_dedup": _SEGMENT_DEDUP_SQL,
    "curation_target_mix": _target_mix_sql(),
    "curation_target_mix_tokens": _target_mix_tokens_sql(),
    "profile_referential": _profile_referential_sql(),
    "dedup_cluster_stats": _cluster_stats_sql(),
    "dedup_apply": _dedup_apply_sql(),
    "pipeline_training_mix": _pipeline_training_mix_sql(),
    "storage_versioned_roundtrip": _STORAGE_VERSIONED_SQL,
    # identical oracle to dedup_incremental BY DESIGN: the persisted
    # index path must produce exactly what recompute-from-text does
    "storage_index_roundtrip": _minhash_incremental_sql(),
    "multimodal_decode": _multimodal_decode_sql(),
    "curation_pack_ffd": _curation_pack_ffd_sql(),
    # identical oracle to dedup_minhash_lsh BY DESIGN: an appended
    # index must be indistinguishable from a rebuilt one
    "storage_index_incremental": _minhash_sql(),
    "storage_text_ingest_roundtrip": _text_ingest_sql(),
    "multimodal_audio_decode": _multimodal_audio_sql(),
    "text_vocab_coverage": _vocab_coverage_sql(),
    "curation_quality_filter": _quality_filter_sql(),
    "text_winnowing": _winnowing_sql(),
    "dedup_winnowing_pairs": _winnowing_pairs_sql(),
    "storage_winnowing_index": _winnowing_pairs_sql(),
    "dedup_winnowing_against": _winnowing_against_sql(),
    "storage_media_wav_roundtrip": _multimodal_audio_sql(),
    "text_bigram_lm": _bigram_lm_sql(),
    # identical oracle to text_bigram_lm BY DESIGN: a model that went
    # through save/load/merge/save/load must be indistinguishable from
    # the one-shot in-memory model
    "storage_bigram_model": _bigram_lm_sql(),
    "text_bigram_gate": _bigram_gate_sql(),
    "embedding_pq_codes": _pq_codes_sql(),
    "similarity_topk_ivfpq": _ivfpq_sql(),
    # identical oracle to multimodal_decode BY DESIGN: a trip through
    # real files (export -> binaryFile re-ingest) must change nothing
    "storage_media_ingest_roundtrip": _multimodal_decode_sql(),
    # identical oracle to dedup_simhash_pairs BY DESIGN: pairs served
    # from a saved+appended+reloaded index must be indistinguishable
    # from a one-shot rebuild over all text
    "storage_simhash_index": _simhash_pairs_sql(),
    "dedup_simhash_against": _simhash_against_sql(),
    # identical oracle to similarity_topk_ivfpq BY DESIGN: serving
    # from the stored cell-partitioned layout must equal the
    # monolithic composition
    "storage_ivfpq_index": _ivfpq_sql(),
    # identical oracle to text_bm25 BY DESIGN: scores served after
    # save/load/merge/save/load must equal recomputing from text
    "storage_bm25_index": _bm25_sql(),
    "text_winnowing_spans": _winnowing_spans_sql(),
    "curation_lm_buckets": _lm_buckets_sql(),
    # wraps the spans SQL: detection + localization + the same
    # pad/filter/rebuild — the full detect -> localize -> cut story
    "curation_remove_spans": _remove_spans_sql(),
    "text_clf_gate": _clf_gate_sql(),
}
