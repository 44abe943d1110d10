"""PERMANENT verification queue — the query/oracle pairs that stay
queue-verified FOREVER under the registry end-state (round-10
decision; the window policy and its capacity arithmetic are in
`tools/window.py`, the committed window in `plans/window.py`): the five
end-state residue pairs plus curation_url_dedup (added r12 — queue
growth is net-0 for the REGISTRY, the queue itself may grow).

The registry froze FEATURE-COMPLETE AT 142 rows in r11 (the final four
— text_winnowing_spans, curation_lm_buckets, curation_remove_spans,
text_clf_gate — moved from the old queue_r10/queue_r11 modules into
`queries_ext`). Each pair below is a VARIANT or COMPOSITION of an
already-registered row, so the driver already verifies its core
semantics through the registered base row; the full DuckDB fingerprint
pin (row count + sorted columns + normalized value rows, the same
compare the registered suite uses) keeps running every round at
sf0.001 via `tests/test_queue_permanent.py` and at both SFs via the
local replica (`tools/verify_local.py --queue`). Only the driver's
re-verification is waived:

- ``text_bigram_pruned_gate`` — registered ``text_bigram_gate`` with a
  KenLM-style min-count HAVING on the model part.
- ``similarity_topk_rerank`` — composition of registered
  ``similarity_topk_ivfpq`` (candidates) + registered
  ``similarity_topk_cosine``'s exact-cosine scoring (re-rank).
- ``curation_temperature_mix`` — variant of registered
  ``curation_target_mix`` (n**alpha weights vs explicit shares).
- ``text_lines_dedup`` — near-variant of registered
  ``curation_boilerplate`` (line-granular cross-doc dedup).
- ``text_normalize`` — pure projection, no shuffle; the least
  scale-critical row in the candidate set.
- ``curation_url_dedup`` (added r12, r11 verdict #5) — canonical-URL
  dedup over a synthesized URL column; near-variant of registered
  ``curation_blocklist``'s keep-ids join-back shape.
- ``dedup_fuzzy_names`` (added r12) — fuzzy record linkage over a
  synthesized name catalog; the block-then-verify shape the
  registered dedup rows share, previously unit/hypothesis-pinned
  only (no fixture name column is linkage-usable).

After the freeze, a new operator family lands unit-pinned +
queue-fingerprint-verified here, and may enter the registry only by
SWAP (net 0): retire an existing row to this queue in the same commit.

Reference: /root/reference/syncquill.py has none of this surface
(242-line sheet-to-BigQuery sync); these are EXT-tier LLM-pipeline
operators mandated by the BASELINE.json north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncquill_spark.plans.queries import load_tables
from syncquill_spark.plans.queries_ext import (
    _H60,
    _IVF_CELLS,
    _IVF_NPROBE,
    _QUERY_MOD,
    _TOKS_LOWER,
    _TOPK,
    _ivfpq_sql,
)

_PRUNE_MIN_COUNT = 2


def q_text_bigram_pruned_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram gate served from a PRUNED model (KenLM-style
    min-count pruning for serve-time broadcast): bigram counts below
    ``min_count`` are dropped from the stored c12 part at load time,
    and a pruned bigram scores exactly like an unseen one (left-join
    miss -> q = 0) while c1 stays untouched so survivor scores never
    shift. The oracle replays the gate SQL with a HAVING clause on the
    model CTE — it never sees the model tables."""
    from syncquill_spark.operators.text import (
        bigram_score_against,
        build_bigram_model,
        prune_bigram_model,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 2 == 0)
    batch = documents.filter(F.col("doc_id") % 2 == 1)
    c1, c12 = build_bigram_model(corpus)
    p1, p12 = prune_bigram_model(c1, c12, min_count=_PRUNE_MIN_COUNT)
    return bigram_score_against(batch, p1, p12)


def _bigram_pruned_gate_sql() -> str:
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
  HAVING COUNT(*) >= {_PRUNE_MIN_COUNT}
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


# the fixture's documents are single-line word soup; both engines
# apply the SAME deterministic literal replace to synthesize line
# structure (left-to-right non-overlapping in both), so the line-dedup
# semantics are exercised on multi-line docs with genuinely shared
# lines (small vocab -> repeated short lines across docs)
_LINE_SEED_WORD = " table "


def q_text_lines_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (C4 policy-line removal /
    CCNet-RefinedWeb shard line dedup, ``dedup_lines_across`` mode
    "drop"): a line occurring in >= 2 distinct documents is boilerplate
    and every occurrence is removed; docs are rebuilt with surviving
    lines in original order. The operator groups lines by their
    md5-int64 hash; the oracle groups by the line string — identical
    absent md5 collisions, the same equivalence every hash-keyed
    oracle in this registry relies on."""
    from syncquill_spark.operators.text import dedup_lines_across

    (documents,) = load_tables(spark, sf_dir, "documents")
    docs2 = documents.select(
        "doc_id",
        F.regexp_replace("text", _LINE_SEED_WORD, "\n").alias("text"),
    )
    out = dedup_lines_across(docs2, min_docs=2, mode="drop")
    return out.select("doc_id", "n_lines", "n_lines_kept", "text_deduped")


def _lines_dedup_sql() -> str:
    w = _LINE_SEED_WORD
    return f"""
WITH d AS (
  SELECT doc_id, replace(text, '{w}', chr(10)) AS text FROM documents
),
s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
o AS (SELECT doc_id, UNNEST(range(1, len(ls) + 1)) AS i, ls FROM s),
lines AS (SELECT doc_id, i, ls[i] AS line FROM o),
flagged AS (
  SELECT line FROM lines WHERE len(trim(line)) >= 1
  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT doc_id, i, line FROM lines
  WHERE line NOT IN (SELECT line FROM flagged)
),
reb AS (
  SELECT doc_id, COUNT(*) AS nk,
         string_agg(line, chr(10) ORDER BY i) AS txt
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.ls) AS BIGINT) AS n_lines,
       CAST(COALESCE(reb.nk, 0) AS BIGINT) AS n_lines_kept,
       COALESCE(reb.txt, '') AS text_deduped
FROM s LEFT JOIN reb USING (doc_id)
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + invisibles strip
    (``normalize_text``): the fixture text is ASCII, so both engines
    first INJECT the pathologies with the same literal replaces —
    every 'e' gains a combining acute (U+0301), every 'a' a zero-width
    space (U+200B) — then the operator must strip the zero-widths and
    compose e+acute to the precomposed é. Oracle = DuckDB
    ``nfc_normalize`` over the same regexp strip — two independent
    Unicode implementations (Python unicodedata vs DuckDB's utf8proc)
    agreeing character-for-character."""
    from syncquill_spark.operators.text import normalize_text

    (documents,) = load_tables(spark, sf_dir, "documents")
    dirty = documents.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", "e", "e\u0301"), "a", "a\u200b"
        ).alias("text"),
    )
    out = normalize_text(dirty)  # NFC, strip_invisibles
    return out.select(
        "doc_id",
        F.length("text_norm").cast("long").alias("n_chars_norm"),
        F.col("text_norm"),
    )


def _normalize_sql() -> str:
    from syncquill_spark.operators.text import INVISIBLES_CLASS

    return f"""
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars_norm,
       t AS text_norm
FROM (
  SELECT doc_id,
         nfc_normalize(
           regexp_replace(
             replace(replace(text, 'e', 'e' || chr(769)),
                     'a', 'a' || chr(8203)),
             '{INVISIBLES_CLASS}', '', 'g')
         ) AS t
  FROM documents
)
"""


_RERANK_DEPTH = 50


def q_similarity_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ serving (`ivfpq_topk_rerank`): ADC
    top-{_RERANK_DEPTH} candidates from the coarse stage
    (similarity_topk_ivfpq's exact parameters), then an exact float
    cosine re-rank of the candidates alone down to top-k — the deployed
    shape that buys back PQ quantization loss while still touching
    floats for only |queries| x depth rows. The oracle wraps the
    registered IVF-PQ SQL (k=depth) as the candidate subquery and
    replays the exact-cosine re-rank with the same
    left-to-right-fold score the brute-force oracle uses."""
    from syncquill_spark.operators.similarity import ivfpq_topk_rerank

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_rerank(
        embeddings, queries, k=_TOPK, rerank=_RERANK_DEPTH,
        n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
    )


def _rerank_sql() -> str:
    cos = (
        "list_reduce(list_transform(range(1, len(c.embedding) + 1), "
        "i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), "
        "(a, b) -> a + b) "
        "/ (sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1), "
        "i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)) "
        "* sqrt(list_reduce(list_transform(range(1, len(c.embedding) + 1), "
        "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), "
        "(a, b) -> a + b)))"
    )
    return f"""
WITH adc AS (
  SELECT query_id, neighbor_id FROM ({_ivfpq_sql(k=_RERANK_DEPTH)}) t
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {_QUERY_MOD} = 0
),
rescored AS (
  SELECT a.query_id, a.neighbor_id, {cos} AS score
  FROM adc a
  JOIN embeddings c ON a.neighbor_id = c.vec_id
  JOIN q ON q.query_id = a.query_id
)
SELECT query_id, neighbor_id, rk FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM rescored) t
WHERE rk <= {_TOPK}
"""


_TEMP_TOTAL, _TEMP_ALPHA = 120, 0.5


def q_curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled training mix (`temperature_mix`): stratum
    shares proportional to n_lang**alpha (alpha=0.5 = T=2, the
    multilingual-pretraining standard), resolved to exact counts by
    largest remainder and selected by the salted-hash prefix rank.
    Every decision the oracle replays is integer-exact or a fixed-order
    IEEE op: weights are floor(sqrt(n)*1e6+0.5) int64 (sqrt is
    correctly rounded everywhere — no libm pow), the weight sum is an
    integer sum, each quota is one multiply + one divide."""
    from syncquill_spark.operators.curation import temperature_mix

    (documents,) = load_tables(spark, sf_dir, "documents")
    return temperature_mix(
        documents, total=_TEMP_TOTAL, alpha=_TEMP_ALPHA
    ).select("doc_id", "lang", "mix_rank")


def _temperature_mix_sql() -> str:
    h = _H60.format(x="'mix-v1:' || CAST(doc_id AS VARCHAR)")
    total = _TEMP_TOTAL
    return f"""
WITH n AS (SELECT lang, COUNT(*) AS nn FROM documents GROUP BY lang),
w AS (
  SELECT lang, nn,
         CAST(FLOOR(sqrt(CAST(nn AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS wq
  FROM n
),
q AS (
  SELECT lang, nn, wq,
         CAST({total} AS DOUBLE) * CAST(wq AS DOUBLE)
           / CAST((SELECT SUM(wq) FROM w) AS DOUBLE) AS qv
  FROM w
),
b AS (
  SELECT lang, nn, qv, CAST(FLOOR(qv) AS BIGINT) AS base,
         qv - FLOOR(qv) AS rem
  FROM q
),
k AS (
  SELECT lang,
         LEAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
                                <= {total} - (SELECT SUM(base) FROM b)
                           THEN 1 ELSE 0 END,
               nn) AS kk
  FROM b
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {h} ASC, doc_id ASC) AS mix_rank
  FROM documents
)
SELECT r.doc_id, r.lang, CAST(r.mix_rank AS BIGINT) AS mix_rank
FROM r JOIN k USING (lang) WHERE mix_rank <= kk
"""


# the fixture carries no URL column; both engines synthesize one from
# doc_id with ONE deterministic expression (the
# text_lines_dedup precedent), injecting the canonicalization
# pathologies the operator exists to fold: case, www, default ports,
# tracking params (mixed-case keys), fragments, param order, trailing
# slash, and an unparseable group. The SPARK side runs the real
# parse_url-based operator on the URL STRINGS; the ORACLE never
# parses — it derives each row's canonical form algebraically from
# the same fixture columns, so any drift in the operator's parsing,
# param filtering/sorting, or survivor rule breaks the fingerprint.
_URL_CELL = 7


def q_curation_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (the CC-pipeline pre-hash step): keep ONE
    row per canonical URL (min doc_id survivor), keep every row whose
    URL fails to canonicalize. Seven URL variants per id-cell: three
    cosmetically-different spellings of one resource (plain;
    uppercase+www+:443+trailing slash; tracking params+fragment), two
    spellings of a second resource differing only in param order /
    injected tracking param, one unparseable, one distinct http://
    resource (scheme is identity-bearing). Near-variant of registered
    curation_blocklist's join-back shape; the canonicalization rule
    table lives at operators/curation.py::canonicalize_urls."""
    from syncquill_spark.operators.curation import url_dedup

    (documents,) = load_tables(spark, sf_dir, "documents")
    m = F.col("doc_id") % _URL_CELL
    base = F.concat(
        F.lit("docs/"), F.expr(f"doc_id div {_URL_CELL}").cast("string")
    )
    url = (
        F.when(m == 0, F.concat(F.lit("https://example.com/"), base))
        .when(
            m == 1,
            F.concat(F.lit("HTTPS://WWW.Example.COM:443/"), base, F.lit("/")),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://example.com/"),
                base,
                F.lit("?UTM_Source=feed&fbclid=abc#sec-2"),
            ),
        )
        .when(
            m == 3, F.concat(F.lit("https://example.com/"), base, F.lit("?b=2&a=1"))
        )
        .when(
            m == 4,
            F.concat(
                F.lit("https://example.com/"),
                base,
                F.lit("?a=1&utm_campaign=x&b=2"),
            ),
        )
        .when(m == 5, F.lit("not a parseable url"))
        .otherwise(F.concat(F.lit("http://www.example.com:80/"), base))
    )
    return url_dedup(documents.withColumn("url", url)).select("doc_id", "lang")


def _url_dedup_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, lang, doc_id % {_URL_CELL} AS m,
         CAST(doc_id // {_URL_CELL} AS VARCHAR) AS cell
  FROM documents
),
canon AS (
  SELECT doc_id, lang,
    CASE
      WHEN m IN (0, 1, 2) THEN 'https://example.com/docs/' || cell
      WHEN m IN (3, 4) THEN 'https://example.com/docs/' || cell || '?a=1&b=2'
      WHEN m = 6 THEN 'http://example.com/docs/' || cell
      ELSE NULL END AS uc
  FROM u
),
keep AS (
  SELECT MIN(doc_id) AS doc_id FROM canon WHERE uc IS NOT NULL GROUP BY uc
  UNION ALL
  SELECT doc_id FROM canon WHERE uc IS NULL
)
SELECT c.doc_id, c.lang FROM canon c JOIN keep USING (doc_id)
"""


# the fuzzy record-linkage family's fixture blocker (every fixture
# name column is degenerate: part.p_name has ~64 distinct values so
# pair output is quadratic in table size; customer/supplier names are
# single-token serial strings) falls to the same synthesized-column
# precedent: both engines derive a name catalog from doc_id with pure
# arithmetic + ASCII concatenation (the cross-engine Levenshtein
# caveat — Spark edits CHARACTERS, DuckDB edits UTF-8 BYTES — is
# byte-free on ASCII, the exact contract the operator's docstring
# states). Planted per 7-id cell: a base "fn<i> ln<j>" name, a
# 1-deletion twin, a 1-insertion twin (dist 2 to the deletion twin),
# a same-first/shifted-last variant, a shifted-first/same-last
# variant, a stopword-prefixed variant ('the ...' — its token df is
# the CELL COUNT, blowing past the df cap, so the hub cap provably
# fires AND its +4-char prefix exercises the length prefilter), and a
# single-token unique name (no pairs by the stated recall contract).
#
# The df cap SCALES with the fixture (ADVICE r12): at a fixed cap of
# 20 the design only held below ~3400 docs — at the 5000-doc sf0.1
# documents table every plain fn/ln blocking token reaches df 32-42
# (ln<k> appears ~6x per owning cell-chain: m=0,1,2,4,5 of its own
# cell + m=3 of the previous; fn<k> ~4x), so ALL planted twins were
# silently capped and output came only from accidental 'fn<i>x'/
# truncated-token blocks (cross-engine parity held; the planted-
# structure claim didn't). Both engines now derive the cap from the
# same arithmetic on the same table — max(20, 6*cells//_LN_MOD + 4):
# 6*cells//_LN_MOD is the worst-case planted-token df, +4 is boundary
# slack; 'the' (df = cells) still exceeds it for any cells > ~5, so
# the hub-cap demonstration survives every scale. At 500-doc fixtures
# (sf0.001/0.01) the computed cap is the floor 20 — the pinned
# fingerprints there are unchanged.
_FN_MOD, _LN_MOD, _NAME_CELL, _NAME_MAXDF = 89, 101, 7, 20


def _name_maxdf(n_docs: int) -> int:
    cells = n_docs // _NAME_CELL + 1
    return max(_NAME_MAXDF, 6 * cells // _LN_MOD + 4)


def q_dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (block on shared token + banded
    Levenshtein verify, token-df hub cap ON): id pairs within 2 edits
    over the synthesized catalog. The Spark side runs the real
    operator (explode/distinct token table, df<=20 cap, candidate
    self-join, length prefilter, thresholded levenshtein); the oracle
    replays block-then-verify in SQL on the same derived names.
    Unit/hypothesis pins for the operator live in tests/test_dedup.py
    (planted Zipf catalog, tools/name_catalog.py); this pair adds the
    missing cross-engine fingerprint. The df cap scales with the
    fixture's cell count (see _name_maxdf) so the planted twins
    survive blocking at every SF, not just the 500-doc fixtures."""
    from syncquill_spark.operators.dedup import fuzzy_name_pairs

    (documents,) = load_tables(spark, sf_dir, "documents")
    maxdf = _name_maxdf(documents.count())
    cell = F.expr(f"doc_id div {_NAME_CELL}")
    m = F.col("doc_id") % _NAME_CELL
    f = F.concat(F.lit("fn"), (cell % _FN_MOD).cast("string"))
    l = F.concat(F.lit("ln"), (cell % _LN_MOD).cast("string"))
    l_shift = F.concat(F.lit("ln"), ((cell + 1) % _LN_MOD).cast("string"))
    f_shift = F.concat(F.lit("fn"), ((cell + 1) % _FN_MOD).cast("string"))
    f_trunc = F.substring(f, 1, F.length(f) - F.lit(1))
    sp = F.lit(" ")
    name = (
        F.when(m == 0, F.concat(f, sp, l))
        .when(m == 1, F.concat(f_trunc, sp, l))
        .when(m == 2, F.concat(f, F.lit("x"), sp, l))
        .when(m == 3, F.concat(f, sp, l_shift))
        .when(m == 4, F.concat(f_shift, sp, l))
        .when(m == 5, F.concat(F.lit("the "), f, sp, l))
        .otherwise(F.concat(F.lit("solo"), F.col("doc_id").cast("string")))
    )
    return fuzzy_name_pairs(
        documents.select("doc_id", name.alias("name")),
        max_dist=2,
        max_token_df=maxdf,
    )


def _fuzzy_names_sql() -> str:
    return f"""
WITH names AS (
  SELECT doc_id AS id,
    CASE doc_id % {_NAME_CELL}
      WHEN 0 THEN 'fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR)
           || ' ln' || CAST((doc_id // {_NAME_CELL}) % {_LN_MOD} AS VARCHAR)
      WHEN 1 THEN substr('fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR),
                         1, length('fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR)) - 1)
           || ' ln' || CAST((doc_id // {_NAME_CELL}) % {_LN_MOD} AS VARCHAR)
      WHEN 2 THEN 'fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR) || 'x'
           || ' ln' || CAST((doc_id // {_NAME_CELL}) % {_LN_MOD} AS VARCHAR)
      WHEN 3 THEN 'fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR)
           || ' ln' || CAST(((doc_id // {_NAME_CELL}) + 1) % {_LN_MOD} AS VARCHAR)
      WHEN 4 THEN 'fn' || CAST(((doc_id // {_NAME_CELL}) + 1) % {_FN_MOD} AS VARCHAR)
           || ' ln' || CAST((doc_id // {_NAME_CELL}) % {_LN_MOD} AS VARCHAR)
      WHEN 5 THEN 'the fn' || CAST((doc_id // {_NAME_CELL}) % {_FN_MOD} AS VARCHAR)
           || ' ln' || CAST((doc_id // {_NAME_CELL}) % {_LN_MOD} AS VARCHAR)
      ELSE 'solo' || CAST(doc_id AS VARCHAR)
    END AS nm
  FROM documents
),
toks AS (
  SELECT DISTINCT id, tok FROM (
    SELECT id, UNNEST(regexp_split_to_array(nm, '\\s+')) AS tok FROM names
  ) WHERE tok <> ''
),
rare AS (
  -- df cap scales with the fixture: same arithmetic as _name_maxdf
  SELECT tok FROM toks GROUP BY tok
  HAVING COUNT(*) <= (
    SELECT GREATEST({_NAME_MAXDF},
                    6 * (COUNT(*) // {_NAME_CELL} + 1) // {_LN_MOD} + 4)
    FROM documents
  )
),
capped AS (
  SELECT t.id, t.tok FROM toks t JOIN rare USING (tok)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM capped a JOIN capped b USING (tok)
  WHERE a.id < b.id
)
SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
       CAST(levenshtein(na.nm, nb.nm) AS BIGINT) AS dist
FROM cand c
JOIN names na ON c.id_a = na.id
JOIN names nb ON c.id_b = nb.id
WHERE abs(length(na.nm) - length(nb.nm)) <= 2
  AND levenshtein(na.nm, nb.nm) <= 2
"""

# --- multimodal_triage (added r14, r13 verdict #3): the decodability
# gate's cross-engine fingerprint. The synthetic corpus knows
# decodability BY CONSTRUCTION — per 6-id cell the payload is a valid
# PPM (multimodal_decode's md5-raster build), the same PPM with the
# raster cut at 32 of 48 bytes, a valid 4-sample PCM WAV (constant
# header + 8 md5-derived data bytes), that WAV cut inside the fmt
# chunk (RIFF magic intact — the exact partial-upload shape that
# aborts strict decode stages), a PNG magic no codec handles, and a
# NULL payload. The Spark side runs the REAL media_triage (actual
# header parse + raster/chunk-walk decode per payload); the oracle
# derives (ok, modality, error_class) ALGEBRAICALLY from doc_id % 6 —
# a green fingerprint proves the real decoder classifies every
# planted corruption exactly as constructed. Near-variant precedent:
# registered multimodal_decode (same payload construction, strict
# path); error CLASS not message text (messages are codec-internal).
_WAV_HEADER = (
    b"RIFF" + (36 + 8).to_bytes(4, "little") + b"WAVE"
    + b"fmt " + (16).to_bytes(4, "little")
    + (1).to_bytes(2, "little")      # PCM
    + (1).to_bytes(2, "little")      # mono
    + (8000).to_bytes(4, "little")   # sample rate
    + (16000).to_bytes(4, "little")  # byte rate
    + (2).to_bytes(2, "little")      # block align
    + (16).to_bytes(2, "little")     # bits
    + b"data" + (8).to_bytes(4, "little")
)


def q_multimodal_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syncquill_spark.operators.multimodal import media_triage

    (documents,) = load_tables(spark, sf_dir, "documents")
    hx2 = F.concat(
        F.md5(F.concat(F.col("text"), F.lit("|0"))),
        F.md5(F.concat(F.col("text"), F.lit("|1"))),
    )
    hx3 = F.concat(hx2, F.md5(F.concat(F.col("text"), F.lit("|2"))))
    ppm_hdr = F.encode(F.lit("P6\n4 4\n255\n"), "UTF-8")
    m = F.col("doc_id") % 6
    payload = (
        F.when(m == 0, F.concat(ppm_hdr, F.unhex(hx3)))
        .when(m == 1, F.concat(ppm_hdr, F.unhex(hx2)))  # 32/48 raster bytes
        .when(
            m == 2,
            F.concat(
                F.lit(_WAV_HEADER),
                F.unhex(F.substring(F.md5(F.col("text")), 1, 16)),
            ),
        )
        .when(m == 3, F.lit(_WAV_HEADER[:20]))  # cut inside fmt chunk
        .when(m == 4, F.lit(b"\x89PNG\r\n\x1a\n not a codec we ship"))
        .otherwise(F.lit(None).cast("binary"))
    )
    out = media_triage(
        documents.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    )
    return out.select(
        "media_id",
        F.col("ok").cast("long").alias("ok"),
        "modality",
        F.when(F.col("ok"), F.lit(None).cast("string"))
        .when(F.col("error") == "null payload", F.lit("null"))
        .when(F.col("error").startswith("no codec"), F.lit("unknown_magic"))
        .otherwise(F.lit("decode_error"))
        .alias("error_class"),
    )


def _multimodal_triage_sql() -> str:
    return """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 6 IN (0, 2) THEN 1 ELSE 0 END AS ok,
  CASE doc_id % 6 WHEN 0 THEN 'image' WHEN 2 THEN 'audio'
       ELSE NULL END AS modality,
  CASE doc_id % 6 WHEN 1 THEN 'decode_error' WHEN 3 THEN 'decode_error'
       WHEN 4 THEN 'unknown_magic' WHEN 5 THEN 'null'
       ELSE NULL END AS error_class
FROM documents
"""


# --- multimodal_media_pairs (added r15, r14 verdict #5): the
# perceptual media near-dup family's cross-engine fingerprint — until
# now the largest unit-only family. The corpus plants TWINS by
# construction, per 6-id cell: m=0 a 16x8 P6 image with cell-derived
# md5 raster; m=1 the SAME pixels under a byte-DIFFERENT container (a
# '#' comment injected in the PPM header — the parser's documented
# comment tolerance), so dHash must land hamming 0 through genuinely
# different payload bytes; m=2 an unrelated image (independent raster
# — expected hamming ~32 to everything, never pairs at max_hamming 6);
# m=3 a 128-frame 16-bit mono WAV with cell-derived data; m=4 the SAME
# data chunk under a DIFFERENT declared sample rate (8k vs 16k — the
# energy hash is a pure function of decoded frames, so container
# metadata must not separate them); m=5 an unrelated WAV. The Spark
# side runs the REAL codecs + dHash/energy-hash + the bits=64
# hamming-band machinery (media_fingerprints -> media_near_pairs);
# the oracle derives the exact pair set ALGEBRAICALLY from doc_id
# arithmetic — ('image', 6c, 6c+1, 0) and ('audio', 6c+3, 6c+4, 0)
# per complete cell, nothing else (independent md5-derived rasters
# collide below hamming 7 with probability ~1e-11 per pair; the
# fixture is deterministic, so a green fingerprint at all three SFs
# pins this forever). Near-variant precedent: registered
# dedup_simhash_pairs (same band join at bits=64) and
# multimodal_decode (same payload construction).
_IMG_HDR = b"P6\n16 8\n255\n"                 # 384-byte raster = 24 md5s
_IMG_HDR_TWIN = b"P6\n# container twin\n16 8\n255\n"


def _media_wav_hdr(rate: int, data_size: int) -> bytes:
    return (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + (1).to_bytes(2, "little")            # mono
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")     # byte rate
        + (2).to_bytes(2, "little")            # block align
        + (16).to_bytes(2, "little")           # bits
        + b"data" + data_size.to_bytes(4, "little")
    )


def _media_md5_chain(seed: str, n: int) -> F.Column:
    """n*16 cell-derived pseudorandom bytes (NOT doc-derived: the m=0/
    m=1 twins are different docs that must carry identical content)."""
    cell = F.expr("doc_id div 6").cast("string")
    return F.unhex(
        F.concat(
            *[
                F.md5(F.concat(F.lit(f"{seed}:"), cell, F.lit(f":{i}")))
                for i in range(n)
            ]
        )
    )


def q_multimodal_media_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syncquill_spark.operators.multimodal import (
        media_fingerprints,
        media_near_pairs,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    img = _media_md5_chain("img", 24)
    aud = _media_md5_chain("aud", 16)          # 256 bytes = 128 frames
    payload = (
        F.when(m == 0, F.concat(F.lit(_IMG_HDR), img))
        .when(m == 1, F.concat(F.lit(_IMG_HDR_TWIN), img))
        .when(m == 2, F.concat(F.lit(_IMG_HDR), _media_md5_chain("imgy", 24)))
        .when(m == 3, F.concat(F.lit(_media_wav_hdr(8000, 256)), aud))
        .when(m == 4, F.concat(F.lit(_media_wav_hdr(16000, 256)), aud))
        .otherwise(
            F.concat(F.lit(_media_wav_hdr(8000, 256)), _media_md5_chain("audy", 16))
        )
    )
    fp = media_fingerprints(
        documents.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    )
    return media_near_pairs(fp).select(
        "modality", "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _multimodal_media_pairs_sql() -> str:
    return """
SELECT 'image' AS modality, a.doc_id AS id_a, a.doc_id + 1 AS id_b,
       CAST(0 AS BIGINT) AS hamming
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 6 = 0
UNION ALL
SELECT 'audio' AS modality, a.doc_id AS id_a, a.doc_id + 1 AS id_b,
       CAST(0 AS BIGINT) AS hamming
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 6 = 3
"""


# --- multimodal_video_pairs (added r16, r15 verdict #6): the video
# frame-vote near-dup path (`operators/multimodal.py video_near_pairs`)
# — the one media surface pair 9 left out (it covers image + audio
# single-fingerprint pairing; video pairs on DISTINCT-FRAME VOTES).
# The corpus plants per-cell frame sequences whose matching pairs are
# derivable from id arithmetic, per 3-id cell: m=0 a 4-frame "video"
# (each frame a complete 16x8 P6 image of exactly 395 bytes, raster
# md5-derived from (cell, frame)); m=1 the SAME sequence with frame 1
# replaced by an independent raster — 3 shared frames, so the pair
# (3c, 3c+1) votes n_frame_matches=3 (>= min_frames=2); m=2 an
# unrelated 4-frame sequence (independent rasters never land within
# hamming 6 — the pair-9 ~1e-11 collision argument, deterministic
# fixture, pinned at all three SFs). The Spark side runs the REAL
# 1->K frame expansion (sample_frames), per-frame PPM decode + dHash,
# the synthetic-frame-id band join, and the distinct-frame-pair vote;
# the oracle derives ('3c', '3c+1', 3) per complete cell
# algebraically. Near-variant precedent: queued
# multimodal_media_pairs (same codecs + band machinery) and
# registered dedup_simhash_pairs (same band join).
_VID_FRAME_HDR = b"P6\n16 8\n255\n"
_VID_FRAME_BYTES = len(_VID_FRAME_HDR) + 384  # 395: header + 16x8x3 raster
_VID_N_FRAMES = 4


def _vid_frame(seed: str, frame: int) -> F.Column:
    """One complete 395-byte PPM frame; raster bytes derive from
    (cell, seed, frame) — NOT from doc_id, so the m=0/m=1 twins carry
    identical shared frames across different docs."""
    cell = F.expr("doc_id div 3").cast("string")
    raster = F.unhex(
        F.concat(
            *[
                F.md5(F.concat(F.lit(f"{seed}:"), cell, F.lit(f":{frame}:{i}")))
                for i in range(24)
            ]
        )
    )
    return F.concat(F.lit(_VID_FRAME_HDR), raster)


def _vid_payload(frames: list[F.Column]) -> F.Column:
    out = frames[0]
    for fr in frames[1:]:
        out = F.concat(out, fr)
    return out


def q_multimodal_video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syncquill_spark.operators.multimodal import (
        video_frame_fingerprints,
        video_near_pairs,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    base = [_vid_frame("vid", j) for j in range(_VID_N_FRAMES)]
    twin = list(base)
    twin[1] = _vid_frame("vidB", 1)  # one frame differs -> 3 shared
    other = [_vid_frame("vidY", j) for j in range(_VID_N_FRAMES)]
    payload = (
        F.when(m == 0, _vid_payload(base))
        .when(m == 1, _vid_payload(twin))
        .otherwise(_vid_payload(other))
    )
    fps = video_frame_fingerprints(
        documents.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        ),
        frame_bytes=_VID_FRAME_BYTES,
    )
    return video_near_pairs(fps, min_frames=2)


def _multimodal_video_pairs_sql() -> str:
    return f"""
SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
       CAST({_VID_N_FRAMES - 1} AS BIGINT) AS n_frame_matches
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 3 = 0
"""


QUEUE_QUERIES = {
    "text_bigram_pruned_gate": q_text_bigram_pruned_gate,
    "text_lines_dedup": q_text_lines_dedup,
    "text_normalize": q_text_normalize,
    "similarity_topk_rerank": q_similarity_topk_rerank,
    "curation_temperature_mix": q_curation_temperature_mix,
    "curation_url_dedup": q_curation_url_dedup,
    "dedup_fuzzy_names": q_dedup_fuzzy_names,
    "multimodal_triage": q_multimodal_triage,
    "multimodal_media_pairs": q_multimodal_media_pairs,
    "multimodal_video_pairs": q_multimodal_video_pairs,
}

QUEUE_ORACLES = {
    "text_bigram_pruned_gate": _bigram_pruned_gate_sql(),
    "text_lines_dedup": _lines_dedup_sql(),
    "text_normalize": _normalize_sql(),
    "similarity_topk_rerank": _rerank_sql(),
    "curation_temperature_mix": _temperature_mix_sql(),
    "curation_url_dedup": _url_dedup_sql(),
    "dedup_fuzzy_names": _fuzzy_names_sql(),
    "multimodal_triage": _multimodal_triage_sql(),
    "multimodal_media_pairs": _multimodal_media_pairs_sql(),
    "multimodal_video_pairs": _multimodal_video_pairs_sql(),
}
