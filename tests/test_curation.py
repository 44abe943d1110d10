"""Unit tests for the corpus-curation operators (EXT tier)."""

from __future__ import annotations

from pyspark.sql import functions as F

from syncquill_spark.functions.vectors import quantize_int8
from syncquill_spark.operators.curation import hash_split, pack_sequences, redact_pii


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# hash_split
# ---------------------------------------------------------------------------


def test_hash_split_deterministic_and_total(spark):
    df = _docs(spark, [(i, f"doc {i}", "en") for i in range(200)])
    a = {r.doc_id: (r.bucket, r.split) for r in hash_split(df).collect()}
    b = {r.doc_id: (r.bucket, r.split) for r in hash_split(df).collect()}
    assert a == b
    assert all(0 <= v[0] < 100 for v in a.values())
    assert all(v[1] in {"train", "val", "test"} for v in a.values())
    # labels follow buckets exactly
    for bucket, split in a.values():
        want = "train" if bucket < 96 else ("val" if bucket < 98 else "test")
        assert split == want


def test_hash_split_stable_under_subset(spark):
    # membership of a doc must not depend on what else is in the batch
    full = {r.doc_id: r.split for r in hash_split(_docs(spark, [(i, "x", "en") for i in range(50)])).collect()}
    sub = {r.doc_id: r.split for r in hash_split(_docs(spark, [(i, "x", "en") for i in range(0, 50, 7)])).collect()}
    for k, v in sub.items():
        assert full[k] == v


def test_hash_split_salt_changes_assignment(spark):
    df = _docs(spark, [(i, "x", "en") for i in range(300)])
    a = {r.doc_id: r.bucket for r in hash_split(df, salt="s1").collect()}
    b = {r.doc_id: r.bucket for r in hash_split(df, salt="s2").collect()}
    assert any(a[k] != b[k] for k in a)


# ---------------------------------------------------------------------------
# redact_pii
# ---------------------------------------------------------------------------


def test_redact_pii_patterns(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at jo.doe+x@my-site.org now", "en"),
            (2, "server 192.168.0.1 and 10.0.0.255 up", "en"),
            (3, "call +44-20-7946-0958 today", "en"),
            (4, "nothing sensitive here", "en"),
        ],
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].text_redacted == "mail me at <EMAIL> now"
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert out[2].text_redacted == "server <IP> and <IP> up"
    assert out[2].n_ips == 2
    assert out[3].text_redacted == "call <PHONE> today"
    assert out[3].n_phones == 1
    assert out[4].text_redacted == "nothing sensitive here"
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (0, 0, 0)


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_sequences_contiguous_budget(spark):
    # ~5 bpe-ish tokens per doc ("aaaa " * 5 -> 5 four-char words)
    df = _docs(spark, [(i, ("aaaa " * 5).strip(), "en") for i in range(100)])
    rows = sorted(pack_sequences(df, budget=50, stratify_col="lang").collect(),
                  key=lambda r: r.doc_id)
    assert all(r.n_tokens == 5 for r in rows)
    # 50-token budget / 5-token docs -> 10 docs per pack, in doc_id order
    for r in rows:
        assert r.pack_id == r.doc_id // 10
    # pack ids are contiguous from 0 and non-decreasing in doc order
    assert rows[0].pack_id == 0
    assert all(b.pack_id >= a.pack_id for a, b in zip(rows, rows[1:]))


def test_pack_sequences_stratified(spark):
    df = _docs(spark, [(i, "aaaa bbbb", "en" if i % 2 else "de") for i in range(40)])
    rows = pack_sequences(df, budget=8, stratify_col="lang").collect()
    # each stratum packs independently: both langs start at pack 0
    for lang in ("en", "de"):
        packs = [r.pack_id for r in rows if r.lang == lang]
        assert min(packs) == 0
    # 2 tokens/doc, budget 8 -> 4 docs per pack within each stratum
    by_pack: dict = {}
    for r in rows:
        by_pack.setdefault((r.lang, r.pack_id), 0)
        by_pack[(r.lang, r.pack_id)] += r.n_tokens
    assert all(v <= 8 for v in by_pack.values())


def test_pack_overflow_tolerance(spark):
    # a doc bigger than the budget still gets its own pack (boundary doc
    # may overflow; packing never splits a document)
    df = _docs(spark, [(1, "aaaa " * 100, "en"), (2, "bbbb", "en")])
    rows = {r.doc_id: r for r in pack_sequences(df, budget=10, stratify_col="lang").collect()}
    assert rows[1].pack_id == 0
    assert rows[2].pack_id == 10  # cumsum_before=100 -> floor(100/10)


# ---------------------------------------------------------------------------
# quantize_int8
# ---------------------------------------------------------------------------


def test_quantize_int8_range_and_dequant(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [3.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            "embedding",
            quantize_int8(F.col("embedding")).alias("q"),
        ).collect()
    }
    assert out[2].q == [0, 0, 0, 0]  # zero vector -> zeros, no div-by-0
    assert out[3].q == [127]  # max element always hits full scale
    for r in out.values():
        assert all(-127 <= v <= 127 for v in r.q)
        scale = max(abs(x) for x in r.embedding) / 127.0
        for x, qv in zip(r.embedding, r.q):
            if scale:
                assert abs(qv * scale - x) <= scale / 2 + 1e-12


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def test_stratified_sample_rates_and_determinism(spark):
    from syncquill_spark.operators.curation import (
        deterministic_sample,
        stratified_sample,
    )

    rows = [(i, f"doc {i}", "en" if i % 2 else "zh") for i in range(400)]
    df = _docs(spark, rows)
    out = stratified_sample(df, {"en": 0.0, "zh": 1.0})
    got = sorted(r.doc_id for r in out.collect())
    assert got == [i for i in range(400) if i % 2 == 0]  # all zh, no en
    # repeated run identical
    assert got == sorted(r.doc_id for r in stratified_sample(df, {"en": 0.0, "zh": 1.0}).collect())


def test_stratified_sample_matches_flat_sample_per_stratum(spark):
    # a stratum sampled at rate f must equal deterministic_sample(f)
    # restricted to that stratum (same salt => same membership)
    from syncquill_spark.operators.curation import (
        deterministic_sample,
        stratified_sample,
    )

    rows = [(i, f"doc {i}", "en" if i % 3 else "de") for i in range(300)]
    df = _docs(spark, rows)
    strat = {r.doc_id for r in stratified_sample(df, {"en": 0.3}, default_fraction=0.0).collect()}
    flat = {
        r.doc_id
        for r in deterministic_sample(df.filter(F.col("lang") == "en"), 0.3).collect()
    }
    assert strat == flat


def test_stratified_sample_default_fraction(spark):
    from syncquill_spark.operators.curation import stratified_sample

    df = _docs(spark, [(i, "x", "fr") for i in range(100)])
    assert stratified_sample(df, {"en": 1.0}).count() == 0
    assert stratified_sample(df, {"en": 0.0}, default_fraction=1.0).count() == 100


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------


def test_decontaminate_flags_only_leaky_docs(spark):
    from syncquill_spark.operators.curation import decontaminate

    evald = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta", "en")])
    train = _docs(
        spark,
        [
            (1, "clean document with entirely different words here", "en"),
            (2, "prefix words then alpha beta gamma delta epsilon tail", "en"),
            (100, "alpha beta gamma delta epsilon zeta", "en"),  # eval member
        ],
    )
    out = {r.doc_id: r.n_contaminated_ngrams for r in decontaminate(train, evald, k=5).collect()}
    assert out == {2: 1}  # one shared 5-gram; eval doc itself not reported


# ---------------------------------------------------------------------------
# deterministic_shuffle / filter_blocklist
# ---------------------------------------------------------------------------


def test_deterministic_shuffle_is_a_permutation(spark):
    from syncquill_spark.operators.curation import deterministic_shuffle

    df = _docs(spark, [(i, "x", "en") for i in range(200)])
    out = deterministic_shuffle(df, 4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense 1..n
    # reproducible
    again = {(r.doc_id): (r.shard, r.pos) for r in deterministic_shuffle(df, 4).collect()}
    assert {(r.doc_id): (r.shard, r.pos) for r in out} == again
    # a different salt is a different permutation
    other = {(r.doc_id): (r.shard, r.pos) for r in deterministic_shuffle(df, 4, salt="epoch-2").collect()}
    assert other != again


def test_filter_blocklist_drops_only_blocked(spark):
    from syncquill_spark.operators.curation import filter_blocklist

    df = spark.createDataFrame(
        [(1, "a", "spam.com"), (2, "b", "good.org"), (3, "c", "spam.com")],
        "doc_id long, text string, source string",
    )
    blocked = spark.createDataFrame([("spam.com",), ("other.net",)], "source string")
    kept = sorted(r.doc_id for r in filter_blocklist(df, blocked).collect())
    assert kept == [2]


def test_exact_k_per_stratum_counts_and_determinism(spark, sf_dir):
    from syncquill_spark.operators.curation import exact_k_per_stratum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 5
    out = exact_k_per_stratum(docs, k=k)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    pop = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(k, pop[lang]), (lang, n, pop[lang])
    # deterministic: same rows again, and under a different partitioning
    again = {tuple(r) for r in
             exact_k_per_stratum(docs.repartition(13), k=k)
             .select("lang", "doc_id").collect()}
    first = {tuple(r) for r in out.select("lang", "doc_id").collect()}
    assert first == again
    # different salt -> (almost surely) different membership
    other = {tuple(r) for r in
             exact_k_per_stratum(docs, k=k, salt="other")
             .select("lang", "doc_id").collect()}
    assert first != other


def test_exact_k_prefilter_engages_on_dominant_stratum(spark):
    """A stratum above prefilter_factor*k rows is hash-pre-filtered
    before ranking; membership must be IDENTICAL to the naive
    whole-stratum sort, and the plan must show the bounded path."""
    from syncquill_spark.operators.curation import exact_k_per_stratum

    rows = [(i, "en") for i in range(3000)] + [(100000 + i, "fr") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k = 5
    fast = exact_k_per_stratum(df, k=k)  # en: 3000 > 100*5 -> pre-filtered
    naive = exact_k_per_stratum(df, k=k, prefilter_factor=0)
    fast_rows = sorted(tuple(r) for r in fast.collect())
    naive_rows = sorted(tuple(r) for r in naive.collect())
    assert fast_rows == naive_rows
    assert len([r for r in fast_rows if r[1] == "en"]) == k
    assert len([r for r in fast_rows if r[1] == "fr"]) == k
    # the pre-filtered plan carries the per-stratum count + hash filter
    # (the bounded-sort path); the naive plan has neither
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "_cnt" in plan and "_h" in plan
    naive_plan = naive._jdf.queryExecution().optimizedPlan().toString()
    assert "_cnt" not in naive_plan


def test_exact_k_prefilter_fallback_restores_naive_path(spark):
    """margin=0 makes the hash threshold reject (almost) every row of
    every big stratum — the in-plan fallback must detect the starved
    strata (including zero-survivor ones) and re-rank them in full,
    reproducing the naive answer exactly."""
    from syncquill_spark.operators.curation import exact_k_per_stratum

    rows = [(i, "en") for i in range(2000)] + [(100000 + i, "fr") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k = 7
    forced = exact_k_per_stratum(df, k=k, margin=0)
    naive = exact_k_per_stratum(df, k=k, prefilter_factor=0)
    assert sorted(tuple(r) for r in forced.collect()) == sorted(
        tuple(r) for r in naive.collect()
    )


def test_domain_quota_caps_and_keeps_best(spark):
    from pyspark.sql import functions as F

    from syncquill_spark.operators.curation import domain_quota

    rows = [(i, "a" if i < 6 else "b", i * 10) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    out = domain_quota(
        df, quota=3, domain_col="source",
        order_by=[F.col("score").desc()],
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append((r.quota_rank, r.doc_id))
    assert len(by_src["a"]) == 3  # capped from 6
    # best = highest score = highest doc_id within source a (5,4,3)
    assert sorted(by_src["a"]) == [(1, 5), (2, 4), (3, 3)]
    assert len(by_src["b"]) == 3  # under quota side intact


def test_domain_quota_hot_domain_two_stage_is_identity(spark):
    """The auto-engaged hot-domain path (two-stage salted top-k) must
    return EXACTLY the single-window result — same rows, same
    quota_rank values — including under heavy ties, where only the
    id tie-break orders rows. prefilter_factor=1 forces every domain
    hot; factor=0 is the plain reference."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.curation import domain_quota

    # 400 rows, 2 domains, scores with many ties (i % 7)
    rows = [(i, f"d{i % 2}", (i * 3) % 7) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    kw = dict(quota=10, domain_col="source", order_by=[F.col("score").desc()])
    ref = sorted(
        (r.source, r.quota_rank, r.doc_id)
        for r in domain_quota(df, prefilter_factor=0, **kw).collect()
    )
    hot = sorted(
        (r.source, r.quota_rank, r.doc_id)
        for r in domain_quota(df, prefilter_factor=1, n_salt=8, **kw).collect()
    )
    assert hot == ref and len(ref) == 20


def test_fuzzy_decontaminate_drops_near_dup_of_eval(spark):
    """A corpus doc that is a lightly-edited copy of an eval doc is
    dropped; an unrelated doc is kept (exact-gram decontaminate would
    need a verbatim 5-gram -- this catches the paraphrase)."""
    from syncquill_spark.operators.curation import fuzzy_decontaminate

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    near = eval_text.replace("lazy", "sleepy")  # high Jaccard, not verbatim
    corpus = spark.createDataFrame(
        [(1, near), (2, "completely unrelated words about spark clusters only")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
    kept = {r.doc_id for r in fuzzy_decontaminate(
        corpus, eval_df, k=3, n_perm=32, bands=16, threshold=0.3
    ).collect()}
    assert kept == {2}


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a near-dup cluster gets the same split; the
    assignment matches hash_split's bucket math keyed on the cluster
    id; singletons split by their own id."""
    from syncquill_spark.operators.curation import hash_split, leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    # clusters: {1,2,3} (chain) and {7,8}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    assert {by_id[i].cluster_id for i in (1, 2, 3)} == {1}
    assert {by_id[i].split for i in (1, 2, 3)} == {by_id[1].split}
    assert {by_id[i].cluster_id for i in (7, 8)} == {7}
    assert {by_id[i].split for i in (7, 8)} == {by_id[7].split}
    # singletons agree with plain hash_split on their own id
    plain = {r.doc_id: r.split for r in hash_split(docs).collect()}
    for i in (0, 5, 11, 19):
        assert by_id[i].cluster_id == i and by_id[i].split == plain[i]


def test_leakage_safe_split_matches_duckdb_twin(spark, sf_dir):
    """leakage_safe_split over the documents fixture with the n-gram
    near-dup pairs vs a DuckDB twin (recursive-CTE connected
    components + the hash_split md5 math on the cluster id) —
    registry-grade verification ahead of next round's window slot."""
    import duckdb

    from syncquill_spark.operators.curation import leakage_safe_split
    from syncquill_spark.operators.dedup import ngram_jaccard_pairs
    from syncquill_spark.plans.queries_ext import _DEDUP_NGRAM_JACCARD_SQL, _H60

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.2, block_cols=("lang",), length_band=64
    )
    out = leakage_safe_split(docs, pairs)
    got = sorted(
        (r.doc_id, r.cluster_id, r.bucket, r.split)
        for r in out.select("doc_id", "cluster_id", "bucket", "split").collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    h = _H60.format(x="'split-v1:' || CAST(cluster_id AS VARCHAR)")
    expect = sorted(
        tuple(r)
        for r in con.execute(f"""
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
""").fetchall()
    )
    assert got == expect and len(got) > 0
    # clusters really exist in the fixture (the test is not vacuous)
    assert any(c != d for d, c, _, _ in got)


def test_leakage_safe_split_cluster_map_join_is_unhinted(spark):
    """Round-5 verdict #4: the corpus x cluster-map join must carry NO
    forced broadcast hint — the map is sized by the near-duplicate
    population and can be billions of rows on a dup-heavy crawl. With
    autoBroadcastJoinThreshold disabled, an unhinted join plans as
    SortMergeJoin; any surviving BroadcastExchange would prove a hint."""
    import contextlib
    import io

    from syncquill_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = leakage_safe_split(docs, pairs)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan, plan[:2000]
        # identical semantics to the hinted form: clusters still cohere
        by_id = {r.doc_id: r for r in out.collect()}
        assert {by_id[i].cluster_id for i in (1, 2, 3)} == {1}
        assert {by_id[i].split for i in (7, 8)} == {by_id[7].split}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_target_mix_exact_counts_and_prefix_property(spark):
    """target_mix delivers exactly the per-stratum budget (capped by
    the stratum's population), drops strata absent from the targets,
    and a smaller budget is a PREFIX of a larger one — ablation mixes
    share documents by construction."""
    import pytest

    from syncquill_spark.operators.curation import target_mix

    rows = [(i, "en" if i % 3 else "de") for i in range(90)]  # 60 en, 30 de
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = target_mix(df, {"en": 10, "de": 40}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang["en"]) == 10       # exact budget
    assert len(by_lang["de"]) == 30       # capped by population
    assert set(by_lang) == {"en", "de"}   # nothing else sneaks in
    # absent stratum is excluded entirely
    out2 = target_mix(df, {"en": 5}).collect()
    assert {r.lang for r in out2} == {"en"} and len(out2) == 5
    # prefix property: the 5-doc en mix is inside the 10-doc en mix
    assert {r.doc_id for r in out2} <= by_lang["en"]
    with pytest.raises(ValueError):
        target_mix(df, {})


def test_target_mix_tokens_budget_and_overflow(spark):
    """Token-budget mix: docs kept while cumulative tokens BEFORE them
    are under budget (boundary doc overflows rather than splitting —
    pack_sequences' convention); absent strata excluded; smaller
    budget is a prefix of a larger one."""
    import pytest

    from syncquill_spark.operators.curation import target_mix_tokens

    # each doc is 5 bpe-ish tokens ("aaaa " * 5)
    rows = [(i, ("aaaa " * 5).strip(), "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = target_mix_tokens(df, {"en": 23}).collect()
    assert {r.lang for r in out} == {"en"}
    # budget 23, 5 tokens/doc: cum_before 0,5,10,15,20 < 23 -> 5 docs
    # kept (25 tokens total: the boundary doc overflows, is kept whole)
    assert len(out) == 5
    assert sum(r.n_tokens for r in out) == 25
    assert sorted(r.mix_rank for r in out) == [1, 2, 3, 4, 5]
    # prefix property
    small = {r.doc_id for r in target_mix_tokens(df, {"en": 11}).collect()}
    assert small <= {r.doc_id for r in out} and len(small) == 3
    with pytest.raises(ValueError):
        target_mix_tokens(df, {})


def test_target_mix_builds_no_deprecated_map_lookup(spark):
    """Both mixes look their stratum target up as ``map[col]``: the
    ``getItem(Column)`` form warns (FutureWarning) and is deprecated
    for removal."""
    import warnings

    from syncquill_spark.operators.curation import target_mix, target_mix_tokens

    rows = [(i, "aaaa aaaa", "en" if i % 3 else "de") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert len(target_mix(df, {"en": 4, "de": 2}).collect()) == 6
        assert len(target_mix_tokens(df, {"en": 4}).collect()) == 2


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=5, max_size=60),
    k_small=st.integers(min_value=1, max_value=5),
    extra=st.integers(min_value=1, max_value=10),
)
def test_target_mix_prefix_property_holds_for_random_corpora(
    spark, ids, k_small, extra
):
    """Property: for ANY corpus and budgets k < K, target_mix(k) is a
    subset (prefix) of target_mix(K) per stratum, both are exactly
    min(budget, |stratum|) rows, and membership is insensitive to the
    input's partitioning."""
    from syncquill_spark.operators.curation import target_mix

    rows = [(i, "en" if i % 2 else "de") for i in sorted(ids)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k_big = k_small + extra
    small = {
        (r.lang, r.doc_id) for r in target_mix(df, {"en": k_small, "de": k_small}).collect()
    }
    big = {
        (r.lang, r.doc_id) for r in target_mix(df, {"en": k_big, "de": k_big}).collect()
    }
    assert small <= big
    pop = {"en": sum(1 for _, l in rows if l == "en"),
           "de": sum(1 for _, l in rows if l == "de")}
    for lang in ("en", "de"):
        assert sum(1 for l, _ in small if l == lang) == min(k_small, pop[lang])
        assert sum(1 for l, _ in big if l == lang) == min(k_big, pop[lang])
    # partitioning-insensitive: a repartitioned input selects the same set
    again = {
        (r.lang, r.doc_id)
        for r in target_mix(df.repartition(7), {"en": k_big, "de": k_big}).collect()
    }
    assert again == big


def test_pack_sequences_ffd_matches_reference_and_beats_cumsum(spark):
    """FFD packing: matches a pure-Python first-fit-decreasing
    reference exactly, never overfills a pack (except single oversize
    docs), is partitioning-insensitive, and uses no more packs than
    the contiguous cumsum packer on a fragmentation-prone input."""
    from syncquill_spark.operators.curation import pack_sequences, pack_sequences_ffd

    # token counts: "aaaa " * k -> k bpe-ish tokens
    sizes = [7, 7, 7, 3, 3, 3, 3, 3, 1, 1] * 3
    rows = [(i, ("aaaa " * s).strip(), "en") for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = pack_sequences_ffd(df, budget=10).collect()
    got = {r.doc_id: (r.n_tokens, r.pack_id) for r in out}

    # pure-Python FFD reference over the same (tokens desc, id) order
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    remaining, expect = [], {}
    for i in order:
        t = sizes[i]
        for b, room in enumerate(remaining):
            if t <= room:
                remaining[b] = room - t
                expect[i] = b
                break
        else:
            remaining.append(max(10 - t, 0))
            expect[i] = len(remaining) - 1
    assert {k: v[1] for k, v in got.items()} == expect
    # no pack over budget
    fill: dict = {}
    for _, (t, p) in got.items():
        fill[p] = fill.get(p, 0) + t
    assert all(v <= 10 for v in fill.values())
    # fewer-or-equal packs than the contiguous cumsum packer
    cumsum_packs = {
        r.pack_id for r in pack_sequences(df, budget=10, stratify_col="lang").collect()
    }
    assert len(fill) <= len(cumsum_packs)
    # partitioning-insensitive
    again = {
        r.doc_id: r.pack_id
        for r in pack_sequences_ffd(df.repartition(5), budget=10).collect()
    }
    assert again == {k: v[1] for k, v in got.items()}


def test_pack_sequences_ffd_oversize_doc_gets_own_pack(spark):
    from syncquill_spark.operators.curation import pack_sequences_ffd

    df = spark.createDataFrame(
        [(1, "aaaa " * 30, "en"), (2, "aaaa", "en"), (3, "aaaa", "en")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in pack_sequences_ffd(df, budget=10).collect()}
    assert out[1].n_tokens == 30
    # the oversize doc sits alone; the small docs share a different pack
    assert out[2].pack_id == out[3].pack_id != out[1].pack_id


# ---------------------------------------------------------------------------
# stratum_order_stat_values / quality_value_buckets
# ---------------------------------------------------------------------------


def _sig_frame(spark):
    """Strata of very different sizes with repeated signal values (tie
    coverage): lang 'en' dominant (40 rows, values 0..19 twice),
    'fr' small (7 rows), 'xx' all-null signals (3 rows)."""
    rows = [(i, "en", i % 20) for i in range(40)]
    rows += [(100 + i, "fr", [5, 5, 5, 9, 1, 7, 3][i]) for i in range(7)]
    rows += [(200 + i, "xx", None) for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, lang string, sig int")


def _kth_largest(vals, k):
    ordered = sorted(
        vals, key=lambda v: (v is None, -(v if v is not None else 0))
    )
    return ordered[k - 1]


def test_stratum_order_stat_values_exact(spark):
    import math

    from syncquill_spark.operators.curation import stratum_order_stat_values

    df = _sig_frame(spark)
    by_lang = {
        lang: [r.sig for r in df.filter(F.col("lang") == lang).collect()]
        for lang in ("en", "fr", "xx")
    }
    for frac in (0.1, 0.25, 0.5, 0.9, 1.0):
        got = {
            r.lang: r.cutoff
            for r in stratum_order_stat_values(
                df, "sig", frac, stratify_col="lang"
            ).collect()
        }
        want = {
            lang: _kth_largest(vals, math.ceil(frac * len(vals)))
            for lang, vals in by_lang.items()
        }
        assert got == want, f"frac={frac}: {got} != {want}"

    # global (no stratify_col): single cutoff row over all rows
    all_vals = [r.sig for r in df.collect()]
    got_g = stratum_order_stat_values(df, "sig", 0.3).collect()
    assert len(got_g) == 1
    assert got_g[0].cutoff == _kth_largest(all_vals, math.ceil(0.3 * len(all_vals)))


def test_stratum_order_stat_fallback_on_tiny_bracket(spark):
    """accuracy=1 collapses percentile_approx to its coarsest sketch;
    whatever bracket it returns, the exact value must still come out
    (the in-plan fallback is the guarantee, not the sketch)."""
    import math

    from syncquill_spark.operators.curation import stratum_order_stat_values

    df = _sig_frame(spark).filter(F.col("lang") == "en")
    vals = [r.sig for r in df.collect()]
    got = stratum_order_stat_values(df, "sig", 0.25, accuracy=1).collect()
    assert [r.cutoff for r in got] == [_kth_largest(vals, math.ceil(0.25 * len(vals)))]


def test_order_stat_cutoff_multi_matches_single_cutoffs(spark):
    """The fused N-cutoff extraction (r16 optimization: one stats
    sketch, one region count, one tagged window for ALL cutoffs) must
    return exactly the values of N independent single-cutoff runs —
    including on the all-null stratum (null cutoff), tie-heavy strata,
    and with accuracy=1 forcing every stratum through the fallback
    path (which in the fused form is a tag over every row, not a
    separate subplan)."""
    from syncquill_spark.operators.curation import (
        _order_stat_cutoff,
        _order_stat_cutoff_multi,
        tracked_persist,
    )

    df = _sig_frame(spark)
    skinny = tracked_persist(df.select("doc_id", "sig", "lang"))
    for fracs, acc in (
        ([0.1, 0.7], 10000),
        ([0.25, 1.0], 10000),
        ([0.2, 0.5], 1),
        ([0.25, 0.5, 0.75, 0.95], 10000),  # the dataset_card shape
    ):
        fused = {
            tuple(r[:1]): tuple(r[f"cutoff_{i}"] for i in range(len(fracs)))
            for r in _order_stat_cutoff_multi(
                skinny, "sig", fracs, "doc_id", ["lang"], acc, None
            ).collect()
        }
        single = {}
        for i, frac in enumerate(fracs):
            for r in _order_stat_cutoff(
                skinny, "sig", frac, "doc_id", ["lang"], acc, None
            ).collect():
                single.setdefault(tuple(r[:1]), [None] * len(fracs))[i] = r.cutoff
        assert fused == {k: tuple(v) for k, v in single.items()}, (fracs, acc)


def test_percentile_filter_fallback_and_nulls(spark):
    """quality_percentile_filter through the fused branch structure
    (r16: direct-keep + ONE shared rank window with a per-stratum
    target, replacing the top/boundary/fallback triple): accuracy=1
    forces every stratum through the fallback path, and the kept set
    must still be the exact per-stratum top-k; null signals rank last
    (kept only when k exceeds the non-null count — the all-null 'xx'
    stratum keeps its k smallest ids)."""
    import math

    from syncquill_spark.operators.curation import quality_percentile_filter

    df = _sig_frame(spark)
    data = df.collect()
    for frac, acc in ((0.25, 1), (0.9, 1), (0.5, 10000)):
        got = sorted(
            r.doc_id
            for r in quality_percentile_filter(
                df, "sig", keep_frac=frac, stratify_col="lang", accuracy=acc
            ).collect()
        )
        want = []
        for lang in ("en", "fr", "xx"):
            grp = sorted(
                (r for r in data if r.lang == lang),
                key=lambda r: (r.sig is None, -(r.sig or 0), r.doc_id),
            )
            want += [r.doc_id for r in grp[: math.ceil(frac * len(grp))]]
        assert got == sorted(want), (frac, acc)


def test_quality_value_buckets_semantics(spark):
    """Value-threshold buckets: ties at a cutoff land in the better
    bucket; null signals land in tail; per-stratum cutoffs are
    independent; sizes honor >= frac_head / <= frac_tail under ties."""
    import math

    import pytest as _pytest

    from syncquill_spark.operators.curation import quality_value_buckets

    df = _sig_frame(spark)
    out = quality_value_buckets(
        df, "sig", frac_head=0.2, frac_tail=0.3, stratify_col="lang"
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        vals = [r.sig for r in rows]
        n = len(vals)
        v_head = _kth_largest(vals, math.ceil(0.2 * n))
        v_tail = _kth_largest(vals, math.ceil(0.7 * n))
        for r in rows:
            if r.sig is None:
                want = "tail"
            elif v_head is not None and r.sig >= v_head:
                want = "head"
            elif v_tail is None or r.sig < v_tail:
                want = "tail"
            else:
                want = "middle"
            assert r.bucket == want, (lang, r.doc_id, r.sig, r.bucket, want)
    # 'xx' is all-null: everything tail
    assert {r.bucket for r in by_lang["xx"]} == {"tail"}
    # head at least frac_head of en (ties inflate, never shrink)
    en = by_lang["en"]
    n_head = sum(1 for r in en if r.bucket == "head")
    assert n_head >= math.ceil(0.2 * len(en))
    n_tail = sum(1 for r in en if r.bucket == "tail")
    assert n_tail <= math.ceil(0.3 * len(en))

    with _pytest.raises(ValueError):
        quality_value_buckets(df, "sig", frac_head=0.6, frac_tail=0.5).collect()


def test_quality_value_buckets_on_bigram_signal(spark, sf_dir):
    """The CCNet composition: bigram_commonness score -> per-language
    head/middle/tail. Smoke at sf0.001 — every bucket label valid,
    every language's head non-empty, membership stable across runs."""
    from syncquill_spark.operators.curation import quality_value_buckets
    from syncquill_spark.operators.text import bigram_commonness
    from syncquill_spark.plans.queries import load_tables

    (docs,) = load_tables(spark, sf_dir, "documents")
    scored = bigram_commonness(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).withColumn("lm_q", F.expr("sum_q DIV n_bigrams"))
    out = quality_value_buckets(
        scored, "lm_q", frac_head=0.1, frac_tail=0.3, stratify_col="lang"
    )
    rows = out.select("doc_id", "lang", "bucket").collect()
    assert rows and {r.bucket for r in rows} <= {"head", "middle", "tail"}
    langs = {r.lang for r in rows}
    heads = {r.lang for r in rows if r.bucket == "head"}
    assert heads == langs  # ceil(frac*N) >= 1: every stratum has a head
    again = out.select("doc_id", "lang", "bucket").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "de"]),
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        ),
        min_size=1,
        max_size=60,
    ),
    frac=st.sampled_from([0.05, 0.2, 0.5, 0.8, 1.0]),
)
def test_stratum_order_stat_matches_python_model(spark, rows, frac):
    """Property pin for the bracketed order statistic against a pure
    Python model over random strata, values (with duplicates), and
    nulls: for every stratum the cutoff is exactly the
    ceil(frac*N)-th largest signal (nulls last)."""
    import math

    from syncquill_spark.operators.curation import stratum_order_stat_values

    data = [(i, lang, sig) for i, (lang, sig) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, lang string, sig int")
    got = {
        r.lang: r.cutoff
        for r in stratum_order_stat_values(
            df, "sig", frac, stratify_col="lang"
        ).collect()
    }
    by_lang = {}
    for _i, (lang, sig) in enumerate(rows):
        by_lang.setdefault(lang, []).append(sig)
    want = {}
    for lang, vals in by_lang.items():
        ordered = sorted(
            vals, key=lambda v: (v is None, -(v if v is not None else 0))
        )
        want[lang] = ordered[math.ceil(frac * len(vals)) - 1]
    assert got == want


# ---------------------------------------------------------------------------
# canonicalize_urls / url_dedup
# ---------------------------------------------------------------------------


def test_canonicalize_urls_rules(spark):
    from syncquill_spark.operators.curation import canonicalize_urls

    cases = [
        # (input, expected canonical)
        ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/x/", "http://example.com/x"),
        ("http://example.com/?fbclid=abc", "http://example.com/"),
        ("http://example.com/p?z=1&A=2&ref=tw", "http://example.com/p?A=2&z=1"),
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id long, url string"
    )
    got = {
        r.doc_id: r.url_canonical
        for r in canonicalize_urls(df).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


def test_canonicalize_urls_quoted_column_name(spark):
    """ADVICE r09: the trailing-slash trim used to interpolate the raw
    column name into F.expr, breaking on any name that needs quoting.
    The expr-free rewrite must handle such names and still apply the
    trim rule."""
    from syncquill_spark.operators.curation import canonicalize_urls

    df = spark.createDataFrame(
        [(1, "http://example.com/x/")], "doc_id long, `page url` string"
    )
    (row,) = canonicalize_urls(df, url_col="page url").collect()
    assert row.url_canonical == "http://example.com/x"


def test_url_dedup_survivor_and_null_pass(spark):
    from syncquill_spark.operators.curation import url_dedup

    df = spark.createDataFrame(
        [
            (1, "http://www.example.com/a?utm_source=x"),
            (2, "http://example.com/a"),            # same canonical as 1
            (3, "HTTP://EXAMPLE.COM/a#section"),    # same canonical as 1
            (4, "http://example.com/b"),
            (5, None),                              # no URL evidence: kept
            (6, "garbage"),                         # unparseable: kept
        ],
        "doc_id long, url string",
    )
    kept = sorted(r.doc_id for r in url_dedup(df).collect())
    assert kept == [1, 4, 5, 6]


# ---------------------------------------------------------------------------
# remove_spans: surgical span-removal decontamination
# ---------------------------------------------------------------------------


def _spans_df(spark, rows):
    return spark.createDataFrame(
        rows, "id_new long, start_new long, end_new long"
    )


def test_remove_spans_cuts_inclusive_token_ranges(spark):
    from syncquill_spark.operators.curation import remove_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    out = remove_spans(docs, _spans_df(spark, [(1, 2, 4)])).collect()[0]
    assert (out.n_tokens, out.n_tokens_kept, out.text_clean) == (8, 5, "a b f g h")


def test_remove_spans_overlapping_spans_union(spark):
    """A token dies if ANY span covers it — overlapping reports from
    multiple eval matches need no pre-merge."""
    from syncquill_spark.operators.curation import remove_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    out = remove_spans(
        docs, _spans_df(spark, [(1, 1, 3), (1, 3, 5)])
    ).collect()[0]
    assert (out.n_tokens_kept, out.text_clean) == (3, "a g h")


def test_remove_spans_clean_docs_pass_byte_exact(spark):
    """Documents with no spans keep their original text byte-exact —
    including internal whitespace the rebuild would normalize."""
    from syncquill_spark.operators.curation import remove_spans

    weird = "x   y\tz"
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, weird)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in remove_spans(
        docs, _spans_df(spark, [(1, 0, 0)])
    ).collect()}
    assert rows[1].text_clean == "b c"
    assert rows[2].text_clean == weird
    assert (rows[2].n_tokens, rows[2].n_tokens_kept) == (3, 3)


def test_remove_spans_full_cover_and_case_preserved(spark):
    from syncquill_spark.operators.curation import remove_spans

    docs = spark.createDataFrame(
        [(1, "Aa Bb Cc"), (2, "Keep ME too")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in remove_spans(
        docs, _spans_df(spark, [(1, 0, 99)])
    ).collect()}
    assert (rows[1].n_tokens_kept, rows[1].text_clean) == (0, "")
    assert rows[2].text_clean == "Keep ME too"  # original case, untouched


def test_remove_spans_silences_the_winnowing_gate(spark, tmp_path):
    """The decontamination acceptance test: plant an eval passage in a
    training doc, localize it with winnowing_spans_against, CUT it with
    remove_spans — the re-run gate must find nothing, and the rest of
    the document must survive token-for-token."""
    from syncquill_spark.operators.curation import remove_spans
    from syncquill_spark.sources.index_store import load_index, save_index
    from syncquill_spark.streaming.text_dedup import (
        build_winnowing_index,
        build_winnowing_positions,
        winnowing_matches_against,
        winnowing_spans_against,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight again"
    evalset = spark.createDataFrame(
        [(1, f"alpha beta {shared} gamma"),
         (3, "completely unrelated text about something else entirely")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(101, f"one two three four {shared} five six seven eight"),
         (102, "another unrelated new document arriving at ingest")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "win_decon_idx")
    save_index(
        p,
        fps=build_winnowing_index(evalset),
        positions=build_winnowing_positions(evalset),
    )
    idx = load_index(spark, p)
    spans = winnowing_spans_against(
        train, idx["fps"], idx["positions"], min_shared=2
    )
    # pad = window - 1: winnowing anchors only at selected fps, so the
    # raw span can under-cover the true match by up to window-1 grams
    # per side — the guarantee-backed decontamination setting
    cleaned = remove_spans(train, spans, pad=3)
    rows = {r.doc_id: r for r in cleaned.collect()}
    # the contaminated doc lost the passage (plus <= pad boundary
    # tokens per side), and the far prefix/suffix survive
    assert rows[101].n_tokens_kept < rows[101].n_tokens
    for w in ["one", "two", "three", "seven", "eight"]:
        assert w in rows[101].text_clean.split()
    for w in ["quick", "fox", "lazy", "dog", "tonight"]:
        assert w not in rows[101].text_clean.split()
    assert rows[102].text_clean == "another unrelated new document arriving at ingest"

    regate = winnowing_matches_against(
        cleaned.select("doc_id", F.col("text_clean").alias("text")),
        idx["fps"],
        min_shared=2,
    )
    assert regate.count() == 0


# ---------------------------------------------------------------------------
# temperature_mix: multinomial temperature sampling
# ---------------------------------------------------------------------------


def test_dyadic_pow_matches_python(spark):
    """n**alpha via the sqrt/multiply chain equals Python's pow for
    dyadic alphas (both are correctly-rounded IEEE compositions)."""
    from syncquill_spark.operators.curation import _dyadic_pow

    df = spark.createDataFrame([(n,) for n in [1, 2, 7, 100, 12345]], "n long")
    for alpha in [0.5, 0.25, 0.75, 0.625, 0.3125, 1.0]:
        got = {
            r.n: r.w
            for r in df.withColumn("w", _dyadic_pow(F.col("n"), alpha)).collect()
        }
        for n, w in got.items():
            import math

            want = 1.0
            # same composition: product over set bits of repeated sqrt
            from fractions import Fraction

            fr = Fraction(alpha)
            if fr == 1:
                want = float(n)
            else:
                k = fr.denominator.bit_length() - 1
                s = float(n)
                want = None
                for i in range(1, k + 1):
                    s = math.sqrt(s)
                    if (fr.numerator >> (k - i)) & 1:
                        want = s if want is None else want * s
            assert w == want, (n, alpha)


def test_dyadic_pow_rejects_non_dyadic(spark):
    import pytest

    from syncquill_spark.operators.curation import _dyadic_pow

    for bad in [0.3, 0.1, 0.0, -0.5, 1.5]:
        with pytest.raises(ValueError):
            _dyadic_pow(F.col("x"), bad)


def _mix_docs(spark):
    # en:60, fr:25, de:10, rm:5 — a skewed language distribution
    rows = []
    for i in range(60):
        rows.append((i, "en"))
    for i in range(60, 85):
        rows.append((i, "fr"))
    for i in range(85, 95):
        rows.append((i, "de"))
    for i in range(95, 100):
        rows.append((i, "rm"))
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_temperature_mix_counts_largest_remainder(spark):
    """Counts equal the Python largest-remainder model at alpha=0.5,
    sum exactly to total, and up-weight the low-resource tail vs
    natural proportions."""
    import math

    from syncquill_spark.operators.curation import temperature_mix

    docs = _mix_docs(spark)
    total = 40
    out = temperature_mix(docs, total=total, alpha=0.5)
    got = {
        r.lang: r.cnt
        for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    # python largest-remainder model (same int64 weight quantization)
    pops = {"en": 60, "fr": 25, "de": 10, "rm": 5}
    w = {s: math.floor(math.sqrt(n) * 1_000_000 + 0.5) for s, n in pops.items()}
    W = sum(w.values())
    quota = {s: float(total) * float(v) / float(W) for s, v in w.items()}
    base = {s: int(q // 1) for s, q in quota.items()}
    short = total - sum(base.values())
    order = sorted(pops, key=lambda s: (-(quota[s] - base[s]), s))
    want = dict(base)
    for s in order[:short]:
        want[s] += 1
    assert got == want
    assert sum(got.values()) == total
    # temperature up-weights the tail: rm's share beats its natural 5%
    assert got["rm"] / total > 5 / 100


def test_temperature_mix_prefix_property_and_cap(spark):
    """A smaller total selects a per-stratum PREFIX of a larger one;
    a stratum never yields more than its population (alpha->uniform
    pressure on a tiny stratum)."""
    from syncquill_spark.operators.curation import temperature_mix

    docs = _mix_docs(spark)
    small = temperature_mix(docs, total=20, alpha=0.5)
    large = temperature_mix(docs, total=60, alpha=0.5)
    small_ids = {(r.lang, r.doc_id) for r in small.collect()}
    large_rows = {(r.lang, r.doc_id): r.mix_rank for r in large.collect()}
    small_counts = {}
    for lang, _ in small_ids:
        small_counts[lang] = small_counts.get(lang, 0) + 1
    for key in small_ids:
        assert key in large_rows
        assert large_rows[key] <= small_counts[key[0]]

    # cap: asking for more than exists leaves rm at its population
    capped = temperature_mix(docs, total=99, alpha=0.25)
    got = {
        r.lang: r.cnt
        for r in capped.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert got["rm"] <= 5


def test_temperature_mix_alpha_one_is_proportional(spark):
    from syncquill_spark.operators.curation import temperature_mix

    docs = _mix_docs(spark)
    out = temperature_mix(docs, total=20, alpha=1.0)
    got = {
        r.lang: r.cnt
        for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == {"en": 12, "fr": 5, "de": 2, "rm": 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="total"):
        temperature_mix(docs, total=0)


# ---------------------------------------------------------------------------
# materialize_packs
# ---------------------------------------------------------------------------


def test_materialize_packs_reproduces_sequential_writer(spark):
    """materialize(pack_sequences(...)) equals the byte stream a
    sequential writer produces: docs concatenated in id order within
    each pack, packs keyed by (stratum, pack_id), counts exact."""
    from syncquill_spark.operators.curation import (
        materialize_packs,
        pack_sequences,
    )

    # pure-letter words: 5 bpe-ish tokens per doc; budget 10 -> 2 docs
    # per pack (the bpe-ish counter splits letter/digit runs, so words
    # must stay single-run)
    # 4-char words -> exactly 1 bpe-ish subword each (ceil(len/4))
    word = lambda i: "doc" + "abcdefgh"[i]  # noqa: E731
    docs = spark.createDataFrame(
        [(i, (word(i) + " ") * 5, "en" if i % 2 == 0 else "de")
         for i in range(8)],
        "doc_id long, text string, lang string",
    )
    asg = pack_sequences(docs, budget=10)
    assert {r.n_tokens for r in asg.collect()} == {5}
    out = {
        (r.lang, r.pack_id): r
        for r in materialize_packs(docs, asg, sep=" | ").collect()
    }
    # en docs: 0,2,4,6 -> packs (0: [0,2]), (1: [4,6]); de: 1,3,5,7
    assert set(out) == {("en", 0), ("en", 1), ("de", 0), ("de", 1)}
    r = out[("en", 0)]
    assert (r.n_docs, r.n_tokens) == (2, 10)
    assert r.text_packed == (word(0) + " ") * 5 + " | " + (word(2) + " ") * 5
    r = out[("de", 1)]
    assert r.text_packed == (word(5) + " ") * 5 + " | " + (word(7) + " ") * 5


def test_materialize_packs_budget_bounds_group_size(spark):
    """Every pack's token total stays within budget + one boundary
    doc — the property that bounds the aggregation group at scale."""
    from syncquill_spark.operators.curation import (
        materialize_packs,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (3 + i % 5), "en") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    asg = pack_sequences(docs, budget=20)
    max_doc = 7  # largest doc is 3 + 4 tokens
    rows = materialize_packs(docs, asg).collect()
    assert all(r.n_tokens <= 20 + max_doc for r in rows)
    assert sum(r.n_docs for r in rows) == 50


def test_pack_and_budget_accept_bpe_true_counts(spark):
    """The budget operators accept an external (id, n_tokens) frame —
    the BPE-encode composition: packing and token budgets in
    tokenizer-TRUE tokens instead of the bpe-ish estimate."""
    from syncquill_spark.operators.bpe import bpe_encode, train_bpe
    from syncquill_spark.operators.curation import (
        pack_sequences,
        target_mix_tokens,
    )

    docs = spark.createDataFrame(
        [(i, "the banana stand sells banana bread", "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    merges, _ = train_bpe(docs, n_merges=10)
    counts = bpe_encode(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    per_doc = counts.collect()[0].n_tokens
    assert per_doc > 0

    packed = pack_sequences(docs, budget=3 * per_doc, counts=counts)
    rows = sorted(packed.collect(), key=lambda r: r.doc_id)
    assert all(r.n_tokens == per_doc for r in rows)
    assert all(r.pack_id == r.doc_id // 3 for r in rows)  # 3 docs per pack

    mixed = target_mix_tokens(
        docs, {"en": 4 * per_doc}, counts=counts
    ).collect()
    # cumsum-before < budget keeps exactly ceil(4) = 4 docs (boundary
    # doc rule: kept while cum_before < budget)
    assert len(mixed) == 4
    assert all(r.n_tokens == per_doc for r in mixed)


def test_remove_spans_null_text_passes_through(spark):
    """Null-text rows carry no tokens to cut: they pass through with
    null text_clean and zero counts — never an executor error (the
    dedup_lines_across null contract)."""
    from syncquill_spark.operators.curation import remove_spans

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in remove_spans(
        docs, _spans_df(spark, [(2, 0, 0), (1, 0, 5)])
    ).collect()}
    assert rows[2].text_clean == "b c"
    assert rows[1].text_clean is None
    assert (rows[1].n_tokens or 0) == 0 or rows[1].n_tokens is None


def test_corpus_card_matches_direct_computation(spark):
    """Every card value equals a direct python recomputation —
    including the exact nearest-rank quantiles (ascending ceil(qN)-th
    token count) produced without any global sort."""
    import math

    from syncquill_spark.operators.curation import corpus_card

    rows = []
    for i in range(40):
        text = ("tok " * (1 + i % 7)).strip()
        rows.append((i, text, "en" if i % 3 else "de", f"src{i % 2}"))
    rows.append((100, rows[0][1], "en", "src0"))  # exact dup text
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    card = {
        (r.section, r.metric): r.value for r in corpus_card(docs).collect()
    }

    texts = [t for _, t, _, _ in rows]
    n = len(rows)
    assert card[("size", "n_docs")] == n
    assert card[("size", "n_chars")] == sum(len(t) for t in texts)
    assert card[("size", "n_tokens_ws")] == sum(len(t.split()) for t in texts)
    assert card[("dup", "n_unique_texts")] == len(set(texts))
    assert card[("dup", "n_dup_docs")] == n - len(set(texts))
    for lang in ("en", "de"):
        assert card[("lang", lang)] == sum(1 for _, _, l, _ in rows if l == lang)
    for src in ("src0", "src1"):
        assert card[("source", src)] == sum(1 for *_, s in rows if s == src)
    counts = sorted(len(t.split()) for t in texts)
    for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95)):
        want = counts[math.ceil(q * n) - 1]
        assert card[("length", f"{name}_tokens")] == want, (name, want)


def test_corpus_card_accepts_external_counts(spark):
    """counts= override: card sizes and quantiles in tokenizer-true
    tokens (both totals then report the supplied counts)."""
    from syncquill_spark.operators.curation import corpus_card

    docs = spark.createDataFrame(
        [(i, "a b c", "en", "s0") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    counts = spark.createDataFrame(
        [(i, 7 + i) for i in range(10)], "doc_id long, n_tokens long"
    )
    card = {
        (r.section, r.metric): r.value
        for r in corpus_card(docs, counts=counts).collect()
    }
    assert card[("size", "n_tokens_ws")] == sum(7 + i for i in range(10))
    assert card[("size", "n_tokens_bpeish")] == sum(7 + i for i in range(10))
    import math

    vals = sorted(7 + i for i in range(10))
    assert card[("length", "p50_tokens")] == vals[math.ceil(0.5 * 10) - 1]


def test_card_diff_release_review(spark):
    """card_diff: the release-review step — changed values carry exact
    deltas, one-sided metrics surface with NULLs (a vanished stratum
    IS the finding)."""
    from syncquill_spark.operators.curation import card_diff

    v1 = spark.createDataFrame(
        [("size", "n_docs", 100), ("strata", "lang=en", 70),
         ("strata", "lang=fr", 30)],
        "section string, metric string, value long",
    )
    v2 = spark.createDataFrame(
        [("size", "n_docs", 120), ("strata", "lang=en", 90),
         ("strata", "lang=de", 30)],
        "section string, metric string, value long",
    )
    got = {
        (r.section, r.metric): (r.value_a, r.value_b, r.delta)
        for r in card_diff(v1, v2).collect()
    }
    assert got[("size", "n_docs")] == (100, 120, 20)
    assert got[("strata", "lang=en")] == (70, 90, 20)
    assert got[("strata", "lang=fr")] == (30, None, None)
    assert got[("strata", "lang=de")] == (None, 30, None)


def test_pack_budget_guard(spark, sf_dir):
    """budget<=0 used to survive plan build (count() prunes pack_id
    away) and DIVIDE_BY_ZERO only at the first real projection — a
    delayed, confusing failure for a plain caller error. Both packers
    now raise immediately (r13 boundary battery)."""
    import pytest as _pytest

    from syncquill_spark.operators.curation import (
        pack_sequences,
        pack_sequences_ffd,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    for bad in (0, -5):
        with _pytest.raises(ValueError, match="positive token count"):
            pack_sequences(docs, budget=bad)
        with _pytest.raises(ValueError, match="positive token count"):
            pack_sequences_ffd(docs, budget=bad)
