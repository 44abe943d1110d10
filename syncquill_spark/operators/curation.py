"""Corpus-curation operators for training-data pipelines (EXT tier —
no reference counterpart; mandated by BASELINE.json north_star).

Three operators a large-scale pretraining pipeline runs on every
corpus, each a pure projection or a single bounded shuffle so the plan
scales linearly with input bytes:

- ``hash_split``: deterministic train/val/test assignment from a salted
  60-bit md5 hash of the document key. No shuffle at all — a projection
  the parquet writer can partition by. Splits are stable across runs,
  machines, and engines (the DuckDB oracle reproduces them bit-for-bit),
  which is the property that matters at 100 TB: re-running the pipeline
  must not migrate documents between train and test.

- ``redact_pii``: regex redaction of emails / phone numbers / IPv4
  addresses via built-in ``regexp_replace`` (JVM codegen, no UDF).
  Patterns are restricted to the Java-regex ∩ RE2 common subset so the
  DuckDB twin is exact. Per-doc match counts come from
  ``regexp_extract_all`` for audit metrics.

- ``pack_sequences``: assign documents to fixed token-budget "packs"
  (context-window filling). Documents are ordered deterministically
  (by id) within each partition column value (e.g. lang); pack id is
  floor(running-token-cumsum-before / budget) — contiguous chunk
  packing. One window shuffle partitioned by the stratify column; the
  per-key window is the scale knob (shard wide keys upstream, e.g. by
  adding a hash-bucket column to the stratify key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from syncquill_spark.operators._cache import tracked_persist
from syncquill_spark.functions.hashing import portable_hash60
from syncquill_spark.operators.text import token_counts

# Java-regex ∩ RE2 subset (no backrefs, no lookaround) — both engines
# agree on every match. Order matters: emails first (contain digits),
# then IPs (contain dots), then phones.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d-]{6,}\d"

DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (
    ("train", 96),  # buckets [0, 96)
    ("val", 98),  # buckets [96, 98)
    ("test", 100),  # buckets [98, 100)
)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    salt: str = "split-v1",
    n_buckets: int = 100,
) -> DataFrame:
    """Append deterministic ``bucket`` (int) and ``split`` (string)
    columns. bucket = h60(salt || ':' || id) mod n_buckets; split = the
    first (name, upper) entry with bucket < upper. Pure projection."""
    bucket = (
        portable_hash60(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
        % n_buckets
    )
    expr = None
    for name, upper in splits:
        cond = bucket < upper
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("bucket", bucket.cast("long")).withColumn("split", expr)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace emails/IPv4s/phones with typed placeholder tokens and
    append audit counts. Single projection, all JVM regexes."""
    c = F.col(text_col)
    red = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), F.lit(0))).cast("long"))
        .withColumn("n_ips", F.size(F.regexp_extract_all(text_col, F.lit(IPV4_RE), F.lit(0))).cast("long"))
        .withColumn("n_phones", F.size(F.regexp_extract_all(text_col, F.lit(PHONE_RE), F.lit(0))).cast("long"))
        .withColumn(out_col, red)
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by hash threshold:
    h60(salt || ':' || id) mod 1e6 < fraction * 1e6. Unlike
    ``df.sample`` this is stable across runs/partitionings/engines, and
    consistent under subsetting — the sample of a shard equals the
    shard of the sample, which is what lets a 100 TB job sample
    per-partition with no coordination. Pure projection + filter."""
    thresh = int(fraction * 1_000_000)
    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    return df.filter((h % 1_000_000) < thresh)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample-v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: each stratum keeps its own
    hash-threshold fraction (language/source rebalancing — the standard
    way a pretraining mix up-weights scarce languages and down-weights
    dominant ones). Strata absent from ``fractions`` keep
    ``default_fraction``.

    Same stability contract as ``deterministic_sample``: membership
    depends only on (salt, id), never on partitioning or run order, so
    a 100 TB job samples per-partition with no coordination and the
    sample of a shard equals the shard of the sample. Pure projection +
    filter — no shuffle; the per-stratum threshold is a CASE over the
    stratum column.
    """
    h = (
        portable_hash60(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
        % 1_000_000
    )
    thresh = None
    for stratum, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == stratum
        t = F.lit(int(frac * 1_000_000))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    default = F.lit(int(default_fraction * 1_000_000))
    thresh = default if thresh is None else thresh.otherwise(default)
    return df.filter(h < thresh)


def exact_k_per_stratum(
    df: DataFrame,
    k: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "evalset-v1",
    prefilter_factor: int = 100,
    margin: int | None = None,
) -> DataFrame:
    """Deterministic EXACTLY-k rows per stratum — eval/holdout-set
    construction ("500 docs per language, same 500 every run").

    Rank each stratum's rows by the salted 60-bit id hash (id as
    tie-break) and keep rank <= k: membership depends only on
    (salt, id, the stratum's population), never on partitioning or run
    order. Unlike the fraction-based stratified_sample this guarantees
    the exact count even for small or skewed strata.

    Scale shape — the dominant-stratum sort is bounded AUTOMATICALLY:
    a naive window over the stratum pushes a 100 TB corpus's biggest
    language through ONE partition's sort. Instead, any stratum whose
    row count exceeds ``prefilter_factor * k`` is pre-filtered to the
    rows with h <= t, t sized for ~(3k + 64) expected survivors, and
    only the survivors are ranked. The result is IDENTICAL, not
    approximate:

    - the pre-filter keeps EVERY row with h <= t, so whenever at least
      k rows survive, the k smallest (h, id) overall are all among the
      survivors and the ranked prefix is exactly the naive answer;
    - strata where fewer than k survive (vanishing by Chernoff —
      P[Binom(n, m/n) < k] with mean m = 3k + 64 — but possible in
      principle since h is a fixed hash, not randomness) fall back
      in-plan to ranking ALL of that stratum's rows, restoring the
      naive path for exactly those strata.

    Plan shape: one skinny per-stratum count (map-side combined,
    broadcast back), one window over small strata + big-stratum
    survivors (each stratum's sort input is now min(|stratum|,
    ~3k + 64) rows), and a normally-empty fallback branch. Set
    ``prefilter_factor=0`` to disable and always rank whole strata.
    ``margin`` overrides the expected-survivor target (tests use it to
    force the fallback branch; production should keep the default).
    """
    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    if prefilter_factor <= 0:
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )

    if margin is None:
        margin = 3 * k + 64  # expected survivors per pre-filtered stratum
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    with_cnt = df.join(F.broadcast(counts), strata_col).withColumn("_h", h)
    big = F.col("_cnt") > F.lit(prefilter_factor) * F.lit(k)
    # t ~= 2^60 * margin / cnt via double division; off-by-a-few from
    # fp rounding is harmless — correctness needs only "all rows with
    # _h <= t survive", which holds for whatever t this computes.
    t = (F.floor(F.lit(float(1 << 60)) / F.col("_cnt")) * F.lit(margin)).cast("long")
    survivors = with_cnt.filter(~big | (F.col("_h") <= t))

    w_h = Window.partitionBy(strata_col).orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    # Fallback detection from an AGGREGATE (not a window over ranked):
    # a big stratum whose survivors number < k — including ZERO, which
    # a window over the survivor rows could never see. Normally empty;
    # the branch exists for the guarantee, not the common path.
    surv_counts = survivors.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("_n_surv")
    )
    failed = (
        counts.join(surv_counts, strata_col, "left")
        .filter(
            (F.col("_cnt") > F.lit(prefilter_factor) * F.lit(k))
            & (F.coalesce(F.col("_n_surv"), F.lit(0)) < k)
        )
        .select(strata_col)
    )
    ok = (
        survivors.join(F.broadcast(failed), strata_col, "left_anti")
        .withColumn("_rk", F.row_number().over(w_h))
        .filter(F.col("_rk") <= k)
    )
    fb = (
        with_cnt.join(F.broadcast(failed), strata_col, "left_semi")
        .withColumn("_rk", F.row_number().over(w_h))
        .filter(F.col("_rk") <= k)
    )
    keep = df.columns
    return ok.select(*keep).unionByName(fb.select(*keep))


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Assign every row a deterministic (shard, pos): a reproducible
    global permutation for training-order randomization — the step that
    writes a curated corpus out as N shuffled shards.

    shard = h60(salt || ':' || id) mod n_shards; pos = rank of h within
    the shard (ties broken by id — a total order, so the permutation is
    unique). Re-running with the same salt reproduces the exact order;
    changing the salt is a fresh epoch permutation.

    Scale: one hash-partitioned shuffle on ``shard`` and a per-shard
    sort — each shard sorts independently (no global sort), so n_shards
    scales the sort width down with the data. This is exactly the
    "write shuffled training shards" job shape at 100 TB.
    """
    # guard driver-side (r15 battery): n_shards = 0 otherwise dies
    # mid-job with ANSI REMAINDER_BY_ZERO, and a NEGATIVE n_shards
    # silently behaves like its absolute value (h60 is non-negative,
    # so h % -3 lands in 0..2) — accepted nonsense, not an error
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from pyspark.sql import Window

    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
    return (
        df.withColumn("_h", h)
        .withColumn("shard", (F.col("_h") % n_shards).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def filter_blocklist(
    df: DataFrame,
    blocked: DataFrame,
    col: str = "source",
) -> DataFrame:
    """Drop rows whose ``col`` appears in the blocklist frame (domain /
    source-level takedowns, spam lists). Blocklists are small next to
    the corpus, so this is a broadcast anti-join — the corpus never
    shuffles. ``blocked`` must have a column named ``col``. Rows where
    ``col`` is NULL are KEPT (a NULL source matches no blocklist
    entry — anti-join semantics, unlike SQL NOT IN)."""
    return df.join(F.broadcast(blocked.select(col).distinct()), col, "left_anti")


def boilerplate_ngrams(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate detection: word k-grams occurring in at
    least ``min_docs`` DISTINCT documents (headers, footers, license
    blurbs). Per-doc distinct shingles (array_distinct before explode
    keeps the shuffle at one row per (doc, gram)) -> count per gram ->
    threshold. Downstream passes remove or down-weight matching spans.

    Scale: the explode output is the corpus in k-gram form (~k x text
    bytes) but partial aggregation collapses it map-side; the final
    shuffle carries only distinct grams. For 100 TB, pre-hash grams to
    64-bit ints (portable_hash60) so the shuffle carries fixed-width
    keys; kept as strings here so the report is human-readable.
    """
    from syncquill_spark.functions.hashing import word_shingles_from_tokens
    from syncquill_spark.operators.text import _tokens

    toks = df.select(F.col(id_col), _tokens(text_col).alias("_toks"))
    grams = toks.select(
        id_col,
        F.explode(F.array_distinct(word_shingles_from_tokens(F.col("_toks"), k))).alias(
            "ngram"
        ),
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``k``-gram with an evaluation set — the standard n-gram
    overlap check run before pretraining so eval answers don't leak
    into the training corpus.

    Output: (doc_id, n_contaminated_ngrams) for flagged train docs
    (docs in ``eval_df`` are not reported — they ARE the benchmark).

    Scale shape: distinct k-grams explode on both sides, the eval side
    collapses to DISTINCT grams (benchmark sets are small — typically
    broadcastable), and candidates come from ONE equi-join on the gram
    followed by a per-doc count — never a doc x doc comparison. For
    100 TB, swap the gram string for portable_hash60(gram) so the
    shuffle/broadcast carries fixed-width ints; kept as strings here
    for report readability.
    """
    from syncquill_spark.functions.hashing import word_shingles_from_tokens
    from syncquill_spark.operators.text import _tokens

    def grams(frame: DataFrame) -> DataFrame:
        # tokens in their own projection (word_shingles_from_tokens
        # references the array k+1 times — inlined, the split would
        # re-run per reference)
        return frame.select(F.col(id_col), _tokens(text_col).alias("_toks")).select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_shingles_from_tokens(F.col("_toks"), k))
            ).alias("ngram"),
        )

    eval_ids = eval_df.select(id_col).distinct()
    eval_grams = grams(eval_df).select("ngram").distinct()
    train_grams = grams(df).join(
        F.broadcast(eval_ids).withColumnRenamed(id_col, "_eid"),
        F.col(id_col) == F.col("_eid"),
        "left_anti",
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def _refuse_null_tokens() -> F.Column:
    """``n_tokens_bpeish``, refusing NULL by name (r16, the export
    sink's r15 class): the token-budget operators pack/select with
    NULL-skipping SUMs, so a NULL token count — NULL text through the
    built-in estimate, a NULL in a caller-supplied counts frame, or a
    document the counts frame simply doesn't cover (the left join
    surfaces it as NULL) — would ride through every budget uncounted,
    silently oversizing packs and mixes. A data error found mid-scan,
    so an in-plan raise (named, actionable), not a driver-side
    pre-pass."""
    return F.when(
        F.col("n_tokens_bpeish").isNotNull(), F.col("n_tokens_bpeish")
    ).otherwise(
        F.raise_error(
            F.lit(
                "NULL token count (NULL text, a NULL in the counts "
                "frame, or a document missing from it): token-budget "
                "sums skip NULLs, so this document would ride through "
                "the budget uncounted. Count or drop such documents "
                "first."
            )
        ).cast("long")
    ).alias("n_tokens_bpeish")


def pack_sequences(
    df: DataFrame,
    budget: int,
    stratify_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Assign each document a ``pack_id`` so consecutive documents
    (ordered by id within each stratify value) fill ~``budget``-token
    context windows: pack_id = floor(cumsum_before / budget).

    Contiguous chunk packing — the streaming-writer order a sequence
    packer consumes; deterministic, engine-portable, and expressible as
    one window cumsum (vs greedy first-fit, which needs sequential
    state). A pack overflows its budget by at most one document, the
    standard "document boundary" tolerance.

    Scale: the only shuffle is the window partition on ``stratify_col``.
    For skewed strata, pre-shard: stratify on (lang, h60(id) % k) — the
    packs stay valid because pack ids are namespaced by the partition
    key tuple.

    ``counts``: optional (id, n_tokens) frame replacing the built-in
    bpe-ish estimate — pass `bpe_encode(df, merges)` output (renamed
    n_bpe_tokens -> n_tokens) to pack by TOKENIZER-true counts.
    """
    if budget <= 0:
        raise ValueError(f"budget must be a positive token count, got {budget}")
    if counts is not None:
        toks = counts.select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens_bpeish"),
        )
    else:
        toks = token_counts(df, text_col=text_col, id_col=id_col).select(
            id_col, "n_tokens_bpeish"
        )
    with_toks = df.select(id_col, stratify_col).join(
        toks, id_col, "left"
    ).select(id_col, stratify_col, _refuse_null_tokens())
    w = (
        Window.partitionBy(stratify_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens_bpeish").over(w), F.lit(0).cast("long"))
    return with_toks.select(
        F.col(id_col),
        F.col(stratify_col),
        F.col("n_tokens_bpeish").alias("n_tokens"),
        F.floor(cum_before / budget).cast("long").alias("pack_id"),
    )


def pack_sequences_ffd(
    df: DataFrame,
    budget: int,
    stratify_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-fit-decreasing sequence packing — the higher-utilization
    sibling of `pack_sequences` (contiguous cumsum packing wastes the
    tail of every window; FFD places each doc, largest first, into the
    first pack with room, the classic bin-packing heuristic with an
    11/9·OPT + 1 guarantee).

    FFD is inherently SEQUENTIAL per group (each placement depends on
    all previous placements), so it cannot be a window expression —
    this is the repo's grouped-map `applyInPandas` template: one Arrow
    batch per stratum, the per-group loop in numpy-backed pandas, the
    group key carried through. Determinism: docs are placed in
    (n_tokens desc, id asc) order and bins probed first-fit in
    creation order — no RNG, no partition-order dependence (each group
    is processed whole).

    Oversized docs (> budget) get their own pack, never split —
    pack_sequences' convention. Output: (id, stratum, n_tokens,
    pack_id) with pack ids dense from 0 per stratum.

    Scale shape: one shuffle on the stratify key; per-group state is
    the bin-remaining array (#packs ≈ Σtokens/budget). Shard giant
    strata upstream by adding a hash-bucket column to the key, same
    guidance as pack_sequences.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be a positive token count, got {budget}")
    toks = token_counts(df, text_col=text_col, id_col=id_col).select(
        id_col, "n_tokens_bpeish"
    )
    skinny = df.select(id_col, stratify_col).join(
        toks, id_col, "left"
    ).select(id_col, stratify_col, _refuse_null_tokens())

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n_tokens_bpeish", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []  # tokens left per pack
        assigned = []
        for t in pdf["n_tokens_bpeish"]:
            for i, room in enumerate(remaining):
                if t <= room:
                    remaining[i] = room - t
                    assigned.append(i)
                    break
            else:
                remaining.append(max(budget - t, 0))
                assigned.append(len(remaining) - 1)
        pdf["pack_id"] = pd.Series(assigned, dtype="int64")
        return pdf

    # Field types come from the input schema, not hardcoded long/string
    # — a string id or an int stratum must not die on an Arrow schema
    # mismatch inside the grouped map (ADVICE r06).
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField(stratify_col, df.schema[stratify_col].dataType),
            T.StructField("n_tokens_bpeish", T.LongType()),
            T.StructField("pack_id", T.LongType()),
        ]
    )
    return (
        skinny.groupBy(stratify_col)
        .applyInPandas(pack, schema=out_schema)
        .select(
            id_col,
            stratify_col,
            F.col("n_tokens_bpeish").alias("n_tokens"),
            "pack_id",
        )
    )


def domain_quota(
    df: DataFrame,
    quota: int,
    domain_col: str = "source",
    order_by: list | None = None,
    id_col: str = "doc_id",
    prefilter_factor: int = 100,
    n_salt: int = 32,
) -> DataFrame:
    """Cap every domain at ``quota`` documents, keeping the best-ranked
    — the domain-balancing step of a pretraining mix (a handful of
    giant crawl domains must not drown the rest of the corpus).

    ``order_by`` defines "best" (e.g. a quality signal descending);
    the id column is always appended as the final tie-break so ranks
    are total and engine-exact. Output adds ``quota_rank`` (1-based
    within the domain); rows ranked past the quota are dropped.

    Scale shape: one shuffle on the domain key + a per-domain window
    rank. Spark plans row_number + the rank filter as WindowGroupLimit
    (partial top-k BEFORE the exchange since Spark 3.5), so the
    shuffle carries at most ``quota`` rows per domain per map
    partition, not the whole domain — the same reason
    exact_k_per_stratum's window is safe.

    Hot-domain path (auto-engaged, like exact_k_per_stratum's
    big-stratum pre-filter): a domain with rows > ``prefilter_factor *
    quota`` would still push all its surviving rows through ONE
    partition's final sort. Such domains are routed through a
    two-stage EXACT top-k instead (the salted-aggregation pattern,
    operators/skew.py): stage 1 ranks within (domain, id-hash bucket)
    over ``n_salt`` sub-partitions and keeps each bucket's top
    ``quota``; stage 2 ranks the <= n_salt * quota survivors. This is
    identity-preserving, not approximate — every true top-``quota``
    row ranks <= quota inside its own bucket (its bucket competitors
    are a subset of its domain competitors), so stage 1 never drops a
    winner, and the final window over survivors assigns the same
    ranks the single window would. Cold domains keep the one-window
    plan; both branches union to one frame. ``prefilter_factor=0``
    disables the split and always uses the single window.
    """
    order = list(order_by or []) + [F.col(id_col).asc()]
    w = Window.partitionBy(domain_col).orderBy(*order)

    def rank(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("quota_rank", F.row_number().over(w))
            .filter(F.col("quota_rank") <= quota)
        )

    if prefilter_factor <= 0:
        return rank(df)

    hot = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > F.lit(prefilter_factor) * F.lit(quota))
        .select(domain_col)
    )
    cold_rows = df.join(F.broadcast(hot), domain_col, "left_anti")
    hot_rows = df.join(F.broadcast(hot), domain_col, "left_semi")
    # routing-only bucket key: per-row deterministic, never in output,
    # so Spark's native hash is fine (no cross-engine portability need)
    w1 = Window.partitionBy(
        domain_col, F.pmod(F.hash(F.col(id_col)), F.lit(n_salt))
    ).orderBy(*order)
    survivors = (
        hot_rows.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= quota)
        .drop("_r1")
    )
    return rank(cold_rows).unionByName(rank(survivors))


def target_mix(
    df: DataFrame,
    targets: dict[str, int],
    stratify_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Compose a training mix with EXACT per-stratum document counts —
    the step that applies a tuned domain/language weighting (e.g.
    DoReMi-style weights resolved to counts) to a curated corpus:
    ``targets`` maps stratum value -> how many documents of it the mix
    gets. Strata absent from ``targets`` are excluded.

    Selection within a stratum is by salted-hash rank (id tie-break),
    the same determinism contract as exact_k_per_stratum: membership
    depends only on (salt, id, the stratum's population) — stable
    across runs, partitionings, and engines, and a smaller target is
    always a PREFIX of a larger one (shrinking a domain's weight never
    rotates which documents represent it, so ablation runs share
    documents by construction).

    Output: df's columns + ``mix_rank`` (1-based within the stratum).

    Scale shape: the targets map rides into the plan as a literal
    map-lookup (no join); one window shuffle on the stratum key. The
    rank filter is a conjunction with the LITERAL max target, which
    Spark plans as WindowGroupLimit — partial top-max(k) below the
    exchange — then the per-stratum target applies exactly. For
    single-stratum targets far past the WindowGroupLimit sweet spot,
    route through exact_k_per_stratum's big-stratum pre-filter per
    stratum and union.
    """
    if not targets:
        raise ValueError("targets must name at least one stratum")
    max_k = max(targets.values())
    tmap = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(stratify_col).orderBy(h.asc(), F.col(id_col).asc())
    tgt = tmap[F.col(stratify_col)]
    return (
        df.withColumn("mix_rank", F.row_number().over(w))
        .filter((F.col("mix_rank") <= F.lit(max_k)) & (F.col("mix_rank") <= tgt))
    )


def target_mix_tokens(
    df: DataFrame,
    token_budgets: dict[str, int],
    stratify_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix-v1",
    counts: DataFrame | None = None,
) -> DataFrame:
    """target_mix with per-stratum TOKEN budgets instead of document
    counts — the unit training mixes are actually specified in. Docs
    rank by the same salted hash (same prefix property: a smaller
    budget selects a prefix of a larger one); a doc is kept while the
    cumulative token count BEFORE it is under the stratum's budget, so
    the boundary document may overflow the budget but a document is
    never split (pack_sequences' convention). Strata absent from
    ``token_budgets`` are excluded.

    Output: (id, stratum, n_tokens, mix_rank) — skinny; re-join on the
    id to materialize payloads.

    Scale shape: one token-count aggregation (bpe-ish estimate, shared
    with pack_sequences) + one window cumsum per stratum. The cumsum
    cannot WindowGroupLimit (the cutoff is data-dependent), so a
    stratum's full ranked membership flows through its window
    partition; for a corpus whose strata dwarf their budgets, bound
    the window input first with a generous doc-count pre-filter —
    target_mix at k = budget / conservative_min_doc_tokens — which is
    exact for the same prefix reason.
    """
    if not token_budgets:
        raise ValueError("token_budgets must name at least one stratum")
    if counts is not None:
        # optional (id, n_tokens) override — e.g. bpe_encode output for
        # budgets in TOKENIZER-true tokens (same contract as
        # pack_sequences' counts parameter)
        toks = counts.select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens_bpeish"),
        )
    else:
        toks = token_counts(df, text_col=text_col, id_col=id_col).select(
            id_col, "n_tokens_bpeish"
        )
    bmap = F.create_map(
        *[F.lit(x) for kv in token_budgets.items() for x in kv]
    )
    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(stratify_col).orderBy(h.asc(), F.col(id_col).asc())
    ranked = (
        df.select(id_col, stratify_col)
        .join(toks, id_col, "left")
        .select(id_col, stratify_col, _refuse_null_tokens())
        .withColumn("mix_rank", F.row_number().over(w))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("n_tokens_bpeish").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
    )
    return ranked.filter(
        F.col("_cum_before") < bmap[F.col(stratify_col)]
    ).select(
        id_col,
        stratify_col,
        F.col("n_tokens_bpeish").alias("n_tokens"),
        "mix_rank",
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Drop corpus documents NEAR-duplicate to any held-out eval
    document — fuzzy benchmark decontamination. `decontaminate` above
    catches verbatim n-gram leakage; this catches paraphrased /
    lightly-edited leakage the exact-gram join misses (the standard
    practice for pretraining corpora: eval contamination checks use
    n-gram Jaccard at a moderate threshold, not exact match).

    Built on minhash_lsh_pairs_against (banded MinHash candidates,
    corpus x eval only, exact-Jaccard verify >= threshold): candidate
    generation is a band-bucket equi-join — the eval set never crosses
    the O(|corpus| x |eval|) pair space. Returns the KEPT corpus rows
    (anti-join on contaminated ids).
    """
    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against

    pairs = minhash_lsh_pairs_against(
        corpus, eval_df, id_col=id_col, text_col=text_col,
        k=k, n_perm=n_perm, bands=bands, threshold=threshold,
    )
    contaminated = pairs.select(F.col("id_new").alias(id_col)).distinct()
    return corpus.join(contaminated, id_col, "left_anti")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    salt: str = "split-v1",
    n_buckets: int = 100,
) -> DataFrame:
    """hash_split, but near-duplicate CLUSTERS never straddle splits.

    The standard leakage pitfall with per-document splitting: a
    near-duplicate of a test document lands in train and the eval is
    contaminated by construction. Here every document is assigned by
    the hash of its duplicate-cluster id (the cluster's min doc id,
    from connected components over near-dup ``pairs``); singletons
    (docs in no pair) group by their own id, which IS their cluster id
    under the same min-label definition — so the whole corpus is
    effectively split at cluster granularity with one rule.

    Determinism: same salt/bucket math as hash_split, keyed on the
    cluster id — membership depends only on (salt, cluster), stable
    under re-runs, corpus growth that doesn't merge clusters, and any
    partitioning.

    Scale shape: connected components over the pairs (bounded,
    O(diameter) cycles) + one left equi-join of the corpus against the
    cluster map + the usual shuffle-free split projection. The cluster
    map is near-dup-sized: often broadcastable, but on a dup-heavy
    crawl it is billions of rows — so the join is left UNHINTED and
    AQE picks broadcast-hash only when the map actually fits
    (autoBroadcastJoinThreshold); a forced broadcast here would OOM
    the driver exactly on the corpora this operator exists for.

    Output: df plus ``cluster_id``, ``bucket``, ``split`` columns.
    """
    from syncquill_spark.operators.clusters import connected_components

    comp = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("comp").alias("_comp")
    )
    joined = df.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("_comp"), F.col(id_col))
    ).drop("_comp")
    bucket = (
        portable_hash60(
            F.concat_ws(":", F.lit(salt), F.col("cluster_id").cast("string"))
        )
        % n_buckets
    )
    expr = None
    for name, upper in splits:
        cond = bucket < upper
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return joined.withColumn("bucket", bucket.cast("long")).withColumn("split", expr)


def quality_percentile_filter(
    df: DataFrame,
    signal_col: str,
    keep_frac: float,
    id_col: str = "doc_id",
    stratify_col: str | None = None,
    accuracy: int = 10000,
    bracket_delta: float | None = None,
) -> DataFrame:
    """Keep the top ``keep_frac`` of documents by a quality signal —
    the ADAPTIVE threshold a real pipeline uses instead of magic
    constants (cut the worst 20% by whatever score, per corpus or per
    language, without ever choosing an absolute cutoff).

    Exact and deterministic: the kept set is precisely the top
    ``ceil(keep_frac * N)`` rows by (signal desc, id asc) — a total
    order — per stratum when ``stratify_col`` is given (per-language
    cuts, so a low-resource language is not graded on the dominant
    language's curve), else globally.

    Scale shape (round-7 verdict #2): the cutoff is a FRACTION of the
    stratum, so WindowGroupLimit cannot pre-push a constant top-k —
    the previous form ranked every row in a per-stratum window, which
    at 100 TB pushes the dominant language (half the corpus) through
    ONE task's sort. This form is a two-pass exact order-statistic
    instead:

    1. one skinny per-stratum aggregation computes N, k = ceil(frac*N)
       and an approx-percentile BRACKET [v_lo, v_hi] around the cutoff
       value (``percentile_approx`` at 1-frac +/- ``bracket_delta``,
       rank error <= N/accuracy < delta*N);
    2. one exact counting pass splits each stratum at the bracket:
       n_hi rows above v_hi are kept outright, rows below v_lo are
       dropped outright, and only the ~2*delta*N boundary rows in
       [v_lo, v_hi] are ranked (signal desc, id asc) to fill the
       remaining k - n_hi slots.

    The sketch affects WORK PLACEMENT only, never the answer: the kept
    set is the same top-k whatever values the bracket lands on, ties at
    the cutoff value break by id inside the ranked boundary, and any
    stratum whose bracket fails its guarantee (n_hi > k, or the
    boundary doesn't reach k — e.g. null signals, which sort last) falls
    back in-plan to the naive whole-stratum rank for exactly that
    stratum (same belt-and-braces shape as exact_k_per_stratum's
    fallback; normally empty). Dominant-stratum sort input drops from
    N to ~2*delta*N rows (delta defaults to 4/accuracy = 4e-4: ~40M
    boundary rows for a 5e10-row language, vs 5e10 before).

    Output keeps the input columns (membership only — a global
    ``q_rank`` would itself force the whole-stratum sort this plan
    exists to avoid; rank within the kept set, if needed, is a
    follow-up window over the already-filtered fraction).
    """
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    if bracket_delta is None:
        bracket_delta = max(4.0 / accuracy, 1e-6)
    strat = [stratify_col] if stratify_col else ["_strat"]
    skinny = df.select(id_col, signal_col, *([stratify_col] if stratify_col else []))
    if not stratify_col:
        skinny = skinny.withColumn("_strat", F.lit(0))
    # four consumers below (stats agg, region counts, direct, ranked)
    # — without a persist the upstream SIGNAL subtree (often a full
    # tokenization) recomputes per branch: up to four corpus scans
    # where the pre-rewrite form had two. skinny is
    # id+signal+stratum-width rows, so the cache is cheap; same
    # multi-consumer doctrine as dedup.py / bigram_commonness.
    skinny = tracked_persist(skinny)

    q = 1.0 - keep_frac
    p_lo, p_hi = max(0.0, q - bracket_delta), min(1.0, q + bracket_delta)
    sig = F.col(signal_col)
    stats = (
        skinny.groupBy(*strat)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx(signal_col, [p_lo, p_hi], accuracy).alias("_pv"),
        )
        .select(
            *strat,
            F.ceil(F.lit(keep_frac) * F.col("_n")).cast("long").alias("_k"),
            F.col("_pv")[0].alias("_v_lo"),
            F.col("_pv")[1].alias("_v_hi"),
        )
    )
    region_counts = (
        skinny.join(F.broadcast(stats), strat)
        .groupBy(*strat)
        .agg(
            F.sum(F.when(sig > F.col("_v_hi"), 1).otherwise(0))
            .cast("long")
            .alias("_n_hi"),
            F.sum(
                F.when((sig >= F.col("_v_lo")) & (sig <= F.col("_v_hi")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("_n_mid"),
        )
    )
    meta = stats.join(region_counts, strat)  # one row per stratum
    bracket_ok = (F.col("_n_hi") <= F.col("_k")) & (
        F.col("_n_hi") + F.col("_n_mid") >= F.col("_k")
    )

    # Two branches over ONE broadcast-joined frame (r16 optimization —
    # was three subplans: top, boundary, fallback, each with its own
    # join, plus a three-way union):
    #  - `direct`: healthy-bracket rows above the bracket are kept
    #    outright, never ranked (n_hi can be nearly the whole stratum
    #    at scale — ranking them would reintroduce the big sort);
    #  - `ranked`: ONE window covers boundary rows of healthy strata
    #    AND every row of fallback strata (a stratum is entirely one
    #    or the other, so the shared per-stratum window partitions
    #    never mix semantics) with a per-stratum target rank —
    #    k - n_hi inside a bracket, k in a fallback stratum. Null
    #    signals: the bracket predicate is NULL for them (excluded,
    #    as before); fallback strata rank them last (as before).
    with_meta = skinny.join(F.broadcast(meta), strat)
    direct = with_meta.filter(bracket_ok & (sig > F.col("_v_hi"))).select(id_col)
    rank_input = F.when(
        bracket_ok, (sig >= F.col("_v_lo")) & (sig <= F.col("_v_hi"))
    ).otherwise(F.lit(True))
    target = F.when(bracket_ok, F.col("_k") - F.col("_n_hi")).otherwise(F.col("_k"))
    w = Window.partitionBy(*strat).orderBy(sig.desc(), F.col(id_col).asc())
    ranked = (
        with_meta.filter(rank_input)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= target)
        .select(id_col)
    )
    kept = direct.unionByName(ranked)
    return df.join(kept, id_col)


def stratum_order_stat_values(
    df: DataFrame,
    signal_col: str,
    frac: float,
    id_col: str = "doc_id",
    stratify_col: str | None = None,
    accuracy: int = 10000,
    bracket_delta: float | None = None,
) -> DataFrame:
    """Per-stratum EXACT k-th order-statistic VALUE: for each stratum
    the signal value at rank ``k = ceil(frac * N)`` by signal DESC —
    the exact quantile-by-value a bucketing policy thresholds on
    (e.g. frac=0.1 -> the value separating the best 10%).

    Same two-pass bracketed shape as ``quality_percentile_filter``
    (one skinny stats aggregation -> percentile_approx bracket ->
    exact region counts -> rank ONLY the ~2*delta*N boundary rows),
    so the dominant stratum never whole-sorts; the value at rank k is
    tie-insensitive (equal values share the rank-k value whatever
    order ties land in), and strata where the bracket misses its
    guarantee (including n_hi == k, where the value lies above the
    bracket) fall back in-plan to the naive rank for exactly those
    strata. Null signals sort last and can only be the cutoff in a
    stratum with fewer than k non-null values.

    Output: one row per stratum — (``stratify_col``, cutoff) with the
    signal's type (a global single row with ``stratify_col=None``; the
    stratum column is then omitted).
    """
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    strat = [stratify_col] if stratify_col else ["_strat"]
    skinny = df.select(id_col, signal_col, *([stratify_col] if stratify_col else []))
    if not stratify_col:
        skinny = skinny.withColumn("_strat", F.lit(0))
    skinny = tracked_persist(skinny)
    out = _order_stat_cutoff(
        skinny, signal_col, frac, id_col, strat, accuracy, bracket_delta
    )
    return out if stratify_col else out.select("cutoff")


def _order_stat_cutoff(
    skinny: DataFrame,
    signal_col: str,
    frac: float,
    id_col: str,
    strat: list[str],
    accuracy: int,
    bracket_delta: float | None,
) -> DataFrame:
    """The bracketed order-statistic core over an already-PERSISTED
    skinny (id, signal, stratum) frame — factored out so callers that
    need several cutoffs over the same signal (``quality_value_buckets``
    needs two) pay the upstream signal subtree ONCE (the
    multi-consumer persist doctrine, as in quality_percentile_filter)."""
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    if bracket_delta is None:
        bracket_delta = max(4.0 / accuracy, 1e-6)
    q = 1.0 - frac
    p_lo, p_hi = max(0.0, q - bracket_delta), min(1.0, q + bracket_delta)
    sig = F.col(signal_col)
    stats = (
        skinny.groupBy(*strat)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx(signal_col, [p_lo, p_hi], accuracy).alias("_pv"),
        )
        .select(
            *strat,
            F.ceil(F.lit(frac) * F.col("_n")).cast("long").alias("_k"),
            F.col("_pv")[0].alias("_v_lo"),
            F.col("_pv")[1].alias("_v_hi"),
        )
    )
    region_counts = (
        skinny.join(F.broadcast(stats), strat)
        .groupBy(*strat)
        .agg(
            F.sum(F.when(sig > F.col("_v_hi"), 1).otherwise(0))
            .cast("long")
            .alias("_n_hi"),
            F.sum(
                F.when((sig >= F.col("_v_lo")) & (sig <= F.col("_v_hi")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("_n_mid"),
        )
    )
    meta = stats.join(region_counts, strat)
    # value extraction needs the rank-k row INSIDE the boundary:
    # n_hi == k (value above the bracket) goes to the fallback, unlike
    # the membership filter where n_hi == k is fine
    bracket_ok = (F.col("_n_hi") < F.col("_k")) & (
        F.col("_n_hi") + F.col("_n_mid") >= F.col("_k")
    )
    w = Window.partitionBy(*strat).orderBy(sig.desc_nulls_last(), F.col(id_col).asc())
    boundary_val = (
        skinny.join(F.broadcast(meta.filter(bracket_ok)), strat)
        .filter((sig >= F.col("_v_lo")) & (sig <= F.col("_v_hi")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == F.col("_k") - F.col("_n_hi"))
        .select(*strat, sig.alias("cutoff"))
    )
    fallback_val = (
        skinny.join(F.broadcast(meta.filter(~bracket_ok)), strat)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == F.col("_k"))
        .select(*strat, sig.alias("cutoff"))
    )
    return boundary_val.unionByName(fallback_val)


def _order_stat_cutoff_multi(
    skinny: DataFrame,
    signal_col: str,
    fracs: list[float],
    id_col: str,
    strat: list[str],
    accuracy: int,
    bracket_delta: float | None,
) -> DataFrame:
    """N exact order-statistic cutoff VALUES per stratum from ONE set
    of passes over an already-persisted skinny frame — the fused form
    of calling ``_order_stat_cutoff`` N times (``quality_value_buckets``
    needs a head and a tail cutoff; ``dataset_card`` needs four length
    quantiles — all over the same signal). Fewer passes, same answer:

    - ONE stats aggregation builds a single percentile sketch queried
      at all N brackets (was: N aggregations, N sketches over the
      same rows);
    - ONE exact counting pass splits every stratum at all N brackets
      (was: N);
    - ONE tagged window ranks the candidate rows of all N cutoffs —
      each row emits a candidate struct per cutoff it qualifies for
      (bracket rows when the bracket holds its guarantee, every row of
      a fallback stratum otherwise), so the separate boundary/fallback
      subplans and their unions collapse into one window over
      ~2*delta*N rows per healthy cutoff.

    Exactness is unchanged: the sketch only PLACES the brackets; the
    returned value is the exact rank-``ceil(frac*N)`` row (signal
    desc, nulls last, id asc) whether it comes from a bracket or a
    fallback stratum — the same contract ``_order_stat_cutoff`` pins.

    Output: one row per stratum — (*strat, cutoff_0, ..,
    cutoff_{n-1}), positions matching ``fracs``, each cutoff in the
    signal's type.
    """
    tags = [str(i) for i in range(len(fracs))]
    for frac in fracs:
        if not (0.0 < frac <= 1.0):
            raise ValueError(f"frac must be in (0, 1], got {frac}")
    if bracket_delta is None:
        bracket_delta = max(4.0 / accuracy, 1e-6)
    sig = F.col(signal_col)
    pcts: list[float] = []
    for frac in fracs:
        q = 1.0 - frac
        pcts += [max(0.0, q - bracket_delta), min(1.0, q + bracket_delta)]
    stats = (
        skinny.groupBy(*strat)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx(signal_col, pcts, accuracy).alias("_pv"),
        )
        .select(
            *strat,
            *[
                F.ceil(F.lit(frac) * F.col("_n")).cast("long").alias(f"_k_{t}")
                for t, frac in zip(tags, fracs)
            ],
            *[
                col
                for i, t in enumerate(tags)
                for col in (
                    F.col("_pv")[2 * i].alias(f"_v_lo_{t}"),
                    F.col("_pv")[2 * i + 1].alias(f"_v_hi_{t}"),
                )
            ],
        )
    )
    region_counts = (
        skinny.join(F.broadcast(stats), strat)
        .groupBy(*strat)
        .agg(
            *[
                agg
                for t in tags
                for agg in (
                    F.sum(F.when(sig > F.col(f"_v_hi_{t}"), 1).otherwise(0))
                    .cast("long")
                    .alias(f"_n_hi_{t}"),
                    F.sum(
                        F.when(
                            (sig >= F.col(f"_v_lo_{t}"))
                            & (sig <= F.col(f"_v_hi_{t}")),
                            1,
                        ).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"_n_mid_{t}"),
                )
            ]
        )
    )
    meta = stats.join(region_counts, strat)

    def _cand(tag: str):
        k = F.col(f"_k_{tag}")
        n_hi = F.col(f"_n_hi_{tag}")
        # same bracket guarantee as _order_stat_cutoff: n_hi == k means
        # the value lies ABOVE the bracket -> fallback
        ok = (n_hi < k) & (n_hi + F.col(f"_n_mid_{tag}") >= k)
        qual = F.when(
            ok,
            (sig >= F.col(f"_v_lo_{tag}")) & (sig <= F.col(f"_v_hi_{tag}")),
        ).otherwise(F.lit(True))
        target = F.when(ok, k - n_hi).otherwise(k)
        return F.when(
            qual, F.struct(F.lit(tag).alias("_tag"), target.alias("_target"))
        )

    # null signals: the bracket predicate is NULL for them -> excluded
    # from healthy-bracket candidates (as before); fallback strata tag
    # them unconditionally and desc_nulls_last ranks them past every
    # non-null row (as before)
    cands = F.filter(F.array(*[_cand(t) for t in tags]), lambda c: c.isNotNull())
    w = Window.partitionBy(*strat, "_tag").orderBy(
        sig.desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        skinny.join(F.broadcast(meta), strat)
        .select(*strat, id_col, signal_col, F.explode(cands).alias("_c"))
        .select(*strat, id_col, signal_col, "_c._tag", "_c._target")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == F.col("_target"))
        .groupBy(*strat)
        .agg(
            *[
                F.max(F.when(F.col("_tag") == t, sig)).alias(f"cutoff_{t}")
                for t in tags
            ]
        )
    )


def quality_value_buckets(
    df: DataFrame,
    signal_col: str,
    frac_head: float,
    frac_tail: float,
    id_col: str = "doc_id",
    stratify_col: str | None = None,
    accuracy: int = 10000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing by a quality signal —
    the deployment companion of ``bigram_commonness`` /
    ``bigram_score_against``: per stratum (typically per language),
    the best ~``frac_head`` of documents land in 'head', the worst
    ~``frac_tail`` in 'tail', the rest in 'middle'. CCNet trains on
    head+middle and drops tail; keeping the label (instead of
    filtering) preserves the ablation surface.

    VALUE-threshold semantics (exactly CCNet's percentile cut): with
    v_head = the exact ``ceil(frac_head*N)``-th largest signal value
    and v_tail = the exact ``ceil((1-frac_tail)*N)``-th largest,

        head   := signal >= v_head
        tail   := signal <  v_tail   (and not head)
        middle := the rest;  null signal -> tail

    so ties at a cutoff all land in the BETTER bucket (head sizes are
    >= frac_head under ties, tail sizes <= frac_tail) — deterministic,
    engine-exact, and replayable by a plain SQL window. Cutoffs come
    from ``stratum_order_stat_values`` (two-pass bracketed order
    statistic), so no whole-stratum sort ever runs; the bucket
    assignment itself is a broadcast join + one CASE projection.
    """
    if frac_head + frac_tail > 1.0:
        raise ValueError(
            f"frac_head + frac_tail must be <= 1, got {frac_head} + {frac_tail}"
        )
    if not (0.0 < frac_head and 0.0 <= frac_tail < 1.0):
        raise ValueError(
            f"need frac_head > 0 and 0 <= frac_tail < 1, "
            f"got {frac_head} / {frac_tail}"
        )
    strat = [stratify_col] if stratify_col else ["_strat"]
    # ONE persisted skinny feeds the fused head+tail cutoff extraction
    # (stats, region counts, tagged boundary/fallback rank — three
    # scans total for BOTH cutoffs) — the upstream signal subtree
    # (often a full tokenization) is paid once, not once per cutoff
    # (the quality_percentile_filter doctrine).
    skinny = df.select(id_col, signal_col, *([stratify_col] if stratify_col else []))
    if not stratify_col:
        skinny = skinny.withColumn("_strat", F.lit(0))
    skinny = tracked_persist(skinny)
    cuts = _order_stat_cutoff_multi(
        skinny, signal_col, [frac_head, 1.0 - frac_tail], id_col, strat,
        accuracy, None
    ).select(
        *strat,
        F.col("cutoff_0").alias("_v_head"),
        F.col("cutoff_1").alias("_v_tail"),
    )
    base = df if stratify_col else df.withColumn("_strat", F.lit(0))
    joined = base.join(F.broadcast(cuts), strat)
    if not stratify_col:
        joined = joined.drop("_strat")
    sig = F.col(signal_col)
    bucket = (
        F.when(sig.isNull(), F.lit("tail"))
        .when(sig >= F.col("_v_head"), F.lit("head"))
        .when(sig < F.col("_v_tail"), F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return joined.withColumn(bucket_col, bucket).drop("_v_head", "_v_tail")


_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid", "ref", "igshid",
)


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "url_canonical",
    drop_params: tuple[str, ...] = _TRACKING_PARAMS,
) -> DataFrame:
    """Canonical URL form for web-corpus dedup (the CC-pipeline step
    that runs BEFORE any content hashing — most crawl duplicates are
    the same page under cosmetically different URLs):

    - scheme and host lowercased; a leading ``www.`` and default ports
      (:80 http, :443 https) stripped from the host;
    - fragment dropped (never reaches the server);
    - tracking query params dropped (``drop_params``, case-insensitive
      keys), remaining params sorted byte-wise (order never changes
      the resource), empty query dropped;
    - trailing slash trimmed from non-root paths; empty path -> "/".

    Everything is built-in JVM expressions (parse_url + array
    functions) — a pure projection, no shuffle, no Python. NULL or
    schemeless values canonicalize to NULL (callers keep or route
    them; a crawl row without a parseable URL can't be URL-deduped).
    Deliberately NOT done (each changes which resource is named):
    percent-decoding, IDN/punycode folding, path ``..`` collapsing.
    """
    u = F.col(url_col)
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host0 = F.lower(F.try_parse_url(u, F.lit("HOST")))
    host = F.regexp_replace(host0, r"^www\.", "")
    port_suffix = F.when(
        F.try_parse_url(u, F.lit("AUTHORITY")).rlike(":[0-9]+$"),
        F.regexp_extract(F.try_parse_url(u, F.lit("AUTHORITY")), r":([0-9]+)$", 1),
    ).otherwise(F.lit(""))
    default_port = (
        ((scheme == "http") & (port_suffix == "80"))
        | ((scheme == "https") & (port_suffix == "443"))
        | (port_suffix == "")
    )
    port = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port_suffix)
    )
    path0 = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(path0 == "", F.lit("/")).otherwise(
        F.when(
            (F.length(path0) > 1) & path0.endswith("/"),
            # reuse the already-parsed path0 via the expr-free Column
            # API (ADVICE r09: interpolating url_col into F.expr broke
            # on names needing backticks and re-parsed the URL)
            path0.substr(F.lit(1), F.length(path0) - F.lit(1)),
        ).otherwise(path0)
    )
    query0 = F.try_parse_url(u, F.lit("QUERY"))
    dropped = F.array(*[F.lit(p) for p in drop_params])
    params = F.filter(
        F.split(F.coalesce(query0, F.lit("")), "&"),
        lambda kv: (F.length(kv) > 0)
        & ~F.array_contains(
            dropped, F.lower(F.element_at(F.split(kv, "=", 2), 1))
        ),
    )
    query = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        port,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    valid = scheme.isNotNull() & host.isNotNull() & (host != "")
    return df.withColumn(out_col, F.when(valid, canon))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    drop_params: tuple[str, ...] = _TRACKING_PARAMS,
) -> DataFrame:
    """Keep ONE row per canonical URL — the survivor is the minimum id
    (deterministic, partitioning-independent). Rows whose URL fails to
    canonicalize (NULL/schemeless) are all KEPT: they carry no URL
    evidence of duplication, the same null-passes contract as
    ``filter_blocklist``. One aggregation on the canonical-URL string
    key; content never shuffles (ids join back)."""
    canon = canonicalize_urls(df, url_col, "_uc", drop_params)
    keep_ids = (
        canon.filter(F.col("_uc").isNotNull())
        .groupBy("_uc")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .unionByName(canon.filter(F.col("_uc").isNull()).select(id_col))
    )
    return df.join(keep_ids, id_col)


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_id_col: str = "id_new",
    start_col: str = "start_new",
    end_col: str = "end_new",
    pad: int = 0,
) -> DataFrame:
    """ACT on a contamination report: cut the matched token spans out
    of the flagged documents and keep the rest — the surgical
    alternative to `decontaminate`/`fuzzy_decontaminate`'s drop-the-
    whole-document policy (the right default when a long training
    document merely QUOTES an eval passage; dropping it wastes the
    other 99%).

    ``spans`` is `winnowing_spans_against`'s output (defaults name its
    batch-side columns) or any (doc_id, start, end) frame of
    0-based INCLUSIVE token-index ranges over the whitespace token
    stream — the same ``split(trim(text), '\\s+')`` positions the
    winnowing family indexes. Overlapping/adjacent spans from multiple
    eval matches need no pre-merge: a token dies if ANY span covers it.

    ``pad`` widens every span by that many tokens on BOTH sides before
    cutting (clamped at 0). Winnowing spans anchor only at SELECTED
    fingerprints, so a reported span can under-cover the true match by
    up to ``window - 1`` grams per side (the selection guarantee's
    slack); pass ``pad = window - 1`` to guarantee the cut covers
    every token of the real overlap — the correct decontamination
    setting, at the cost of over-cutting that many innocent boundary
    tokens.

    Rebuild semantics, documented honestly: documents WITH cuts are
    rebuilt as their surviving tokens joined by single spaces
    (original token case preserved; inter-token whitespace normalized —
    token indices, not byte offsets, are what the index stores);
    documents with NO spans pass through with their text byte-exact.
    A fully-covered document comes back with text_clean = '' (the
    caller's drop policy, not ours — filter on n_tokens_kept).

    Scale shape: spans aggregate to one (id, array<struct>) row per
    flagged doc (bounded by matches, broadcastable); the corpus LEFT
    broadcast-joins that list, so clean documents never shuffle and
    never re-tokenize beyond one split for the count; the token-index
    filter is an array expression on flagged docs only (the
    interpreted-HOF cost the repo doctrine bans from corpus-wide hot
    paths is here confined to the contaminated sliver). No shuffle of
    the corpus anywhere.

    Output: (id, n_tokens, n_tokens_kept, text_clean).
    """
    per_doc = (
        spans.select(
            F.col(span_id_col).cast("long").alias(id_col),
            F.struct(
                F.greatest(
                    F.col(start_col).cast("long") - F.lit(int(pad)), F.lit(0)
                ).alias("s"),
                (F.col(end_col).cast("long") + F.lit(int(pad))).alias("e"),
            ).alias("_sp"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("_sp").alias("_spans"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = df.join(F.broadcast(per_doc), id_col, "left").withColumn(
        "_tk", toks
    )
    kept = F.filter(
        F.col("_tk"),
        lambda t, i: ~F.exists(
            F.col("_spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.when(F.col("_spans").isNull(), F.size("_tk"))
        .otherwise(F.size(kept))
        .cast("long")
        .alias("n_tokens_kept"),
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(F.array_join(kept, " "))
        .alias("text_clean"),
    )


def _dyadic_pow(col, alpha: float, max_bits: int = 6):
    """x**alpha for a DYADIC alpha (m / 2**k, k <= max_bits, 0 < alpha
    <= 1) built from repeated sqrt and products only. IEEE-754 sqrt
    and multiply are correctly rounded EVERYWHERE, unlike libm pow
    (exp(alpha*ln x)) whose last-bit wobble differs across engines —
    so a ranking or floor() on this value is bit-reproducible in any
    engine, the same determinism trade the linear-idf scorer makes
    against log(). x must be non-negative."""
    from fractions import Fraction

    fr = Fraction(alpha)
    if not (0 < fr <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    den = fr.denominator
    if den & (den - 1) or den > (1 << max_bits):
        raise ValueError(
            f"alpha must be a dyadic rational m/2^k with k <= {max_bits} "
            f"(e.g. 0.5, 0.25, 0.75, 0.625) so x**alpha stays a "
            f"correctly-rounded sqrt/multiply chain; got {alpha}"
        )
    if fr == 1:
        return col.cast("double")
    k = den.bit_length() - 1
    num = fr.numerator
    s = col.cast("double")
    result = None
    for i in range(1, k + 1):
        s = F.sqrt(s)  # x ** (1 / 2**i)
        if (num >> (k - i)) & 1:
            result = s if result is None else result * s
    return result


def temperature_mix(
    df: DataFrame,
    total: int,
    alpha: float = 0.5,
    stratify_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Compose a training mix by TEMPERATURE sampling (the multilingual
    pretraining standard: stratum s gets a share proportional to
    n_s**alpha, so alpha=1 is natural proportions and alpha -> 0
    approaches uniform — low-resource strata get up-weighted without
    hand-tuning a quota per stratum, which is exactly what `target_mix`
    expects you to have). ``total`` documents are split into
    per-stratum counts by the LARGEST-REMAINDER method (exact: counts
    sum to ``total`` unless capped), each count capped at the
    stratum's population (no redistribution on cap — the mix comes up
    short instead of silently re-weighting, documented), and documents
    are selected within each stratum by the same salted-hash prefix
    rank as `target_mix`/`exact_k_per_stratum` — so a smaller total
    selects a prefix of a larger one, stratum by stratum.

    ``alpha`` must be dyadic (m/2^k, k<=6 — 0.5, 0.25, 0.75, ...):
    the weight n**alpha is then a correctly-rounded sqrt/multiply
    chain, bit-identical across engines (see `_dyadic_pow`), so the
    floor()s and remainder ranks that decide COUNTS can sit in a
    cross-engine-checked output. Classic temperatures quantize fine
    (T=2 <-> alpha=0.5; mT5's alpha=0.3 -> 0.3125). Weights are
    floor(w*1e6+0.5)-quantized to int64 BEFORE the cross-stratum sum
    (doctrine #3: a double SUM over strata would be aggregation-order-
    dependent and could flip a quota floor between engines); each
    quota is then exactly two fixed-order IEEE ops on exact integers.

    Output: df's columns + ``mix_rank`` (1-based within stratum).

    Scale shape: one skinny count aggregation (strata-sized — tiny),
    the quota arithmetic on that tiny frame (one window over ALL
    strata for the remainder ranks — strata counts, not documents),
    the per-stratum quota broadcast back, and ONE document-sized
    window on the stratum key (WindowGroupLimit-bounded by the global
    max quota literal? no — quotas are data-dependent, so the rank
    filter joins the broadcast quota table; the window itself is the
    same one target_mix pays).
    """
    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    # persisted: strata-sized (tiny), but it feeds FOUR consumers
    # (wsum, quota -> short, ks) — without the persist the corpus-wide
    # count aggregation above it recomputes per branch (the
    # multi-consumer doctrine from quality_percentile_filter)
    counts = df.groupBy(stratify_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    weights = counts.withColumn(
        "_w",
        F.floor(_dyadic_pow(F.col("_n"), alpha) * 1_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    wsum = weights.agg(F.sum("_w").cast("long").alias("_wsum"))
    quota = (
        weights.crossJoin(F.broadcast(wsum))
        .withColumn(
            "_q",
            F.lit(float(total))
            * F.col("_w").cast("double")
            / F.col("_wsum").cast("double"),
        )
        .withColumn("_base", F.floor("_q").cast("long"))
        .withColumn("_rem", F.col("_q") - F.col("_base"))
    )
    short = quota.agg(
        (F.lit(total) - F.sum("_base")).cast("long").alias("_short")
    )
    wrem = Window.orderBy(F.col("_rem").desc(), F.col(stratify_col).asc())
    ks = (
        quota.crossJoin(F.broadcast(short))
        .withColumn("_rr", F.row_number().over(wrem))
        .withColumn(
            "_k",
            F.least(
                F.col("_base")
                + F.when(F.col("_rr") <= F.col("_short"), 1).otherwise(0),
                F.col("_n"),
            ),
        )
        .select(stratify_col, "_k")
    )
    h = portable_hash60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(stratify_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(ks), stratify_col)
        .withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= F.col("_k"))
        .drop("_k")
    )


def materialize_packs(
    df: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratify_col: str = "lang",
    sep: str = "\n\n",
) -> DataFrame:
    """Turn a pack ASSIGNMENT (`pack_sequences` / `pack_sequences_ffd`
    output: id -> pack_id rows) into the packed training sequences
    themselves: one row per (stratum, pack) carrying the documents'
    text concatenated in ascending id order with ``sep`` between them —
    the last step before a packed corpus is written to training shards.

    Document order inside a pack is the id order the contiguous packer
    assigned by, so materialize(pack_sequences(...)) reproduces the
    exact byte stream a sequential writer would have produced — but
    distributed, and valid for ANY assignment (FFD packs concatenate
    in id order too: deterministic, though not the FFD insertion
    order, documented).

    Scale shape: ONE text-sized shuffle — the groupBy on
    (stratum, pack_id) — with packs bounded by the token budget, so no
    aggregation group exceeds ~budget tokens regardless of corpus
    size; the assignment join is skinny id->pack rows.

    Output: (stratum, pack_id, n_docs, n_tokens, text_packed).
    """
    asg = assignments.select(
        F.col(id_col),
        F.col(stratify_col),
        F.col("pack_id"),
        F.col("n_tokens"),
    )
    joined = df.select(id_col, text_col).join(asg, id_col)
    # array_sort on (id, text) structs orders by id first — the packer's
    # own order — then the lambda projects the text back out
    packed_text = F.concat_ws(
        sep,
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col(text_col).alias("t"))
                )
            ),
            lambda s: s["t"],
        ),
    )
    return joined.groupBy(stratify_col, "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        packed_text.alias("text_packed"),
    )


def card_diff(card_a: DataFrame, card_b: DataFrame) -> DataFrame:
    """The release-review step `corpus_card`'s docstring promises:
    diff two cards into (section, metric, value_a, value_b, delta) —
    a full outer join on the (section, metric) key, so metrics present
    in only one version surface with a NULL on the other side (a
    stratum appearing or vanishing IS the finding) and delta is NULL
    exactly there. Both inputs are card-sized (tens of rows);
    everything stays exact int64."""
    a = card_a.select(
        "section", "metric", F.col("value").cast("long").alias("value_a")
    )
    b = card_b.select(
        "section", "metric", F.col("value").cast("long").alias("value_b")
    )
    return (
        a.join(b, ["section", "metric"], "full_outer")
        .withColumn("delta", (F.col("value_b") - F.col("value_a")).cast("long"))
    )


def corpus_card(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_cols: tuple[str, ...] = ("lang", "source"),
    counts: DataFrame | None = None,
) -> DataFrame:
    """One-call dataset card: the summary table a training-data release
    ships alongside the shards (sizes, composition, duplication,
    length distribution) as a LONG (section, metric, value) frame —
    every value an exact int64, so the card is bit-reproducible and
    diffable across corpus versions (the real use: `card(v2)` vs
    `card(v1)` in a release review).

    Sections:
      size    — n_docs, n_chars, n_tokens_ws, n_tokens_bpeish totals
      <col>   — per-value doc counts for each ``strata_cols`` column
      dup     — n_unique_texts (exact sha2 distinct), n_dup_docs
      length  — exact nearest-rank p25/p50/p75/p95 of per-doc
                whitespace token counts (no float interpolation)

    ``counts``: optional (id, n_tokens) frame — e.g. `bpe_encode`
    output — replacing the built-in estimates, so the card's sizes
    and length quantiles are in tokenizer-TRUE tokens (both token
    totals then report the supplied counts).

    Scale shape: the token projection is computed once and persisted
    (it feeds the totals AND the quantile passes); everything else is
    one map-side-combinable aggregation each — strata cards and the
    dup count are single shuffles on compact keys. The exact
    quantiles reuse the bracketed two-pass order statistic
    (`stratum_order_stat_values` on the NEGATED count: the ascending
    q-quantile is the descending-rank ceil(qN) value of -x), so the
    card never whole-sorts the corpus — the same no-global-sort rule
    as the percentile quality gate. Output is card-sized (tens of
    rows).
    """
    if counts is not None:
        # same (id, n_tokens) override contract as pack_sequences /
        # target_mix_tokens: card sizes and length quantiles in
        # tokenizer-TRUE tokens (both total columns then carry the
        # supplied counts)
        toks = counts.select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens_ws"),
            F.col("n_tokens").cast("long").alias("n_tokens_bpeish"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        toks = (
            token_counts(df, text_col=text_col, id_col=id_col)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    sizes = (
        df.select(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length(text_col)).cast("long").alias("n_chars"),
        )
        .crossJoin(
            F.broadcast(
                toks.select(
                    F.sum("n_tokens_ws").cast("long").alias("n_tokens_ws"),
                    F.sum("n_tokens_bpeish").cast("long").alias(
                        "n_tokens_bpeish"
                    ),
                )
            )
        )
        .selectExpr(
            "stack(4, 'n_docs', n_docs, 'n_chars', n_chars, "
            "'n_tokens_ws', n_tokens_ws, 'n_tokens_bpeish', "
            "n_tokens_bpeish) AS (metric, value)"
        )
        .select(F.lit("size").alias("section"), "metric", F.col("value").cast("long"))
    )
    parts = [sizes]
    for c in strata_cols:
        parts.append(
            df.groupBy(F.col(c).alias("metric"))
            .agg(F.count(F.lit(1)).cast("long").alias("value"))
            .select(F.lit(c).alias("section"), "metric", "value")
        )
    uniq = (
        df.select(F.sha2(F.col(text_col), 256).alias("_h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.count_distinct(F.col("_h")).cast("long").alias("_u"),
        )
        .selectExpr(
            "stack(2, 'n_unique_texts', _u, 'n_dup_docs', _n - _u)"
            " AS (metric, value)"
        )
        .select(F.lit("dup").alias("section"), "metric", F.col("value").cast("long"))
    )
    parts.append(uniq)
    # exact nearest-rank quantiles WITHOUT a global sort: ascending
    # q-quantile == -(descending-rank ceil(qN) value of the negated
    # count), via the bracketed two-pass order statistic. All four
    # quantiles come from ONE fused extraction (r16 optimization —
    # was four independent pipelines: four sketches, four counting
    # passes, up to eight rank subplans over the same frame), then one
    # stack projection emits the four card rows from its single output
    # row — identical values, a quarter of the passes.
    neg = tracked_persist(
        toks.select(
            id_col, (-F.col("n_tokens_ws")).cast("long").alias("_neg")
        ).withColumn("_strat", F.lit(0))
    )
    names_fracs = (("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95))
    cuts = _order_stat_cutoff_multi(
        neg, "_neg", [q for _, q in names_fracs], id_col, ["_strat"],
        10000, None
    )
    stack_args = ", ".join(
        f"'{name}_tokens', -cutoff_{i}" for i, (name, _) in enumerate(names_fracs)
    )
    qparts = [
        cuts.selectExpr(
            f"stack({len(names_fracs)}, {stack_args}) AS (metric, value)"
        ).select(
            F.lit("length").alias("section"),
            "metric",
            F.col("value").cast("long"),
        )
    ]
    out = parts[0]
    for p in parts[1:] + qparts:
        out = out.unionByName(p)
    return out
