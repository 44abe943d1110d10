"""The benchmark workloads.

Each workload is a closed loop: one client issues one operation at a
time and starts the next only after the previous one has finished.
A workload object offers

- ``generate(seed, work_dir)``: write its seeded inputs (untimed);
- ``prepare(spark)``: untimed state the measured loop needs;
- ``cycle(spark, rec, tracer)``: one measured cycle. Every operation
  is timed through ``rec.timed`` and checked through ``rec.check``
  outside its timed region. A run measures at least one cycle and
  keeps starting cycles until ``--seconds`` have passed.

No workload warms up: the measured cycle is the session's first, its
plans' first compilation included, as in a CLI sync or a release job,
which run once per process.

Layer calls go through ``tracer.span``; with tracing on, each lazy
layer output is materialized before its span closes (``_mat``) so the
Spark work lands in the layer that planned it.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import numpy as np

import gen
import layers

# Input sizes. They are kept small enough that one run (set-up plus
# the measured loop) fits in about a minute on 4 cores. sync_churn
# replaces half the keys: 10,400 changes, just past engine.REPORT_LIMIT
# (10,000); the report's key and row collects (one isin literal per
# key) come to 20,800 rows.
SHEET_ROWS = 10_400
CORPUS_DOCS = 2_500
STAR_SCALE = 0.2
# between the planted chains' neighbour and two-apart Jaccard (gen.py)
NEAR_DUP_THRESHOLD = 0.88

# Registry queries timed in ``corpus_release``: one per family the
# per-layer metrics name, each cheap to check against its DuckDB oracle
# on the generated tables. The rows connected components backs are left
# out: their recursive-CTE oracles take 4-21 s each here, and the
# release already runs connected components. text_sentences_udtf
# crosses the Python boundary.
REGISTRY_SUBSET = (
    "agg_cube_sales", "curation_target_mix", "dedup_simhash", "join_revenue_by_nation",
    "similarity_topk_cosine", "storage_text_ingest_roundtrip", "text_sentences_udtf",
    "sync_diff_keyed",
)


def family(query: str) -> str:
    head = query.split("_", 1)[0]
    return head if head in layers.FAMILIES else "other"


def _mat(df, tracer):
    """Materialize ``df`` inside the open span when tracing."""
    return df.localCheckpoint(eager=True) if tracer.enabled else df


def row_hash(df, cols) -> tuple[int, int]:
    """Order-insensitive (row count, sum of 64-bit row hashes)."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class _TracedTable:
    """Delegates to a ``VersionedParquetTable``; ``overwrite`` runs in a
    ``sources.parquet:write`` span that records the files it wrote."""

    def __init__(self, table, tracer):
        self._t, self._tracer = table, tracer

    def read(self, spark):
        return self._t.read(spark)

    def overwrite(self, df):
        with self._tracer.span("sources.parquet:write") as s:
            self._t.overwrite(df)
            if s is not None:
                vdir = f"{self._t.path}.__v{self._t.current_version()}"
                s.counts["files_written"] = sum(f.endswith(".parquet") for f in os.listdir(vdir))


@contextlib.contextmanager
def engine_spans(tracer, rows: int):
    """Route ``engine.sync``'s calls into its layers through spans.

    The engine module looks its layer functions up as module globals;
    they are swapped for span-opening wrappers for the duration of the
    block and restored after it. ``rows`` (the larger side's row count)
    is the base of ``changes_per_row``."""
    from syncquill_spark import engine

    if not tracer.enabled:
        yield
        return
    orig = {n: getattr(engine, n) for n in (
        "validate_sync_frame", "diff_keyed", "format_change_report",
        "apply_changes", "_keys_of", "_rows_for_keys")}

    def validate(df, **kw):
        with tracer.span("operators.validate"):
            return orig["validate_sync_frame"](df, **kw)

    def diff(tgt, src, **kw):
        with tracer.span("operators.diff") as s:
            out = orig["diff_keyed"](tgt, src, **kw).localCheckpoint(eager=True)
            s.counts["changes"] = out.count()
            s.counts["rows"] = rows
            return out

    def report(changes, cols, **kw):
        with tracer.span("operators.report") as s:
            out = orig["format_change_report"](changes, cols, **kw)
            s.counts["rows_collected"] = min(changes.count(), kw.get("limit", engine.REPORT_LIMIT))
            return out

    def apply(tgt, changes, **kw):
        with tracer.span("operators.apply"):
            return orig["apply_changes"](tgt, changes, **kw).localCheckpoint(eager=True)

    def keys_of(changes, change_type):
        out = orig["_keys_of"](changes, change_type)
        tracer.count("driver_rows_collected", len(out))
        return out

    def rows_for_keys(df, keys, key):
        out = orig["_rows_for_keys"](df, keys, key)
        tracer.count("driver_rows_collected", len(out))
        return out

    patched = {
        "validate_sync_frame": validate, "diff_keyed": diff, "format_change_report": report,
        "apply_changes": apply, "_keys_of": keys_of, "_rows_for_keys": rows_for_keys,
    }
    for n, fn in patched.items():
        setattr(engine, n, fn)
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(engine, n, fn)


# -- sheet_sync -------------------------------------------------------


class SheetSync:
    """sync_noop, sync_edit, sync_churn and upsert into a versioned
    parquet target, each from the same base version."""

    name = "sheet_sync"
    ops = ("sync_noop", "sync_edit", "sync_churn", "upsert")
    cols = ("slno", *gen.SHEET_COLS)

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        self.planted = gen.sheet_tables(seed, SHEET_ROWS, os.path.join(work, "sheet"))
        return self.planted

    def prepare(self, spark) -> None:
        from syncquill_spark.sources.parquet import ParquetTable, VersionedParquetTable

        d = os.path.join(self.work, "sheet")
        self.src = {n: ParquetTable(os.path.join(d, f"{n}.parquet")) for n in ("base", "edit", "churn")}
        self.tgt = VersionedParquetTable(os.path.join(_fresh(os.path.join(self.work, "sheet_target")), "t"))
        self.src_hash = {n: row_hash(t.read(spark), self.cols) for n, t in self.src.items()}
        self._rebase(spark)

    def _rebase(self, spark) -> None:
        self.tgt.overwrite(self.src["base"].read(spark))
        self.base_v = self.tgt.current_version()

    def cycle(self, spark, rec, tracer) -> None:
        from pyspark.sql import functions as F

        from syncquill_spark import engine

        # keep the base version inside the retained window: one cycle
        # commits three versions (edit, churn, upsert)
        if max(self.tgt.versions()) + 3 - self.base_v >= self.tgt.max_versions:
            with tracer.span("bench.reset"):
                self._rebase(spark)
        target = _TracedTable(self.tgt, tracer)
        rows = {"base": self.planted["rows"], "edit": self.planted["edit_rows"], "churn": self.planted["churn_rows"]}
        for op, s in zip(self.ops, ("base", "edit", "churn", "edit")):
            with tracer.span("sources.parquet:rollback"):
                self.tgt.rollback(self.base_v)
            n = max(rows["base"], rows[s])
            with rec.timed(op), tracer.span(f"op.{op}"), tracer.span("engine"), engine_spans(tracer, n):
                if op == "upsert":
                    engine.upsert(spark, self.src[s], target)
                    res = None
                else:
                    res = engine.sync(spark, self.src[s], target)
            if not rec.ok:
                continue
            if op == "sync_noop":
                rec.check(res.n_changes == 0, f"{op}: {res.n_changes} changes, want 0")
                continue
            if res is not None:
                got = {r["change_type"]: r["n"] for r in res.changes.groupBy("change_type").agg(
                    F.count(F.lit(1)).alias("n")).collect()}
                want = {k: v for k, v in self.planted["edit" if op == "sync_edit" else "churn"].items() if v}
                rec.check(got == want, f"{op}: changes by type {got}, planted {want}")
            h = row_hash(self.tgt.read(spark), self.cols)
            rec.check(h == self.src_hash[s], f"{op}: target row hash {h} != source {self.src_hash[s]}")


# -- corpus_release ---------------------------------------------------


def release(spark, text_dir: str, targets: dict, out: str, tracer) -> tuple[dict, object, object]:
    """The README's release pipeline, end to end. Returns the export
    manifest and the near-duplicate pairs and dedup survivors frames,
    for counts the caller takes outside its timed region."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.clusters import apply_dedup
    from syncquill_spark.operators.curation import target_mix
    from syncquill_spark.operators.dedup import minhash_lsh_pairs
    from syncquill_spark.operators.text import normalize_text, quality_rules
    from syncquill_spark.sources.text_files import read_text_dir
    from syncquill_spark.sources.training_export import read_training_shards, write_training_shards

    with tracer.span("sources.text_files"):
        docs = _mat(read_text_dir(spark, text_dir, per_line=True, path_in_id=False), tracer)
    with tracer.span("operators.text.normalize"):
        normed = _mat(
            normalize_text(docs).select(
                "doc_id",
                F.regexp_extract("source_path", r"/([a-z]{2})/[^/]+$", 1).alias("lang"),
                F.col("text_norm").alias("text"),
            ),
            tracer,
        )
    with tracer.span("operators.dedup") as s:
        pairs = _mat(minhash_lsh_pairs(normed, threshold=NEAR_DUP_THRESHOLD), tracer)
        if s is not None:
            s.counts["pairs"] = pairs.count()
    with tracer.span("operators.clusters") as s, _count_cc_cycles(s):
        deduped = _mat(apply_dedup(normed, pairs), tracer)
        if s is not None:
            s.counts["docs_in"] = normed.count()
            s.counts["docs_dropped"] = s.counts["docs_in"] - deduped.count()
    with tracer.span("operators.text.quality") as s:
        keep = quality_rules(deduped).filter(F.col("keep") == 1).select("doc_id")
        kept = _mat(deduped.join(keep, "doc_id", "left_semi"), tracer)
        if s is not None:
            s.counts["docs_in"] = deduped.count()
            s.counts["docs_kept"] = kept.count()
    with tracer.span("operators.curation"):
        mix = _mat(target_mix(kept, targets), tracer)
    with tracer.span("sources.training_export:write"):
        manifest = write_training_shards(mix, out, n_shards=4)
    with tracer.span("sources.training_export:verify"):
        read_training_shards(spark, out, verify=True)
    return manifest, pairs, deduped


@contextlib.contextmanager
def _count_cc_cycles(span):
    """Count connected-components cycles into ``span``: each
    distributed cycle cuts its lineage with one lazy localCheckpoint."""
    if span is None:
        yield
        return
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    def counted(self, eager=True, *args, **kwargs):
        if not eager:
            span.counts["cycles"] = span.counts.get("cycles", 0) + 1
        return orig(self, eager, *args, **kwargs)

    DataFrame.localCheckpoint = counted
    try:
        yield
    finally:
        DataFrame.localCheckpoint = orig


def _release_caches(spark) -> None:
    from syncquill_spark.operators._cache import release_cached_intermediates

    release_cached_intermediates()
    spark.catalog.clearCache()


def _isolate(spark) -> None:
    # as bench.py: no query inherits another's caches or garbage
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


class CorpusRelease:
    """ingest -> normalize -> MinHash pairs -> dedup (CC) -> quality ->
    mix -> export -> verified read-back, then ``REGISTRY_SUBSET`` of
    ``plans.QUERIES`` on seeded tables, each collected to the driver, in
    a seed-permuted order."""

    name = "corpus_release"
    ops = ("release", *REGISTRY_SUBSET)
    queries = REGISTRY_SUBSET

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.star = os.path.join(work, "star")
        self.planted = gen.corpus_dirs(seed, CORPUS_DOCS, os.path.join(work, "corpus"))
        return {**self.planted, "star_rows": gen.star_tables(seed, STAR_SCALE, self.star)}

    def prepare(self, spark) -> None:
        # the first measured release's counts and manifest, which every
        # later one must reproduce
        self.first = None
        self.checked = False

    def _check_counts(self, rec, counts: dict) -> None:
        """Pairs and survivors against what was planted. MinHash banding
        may miss a chain link (~2e-4 each at Jaccard 0.90); the exact
        Jaccard verify admits no other pair, and each missed link splits
        its chain, keeping one more doc."""
        p = self.planted
        links = p["chain_docs"] - p["chains"]
        rec.check(0.99 * links <= counts["pairs"] <= links,
                  f"{counts['pairs']} near-dup pairs, {links} planted chain links")
        want = p["unique_docs"] - p["near_dup_drops"] + (links - counts["pairs"])
        rec.check(counts["survivors"] == want, f"{counts['survivors']} docs survive dedup, want {want}")

    def oracle_check(self, rec, answers: dict) -> None:
        """Each registry query's answer against its DuckDB oracle,
        compared as ``tools/verify_local.py`` does (a non-empty check
        where there is no oracle)."""
        import duckdb

        from syncquill_spark.plans import ORACLES
        from tools.verify_local import TABLES, frame_fingerprint

        con = duckdb.connect()
        bad = []
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star}/{t}.parquet')")
            for name, got in answers.items():
                oracle = ORACLES.get(name)
                if oracle is None:
                    ok = len(got) > 0
                else:
                    ok = frame_fingerprint(got)[:3] == frame_fingerprint(con.execute(oracle).df())[:3]
                if not ok:
                    bad.append(name)
        finally:
            con.close()
        rec.check(not bad, f"registry queries differ from their DuckDB oracles or are empty: {bad}")

    def cycle(self, spark, rec, tracer) -> None:
        from pyspark.sql import functions as F

        from syncquill_spark.plans import QUERIES
        from syncquill_spark.sources.training_export import read_training_shards

        with rec.timed("release"), tracer.span("op.release"):
            manifest, pairs, deduped = release(
                spark, os.path.join(self.work, "corpus"), self.planted["mix_targets"],
                os.path.join(self.work, "release"), tracer)
        if rec.ok:
            counts = {"pairs": pairs.count(), "survivors": deduped.count()}
            self._check_counts(rec, counts)
            want = sum(self.planted["mix_targets"].values())
            rec.check(manifest["total_docs"] == want,
                      f"released {manifest['total_docs']} docs, mix targets sum to {want}")
            shipped, _ = read_training_shards(spark, os.path.join(self.work, "release"))
            n_text = shipped.agg(F.count_distinct("text")).collect()[0][0]
            rec.check(n_text == manifest["total_docs"],
                      f"{manifest['total_docs']} shipped docs share text ({n_text} distinct)")
            if self.first is None:
                self.first = counts, manifest
            rec.check((counts, manifest) == self.first, "release counts or manifest differ from the first release's")
        _release_caches(spark)

        # each query's answer is collected inside its timed region, so
        # one execution is both timed and checked
        answers = {}
        for i in self.rng.permutation(len(self.queries)):
            name = self.queries[i]
            _isolate(spark)
            with rec.timed(name), tracer.span(f"plans.{family(name)}"):
                answers[name] = QUERIES[name](spark, self.star).toPandas()
        if not self.checked:
            self.checked = True
            self.oracle_check(rec, answers)


WORKLOADS = {w.name: w for w in (SheetSync, CorpusRelease)}
