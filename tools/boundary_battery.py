"""Boundary-parameter battery — the r13 bug-hunting probe that found
the minhash ANSI-0/0 sentinel-collision crash, the zip_with k-depth
plan overflow, and the vector-kernel NULL/ragged/NaN crashes (the
round-12 precedent was the simhash bits=64 overflow, found by the 64x
ladder). Every case drives an operator with inputs a 100 TB corpus
WILL eventually contain — empty frames, sub-k documents, NULL
text/lang, NULL/NaN/Inf/ragged/all-zero embeddings, truncated media
payloads, corrupted persisted indexes, degenerate streaming batches,
parameter extremes.

r14 (verdict item #4): the battery is now a STANDING SUITE GATE — the
case list lives in ``case_specs()`` and ``tests/test_boundary_battery
.py`` parametrizes one pytest node per case, so a regression in any
guard fails ``pytest tests/`` directly. This file stays runnable as
the exploration harness (one PASS/FAIL line per case, exit code =
failures) for probing new operators before their cases are committed.

Usage: python tools/boundary_battery.py [sf_dir]
Exit code: number of FAILed cases (0 = all green).
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


class Ctx:
    """Shared fixtures for the battery, built lazily so importing the
    case list never needs a SparkSession (pytest collects case names
    without one)."""

    def __init__(self, spark, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, object] = {}

    def _get(self, name, builder):
        if name not in self._cache:
            self._cache[name] = builder()
        return self._cache[name]

    @property
    def docs(self):
        return self._get(
            "docs",
            lambda: self.spark.read.parquet(f"{self.sf_dir}/documents.parquet"),
        )

    @property
    def emb(self):
        return self._get(
            "emb",
            lambda: self.spark.read.parquet(f"{self.sf_dir}/embeddings.parquet"),
        )

    @property
    def empty_docs(self):
        return self._get("empty_docs", lambda: self.docs.limit(0))

    @property
    def empty_emb(self):
        return self._get("empty_emb", lambda: self.emb.limit(0))

    @property
    def tiny(self):
        return self._get("tiny", lambda: self.docs.limit(5))

    @property
    def short(self):
        return self._get(
            "short",
            lambda: self.spark.createDataFrame(
                [(1, "a b", "en"), (2, "c d", "en"),
                 (3, "the quick brown fox jumps over the lazy dog", "en"),
                 (4, "the quick brown fox jumps over the lazy cat", "en")],
                "doc_id long, text string, lang string"),
        )

    @property
    def nulldocs(self):
        return self._get(
            "nulldocs",
            lambda: self.spark.createDataFrame(
                [(1, None, "en"),
                 (2, "the quick brown fox jumps over it", "en"),
                 (3, "the quick brown fox jumps over it", None)],
                "doc_id long, text string, lang string"),
        )

    @property
    def base_vec(self):
        return [float(i % 7 - 3) for i in range(64)]

    @property
    def patho(self):
        base = self.base_vec
        return self._get(
            "patho",
            lambda: self.spark.createDataFrame(
                [(1, base), (2, base), (3, None), (4, [float("nan")] * 64),
                 (5, [float("inf")] * 64), (6, base[:63]),
                 (7, [0.0] * 64)],
                "vec_id long, embedding array<double>"),
        )

    @property
    def q1(self):
        return self._get(
            "q1",
            lambda: self.spark.createDataFrame(
                [(100, self.base_vec)],
                "query_id long, embedding array<double>"),
        )

    @property
    def media(self):
        ppm = b"P6\n2 2\n255\n" + bytes(range(12))
        wav = (b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
               + b"data" + struct.pack("<I", 4) + struct.pack("<2h", 1, -1))
        return self._get(
            "media",
            lambda: self.spark.createDataFrame(
                [(1, ppm), (2, ppm[:-5]), (3, wav), (4, wav[:20]),
                 (5, b"\x89PNG\r\n\x1a\n junk"), (6, None)],
                "media_id long, payload binary"),
        )

    # --- persisted-index fixtures (built once, corrupted per case in
    # fresh copies so cases stay order-independent) -------------------
    @property
    def good_index_dir(self):
        def build():
            from syncquill_spark.sources.index_store import save_index

            d = tempfile.mkdtemp(prefix="battery_idx_")
            save_index(
                f"{d}/idx",
                part_a=self.spark.createDataFrame(
                    [(1, "x"), (2, "y")], "id long, v string"),
                part_b=self.spark.createDataFrame(
                    [(1, 10)], "id long, n long"),
            )
            return d

        return self._get("good_index_dir", build)

    def corrupted_index(self, kind: str) -> str:
        """A fresh corrupted copy of the good index: 'truncated_manifest'
        cuts the manifest JSON mid-token; 'missing_part' deletes a part
        directory the manifest still names."""
        src = f"{self.good_index_dir}/idx"
        dst = tempfile.mkdtemp(prefix=f"battery_{kind}_") + "/idx"
        shutil.copytree(src, dst)
        if kind == "truncated_manifest":
            p = os.path.join(dst, "_index_manifest.json")
            raw = open(p, "rb").read()
            open(p, "wb").write(raw[: len(raw) // 2])
        elif kind == "missing_part":
            shutil.rmtree(os.path.join(dst, "part_b"))
        else:
            raise ValueError(kind)
        return dst

    # --- release-sink fixtures (r15): a good training-shard export and
    # a good exported tokenizer, corrupted per case in fresh copies ----
    @property
    def good_export_dir(self):
        def build():
            from syncquill_spark.sources.training_export import (
                write_training_shards,
            )

            d = tempfile.mkdtemp(prefix="battery_export_")
            write_training_shards(
                self.docs.limit(12), f"{d}/rel", n_shards=3
            )
            return d

        return self._get("good_export_dir", build)

    def corrupted_export(self, kind: str) -> str:
        """A fresh corrupted copy of the good export: 'tampered_shard'
        swaps one shard's data file for another shard's (rows exist,
        wrong content); 'missing_shard' deletes a shard directory the
        manifest still accounts for; 'truncated_manifest' cuts the
        manifest JSON mid-token."""
        import glob as _glob

        src = f"{self.good_export_dir}/rel"
        dst = tempfile.mkdtemp(prefix=f"battery_{kind}_") + "/rel"
        shutil.copytree(src, dst)
        if kind == "tampered_shard":
            s0 = _glob.glob(os.path.join(dst, "data", "shard=0", "*.parquet"))
            s1 = _glob.glob(os.path.join(dst, "data", "shard=1", "*.parquet"))
            assert s0 and s1, "export fixture lost its shard files"
            for f in s0:
                os.remove(f)
            shutil.copy(s1[0], os.path.join(dst, "data", "shard=0",
                                            os.path.basename(s1[0])))
        elif kind == "missing_shard":
            shutil.rmtree(os.path.join(dst, "data", "shard=2"))
        elif kind == "truncated_manifest":
            p = os.path.join(dst, "_export_manifest.json")
            raw = open(p, "rb").read()
            open(p, "wb").write(raw[: len(raw) // 2])
        else:
            raise ValueError(kind)
        return dst

    @property
    def bpe_model(self):
        """A tiny hand-built (merges, vocab) pair in train_bpe's output
        shape — export cases need the frames, not a training run."""
        def build():
            merges = self.spark.createDataFrame(
                [(0, "a", "b", 5), (1, "ab", "c", 3)],
                "rank long, left string, right string, pair_freq long",
            )
            vocab = self.spark.createDataFrame(
                [("abc", 3, ["abc"]), ("ad", 2, ["a", "d"])],
                "word string, freq long, syms array<string>",
            )
            return merges, vocab

        return self._get("bpe_model", build)


def _load_index_part(ctx, kind, part):
    from syncquill_spark.sources.index_store import load_index

    idx = load_index(ctx.spark, ctx.corrupted_index(kind))
    return idx[part].count()


def case_specs():
    """The committed battery: [(name, expect_error, fn(ctx))]. A case
    PASSES when fn runs clean (expect_error None) or raises exactly
    expect_error (a designed guard); any other exception is a latent
    production crash. Keep every fn self-contained (imports inside) so
    one broken module fails its own cases, not the whole list."""

    def _curation():
        import syncquill_spark.operators.curation as c

        return c

    specs = []
    add = lambda name, fn, expect_error=None: specs.append(  # noqa: E731
        (name, expect_error, fn))

    # --- empty inputs ---------------------------------------------------
    def _dedup():
        import syncquill_spark.operators.dedup as d

        return d

    def _sim():
        import syncquill_spark.operators.similarity as s

        return s

    def _text():
        import syncquill_spark.operators.text as t

        return t

    add("minhash_empty",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.empty_docs, k=3, threshold=0.2))
    add("simhash_empty",
        lambda ctx: _dedup().simhash_near_pairs(ctx.empty_docs, bits=32))
    add("ngram_empty",
        lambda ctx: _dedup().ngram_jaccard_pairs(ctx.empty_docs, k=3, threshold=0.2))
    add("exact_empty", lambda ctx: _dedup().exact_dedup(ctx.empty_docs))
    add("cc_empty", lambda ctx: __import__(
        "syncquill_spark.operators.clusters", fromlist=["connected_components"]
    ).connected_components(
        ctx.spark.createDataFrame([], "id_a long, id_b long")))
    add("brute_empty_corpus", lambda ctx: _sim().brute_force_topk(
        ctx.empty_emb,
        ctx.emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding"),
        k=5))
    add("brute_empty_queries", lambda ctx: _sim().brute_force_topk(
        ctx.emb, ctx.empty_emb.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=5))

    # --- short docs (the ANSI-0/0 find) --------------------------------
    add("minhash_short_docs",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=3, threshold=0.5))
    add("ngram_no_nchars_col",
        lambda ctx: _dedup().ngram_jaccard_pairs(ctx.short, k=3, threshold=0.5))

    # --- NULL text / lang ----------------------------------------------
    add("minhash_null_text",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.nulldocs, k=3, threshold=0.5))
    add("simhash_null_text",
        lambda ctx: _dedup().simhash_near_pairs(ctx.nulldocs, bits=32))
    add("langid_null_text", lambda ctx: _text().language_id(ctx.nulldocs))
    add("quality_null_text", lambda ctx: _text().quality_rules(ctx.nulldocs))
    add("chunk_null_text", lambda ctx: _text().chunk_documents(ctx.nulldocs))

    # --- parameter extremes (clean guards must RAISE ValueError) -------
    add("minhash_k_0",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=0), "ValueError")
    add("minhash_k_10000",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=10_000), "ValueError")
    add("minhash_k_64_boundary",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=64, threshold=0.2))
    add("minhash_t0",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=3, threshold=0.0))
    add("minhash_t1",
        lambda ctx: _dedup().minhash_lsh_pairs(ctx.short, k=3, threshold=1.0))
    add("simhash_bits1",
        lambda ctx: _dedup().simhash_near_pairs(ctx.short, bits=1, max_hamming=0, bands=1))
    add("simhash_bits64_full",
        lambda ctx: _dedup().simhash_near_pairs(ctx.short, bits=64, max_hamming=0, bands=1))
    add("zorder_63bits", lambda ctx: ctx.docs.select(__import__(
        "syncquill_spark.functions.zorder", fromlist=["zorder_key"]
    ).zorder_key([F.col("doc_id")], bits=63).alias("z")))
    add("quantize_extremes", lambda ctx: ctx.spark.createDataFrame(
        [(1, [1e30, -1e30, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).select(__import__(
        "syncquill_spark.functions.vectors", fromlist=["quantize_int8"]
    ).quantize_int8(F.col("embedding")).alias("q")))
    add("chunk_1_token",
        lambda ctx: _text().chunk_documents(ctx.tiny, chunk_tokens=1, overlap=0))
    add("chunk_overlap_ge_chunk",
        lambda ctx: _text().chunk_documents(ctx.tiny, chunk_tokens=16, overlap=16),
        "ValueError")
    add("pack_budget_0",
        lambda ctx: _curation().pack_sequences(ctx.tiny, budget=0), "ValueError")

    # --- CDC / join edges ----------------------------------------------
    def _L(ctx):
        return ctx.spark.createDataFrame(
            [(1, 10, "a"), (1, None, "b"), (2, 5, "c")],
            "k long, ts long, lv string")

    def _R(ctx):
        return ctx.spark.createDataFrame(
            [(1, 8, "x"), (1, None, "y"), (3, 1, "z")],
            "k long, ts long, rv string")

    def _asof():
        import syncquill_spark.operators.asof as a

        return a

    add("asof_null_ts", lambda ctx: _asof().asof_join(_L(ctx), _R(ctx), on="k", ts="ts"))
    add("asof_empty_right",
        lambda ctx: _asof().asof_join(_L(ctx), _R(ctx).limit(0), on="k", ts="ts"))

    def _pts(ctx):
        return ctx.spark.createDataFrame(
            [(1, 5.0), (2, None), (3, float("nan"))], "pid long, p double")

    def _ivl(ctx):
        return ctx.spark.createDataFrame(
            [(10, 0.0, 10.0), (11, None, 5.0)], "iid long, lo double, hi double")

    def _ranges():
        import syncquill_spark.operators.ranges as r

        return r

    add("range_null_point", lambda ctx: _ranges().binned_range_join(
        _pts(ctx), _ivl(ctx), "p", "lo", "hi", bin_width=1.0))
    add("range_binwidth_0", lambda ctx: _ranges().binned_range_join(
        _pts(ctx), _ivl(ctx), "p", "lo", "hi", bin_width=0.0), "ValueError")
    add("range_binwidth_neg", lambda ctx: _ranges().binned_range_join(
        _pts(ctx), _ivl(ctx), "p", "lo", "hi", bin_width=-1.0), "ValueError")

    def _S(ctx):
        return ctx.spark.createDataFrame(
            [(1, 1, "a"), (1, 2, None), (1, 3, None), (1, None, "b")],
            "k long, t long, v string")

    def _scd2():
        import syncquill_spark.operators.scd2 as s

        return s

    add("scd2_null_order", lambda ctx: _scd2().scd2_history(_S(ctx), "k", "t", ["v"]))
    add("scd2_empty", lambda ctx: _scd2().scd2_history(_S(ctx).limit(0), "k", "t", ["v"]))
    add("winnow_window_0",
        lambda ctx: _text().winnowing_fingerprints(ctx.tiny, k=3, window=0),
        "ValueError")
    add("winnow_k1_w1",
        lambda ctx: _text().winnowing_fingerprints(ctx.tiny, k=1, window=1))
    add("fuzzy_maxdist0", lambda ctx: _dedup().fuzzy_name_pairs(
        ctx.spark.createDataFrame(
            [(1, "anna lee"), (2, "anna lee"), (3, "bob ray")],
            "doc_id long, name string"),
        name_col="name", max_dist=0))
    add("fuzzy_empty_names", lambda ctx: _dedup().fuzzy_name_pairs(
        ctx.spark.createDataFrame([(1, ""), (2, "")], "doc_id long, name string"),
        name_col="name", max_dist=2))

    # --- pathological embeddings (the vector-kernel find + the r14
    # zero-norm find: finite all-zero rows divide 0/0 in the float
    # cosine; the NaN sorted above every double in desc top-k) -------
    add("neardup_pathological",
        lambda ctx: _sim().embedding_near_dup_pairs(ctx.patho, threshold=0.5))
    add("brute_pathological",
        lambda ctx: _sim().brute_force_topk(ctx.patho, ctx.q1, k=5))
    add("rp_pathological",
        lambda ctx: _sim().random_projection(ctx.patho, out_dim=8))
    add("pca_pathological",
        lambda ctx: _sim().pca_project(ctx.patho, _sim().pca_fit(ctx.patho, k=4)))
    add("neardup_zero_vectors", lambda ctx: _sim().embedding_near_dup_pairs(
        ctx.spark.createDataFrame([(1, [0.0] * 64), (2, [0.0] * 64)],
                                  "vec_id long, embedding array<double>"),
        threshold=0.5))

    def _zero_topk_excludes(ctx):
        got = _sim().brute_force_topk(ctx.patho, ctx.q1, k=7).collect()
        ids = {r["neighbor_id"] for r in got}
        assert 7 not in ids, "zero-norm corpus row ranked in top-k"
        assert ids == {1, 2}, ids
        return len(got)

    add("brute_zero_vector_never_ranks", _zero_topk_excludes)
    add("lsh_zero_vector_never_ranks", lambda ctx: _sim().lsh_topk(
        ctx.patho, ctx.q1, k=7))
    add("ivf_pathological", lambda ctx: _sim().ivf_topk(
        ctx.patho, ctx.q1, k=3, n_cells=2, nprobe=2))

    # IVF-PQ trained on and served from patho + 20 valid rows: a ragged
    # row used to rank first, NULL/NaN/Inf rows ranked, and residual
    # mode aborted in subtract_arrow. Only patho ids 1 and 2 may get
    # codes or rank, in the one-shot and the persisted-index serve.
    def _ivfpq_patho_ranks(residual):
        def run(ctx):
            valid = ctx.spark.createDataFrame(
                [(1000 + i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
                 for i in range(20)],
                "vec_id long, embedding array<double>")
            sim, corpus = _sim(), ctx.patho.union(valid)
            got = sim.ivfpq_topk(corpus, ctx.q1, k=30, n_cells=2, nprobe=2,
                                 residual=residual).collect()
            ranked = {r["neighbor_id"] for r in got}
            assert ranked & set(range(1, 8)) == {1, 2}, sorted(ranked)
            assert len(ranked) == 22, sorted(ranked)
            index = sim.ivfpq_build_index(corpus, n_cells=2, residual=residual)
            served = sim.ivfpq_topk_from_index(
                ctx.q1, index, k=30, nprobe=2, residual=residual).collect()
            assert sorted(served) == sorted(got)
            coded = {r["vec_id"] for r in index["codes"].collect()}
            assert coded & set(range(1, 8)) == {1, 2}, sorted(coded)
            return len(got)

        return run

    add("ivfpq_pathological_ranks", _ivfpq_patho_ranks(False))
    add("ivfpq_residual_pathological_ranks", _ivfpq_patho_ranks(True))

    # An IVF index built over every patho row plus 8 valid ones samples
    # the NULL, NaN, Inf, ragged and zero rows as centroids too; such a
    # cell scores NULL against every valid vector. Residual PQ encoding
    # against that index used to rank the NULL scores FIRST and put all
    # 8 valid vectors in a NULL-centroid cell, with NULL err_q.
    def _pq_encode_skips_unscorable_cells(ctx):
        valid = ctx.spark.createDataFrame(
            [(1000 + i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
             for i in range(8)],
            "vec_id long, embedding array<double>")
        sim, corpus = _sim(), ctx.patho.union(valid)
        index = sim.ivf_build_index(corpus, n_cells=15)
        bad = {
            r.cell_id for r in index.collect()
            if r.centroid is None or len(r.centroid) != 64
            or any(c != c or abs(c) == float("inf") for c in r.centroid)
        }
        assert bad, "no unscorable centroid sampled"
        got = sim.pq_encode(corpus, centroids=index.select(
            "cell_id", F.col("centroid").alias("_ucv"))).collect()
        assert {r.vec_id for r in got} == {1, 2} | set(range(1000, 1008))
        assert not {r.cell_id for r in got} & bad, sorted(bad)
        assert all(r.err_q is not None for r in got)
        return len(got)

    add("pq_encode_never_assigns_unscorable_cell", _pq_encode_skips_unscorable_cells)

    # A label whose rows are all ragged gets a ragged centroid that no
    # 64-d vector can be scored against; min_by ranked that NULL
    # distance first and gave every vector that label. A NULL embedding
    # (vec 5) can be scored against no centroid and gets no row: it
    # used to take the smallest label, every score tying at NULL.
    def _nearest_centroid_skips_ragged_label(ctx):
        base = ctx.base_vec
        rows = [(1, base, 1), (2, [c + 1.0 for c in base], 1),
                (3, [-c for c in base], 2), (4, base[:63], 0), (5, None, 7)]
        got = {
            r.vec_id: r.nearest_label
            for r in _sim().assign_nearest_centroid(ctx.spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label long"
            )).collect()
        }
        assert got == {1: 1, 2: 1, 3: 2, 4: 0}, got
        return len(got)

    add("nearest_centroid_never_picks_ragged_label",
        _nearest_centroid_skips_ragged_label)

    # --- corrupt media payloads (the triage gate) ----------------------
    def _mm():
        import syncquill_spark.operators.multimodal as m

        return m

    add("media_triage_corrupt", lambda ctx: _mm().media_triage(ctx.media))

    def _triage_string_ids(ctx):
        df = ctx.media.select(
            F.concat(F.lit("asset-"), F.col("media_id")).alias("asset"),
            "payload")
        return _mm().media_triage(df, id_col="asset")

    add("media_triage_string_ids", _triage_string_ids)

    # --- corrupted persisted indexes (r14, verdict item #4): fail-stop
    # with a diagnosable error, never silently-wrong reads ------------
    add("index_truncated_manifest",
        lambda ctx: _load_index_part(ctx, "truncated_manifest", "part_a"),
        "JSONDecodeError")
    add("index_missing_part",
        lambda ctx: _load_index_part(ctx, "missing_part", "part_b"),
        "AnalysisException")

    # --- streaming-gate degenerate batches (r14, verdict item #4) ------
    def _streaming():
        import syncquill_spark.streaming as s

        return s

    def _vec_index(ctx):
        return ctx._get(
            "vec_index",
            lambda: _streaming().build_embedding_index(
                ctx.emb.limit(200), bands=4, planes_per_band=4))

    add("vgate_empty_batch", lambda ctx: _streaming().stream_embedding_near_dups(
        ctx.empty_emb, *_vec_index(ctx)))
    add("vgate_pathological_batch",
        lambda ctx: _streaming().stream_embedding_near_dups(
            ctx.patho, *_vec_index(ctx)))
    add("vgate_empty_index", lambda ctx: _streaming().stream_embedding_near_dups(
        ctx.emb.limit(5), *_streaming().build_embedding_index(ctx.empty_emb)))

    def _text_index(ctx):
        return ctx._get(
            "text_index",
            lambda: _streaming().build_text_minhash_index(ctx.docs.limit(200)))

    def _tgate(ctx, batch):
        keys, sh = _text_index(ctx)
        from syncquill_spark.streaming.text_dedup import (
            text_near_dups_against_index,
        )

        return text_near_dups_against_index(batch, keys, sh, threshold=0.5)

    add("tgate_empty_batch", lambda ctx: _tgate(ctx, ctx.empty_docs))
    add("tgate_null_batch_rows", lambda ctx: _tgate(ctx, ctx.nulldocs))
    add("tgate_short_batch_rows", lambda ctx: _tgate(ctx, ctx.short))
    add("exact_gate_empty_batch", lambda ctx: _streaming().stream_drop_seen_text(
        ctx.empty_docs, ctx._get(
            "sha_index",
            lambda: _streaming().build_text_hash_index(ctx.docs.limit(200)))))
    add("exact_gate_null_rows", lambda ctx: _streaming().stream_drop_seen_text(
        ctx.nulldocs, ctx._get(
            "sha_index",
            lambda: _streaming().build_text_hash_index(ctx.docs.limit(200)))))

    # --- winnowing gate degenerate batches (r14) ------------------------
    def _winnow_index(ctx):
        from syncquill_spark.streaming.text_dedup import (
            build_winnowing_index,
        )

        return ctx._get(
            "winnow_index",
            lambda: build_winnowing_index(ctx.docs.limit(200)))

    def _wgate(ctx, batch):
        from syncquill_spark.streaming.text_dedup import (
            winnowing_matches_against,
        )

        return winnowing_matches_against(batch, _winnow_index(ctx))

    add("wgate_empty_batch", lambda ctx: _wgate(ctx, ctx.empty_docs))
    add("wgate_null_batch_rows", lambda ctx: _wgate(ctx, ctx.nulldocs))
    add("wgate_short_batch_rows", lambda ctx: _wgate(ctx, ctx.short))
    add("wgate_empty_index", lambda ctx: __import__(
        "syncquill_spark.streaming.text_dedup",
        fromlist=["winnowing_matches_against", "build_winnowing_index"],
    ).winnowing_matches_against(
        ctx.tiny,
        __import__(
            "syncquill_spark.streaming.text_dedup",
            fromlist=["build_winnowing_index"],
        ).build_winnowing_index(ctx.empty_docs)))

    # --- media fingerprint gate (r14): triage-then-fingerprint is the
    # documented contract — quarantined rows must make the strict
    # fingerprint pass clean, and the gate must survive an empty batch
    def _media_fp_quarantined(ctx):
        triage = _mm().media_triage(ctx.media)
        clean = ctx.media.join(
            triage.filter(F.col("ok")).select("media_id"), "media_id"
        )
        return _mm().media_fingerprints(clean)

    add("media_fp_after_triage", _media_fp_quarantined)
    add("media_gate_empty_batch", lambda ctx: _mm().media_matches_against(
        _mm().media_fingerprints(ctx.media.limit(0)),
        _media_fp_quarantined(ctx)))

    # --- the reference's own sync core (r14): diff/apply/validate on
    # empty and degenerate frames — a nightly sync whose source table
    # is empty (upstream outage) must produce a clean change set, and
    # applying an empty change set must be the identity --------------
    def _sync(ctx):
        import syncquill_spark.operators.diff as d

        return d

    def _apply(ctx):
        import syncquill_spark.operators.apply as a

        return a

    def _tbl(ctx, rows):
        return ctx.spark.createDataFrame(
            rows, "slno string, name string, val string")

    def _diff_empty_source(ctx):
        t = _tbl(ctx, [("1", "a", "x"), ("2", "b", "y")])
        out = _sync(ctx).diff_keyed(t, t.limit(0))
        n = out.count()
        kinds = {r["change_type"] for r in out.collect()}
        assert kinds == {"del_row"} and n == 2, (n, kinds)
        return n

    def _diff_empty_target(ctx):
        s = _tbl(ctx, [("1", "a", "x")])
        out = _sync(ctx).diff_keyed(s.limit(0), s)
        kinds = {r["change_type"] for r in out.collect()}
        assert kinds == {"extra_row"}, kinds
        return out.count()

    def _apply_empty_changes(ctx):
        t = _tbl(ctx, [("1", "a", "x"), ("2", "b", "y")])
        changes = _sync(ctx).diff_keyed(t, t)  # empty change set
        out = _apply(ctx).apply_changes(t, changes, source=t)
        assert out.count() == 2
        return 2

    def _diff_apply_roundtrip_empty_both(ctx):
        e = _tbl(ctx, [])
        changes = _sync(ctx).diff_keyed(e, e)
        return _apply(ctx).apply_changes(e, changes, source=e)

    add("sync_diff_empty_source", _diff_empty_source)
    add("sync_diff_empty_target", _diff_empty_target)
    add("sync_apply_empty_changes", _apply_empty_changes)
    add("sync_both_empty", _diff_apply_roundtrip_empty_both)

    def _validate_null_key(ctx):
        from syncquill_spark.operators.validate import validate_sync_frame

        bad = _tbl(ctx, [("1", "a", "x"), (None, "b", "y")])
        validate_sync_frame(bad).count()

    add("sync_validate_null_key", _validate_null_key, "ValidationError")

    def _validate_missing_key_col(ctx):
        from syncquill_spark.operators.validate import validate_sync_frame

        validate_sync_frame(
            ctx.spark.createDataFrame([("a",)], "name string"))

    add("sync_validate_missing_key_col", _validate_missing_key_col,
        "ValidationError")

    # --- release sink (r15, verdict item #6): the LAST hop before a
    # training job consumes the corpus. Storage corruption must
    # fail-stop diagnosably at read_training_shards(verify=True) —
    # a silently-wrong release poisons a training run, the most
    # expensive downstream failure this engine can cause ---------------
    def _export():
        from syncquill_spark.sources import training_export as t

        return t

    add("export_empty_corpus", lambda ctx: _export().write_training_shards(
        ctx.empty_docs, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
        n_shards=2), "ValueError")
    add("export_zero_token_budget", lambda ctx: _export().write_training_shards(
        ctx.tiny, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
        tokens_per_shard=0), "ValueError")
    add("export_n_shards_0", lambda ctx: _export().write_training_shards(
        ctx.tiny, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
        n_shards=0), "ValueError")
    add("export_both_sizing_knobs", lambda ctx: _export().write_training_shards(
        ctx.tiny, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
        n_shards=2, tokens_per_shard=100), "ValueError")

    def _export_verify_roundtrip(ctx):
        frame, manifest = _export().read_training_shards(
            ctx.spark, f"{ctx.good_export_dir}/rel", verify=True)
        n = frame.count()
        assert n == manifest["total_docs"] == 12, (n, manifest["total_docs"])
        return n

    add("export_verify_roundtrip", _export_verify_roundtrip)
    add("export_tampered_shard", lambda ctx: _export().read_training_shards(
        ctx.spark, ctx.corrupted_export("tampered_shard"), verify=True),
        "ValueError")
    add("export_missing_shard", lambda ctx: _export().read_training_shards(
        ctx.spark, ctx.corrupted_export("missing_shard"), verify=True),
        "ValueError")
    add("export_truncated_manifest", lambda ctx: _export().read_training_shards(
        ctx.spark, ctx.corrupted_export("truncated_manifest"), verify=True),
        "JSONDecodeError")

    def _export_unverified_misses_tamper(ctx):
        # verify=False is documented as trusting the manifest — pin that
        # the tampered read still LOADS (the gate is opt-in, and this
        # case documents exactly what skipping it forfeits)
        frame, _ = _export().read_training_shards(
            ctx.spark, ctx.corrupted_export("tampered_shard"), verify=False)
        return frame.count()

    add("export_unverified_read_is_trusting", _export_unverified_misses_tamper)

    # r15 battery FIND: a NULL-text doc's token count is NULL, SUM
    # skips it, and the verify gate recomputes the same SUM — the doc
    # would ship uncounted and still verify. The writer now refuses
    # diagnosably (and an all-NULL corpus under tokens_per_shard no
    # longer dies with a bare TypeError after writing staging).
    def _export_null_text(ctx):
        bad = ctx.spark.createDataFrame(
            [(1, "some text"), (2, None), (3, "more text")],
            "doc_id long, text string")
        return _export().write_training_shards(
            bad, tempfile.mkdtemp(prefix="battery_e_") + "/rel", n_shards=2)

    add("export_null_text_refused", _export_null_text, "ValueError")

    def _export_all_null_token_budget(ctx):
        bad = ctx.spark.createDataFrame(
            [(1, None), (2, None)], "doc_id long, text string")
        return _export().write_training_shards(
            bad, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
            tokens_per_shard=100)

    add("export_all_null_tokens_per_shard", _export_all_null_token_budget,
        "ValueError")

    def _export_null_token_col(ctx):
        bad = ctx.spark.createDataFrame(
            [(1, "a b", 2), (2, "c d", None)],
            "doc_id long, text string, n_tok long")
        return _export().write_training_shards(
            bad, tempfile.mkdtemp(prefix="battery_e_") + "/rel",
            n_shards=1, token_col="n_tok")

    add("export_null_token_col_refused", _export_null_token_col, "ValueError")

    def _export_refusal_leaves_no_staging(ctx):
        import glob as _glob

        base = tempfile.mkdtemp(prefix="battery_e_")
        bad = ctx.spark.createDataFrame(
            [(1, None)], "doc_id long, text string")
        try:
            _export().write_training_shards(bad, f"{base}/rel", n_shards=1)
        except ValueError:
            pass
        leftovers = _glob.glob(f"{base}/rel*")
        assert not leftovers, f"refused export left state behind: {leftovers}"
        return 0

    add("export_refusal_leaves_no_staging", _export_refusal_leaves_no_staging)

    def _export_verify_catches_nulled_release(ctx):
        # legacy/tampered shape: a valid release whose n_tokens column
        # is NULLed in place — the verify gate must fail it, not let
        # the SUM-vs-SUM comparison slide it through
        import glob as _glob

        src = f"{ctx.good_export_dir}/rel"
        dst = tempfile.mkdtemp(prefix="battery_nulltok_") + "/rel"
        shutil.copytree(src, dst)
        files = _glob.glob(os.path.join(dst, "data", "shard=1", "*.parquet"))
        assert files
        pdf = __import__("pandas").read_parquet(files[0])
        # keep the column's parquet type int64-nullable: a plain None
        # assignment upcasts to float64 and breaks the Spark read with
        # a schema error instead of exercising the NULL-count gate.
        # Write under a NEW name (and remove the old file): an in-place
        # overwrite leaves a stale size in the session's FileStatusCache
        # and the read fails at the footer instead of reaching the gate.
        pdf["n_tokens"] = pdf["n_tokens"].astype("Int64")
        pdf.loc[pdf.index[:1], "n_tokens"] = None
        pdf.to_parquet(
            os.path.join(os.path.dirname(files[0]), "part-tampered.parquet"),
            index=False,
        )
        os.remove(files[0])
        return _export().read_training_shards(ctx.spark, dst, verify=True)

    add("export_verify_catches_nulled_release",
        _export_verify_catches_nulled_release, "ValueError")

    # --- exported tokenizer files (r15): merges.txt/vocab.json ---------
    def _bpe():
        from syncquill_spark.operators import bpe as b

        return b

    def _bpe_roundtrip_empty_merges(ctx):
        merges, vocab = ctx.bpe_model
        d = tempfile.mkdtemp(prefix="battery_bpe_") + "/tok"
        _bpe().export_bpe_files(merges.limit(0), vocab, d)
        got = _bpe().load_bpe_merge_list(d)
        assert got == [], got
        return 0

    add("bpe_export_empty_merge_list", _bpe_roundtrip_empty_merges)

    def _bpe_malformed_merges_line(ctx):
        merges, vocab = ctx.bpe_model
        d = tempfile.mkdtemp(prefix="battery_bpe_") + "/tok"
        _bpe().export_bpe_files(merges, vocab, d)
        with open(os.path.join(d, "merges.txt"), "a", encoding="utf-8") as fh:
            fh.write("tokenwithoutspace\n")  # a truncated final line
        return _bpe().load_bpe_merge_list(d)

    add("bpe_merges_malformed_line", _bpe_malformed_merges_line, "ValueError")
    add("bpe_merges_missing_file", lambda ctx: _bpe().load_bpe_merge_list(
        tempfile.mkdtemp(prefix="battery_bpe_none_")), "FileNotFoundError")

    # --- r15 second sweep: shuffle/frame parameter extremes + media
    # pair/gate degenerate frames. deterministic_shuffle(0) previously
    # died mid-job with ANSI REMAINDER_BY_ZERO and NEGATIVE n_shards
    # silently behaved like its absolute value (h60 >= 0, so h % -3
    # lands in 0..2 — accepted nonsense); sample_frames(0) died in the
    # worker with a bare ZeroDivisionError. All three now refuse
    # driver-side before any job launches -------------------------------
    def _shuffle_frame(ctx):
        return ctx.tiny.select(
            F.col("doc_id").alias("_exp_id"),
            F.col("text").alias("_exp_text"),
            F.lit(1).alias("n_tokens"),
        )

    def _shuffle(n):
        def fn(ctx):
            from syncquill_spark.operators.curation import (
                deterministic_shuffle,
            )

            return deterministic_shuffle(_shuffle_frame(ctx), n, id_col="_exp_id")

        return fn

    add("shuffle_0_shards", _shuffle(0), "ValueError")
    add("shuffle_negative_shards", _shuffle(-3), "ValueError")
    add("frames_zero_frame_bytes", lambda ctx: _mm().sample_frames(
        ctx.media.limit(1), frame_bytes=0), "ValueError")
    add("frames_zero_every_n", lambda ctx: _mm().sample_frames(
        ctx.media.limit(1), frame_bytes=16, every_n=0), "ValueError")

    def _empty_fp(ctx):
        return ctx.spark.createDataFrame(
            [], "media_id long, modality string, simhash long")

    add("media_pairs_empty_fp", lambda ctx: _mm().media_near_pairs(
        _empty_fp(ctx)))

    def _media_pairs_single_modality(ctx):
        fp = ctx.spark.createDataFrame(
            [(1, "image", 5), (2, "image", 5), (3, "audio", 5)],
            "media_id long, modality string, simhash long")
        out = _mm().media_near_pairs(fp).collect()
        # identical hashes pair WITHIN a modality only: the image twin
        # pairs, the lone audio row (same simhash value!) never does
        assert {(r.modality, r.id_a, r.id_b) for r in out} == {
            ("image", 1, 2)
        }, out
        return len(out)

    add("media_pairs_never_cross_modality", _media_pairs_single_modality)
    add("media_gate_empty_corpus", lambda ctx: _mm().media_matches_against(
        _mm().media_fingerprints(
            ctx.media.join(
                _mm().media_triage(ctx.media).filter(F.col("ok")).select(
                    "media_id"), "media_id")),
        _empty_fp(ctx)))

    # --- r15 sweep 4: retrieval/cluster/key-function edges --------------
    def _zorder(bits):
        def fn(ctx):
            z = __import__(
                "syncquill_spark.functions.zorder", fromlist=["zorder_key"]
            ).zorder_key([F.col("doc_id")], bits=bits)
            return ctx.tiny.select(z.alias("z"))

        return fn

    add("zorder_bits0", _zorder(0), "ValueError")
    add("zorder_key_too_wide", lambda ctx: __import__(
        "syncquill_spark.functions.zorder", fromlist=["zorder_key"]
    ).zorder_key([F.col("a"), F.col("b")], bits=32), "ValueError")

    def _bm25_absent_term(ctx):
        from syncquill_spark.operators.text import (
            bm25_from_index,
            build_bm25_index,
        )

        idx = ctx._get(
            "bm25_idx", lambda: build_bm25_index(ctx.docs.limit(100)))
        n = bm25_from_index(idx, ("zzzznotaterm",)).count()
        assert n == 0, n  # absent term: empty result, never an error
        return bm25_from_index(idx, ()).count()  # empty query: empty too

    add("bm25_absent_and_empty_terms", _bm25_absent_term)

    def _cc_self_loops(ctx):
        from syncquill_spark.operators.clusters import connected_components

        out = connected_components(
            ctx.spark.createDataFrame(
                [(1, 1), (2, 2), (1, 2)], "id_a long, id_b long")
        ).collect()
        labels = {r[0]: r[1] for r in out}
        assert labels[1] == labels[2], out  # self-loops never split a CC
        return len(out)

    add("cc_self_loops", _cc_self_loops)

    def _brute_k0_empty(ctx):
        # top-0 / top-negative: EMPTY result is the pinned contract
        # (rank <= k keeps nothing) — silent, but "no neighbors
        # requested" has one sane answer and this is it
        n = _sim().brute_force_topk(ctx.emb.limit(20), ctx.q1, k=0).count()
        assert n == 0, n
        return _sim().brute_force_topk(ctx.emb.limit(20), ctx.q1, k=-5).count()

    add("brute_topk_k0_empty", _brute_k0_empty)

    # --- r15 sweep 6: skew-salting + band-parameter guards. All were
    # asserts (vanish under python -O) or mid-job ANSI crashes; all now
    # raise named ValueErrors driver-side ------------------------------
    def _skew(factor):
        def fn(ctx):
            from syncquill_spark.operators.skew import salted_join

            L = ctx.spark.createDataFrame(
                [(1, "a"), (1, "b")], "k long, v string")
            R = ctx.spark.createDataFrame([(1, "x")], "k long, w string")
            return salted_join(L, R, "k", salt_factor=factor)

        return fn

    add("salted_join_factor0", _skew(0), "ValueError")
    add("salted_join_factor_negative", _skew(-2), "ValueError")

    def _salted_agg_factor0(ctx):
        from syncquill_spark.operators.skew import salted_agg

        return salted_agg(
            ctx.tiny, "lang",
            {"n": (F.count(F.lit(1)), "sum")}, salt_factor=0)

    add("salted_agg_factor0", _salted_agg_factor0, "ValueError")
    add("simhash_bands_below_hamming", lambda ctx: _dedup().simhash_near_pairs(
        ctx.short, bits=32, max_hamming=5, bands=3), "ValueError")

    def _range_inverted_interval(ctx):
        # an interval with lo > hi matches NOTHING — empty, not garbage
        # and not an error (degenerate intervals are data, not params)
        out = _ranges().binned_range_join(
            ctx.spark.createDataFrame([(1, 5.0)], "pid long, p double"),
            ctx.spark.createDataFrame(
                [(10, 8.0, 2.0)], "iid long, lo double, hi double"),
            "p", "lo", "hi", bin_width=1.0)
        assert out.count() == 0
        return 0

    add("range_inverted_interval_empty", _range_inverted_interval)
    add("minhash_bands_not_dividing", lambda ctx: _dedup().minhash_lsh_pairs(
        ctx.short, k=3, n_perm=64, bands=7), "ValueError")

    def _bigram_empty_model(ctx):
        from syncquill_spark.operators.text import (
            bigram_score_against,
            build_bigram_model,
        )

        c1, c12 = build_bigram_model(ctx.empty_docs)
        out = bigram_score_against(ctx.tiny, c1, c12)
        assert out.count() == 5  # every doc scores (all-unseen, q=0)
        return out.filter(F.col("sum_q") != 0).count()

    add("bigram_gate_empty_model_scores_all", _bigram_empty_model)

    # --- r16: CC NULL-endpoint edges + BM25 manifest-stamp fallback ----
    def _cc_null_edges(ctx):
        from syncquill_spark.operators.clusters import connected_components

        out = connected_components(
            ctx.spark.createDataFrame(
                [(1, 2), (None, 3), (4, None), (None, None), (2, 5)],
                "id_a long, id_b long",
            )
        ).collect()
        labels = {r[0]: r[1] for r in out}
        # NULL never appears as a node; half-NULL edges drop whole
        # (nodes 3 and 4 had only NULL edges -> absent); the real
        # component {1,2,5} is intact
        assert None not in labels, out
        assert set(labels) == {1, 2, 5}, out
        assert labels[1] == labels[2] == labels[5] == 1, out
        return len(out)

    add("cc_null_endpoint_edges_dropped", _cc_null_edges)

    def _bm25_tampered_stamp(ctx):
        import json as _json

        from syncquill_spark.operators.text import (
            bm25_from_index,
            build_bm25_index,
            load_bm25_index,
            save_bm25_index,
        )

        d = tempfile.mkdtemp(prefix="battery_bm25_stamp_") + "/idx"
        save_bm25_index(d, build_bm25_index(ctx.docs.limit(100)))
        terms = ("the", "of")
        pruned = bm25_from_index(load_bm25_index(ctx.spark, d), terms).count()
        # tamper: manifest claims a different bucket width than the
        # directories were written with (the silent-misprune class)
        mp = os.path.join(d, "_index_manifest.json")
        m = _json.load(open(mp))
        m["meta"]["bm25_n_buckets"] = 32
        _json.dump(m, open(mp, "w"))
        import warnings as _w

        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            loaded = load_bm25_index(ctx.spark, d)
        assert any("bucket width" in str(c.message) for c in caught)
        assert "term_bucket" not in loaded["postings"].columns
        unpruned = bm25_from_index(loaded, terms).count()
        assert unpruned == pruned, (unpruned, pruned)  # nothing lost
        return unpruned

    add("bm25_tampered_stamp_falls_back_unpruned", _bm25_tampered_stamp)

    def _bm25_append_width_mismatch(ctx):
        from syncquill_spark.operators.text import (
            append_bm25_index,
            build_bm25_index,
            load_bm25_index,
            save_bm25_index,
        )

        d = tempfile.mkdtemp(prefix="battery_bm25_appw_") + "/idx"
        save_bm25_index(d, build_bm25_index(ctx.tiny))
        append_bm25_index(
            d, load_bm25_index(ctx.spark, d), ctx.docs.limit(8),
            n_buckets=32,
        )

    add("bm25_append_width_mismatch_refused", _bm25_append_width_mismatch,
        "ValueError")

    # --- r16: index part names colliding with bookkeeping prefixes ----
    def _index_underscore_part_name(ctx):
        from syncquill_spark.sources.index_store import save_index

        save_index(
            tempfile.mkdtemp(prefix="battery_uspart_") + "/idx",
            _stats=ctx.tiny.select("doc_id"),
        )

    add("index_underscore_part_name_refused", _index_underscore_part_name,
        "ValueError")

    def _index_append_underscore_part(ctx):
        from syncquill_spark.sources.index_store import (
            append_index,
            save_index,
        )

        d = tempfile.mkdtemp(prefix="battery_usapp_") + "/idx"
        save_index(d, good=ctx.tiny.select("doc_id"))
        # a NEW part whose name the walkers would hide: the next append
        # after this one would hardlink-skip its directory and commit
        # the loss atomically — refused at this append instead
        append_index(d, **{".hidden": ctx.tiny.select("doc_id")})

    add("index_append_bookkeeping_part_refused", _index_append_underscore_part,
        "ValueError")

    # --- r16: engine.sync under degenerate connector frames -----------
    def _sync_tables(ctx, src_df, tgt_df):
        from syncquill_spark.sources.parquet import ParquetTable

        d = tempfile.mkdtemp(prefix="battery_sync_")
        src_df.write.mode("overwrite").parquet(f"{d}/src")
        tgt_df.write.mode("overwrite").parquet(f"{d}/tgt")
        return ParquetTable(f"{d}/src"), ParquetTable(f"{d}/tgt")

    def _sync_empty_both(ctx):
        from syncquill_spark.engine import sync

        empty = ctx.spark.createDataFrame(
            [], "slno string, name string, val string")
        s, t = _sync_tables(ctx, empty, empty)
        r = sync(ctx.spark, s, t)
        assert r.n_changes == 0 and r.report == "No changes.", r
        return 0

    add("sync_empty_source_and_target", _sync_empty_both)

    def _sync_source_missing_key(ctx):
        from syncquill_spark.engine import sync

        src = ctx.spark.createDataFrame([("a", "x")], "name string, val string")
        tgt = ctx.spark.createDataFrame(
            [("1", "a", "x")], "slno string, name string, val string")
        s, t = _sync_tables(ctx, src, tgt)
        sync(ctx.spark, s, t)

    add("sync_source_missing_key_column", _sync_source_missing_key,
        "ValidationError")

    def _sync_empty_source_deletes_all(ctx):
        from syncquill_spark.engine import sync

        src = ctx.spark.createDataFrame(
            [], "slno string, name string, val string")
        tgt = ctx.spark.createDataFrame(
            [(str(i), f"n{i}", f"v{i}") for i in range(20)],
            "slno string, name string, val string")
        s, t = _sync_tables(ctx, src, tgt)
        r = sync(ctx.spark, s, t)
        # a full wipe is a legal change set: 20 del_rows, applied
        assert r.n_changes == 20, r.n_changes
        assert t.read(ctx.spark).count() == 0
        return r.n_changes

    add("sync_empty_source_deletes_all", _sync_empty_source_deletes_all)

    def _sync_all_null_key(ctx):
        from syncquill_spark.engine import sync

        src = ctx.spark.createDataFrame(
            [(None, "a", "x")], "slno string, name string, val string")
        tgt = ctx.spark.createDataFrame(
            [("1", "a", "x")], "slno string, name string, val string")
        s, t = _sync_tables(ctx, src, tgt)
        sync(ctx.spark, s, t)

    add("sync_null_key_rows_refused", _sync_all_null_key, "ValidationError")

    def _upsert_empty_source(ctx):
        from syncquill_spark.engine import upsert

        src = ctx.spark.createDataFrame(
            [], "slno string, name string, val string")
        tgt = ctx.spark.createDataFrame(
            [("1", "a", "x")], "slno string, name string, val string")
        s, t = _sync_tables(ctx, src, tgt)
        upsert(ctx.spark, s, t)
        # truncate-and-load semantics: an empty source EMPTIES the
        # target (the reference's WRITE_TRUNCATE does the same)
        assert t.read(ctx.spark).count() == 0
        return 0

    add("upsert_empty_source_truncates", _upsert_empty_source)

    def _bm25_null_doc_id(ctx):
        from syncquill_spark.operators.text import (
            bm25_from_index,
            bm25_scores,
            build_bm25_index,
        )

        docs = ctx.spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha delta"),
             (None, "alpha beta")],
            "doc_id long, text string")
        idx = build_bm25_index(docs)
        # the NULL-id doc never reaches postings (the inline-dl join
        # drops NULL keys at build; the pre-r16 serve dropped them at
        # its doclens join — same served rows, earlier and explicit)
        assert idx["postings"].filter(F.col("doc_id").isNull()).count() == 0
        # ...but it still COUNTS toward df and n_docs (it contains its
        # terms), so serve SCORES — not just the served id set — must
        # equal the text-path recompute exactly
        served = sorted(
            (r.doc_id, r.bm25, r.n_matched)
            for r in bm25_from_index(idx, ("alpha",)).collect()
        )
        recomputed = sorted(
            (r.doc_id, r.bm25, r.n_matched)
            for r in bm25_scores(docs, ("alpha",)).collect()
        )
        assert served == recomputed, (served, recomputed)
        assert [r[0] for r in served] == [1, 2], served
        return len(served)

    add("bm25_null_doc_id_excluded_consistently", _bm25_null_doc_id)

    # --- r16 probe sweep: video frame-vote parameter edges -------------
    def _video_fp(ctx):
        return ctx.spark.createDataFrame(
            [(1, 0, 5), (1, 1, 9), (2, 0, 5), (2, 1, 9), (3, 0, 1000)],
            "media_id long, frame_idx long, simhash long",
        )

    def _mm_pairs(ctx, **kw):
        return _mm().video_near_pairs(_video_fp(ctx), **kw)

    add("video_cap_0_refused",
        lambda ctx: _mm_pairs(ctx, max_frames_per_video=0), "ValueError")
    add("video_cap_negative_refused",
        lambda ctx: _mm_pairs(ctx, max_frames_per_video=-4), "ValueError")
    add("simhash_negative_hamming_refused",
        lambda ctx: _dedup().simhash_near_pairs(
            ctx.short, bits=32, max_hamming=-1), "ValueError")
    add("video_negative_hamming_refused",
        lambda ctx: _mm_pairs(ctx, max_hamming=-1), "ValueError")

    def _video_min_frames_edges(ctx):
        # min_frames <= 0 keeps every voted pair (votes are >= 1 by
        # construction) — harmless, pinned as the contract
        n0 = _mm_pairs(ctx, min_frames=0).count()
        n1 = _mm_pairs(ctx, min_frames=1).count()
        assert n0 == n1 == 3, (n0, n1)
        return n0

    add("video_min_frames_0_keeps_all_voted", _video_min_frames_edges)

    def _video_empty_fp(ctx):
        return _mm().video_near_pairs(_video_fp(ctx).limit(0))

    add("video_empty_fingerprints", _video_empty_fp)

    def _scd2_tied_observations_deterministic(ctx):
        # the r16 probe find (the asof class): observations tied on
        # (key, order) with DIFFERING tracked values must collapse to
        # the SAME version history under every input layout — pinned
        # to the tracked-struct-ascending tie rule
        from syncquill_spark.operators.scd2 import scd2_history

        rows = [(1, 10, "a"), (1, 20, "b"), (1, 20, "c"), (1, 30, "b")]
        want = [("a", 1, 10, 20, 1), ("b", 2, 20, 20, 1),
                ("c", 3, 20, 30, 1), ("b", 4, 30, None, 1)]
        for data in (rows, list(reversed(rows)),
                     [rows[2], rows[0], rows[3], rows[1]]):
            df = ctx.spark.createDataFrame(
                data, "k int, ts int, v string").repartition(4)
            got = [
                (r.v, r.version, r.valid_from, r.valid_to, r.n_obs)
                for r in scd2_history(df, "k", "ts", ["v"])
                .orderBy("version").collect()
            ]
            assert got == want, got
        return len(want)

    add("scd2_tied_observations_deterministic",
        _scd2_tied_observations_deterministic)

    # --- r16: NULL/missing token counts refused by the budget ops ------
    # NOTE: these consume with collect(), not count() — a bare count()
    # column-prunes the guarded token projection and the refusal never
    # evaluates (any real consumer reads the token-dependent columns)
    def _pack_null_text(ctx):
        from syncquill_spark.operators.curation import pack_sequences

        return pack_sequences(ctx.nulldocs, budget=16).collect()

    add("pack_sequences_null_text_refused", _pack_null_text,
        "SparkRuntimeException")

    def _pack_missing_counts_row(ctx):
        from syncquill_spark.operators.curation import pack_sequences

        counts = ctx.spark.createDataFrame(
            [(2, 8)], "doc_id long, n_tokens long")  # rows 1 and 3 missing
        return pack_sequences(ctx.nulldocs, budget=16, counts=counts).collect()

    add("pack_sequences_missing_counts_row_refused",
        _pack_missing_counts_row, "SparkRuntimeException")

    def _mix_tokens_null_text(ctx):
        from syncquill_spark.operators.curation import target_mix_tokens

        return target_mix_tokens(ctx.nulldocs, {"en": 32}).collect()

    add("target_mix_tokens_null_text_refused", _mix_tokens_null_text,
        "SparkRuntimeException")

    def _ffd_null_text(ctx):
        from syncquill_spark.operators.curation import pack_sequences_ffd

        return pack_sequences_ffd(ctx.nulldocs, budget=16).collect()

    add("pack_ffd_null_text_refused", _ffd_null_text,
        "SparkRuntimeException")

    def _pack_clean_still_packs(ctx):
        from syncquill_spark.operators.curation import pack_sequences

        out = pack_sequences(ctx.short, budget=8).collect()
        assert all(r.n_tokens is not None for r in out), out
        return len(out)

    add("pack_sequences_clean_docs_unchanged", _pack_clean_still_packs)

    return specs


def run_case(ctx, name, expect_error, fn):
    """Shared PASS/FAIL semantics for the tool and the pytest module.
    Returns (ok, detail)."""
    try:
        out = fn(ctx)
        n = out.count() if hasattr(out, "count") else out
        if expect_error:
            return False, f"expected {expect_error}, ran fine (rows={n})"
        return True, n
    except Exception as e:  # noqa: BLE001 — the battery classifies them
        kind = type(e).__name__
        if expect_error and kind == expect_error:
            return True, f"clean {kind}"
        return False, f"{kind}: {str(e).split(chr(10))[0][:160]}"


def main() -> int:
    from syncquill_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("boundary-battery")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, sf_dir)
    fails = 0
    specs = case_specs()
    for name, expect_error, fn in specs:
        ok, detail = run_case(ctx, name, expect_error, fn)
        print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}", flush=True)
        fails += 0 if ok else 1
    print(f"\n{len(specs) - fails}/{len(specs)} passed, {fails} failed")
    return fails


if __name__ == "__main__":
    raise SystemExit(main())
