"""Structured Streaming tier: windowed aggs, streaming dedup, and the
foreachBatch incremental sync — all driven with Trigger.AvailableNow
over the parquet fixtures / tmp dirs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syncquill_spark.operators import normalize_strings
from syncquill_spark.sources import ParquetTable
from syncquill_spark.sources.events import normalize_event_ts
from syncquill_spark.streaming import (
    incremental_sync,
    read_events_stream,
    stream_dedup,
    tumbling_window_counts,
)
from syncquill_spark.streaming.windows import run_available_now
from syncquill_spark.plans.queries_ext import q_events_tumbling_window


def test_tumbling_window_matches_batch_twin(spark, sf_dir):
    """Streaming windowed agg over the full backlog == batch grouping."""
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    got = run_available_now(
        tumbling_window_counts(stream), "t_win", output_mode="complete"
    )
    batch = q_events_tumbling_window(spark, sf_dir).collect()
    got_map = {
        (int(r["window_start"].timestamp() // 300), r["event_type"]): (
            r["n_events"],
            round(r["sum_value"], 2),
        )
        for r in got
    }
    batch_map = {
        (int(r["bucket"] * 300 // 300), r["event_type"]): (
            r["n_events"],
            round(r["sum_value"], 2),
        )
        for r in batch
    }
    assert got_map == batch_map


def test_stream_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_available_now(
        stream_dedup(stream, key_cols=("user_id",)), "t_dedup"
    )
    users = [r["user_id"] for r in out]
    assert len(users) == len(set(users))
    assert len(users) > 0


def test_incremental_sync_applies_batch(spark, tmp_path):
    tgt_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "slno long, name string, amount double"
    )
    src_df = spark.createDataFrame(
        [("1", "a", "1.0"), ("2", "bX", "2.0"), ("3", "c", "3.0")],
        "slno string, name string, amount string",
    )
    tgt_path = str(tmp_path / "tgt.pq")
    src_path = str(tmp_path / "src")
    tgt_df.write.parquet(tgt_path)
    src_df.write.parquet(src_path)

    target = ParquetTable(tgt_path)
    stream = (
        spark.readStream.schema(src_df.schema).parquet(src_path)
    )
    seen = []
    q = incremental_sync(
        spark, stream, target, key="slno",
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda bid, ch: seen.append(ch.count()),
    )
    q.awaitTermination()

    post = set(map(tuple, normalize_strings(target.read(spark)).collect()))
    want = set(map(tuple, src_df.collect()))
    assert post == want
    assert seen == [2]  # one micro-batch: 1 cell diff + 1 insert


def test_incremental_sync_partial_batch_does_not_delete(spark, tmp_path):
    """A multi-file backlog split across micro-batches must NOT delete
    target rows merely absent from one partial batch: deletes are
    dropped unless full_snapshot_batches=True."""
    tgt_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "slno long, name string"
    )
    tgt_path = str(tmp_path / "tgt.pq")
    tgt_df.write.parquet(tgt_path)
    src_path = str(tmp_path / "src")
    # two source files; maxFilesPerTrigger=1 => each micro-batch sees
    # only one file (a partial snapshot)
    spark.createDataFrame([("1", "aX")], "slno string, name string").coalesce(
        1
    ).write.mode("append").parquet(src_path)
    spark.createDataFrame([("2", "bX")], "slno string, name string").coalesce(
        1
    ).write.mode("append").parquet(src_path)

    target = ParquetTable(tgt_path)
    stream = (
        spark.readStream.schema("slno string, name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
    )
    q = incremental_sync(
        spark, stream, target, key="slno",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    post = {r["slno"]: r["name"] for r in target.read(spark).collect()}
    # updates applied, and NO row was deleted (row 3 survives even
    # though no batch contained it)
    assert post == {1: "aX", 2: "bX", 3: "c"}


def test_incremental_sync_full_snapshot_propagates_deletes(spark, tmp_path):
    """With full_snapshot_batches=True a complete snapshot batch still
    propagates deletes, matching the batch sync."""
    tgt_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "slno long, name string"
    )
    tgt_path = str(tmp_path / "tgt.pq")
    tgt_df.write.parquet(tgt_path)
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [("1", "a"), ("2", "bX")], "slno string, name string"
    ).coalesce(1).write.parquet(src_path)

    target = ParquetTable(tgt_path)
    stream = spark.readStream.schema("slno string, name string").parquet(src_path)
    q = incremental_sync(
        spark, stream, target, key="slno",
        checkpoint_dir=str(tmp_path / "ckpt"),
        full_snapshot_batches=True,
    )
    q.awaitTermination()

    post = {r["slno"]: r["name"] for r in target.read(spark).collect()}
    assert post == {1: "a", 2: "bX"}  # row 3 deleted


def test_sessionize_stream_matches_batch_closed_sessions(spark, sf_dir):
    """applyInPandasWithState sessionizer: every session it emits over
    the finite backlog must equal a batch-twin session, and most
    sessions close in-stream (only each user's final open session can
    be held back by the never-advancing end-of-input watermark)."""
    from syncquill_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )
    from syncquill_spark.streaming.windows import with_event_time

    stream = with_event_time(read_events_stream(spark, sf_dir)).withWatermark(
        "event_time", "10 minutes"
    )
    got = run_available_now(sessionize_stream(stream), "t_sessions")

    events = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    batch = sessionize_batch(events).collect()
    batch_keys = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
    }
    n_users = events.select("user_id").distinct().count()

    assert len(got) >= len(batch) - n_users  # at most one open session/user
    for r in got:
        key = (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        assert key in batch_keys, f"streamed session not in batch twin: {key}"


def test_sliding_window_matches_batch_twin(spark, sf_dir):
    """Streaming sliding-window agg over the backlog == batch twin."""
    from syncquill_spark.streaming.windows import sliding_window_counts
    from syncquill_spark.plans.queries_ext import q_events_sliding_window

    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        sliding_window_counts(stream), "t_slide", output_mode="complete"
    )
    got_map = {
        (r["window_start_us"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in got
    }
    batch_map = {
        (r["window_start_us"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in q_events_sliding_window(spark, sf_dir).collect()
    }
    assert got_map == batch_map


def test_stream_stream_funnel_matches_batch_twin(spark, sf_dir):
    """Stream-stream interval join over the finite backlog must emit
    exactly the batch twin's rows (watermark=30min covers the whole
    fixture horizon per trigger, so no row is dropped as late)."""
    from syncquill_spark.streaming.windows import stream_stream_funnel
    from syncquill_spark.plans.queries_ext import q_funnel_click_purchase

    clicks = read_events_stream(spark, sf_dir)
    purchases = read_events_stream(spark, sf_dir)
    got = run_available_now(
        stream_stream_funnel(clicks, purchases), "t_funnel"
    )
    got_set = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["lag_seconds"])
        for r in got
    }
    batch_set = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["lag_seconds"])
        for r in q_funnel_click_purchase(spark, sf_dir).collect()
    }
    assert got_set == batch_set
    assert len(batch_set) > 0


def test_stream_static_enrich_matches_batch_twin(spark, sf_dir):
    """Streaming events joined to the static customer dim, aggregated
    per segment over the full backlog == the batch twin query."""
    from syncquill_spark.streaming import enrich_with_dim
    from syncquill_spark.plans.queries_ext import q_join_events_customers

    dim = spark.read.parquet(f"{sf_dir}/customer.parquet")
    stream = read_events_stream(spark, sf_dir)
    enriched = enrich_with_dim(stream, dim)
    assert enriched.isStreaming
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    got = run_available_now(agg, "t_enrich", output_mode="complete")
    batch = q_join_events_customers(spark, sf_dir).collect()
    as_map = lambda rows: {
        r["c_mktsegment"]: (r["n_events"], round(r["sum_value"], 2)) for r in rows
    }
    assert as_map(got) == as_map(batch)


def test_session_window_stream_matches_batch(spark, sf_dir):
    """Built-in session_window agg: streaming over the full backlog ==
    the batch plan (session merging across micro-batches works)."""
    from syncquill_spark.streaming.windows import session_window_stats

    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        session_window_stats(stream, watermark="1 hour"),
        "s_win",
        output_mode="complete",
    )
    batch = session_window_stats(
        normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ).collect()
    key = lambda r: (r["user_id"], r["session_start_us"])
    got_map = {key(r): (r["n_events"], round(r["sum_value"], 2)) for r in got}
    batch_map = {key(r): (r["n_events"], round(r["sum_value"], 2)) for r in batch}
    assert got_map == batch_map


def test_session_window_agrees_with_custom_sessionizer(spark, sf_dir):
    """Two primitives, one semantics: F.session_window sessions ==
    applyInPandasWithState/gaps-and-islands sessions (same 30-min gap)."""
    from syncquill_spark.streaming.sessionize import sessionize_batch
    from syncquill_spark.streaming.windows import session_window_stats

    events = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    built_in = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in session_window_stats(events).collect()
    }
    custom = {
        (r["user_id"], r["session_start"] // 1000): r["n_events"]
        for r in sessionize_batch(events).collect()
    }
    assert built_in == custom


def test_session_gap_boundary_is_inclusive(spark):
    """An event at EXACTLY last_ts + gap extends the session (Spark
    merges when next_start <= prev_end); a new session needs the gap
    strictly exceeded. Both primitives agree on the boundary."""
    from syncquill_spark.streaming.sessionize import GAP_NANOS, sessionize_batch
    from syncquill_spark.streaming.windows import session_window_stats

    t0 = 1_700_000_000_000_000_000  # aligned epoch nanos
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + GAP_NANOS, 7, "click", 1.0, "{}"),  # exactly gap: merges
        (3, t0 + 3 * GAP_NANOS + 1_000, 7, "click", 1.0, "{}"),  # > gap: new
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    )
    custom = sessionize_batch(events).collect()
    built_in = session_window_stats(events).collect()
    assert sorted(r.n_events for r in custom) == [1, 2]
    assert sorted(r.n_events for r in built_in) == [1, 2]


def test_transform_with_state_running_totals(spark, sf_dir):
    """transformWithStateInPandas running totals: the last emitted row
    per user over the finite backlog == the plain batch aggregate.
    Skipped where the state-v2 protobuf dependency is absent (this
    sandbox); the guard path is covered below either way."""
    from syncquill_spark.streaming.stateful import (
        running_totals_stream,
        state_v2_available,
    )

    if not state_v2_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_totals_stream(read_events_stream(spark, sf_dir))
        pytest.skip("state-v2 needs the protobuf package; guard verified")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        running_totals_stream(stream), "rt", output_mode="update"
    )
    # keep the final (largest n_events) row per user
    last = {}
    for r in got:
        if r.user_id not in last or r.n_events > last[r.user_id].n_events:
            last[r.user_id] = r
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    )
    want = {r.user_id: (r.n, round(r.sv, 2)) for r in batch}
    have = {u: (r.n_events, round(r.sum_value, 2)) for u, r in last.items()}
    assert have == want


def test_stream_embedding_near_dups_against_index(spark, tmp_path):
    """Streamed vectors near-dup to an indexed corpus vector are
    flagged; fresh vectors are not; corpus-internal dups never emit
    (stream x corpus only). The gate and the batch operator run one
    cross-pair core, so they find the same distinct pairs."""
    import numpy as np

    from syncquill_spark.operators.similarity import embedding_near_dup_against
    from syncquill_spark.streaming import (
        build_embedding_index,
        stream_embedding_near_dups,
    )
    from syncquill_spark.streaming.windows import run_available_now

    rng = np.random.default_rng(5)
    base = rng.normal(size=(12, 64))
    corpus_rows = [(100 + i, base[i].tolist()) for i in range(12)]
    corpus_rows.append((150, base[0].tolist()))  # corpus-internal dup
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    keys, vecs = build_embedding_index(corpus)

    stream_dir = str(tmp_path / "stream_in")
    new = spark.createDataFrame(
        [
            (200, (base[1] + 1e-6 * base[2]).tolist()),  # dups corpus 101
            (201, rng.normal(size=64).tolist()),         # fresh
        ],
        "vec_id long, embedding array<double>",
    )
    new.write.parquet(stream_dir)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(stream_dir)

    out = run_available_now(
        stream_embedding_near_dups(stream, keys, vecs, threshold=0.95),
        "t_vec_dedup",
    )
    got = {(r.stream_id, r.corpus_id) for r in out}
    assert (200, 101) in got
    assert all(sid in (200, 201) for sid, _ in got)
    assert (100, 150) not in got and (150, 100) not in got
    batch = embedding_near_dup_against(new, corpus, threshold=0.95).collect()
    assert got == {(r.id_new, r.id_corpus) for r in batch}


def test_stream_drop_seen_text(spark, tmp_path):
    """Streamed docs whose exact text already exists in the corpus are
    dropped; fresh docs pass through with their columns intact."""
    from syncquill_spark.streaming import (
        build_text_hash_index,
        stream_drop_seen_text,
    )
    from syncquill_spark.streaming.windows import run_available_now

    corpus = spark.createDataFrame(
        [(1, "already kept text"), (2, "another kept one")],
        "doc_id long, text string",
    )
    index = build_text_hash_index(corpus)
    stream_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        [(10, "already kept text"), (11, "genuinely new text")],
        "doc_id long, text string",
    ).write.parquet(stream_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(stream_dir)
    out = run_available_now(stream_drop_seen_text(stream, index), "t_text_dedup")
    assert [(r.doc_id, r.text) for r in out] == [(11, "genuinely new text")]


def test_stream_text_near_dups_matches_batch_operator(spark, tmp_path, sf_dir):
    """Streaming fuzzy text dedup vs the BATCH cross-corpus operator on
    identical data: the (new doc, corpus doc) pair sets must agree
    exactly (same shingles, same md5 permutations, same bands, same
    exact-Jaccard verify)."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.dedup import minhash_lsh_pairs_against
    from syncquill_spark.streaming import (
        build_text_minhash_index,
        stream_text_near_dups,
    )
    from syncquill_spark.streaming.windows import run_available_now

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new_side = docs.filter(F.col("doc_id") % 2 == 1)

    expect = {
        (r.id_new, r.id_corpus)
        for r in minhash_lsh_pairs_against(
            new_side, corpus, k=3, n_perm=32, bands=8, threshold=0.2
        ).collect()
    }
    assert expect, "fixture should contain cross-side near-dups"

    keys, shingles = build_text_minhash_index(corpus)
    stream_dir = str(tmp_path / "newdocs")
    new_side.select("doc_id", "text").write.parquet(stream_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(stream_dir)
    out = run_available_now(
        stream_text_near_dups(stream, keys, shingles, threshold=0.2),
        "t_text_neardup",
    )
    got = {(r.stream_id, r.corpus_id) for r in out}
    assert got == expect


def test_ingest_gate_composition_on_stream(spark, tmp_path):
    """The projection-only curation operators compose directly on a
    readStream with no adaptation: quality filter -> PII redaction ->
    exact-dedup gate, per microbatch, no state store. (quality_rules'
    aggregation-based signals are the batch path; the streaming gate
    uses the projection-only feature envelope.)"""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.curation import redact_pii
    from syncquill_spark.operators.text import quality_features
    from syncquill_spark.streaming import (
        build_text_hash_index,
        stream_drop_seen_text,
    )
    from syncquill_spark.streaming.windows import run_available_now

    corpus = spark.createDataFrame(
        [(1, "this exact document text was already kept before today")],
        "doc_id long, text string",
    )
    index = build_text_hash_index(corpus)

    good = "a genuinely new document with plenty of distinct words and contact me at someone@example.com for details"
    stream_dir = str(tmp_path / "gate_in")
    spark.createDataFrame(
        [
            (10, "this exact document text was already kept before today"),  # dup
            (11, good),                                                      # keep
            (12, "spam spam spam spam spam spam spam spam"),                 # low quality
        ],
        "doc_id long, text string",
    ).write.parquet(stream_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(stream_dir)

    feats = quality_features(stream)  # projection-only -> streaming-safe
    gated = (
        stream.join(
            feats.filter(
                (F.col("n_tokens") >= 5) & (F.col("uniq_ratio") >= 0.5)
            ).select("doc_id"),
            "doc_id",
        )
    )
    redacted = redact_pii(gated)
    out = run_available_now(
        stream_drop_seen_text(redacted, index), "t_ingest_gate"
    )
    assert [r.doc_id for r in out] == [11]
    assert "<EMAIL>" in out[0].text_redacted and out[0].n_emails == 1


def test_quality_filter_one_code_path_batch_and_stream(spark, sf_dir, tmp_path):
    """The text-quality gate is a stateless projection+filter, so the
    SAME operator runs unchanged on a stream — batch and streaming
    keep-sets must be identical (the repo's one-code-path / two-modes
    contract, proven here for the quality stage like incremental_sync
    proves it for diff/apply)."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.text import quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch_kept = {r.doc_id for r in quality_filter(docs).select("doc_id").collect()}

    # the streaming file source needs a DIRECTORY; stage the single
    # fixture file into one (fixtures are read-only — copy, not move)
    import shutil

    stage = tmp_path / "docs_stream"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", stage / "part-000.parquet")
    stream = spark.readStream.schema(docs.schema).parquet(str(stage))
    q = (
        quality_filter(stream.select(docs.columns))
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("quality_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_kept = {
        r.doc_id for r in spark.sql("SELECT doc_id FROM quality_stream").collect()
    }
    assert stream_kept == batch_kept and len(batch_kept) > 0


def test_stream_decontamination_cut_matches_batch(spark, tmp_path):
    """Ingest-time SPAN-REMOVAL decontamination: each training
    micro-batch is localized against the PERSISTED eval index
    (winnowing_spans_against) and cut (remove_spans, pad=window-1)
    inside foreachBatch — winnowing selection is a per-doc window
    aggregation, so the gate cannot be a stream-static join. The union
    of per-batch outputs must equal the batch run over the full
    backlog (spans are per-document, so batch boundaries cannot change
    any cut), and the contaminated doc must come out clean."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.curation import remove_spans
    from syncquill_spark.sources.index_store import load_index, save_index
    from syncquill_spark.streaming.text_dedup import (
        build_winnowing_index,
        build_winnowing_positions,
        winnowing_spans_against,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight again"
    evalset = spark.createDataFrame(
        [(1, f"alpha beta {shared} gamma"),
         (3, "completely unrelated text about something else entirely")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "decon_idx")
    save_index(
        p,
        fps=build_winnowing_index(evalset),
        positions=build_winnowing_positions(evalset),
    )
    idx = load_index(spark, p)

    train = spark.createDataFrame(
        [(101, f"one two three four {shared} five six seven"),
         (102, "another unrelated new document arriving at ingest"),
         (103, f"prefix words here {shared}"),
         (104, "yet more clean text with nothing shared at all")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "decon_src")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    train.filter("doc_id <= 102").coalesce(1).write.parquet(src)
    train.filter("doc_id > 102").coalesce(1).write.mode("append").parquet(src)

    def decon(mb):
        spans = winnowing_spans_against(
            mb, idx["fps"], idx["positions"], min_shared=2
        )
        return remove_spans(mb, spans, pad=3)

    got = []

    def gate(mb, _epoch):
        got.extend(map(tuple, decon(mb).collect()))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(gate).trigger(availableNow=True).start()
    q.awaitTermination(120)

    want = sorted(map(tuple, decon(train).collect()))
    assert sorted(got) == want and len(want) == 4
    rows = {t[0]: t for t in want}
    assert rows[101][2] < rows[101][1]  # contaminated doc lost tokens
    assert rows[103][2] < rows[103][1]
    assert "quick" not in rows[101][3].split()
    assert rows[102][3] == "another unrelated new document arriving at ingest"


def test_bucketed_vector_index_gate_identical_and_pruned(spark, tmp_path):
    """The persisted stored-keys layout (r13 verdict: the one measured
    scan term left) — keys Hive-partitioned by the fixed
    xxhash64(band, key) mod 4096 bucket. The gate on a materialized
    batch must (a) produce EXACTLY the legacy in-memory index's
    matches, (b) prune the stored-keys scan to the batch's buckets
    (partition filter visible in the physical plan), and (c) keep a
    real readStream batch (no collect possible) on the unpruned join
    with the same output."""
    import numpy as np

    from syncquill_spark.sources.index_store import load_index
    from syncquill_spark.streaming import (
        build_embedding_index,
        save_embedding_index,
        stream_embedding_near_dups,
    )
    from syncquill_spark.streaming.windows import run_available_now

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    corpus = spark.createDataFrame(
        [(100 + i, base[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (200, (base[3] + 1e-6 * base[4]).tolist()),
            (201, rng.normal(size=64).tolist()),
            (202, base[7].tolist()),
        ],
        "vec_id long, embedding array<double>",
    )
    keys, vecs = build_embedding_index(corpus)
    legacy = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            batch, keys.drop("_bucket"), vecs, threshold=0.9
        ).collect()
    }
    assert {(200, 103), (202, 107)} <= legacy

    path = str(tmp_path / "vec_idx")
    save_embedding_index(path, keys, vecs)
    idx = load_index(spark, path)
    assert "_bucket" in idx["keys"].columns  # partition column survives
    gated = stream_embedding_near_dups(
        batch, idx["keys"], idx["vecs"], threshold=0.9
    )
    assert {
        (r.stream_id, r.corpus_id) for r in gated.collect()
    } == legacy
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "_bucket" in plan and (
        "PartitionFilters: [_bucket" in plan
        or "_bucket#" in plan.split("PartitionFilters")[1][:200]
    ), "stored-keys scan is not partition-pruned by the batch's buckets"

    # true streaming micro-batch: collect is impossible, join unchanged
    stream_dir = str(tmp_path / "stream_in")
    batch.write.parquet(stream_dir)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(stream_dir)
    out = run_available_now(
        stream_embedding_near_dups(
            stream, idx["keys"], idx["vecs"], threshold=0.9
        ),
        "t_vec_dedup_bucketed",
    )
    assert {(r.stream_id, r.corpus_id) for r in out} == legacy


def test_bucketed_vector_index_append_equals_rebuild(spark, tmp_path):
    """The nightly-merge lifecycle for the r14 bucketed keys layout:
    append_index with the stored part's _partition_by writes ONLY the
    batch's rows into the matching _bucket partitions (hardlink carry
    for the rest), and the gate over the appended index must equal the
    gate over a full rebuild. Also pins the layout guard: appending
    WITHOUT the stored partition spec must refuse before writing."""
    import numpy as np
    import pytest as _pytest

    from syncquill_spark.sources.index_store import append_index, load_index
    from syncquill_spark.streaming import (
        build_embedding_index,
        save_embedding_index,
        stream_embedding_near_dups,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 64))
    corpus0 = spark.createDataFrame(
        [(100 + i, base[i].tolist()) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    growth = spark.createDataFrame(
        [(100 + i, base[i].tolist()) for i in range(20, 30)],
        "vec_id long, embedding array<double>",
    )
    probe = spark.createDataFrame(
        [(300, (base[25] + 1e-6 * base[1]).tolist()), (301, base[2].tolist())],
        "vec_id long, embedding array<double>",
    )

    path = str(tmp_path / "vec_idx")
    k0, v0 = build_embedding_index(corpus0)
    save_embedding_index(path, k0, v0)

    kb, vb = build_embedding_index(growth)
    with _pytest.raises(ValueError, match="partitioned by"):
        append_index(path, keys=kb, vecs=vb)  # missing the stored layout
    append_index(
        path, _partition_by={"keys": ["_bucket"]}, keys=kb, vecs=vb
    )
    idx = load_index(spark, path)

    k_all, v_all = build_embedding_index(corpus0.unionByName(growth))
    rebuilt = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            probe, k_all, v_all, threshold=0.9
        ).collect()
    }
    appended = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            probe, idx["keys"], idx["vecs"], threshold=0.9
        ).collect()
    }
    assert appended == rebuilt
    assert (300, 125) in appended  # a match that only exists post-append


def test_embedding_index_bucket_width_stamped_and_verified(spark, tmp_path):
    """ADVICE r15: VEC_GATE_BUCKETS is a format constant, but nothing
    validated a persisted index against it — a width change would make
    the gate prune with NEW bucket ids over OLD stored partitions and
    silently drop true matches. Pins: (a) save_embedding_index stamps
    the width in the manifest; (b) append_index carries the stamp
    forward; (c) load_embedding_index keeps pruning on a matching
    stamp; (d) on a mismatched or missing stamp it falls back to the
    unpruned join (drops _bucket) with IDENTICAL matches."""
    import json
    import os

    import numpy as np

    from syncquill_spark.sources.index_store import (
        append_index,
        load_index_manifest,
    )
    from syncquill_spark.streaming import (
        build_embedding_index,
        load_embedding_index,
        save_embedding_index,
        stream_embedding_near_dups,
    )
    from syncquill_spark.streaming.vector_dedup import VEC_GATE_BUCKETS

    rng = np.random.default_rng(13)
    base = rng.normal(size=(25, 64))
    corpus = spark.createDataFrame(
        [(100 + i, base[i].tolist()) for i in range(25)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(400, (base[5] + 1e-6 * base[6]).tolist()), (401, base[9].tolist())],
        "vec_id long, embedding array<double>",
    )
    keys, vecs = build_embedding_index(corpus)
    want = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            batch, keys.drop("_bucket"), vecs, threshold=0.9
        ).collect()
    }
    assert {(400, 105), (401, 109)} <= want

    path = str(tmp_path / "vec_idx")
    save_embedding_index(path, keys, vecs)
    assert (
        load_index_manifest(path)["meta"]["vec_gate_buckets"]
        == VEC_GATE_BUCKETS
    )

    # append carries the stamp forward
    extra = spark.createDataFrame(
        [(600, rng.normal(size=64).tolist())],
        "vec_id long, embedding array<double>",
    )
    ke, ve = build_embedding_index(extra)
    append_index(path, _partition_by={"keys": ["_bucket"]}, keys=ke, vecs=ve)
    assert (
        load_index_manifest(path)["meta"]["vec_gate_buckets"]
        == VEC_GATE_BUCKETS
    )

    # matching stamp: pruning column survives, matches identical
    k, v = load_embedding_index(spark, path)
    assert "_bucket" in k.columns
    got = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            batch, k, v, threshold=0.9
        ).collect()
    }
    assert got == want

    # mismatched stamp (simulated width change): pruning disabled,
    # matches STILL identical — correctness survives the format drift
    mpath = os.path.join(path, "_index_manifest.json")
    manifest = json.load(open(mpath))
    manifest["meta"]["vec_gate_buckets"] = 1024
    json.dump(manifest, open(mpath, "w"))
    k, v = load_embedding_index(spark, path)
    assert "_bucket" not in k.columns
    got = {
        (r.stream_id, r.corpus_id)
        for r in stream_embedding_near_dups(
            batch, k, v, threshold=0.9
        ).collect()
    }
    assert got == want

    # missing stamp (pre-stamping index): same conservative fallback
    del manifest["meta"]["vec_gate_buckets"]
    json.dump(manifest, open(mpath, "w"))
    k, _ = load_embedding_index(spark, path)
    assert "_bucket" not in k.columns
