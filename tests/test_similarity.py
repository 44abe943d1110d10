"""Vector similarity: brute-force exactness + LSH recall sanity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from syncquill_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_self_is_rank_one(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(embeddings, queries, k=5)
    rank1 = {r["query_id"]: r["neighbor_id"] for r in top.filter("rk = 1").collect()}
    assert rank1 and all(q == n for q, n in rank1.items())


def test_topk_matches_numpy(spark, embeddings):
    import numpy as np

    pdf = embeddings.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    qidx = ids % 100 == 0
    qmat, qids = mat[qidx], ids[qidx]
    sims = (qmat @ mat.T) / (
        np.linalg.norm(qmat, axis=1)[:, None] * np.linalg.norm(mat, axis=1)[None, :]
    )
    queries = embeddings.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rk"]): r["neighbor_id"]
        for r in brute_force_topk(embeddings, queries, k=3).collect()
    }
    for qi, qid in enumerate(qids):
        order = sorted(zip(-sims[qi], ids), key=lambda t: (t[0], t[1]))
        for rk in range(1, 4):
            assert got[(qid, rk)] == order[rk - 1][1]


def test_lsh_topk_is_subset_quality(spark, embeddings):
    """LSH neighbors must be real (cosine computed exactly); rank-1 for
    a query in the corpus is still itself (same bucket trivially)."""
    queries = embeddings.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = lsh_topk(embeddings, queries, k=5)
    rank1 = {r["query_id"]: r["neighbor_id"] for r in top.filter("rk = 1").collect()}
    assert rank1 and all(q == n for q, n in rank1.items())


def test_embedding_near_dup_pairs(spark):
    """Planted near-duplicates must be found (they share every band key
    only probabilistically — verify with ones/perturbed-ones vectors
    whose sign patterns are identical); verified pairs must actually
    clear the cosine threshold per numpy."""
    import numpy as np

    from syncquill_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 64))
    # plant two exact near-dup groups: 100~101 (identical) and 102~103
    # (tiny perturbation — same hyperplane signs, cosine ~ 1)
    rows = [(100 + i, base[i].tolist()) for i in range(20)]
    rows.append((200, base[0].tolist()))
    rows.append((201, (base[1] + 1e-6 * base[2]).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (100, 200) in got
    assert (101, 201) in got

    # every reported pair really is >= threshold
    vecs = {vid: np.array(v) for vid, v in rows}
    for ia, ib in got:
        a, b = vecs[ia], vecs[ib]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.95 - 1e-12


def test_ivf_topk_rank1_and_recall(spark, embeddings):
    """IVF rank-1 for an in-corpus query is itself (its own cell is
    always the top probe); recall@10 vs brute force stays high on the
    near-orthogonal fixture with nprobe=4/16 cells."""
    from syncquill_spark.operators.similarity import ivf_topk

    queries = embeddings.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(embeddings, queries, k=10, n_cells=16, nprobe=4)
    rank1 = {r["query_id"]: r["neighbor_id"] for r in ivf.filter("rk = 1").collect()}
    assert rank1 and all(q == n for q, n in rank1.items())

    exact = brute_force_topk(embeddings, queries, k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set] = {}
    for r in ivf.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    # random 4-of-16 cells would land ~25%; the index must beat that
    assert hits / total >= 0.4, f"recall {hits}/{total}"


def _recall_at_10(spark, df, queries, refine_iters: int, n_cells=16, nprobe=2) -> float:
    from syncquill_spark.operators.similarity import ivf_topk

    exact = brute_force_topk(df, queries, k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf = ivf_topk(
        df, queries, k=10, n_cells=n_cells, nprobe=nprobe, refine_iters=refine_iters
    )
    got: dict[int, set] = {}
    for r in ivf.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ivf_lloyd_refinement_improves_recall_on_clustered_corpus(spark):
    """Lloyd refinement earns its keep on data WITH cluster structure
    (the realistic embedding case): planted Gaussian clusters, md5-
    sampled init, one refinement pass -> recall@10 at equal nprobe
    must improve. (On the near-orthogonal random fixture refinement
    can't help — there are no clusters to find — which is why this
    test plants its own corpus.) Refined rank-1 self-retrieval must
    still hold."""
    import numpy as np

    from syncquill_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(40):
            rows.append((vid, (centers[c] + 0.15 * rng.normal(size=32)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    r0 = _recall_at_10(spark, df, queries, refine_iters=0, n_cells=8, nprobe=1)
    r1 = _recall_at_10(spark, df, queries, refine_iters=1, n_cells=8, nprobe=1)
    assert r1 > r0, f"refined recall {r1:.3f} not above raw {r0:.3f}"

    refined = ivf_topk(df, queries, k=10, n_cells=8, nprobe=1, refine_iters=1)
    rank1 = {r["query_id"]: r["neighbor_id"] for r in refined.filter("rk = 1").collect()}
    assert rank1 and all(q == n for q, n in rank1.items())


def test_ivf_full_probe_equals_brute_force(spark, embeddings):
    """With nprobe == n_cells every candidate survives blocking, so IVF
    must reduce to the exact answer — the clean correctness limit."""
    from syncquill_spark.operators.similarity import ivf_topk

    queries = embeddings.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(embeddings, queries, k=5, n_cells=8, nprobe=8)
    exact = brute_force_topk(embeddings, queries, k=5)
    assert {tuple(r) for r in ivf.collect()} == {tuple(r) for r in exact.collect()}


def test_label_centroids_exact_means(spark):
    from syncquill_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, 0, [3.0, 6.0]),
            (3, 1, [5.0, 5.0]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    out = {r.label: r for r in label_centroids(df).collect()}
    assert out[0].centroid == [2.0, 4.0] and out[0].n_vecs == 2
    assert out[1].centroid == [5.0, 5.0] and out[1].n_vecs == 1


def test_label_centroid_stats_all_integer_scalars(spark):
    """The checked shape: per-(label, pos) exact integer sums, no
    array or double columns (driver canonicalizer requirement)."""
    from pyspark.sql.types import ArrayType, DoubleType

    from syncquill_spark.operators.similarity import label_centroid_stats

    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 6.0]), (3, 1, [5.0, 5.0])],
        "vec_id long, label int, embedding array<double>",
    )
    stats = label_centroid_stats(df)
    for f in stats.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, DoubleType)), f
    got = {(r.label, r.pos): (r.sum_q, r.n_vecs) for r in stats.collect()}
    assert got == {
        (0, 0): (4_000_000, 2),
        (0, 1): (8_000_000, 2),
        (1, 0): (5_000_000, 1),
        (1, 1): (5_000_000, 1),
    }


def test_knn_classify_majority_vote(spark):
    from syncquill_spark.operators.similarity import knn_classify

    # corpus: three vectors near +x labeled 1, two near +y labeled 2
    corpus = spark.createDataFrame(
        [
            (1, 1, [1.0, 0.0]),
            (2, 1, [0.9, 0.1]),
            (3, 1, [0.8, 0.05]),
            (4, 2, [0.0, 1.0]),
            (5, 2, [0.1, 0.9]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05]), (200, [0.05, 1.0])],
        "query_id long, embedding array<double>",
    )
    out = {r.query_id: (r.predicted_label, r.n_votes) for r in
           knn_classify(corpus, queries, k=3).collect()}
    # query 100: 3 nearest are the +x cluster -> label 1 with 3 votes
    assert out[100] == (1, 3)
    # query 200: 2 nearest are +y (label 2), 3rd is +x -> label 2 wins 2-1
    assert out[200] == (2, 2)


def test_knn_classify_tie_breaks_on_best_rank(spark):
    from syncquill_spark.operators.similarity import knn_classify

    # k=2 with one neighbor of each label: tie on votes (1-1) ->
    # winner is the label of the CLOSER neighbor (best rank)
    corpus = spark.createDataFrame(
        [(1, 7, [1.0, 0.0]), (2, 3, [0.7, 0.7])],
        "vec_id long, label int, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 0.1])], "query_id long, embedding array<double>"
    )
    out = knn_classify(corpus, queries, k=2).collect()
    assert len(out) == 1
    assert out[0].predicted_label == 7 and out[0].n_votes == 1


def test_assign_nearest_centroid_recovers_tight_clusters(spark):
    from syncquill_spark.operators.similarity import assign_nearest_centroid

    # two tight clusters -> every vector is nearest its own label's mean
    rows = [
        (1, 0, [0.0, 0.0]), (2, 0, [0.2, 0.0]), (3, 0, [0.0, 0.2]),
        (4, 1, [5.0, 5.0]), (5, 1, [5.2, 5.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = {r.vec_id: r.nearest_label for r in assign_nearest_centroid(df).collect()}
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1}


def test_embedding_near_dup_against_finds_cross_side_only(spark):
    """Incremental variant: pairs are new x corpus only — a planted
    near-dup inside the corpus must NOT pair, a new vector matching a
    corpus vector must."""
    import numpy as np

    from syncquill_spark.operators.similarity import embedding_near_dup_against

    rng = np.random.default_rng(3)
    base = rng.normal(size=(10, 64))
    corpus_rows = [(100 + i, base[i].tolist()) for i in range(10)]
    corpus_rows.append((150, base[0].tolist()))  # corpus-internal dup: ignored
    new_rows = [
        (200, base[1].tolist()),                    # dups corpus 101
        (201, rng.normal(size=64).tolist()),        # fresh
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_new, r.id_corpus)
        for r in embedding_near_dup_against(new, corpus, threshold=0.95).collect()
    }
    assert (200, 101) in got
    assert all(idn in (200, 201) for idn, _ in got)  # left side is always new
    assert (100, 150) not in got and (150, 100) not in got


def test_semantic_dedup_pairs_finds_planted_within_cell_dups(spark):
    """A vector and its tiny perturbation assign to the same cell
    (identical argmax dot up to the perturbation) and verify as a
    pair; unrelated near-orthogonal vectors never pair at 0.95."""
    import numpy as np

    from syncquill_spark.operators.similarity import semantic_dedup_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 64))
    rows = [(100 + i, base[i].tolist()) for i in range(30)]
    rows.append((200, (base[3] + 1e-6 * base[4]).tolist()))  # ~ dup of 103
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_pairs(df, n_cells=4, threshold=0.95)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (103, 200) in got
    # every reported pair really clears the threshold per numpy
    vecs = {vid: np.array(v) for vid, v in rows}
    for ia, ib in got:
        a, b = vecs[ia], vecs[ib]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.95 - 1e-4  # quantized cosine ~ true cosine


def test_ann_recall_counts_hits(spark, embeddings):
    """LSH recall vs brute force: rank-1 self is always in both, so
    n_hits >= 1 per query; hits never exceed the exact set size."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.similarity import ann_recall, lsh_topk

    queries = embeddings.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = lsh_topk(embeddings, queries, k=5)
    rows = ann_recall(approx, exact).collect()
    assert rows
    for r in rows:
        assert r.n_exact == 5
        assert 1 <= r.n_hits <= r.n_exact


def test_ivf_argmax_tie_break_on_duplicate_centroids(spark):
    """Pin the r17 min-struct argmax to the window form's tie rule:
    with every corpus vector identical, all sampled centroids tie at
    every score, so the assignment must deterministically pick the
    LOWEST cell_id and ivf_topk must still equal brute force (all
    candidates share one cell)."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in ivf_topk(emb, queries, k=5, n_cells=4, nprobe=1).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in brute_force_topk(emb, queries, k=5).collect()
    )
    assert got == want


def test_ann_recall_single_pass_contract(spark):
    """Pin the r17 single-pass rewrite to the old two-consumer
    semantics on its edge cases: duplicate approx pairs count a hit
    ONCE (the old semi-join's indifference), a query absent from
    approx still reports n_hits=0, duplicate exact rows count per
    row, and a NULL exact neighbor is never a hit."""
    from syncquill_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 20), (3, None)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20), (3, 99)],  # dup pair + non-hit
        "query_id long, neighbor_id long",
    )
    got = {
        r.query_id: (r.n_exact, r.n_hits)
        for r in ann_recall(approx, exact).collect()
    }
    assert got == {1: (2, 1), 2: (2, 2), 3: (1, 0)}


def test_signature_kernel_matches_pure_python_reference(spark):
    """The Arrow signature kernel's (q, n2, keys) must equal a pure
    Python/math.floor reference computed from the same spec — the
    exactness claim the DuckDB oracles rely on, proven against an
    independent third implementation."""
    import math

    import numpy as np

    from syncquill_spark.operators.similarity import (
        SIG_SCALE,
        _hyperplane,
        _make_sig_udf,
    )

    bands, r, dim = 4, 4, 16
    rng = np.random.default_rng(17)
    rows = [(i, (rng.normal(size=dim) * (1 + i % 3)).tolist()) for i in range(40)]
    rows.append((99, [0.0] * dim))  # zero vector edge
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = _make_sig_udf(bands, r, dim)
    got = {
        row["vec_id"]: row
        for row in df.select("vec_id", sig("embedding").alias("s"))
        .select("vec_id", "s.q", "s.n2", "s.keys")
        .collect()
    }

    planes = [
        [math.floor(c * float(SIG_SCALE) + 0.5) for c in _hyperplane(dim, i)]
        for i in range(bands * r)
    ]
    for vid, vec in rows:
        q = [math.floor(float(x) * float(SIG_SCALE) + 0.5) for x in vec]
        n2 = sum(c * c for c in q)
        keys = []
        for b in range(bands):
            key = 0
            for p in range(r):
                d = sum(qc * pc for qc, pc in zip(q, planes[b * r + p]))
                if d >= 0:
                    key |= 1 << p
            keys.append(key)
        row = got[vid]
        assert list(row["q"]) == q, f"q mismatch vec {vid}"
        assert row["n2"] == n2
        assert list(row["keys"]) == keys, f"keys mismatch vec {vid}"


def test_arrow_fold_kernels_bit_identical_to_hof_folds(spark):
    """dot_arrow / cosine_similarity_arrow / unit_vector_arrow and the
    nearest-rows core's three metrics (`_nearest`: dot, cosine,
    squared L2) must equal the interpreted higher-order-function folds
    EXACTLY (==, not approx) on random data — the order-preserving-fold
    guarantee that lets the kernels replace the HOF forms without
    touching any oracle. On NULL / ragged / NULL-element / NaN / +-inf
    / zero-norm rows the core must mask (emit no row) exactly the pairs
    the per-pair kernels mask (NULL); squared L2 masks what dot masks."""
    import numpy as np

    from pyspark.sql import functions as F

    from syncquill_spark.functions.vectors import (
        cosine_similarity,
        cosine_similarity_arrow,
        dot,
        dot_arrow,
        l2_norm,
        unit_vector_arrow,
    )
    from syncquill_spark.operators.similarity import _nearest

    rng = np.random.default_rng(23)
    rows = [
        (i, (rng.normal(size=33) * 10 ** (i % 5 - 2)).tolist(),
         rng.normal(size=33).tolist())
        for i in range(60)
    ]
    good = rng.normal(size=33).tolist()
    patho = [
        (None, good), (good, None), (good, good[:32]), (good[:5], good[1:6]),
        (good[:32] + [None], good), (good[:32] + [float("nan")], good),
        (good, good[:32] + [float("inf")]), (good[:32] + [float("-inf")], good),
        ([0.0] * 33, good), ([0.0] * 33, [0.0] * 33), (good, [0.0] * 33),
    ]
    rows += [(100 + i, a, b) for i, (a, b) in enumerate(patho)]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    sl2_hof = F.aggregate(
        F.zip_with(
            F.col("a"), F.col("b"),
            lambda x, m: (x.cast("double") - m) * (x.cast("double") - m),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # the zero rows would abort the HOF unit form (ANSI 0/0)
    unit_hof = F.when(F.col("i") < 100, F.transform(
        F.col("a"), lambda x: x.cast("double") / l2_norm(F.col("a"))
    ))
    out = {
        r.i: r
        for r in df.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("d1"),
            dot_arrow(F.col("a"), F.col("b")).alias("d2"),
            cosine_similarity(F.col("a"), F.col("b")).alias("c1"),
            cosine_similarity_arrow(F.col("a"), F.col("b")).alias("c2"),
            sl2_hof.alias("s1"),
            unit_hof.alias("u1"),
            unit_vector_arrow(F.col("a")).alias("u2"),
        ).collect()
    }
    # the core scores each row's a against its own b only (key = i)
    big = df.select("i", "a", F.col("i").alias("k"))
    small = df.select(F.col("i").alias("j"), "b", F.col("i").alias("k"))
    core = {
        m: {r.i: r._score for r in _nearest(big, small, m, 1, "big", key="k").collect()}
        for m in ("dot", "cosine", "l2")
    }
    # a masked pair emits no row: read it as None
    for i, r in out.items():
        for m, hof, kernel in (("dot", r.d1, r.d2), ("cosine", r.c1, r.c2),
                               ("l2", r.s1, r.d2)):
            assert (core[m].get(i) is None) == (kernel is None), (m, i)
            if kernel is not None:
                assert core[m][i] == hof, (m, i)
        if i < 100:
            assert r.d1 == r.d2
            assert r.c1 == r.c2
            assert list(r.u1) == list(r.u2)
    # every pathological pair is masked but the short equal-length one
    # (row 103), which is valid and scored against zero padding
    masked = {i for i in out if core["cosine"].get(i) is None}
    assert masked == set(range(100, 100 + len(patho))) - {103}, sorted(masked)


def test_cosine_hof_and_arrow_agree_on_zero_norm(spark):
    """Both public cosine forms must yield NULL — not NaN — for a
    zero-norm side (ADVICE r15: the r14 fix masked only the Arrow
    kernel, so the documented-equivalent HOF form still produced the
    NaN that tops every desc-ordered top-k). One all-zero vector, one
    zero-vs-zero pair, one normal pair as the control."""
    from pyspark.sql import functions as F

    from syncquill_spark.functions.vectors import (
        cosine_similarity,
        cosine_similarity_arrow,
    )

    rows = [
        (0, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),   # zero left
        (1, [1.0, 2.0, 3.0], [0.0, 0.0, 0.0]),   # zero right
        (2, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),   # zero both
        (3, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),   # control
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    out = {
        r.i: r
        for r in df.select(
            "i",
            cosine_similarity(F.col("a"), F.col("b")).alias("c1"),
            cosine_similarity_arrow(F.col("a"), F.col("b")).alias("c2"),
        ).collect()
    }
    for i in (0, 1, 2):
        assert out[i].c1 is None, f"HOF form row {i}: want NULL, got {out[i].c1}"
        assert out[i].c2 is None, f"Arrow form row {i}: want NULL, got {out[i].c2}"
    assert out[3].c1 is not None and out[3].c1 == out[3].c2


def test_ann_recall_matches_duckdb_twin(spark, sf_dir):
    """ann_recall(lsh, brute) vs DuckDB computing the same recall join
    over the two REGISTRY oracles — registry-grade verification of the
    composition ahead of next round's window slot."""
    import duckdb

    from pyspark.sql import functions as F

    from syncquill_spark.operators.similarity import ann_recall, lsh_topk
    from syncquill_spark.plans.queries_ext import (
        _SIMILARITY_TOPK_SQL,
        _TOPK,
        _QUERY_MOD,
        _LSH_PLANES,
        _lsh_topk_sql,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = __import__(
        "syncquill_spark.operators.similarity", fromlist=["brute_force_topk"]
    ).brute_force_topk(emb, queries, k=_TOPK)
    approx = lsh_topk(emb, queries, k=_TOPK, n_planes=_LSH_PLANES)
    got = sorted(
        (r.query_id, r.n_exact, r.n_hits) for r in ann_recall(approx, exact).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    expect = sorted(
        tuple(r)
        for r in con.execute(f"""
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
""").fetchall()
    )
    assert got == expect and len(got) > 0


def test_pq_encode_matches_python_model(spark, sf_dir):
    """pq_encode vs an independent python replay: md5-sample codebook,
    per-subspace slicing, left-fold squared-L2 (python floats ARE IEEE
    doubles, same op order -> exact), (dist, code) tie-break, and the
    floor-half-up error quantization."""
    import hashlib
    import math

    from syncquill_spark.operators.similarity import pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    m, k, dim = 4, 4, 64
    sd = dim // m
    got = sorted(
        (r.vec_id, r.sub, r.code, r.err_q)
        for r in pq_encode(emb, m_sub=m, k_codes=k, dim=dim).collect()
    )

    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()]
    samp = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:k]
    want = []
    for vid, v in rows:
        for sub in range(m):
            xv = v[sub * sd:(sub + 1) * sd]
            best = None
            for code, (_, cv) in enumerate(samp, start=1):
                cb = cv[sub * sd:(sub + 1) * sd]
                acc = 0.0
                for a, b in zip(xv, cb):
                    t = a - b
                    acc = acc + t * t
                if best is None or (acc, code) < best:
                    best = (acc, code)
            want.append((vid, sub, best[1], math.floor(best[0] * 1_000_000 + 0.5)))
    assert got == sorted(want) and len(got) == len(rows) * m


def test_ivfpq_topk_self_hit_and_recall_floor(spark, sf_dir):
    """IVF-PQ ADC sanity: every query ranks ITSELF first (a vector's
    ADC score against its own codes is the max-dot reconstruction),
    at most k rows per query, m_sub partial scores per pair (exact
    int64 sum), and recall vs brute force clears a floor — modest by
    design on this structureless random fixture (16 codewords per
    8-dim noise subspace), which is exactly what the ann_recall gate
    exists to surface after any codebook change."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nq = q.count()
    approx = ivfpq_topk(emb, q, k=10, n_cells=16, nprobe=4)
    rows = approx.collect()
    top1 = [r for r in rows if r.rk == 1]
    assert len(top1) == nq
    assert all(r.query_id == r.neighbor_id for r in top1)  # self-hit
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 10
               for v in per_q.values())

    audit = ann_recall(
        approx.select("query_id", "neighbor_id", "rk"),
        brute_force_topk(emb, q, k=10),
    ).agg(F.sum("n_hits").alias("h"), F.sum("n_exact").alias("e")).collect()[0]
    assert audit.h / audit.e >= 0.2


def test_residual_pq_error_direction_and_determinism(spark, sf_dir):
    """Residual PQ earns its keep exactly where theory says: on a
    planted-cluster corpus residual quantization error is LOWER than
    plain PQ (same sampled codebooks, same bits); on the structureless
    random fixture it is HIGHER (subtracting a centroid adds
    variance) — the err_q monitor is the layout-choice signal. Both
    modes are deterministic (re-run identical), and residual output
    carries cell_id for reconstruction."""
    import numpy as np

    from syncquill_spark.operators.similarity import _ivf_centroids, pq_encode

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(40):
            rows.append(
                (vid, (centers[c] + 0.15 * rng.normal(size=64)).tolist())
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = _ivf_centroids(df, 8, 0, "vec_id", "embedding")

    plain = pq_encode(df, m_sub=8, k_codes=16, dim=64)
    resid = pq_encode(df, m_sub=8, k_codes=16, dim=64, centroids=cents)
    assert resid.columns == ["vec_id", "cell_id", "sub", "code", "err_q"]
    mean_plain = plain.agg(F.avg("err_q")).collect()[0][0]
    mean_resid = resid.agg(F.avg("err_q")).collect()[0][0]
    assert mean_resid < mean_plain  # clustered: residuals quantize finer

    # determinism: an identical second run yields identical rows
    resid2 = pq_encode(df, m_sub=8, k_codes=16, dim=64, centroids=cents)
    assert sorted(map(tuple, resid.collect())) == sorted(
        map(tuple, resid2.collect())
    )

    # structureless fixture: residual must be WORSE (the monitor story)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c2 = _ivf_centroids(emb, 16, 0, "vec_id", "embedding")
    p2 = pq_encode(emb, m_sub=8, k_codes=16, dim=64).agg(F.avg("err_q")).collect()[0][0]
    r2 = pq_encode(emb, m_sub=8, k_codes=16, dim=64, centroids=c2).agg(
        F.avg("err_q")
    ).collect()[0][0]
    assert r2 > p2


def test_ivfpq_residual_mode_runs_and_ranks(spark, sf_dir):
    """residual=True end to end: same output contract (all-int,
    contiguous ranks, <= k per query), score includes the quantized
    centroid term, and the plain path is untouched by the option."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(emb, q, k=5, n_cells=16, nprobe=4, residual=True)
    rows = out.collect()
    assert rows and out.columns == ["query_id", "neighbor_id", "rk", "score_q"]
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
               for v in per_q.values())


def test_ivfpq_topk_rejects_indivisible_dim(spark):
    """Without the guard, sd = dim // m_sub silently drops the
    trailing dimensions from both codes and LUT — plausible-but-wrong
    neighbors instead of an error (same contract as pq_encode)."""
    import pytest as _pytest

    from syncquill_spark.operators.similarity import ivfpq_topk

    df = spark.createDataFrame(
        [(1, [0.1] * 10)], "vec_id long, embedding array<float>"
    )
    q = df.selectExpr("vec_id as query_id", "embedding")
    with _pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(df, q, dim=10, m_sub=8)


def test_pq_lloyd_codebooks_reduce_error(spark):
    """Lloyd-trained PQ codebooks (round-8 verdict #4): on the
    planted-cluster fixture one training pass must strictly cut total
    quantization error vs the sampled codebook, further passes must
    not undo it (k-means objective is non-increasing; means are
    1e-6-quantized, so allow only that jitter), training must be
    deterministic (identical re-run), and trained RESIDUAL PQ — the
    combination the verdict called the family's missing piece — must
    beat sampled residual PQ on the same corpus."""
    import numpy as np

    from syncquill_spark.operators.similarity import _ivf_centroids, pq_encode

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(40):
            rows.append(
                (vid, (centers[c] + 0.15 * rng.normal(size=64)).tolist())
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def tot(out):
        return out.agg(F.sum("err_q").alias("s")).collect()[0]["s"]

    e0 = tot(pq_encode(df, m_sub=8, k_codes=16, dim=64))
    e1 = tot(pq_encode(df, m_sub=8, k_codes=16, dim=64, lloyd_iters=1))
    e3 = tot(pq_encode(df, m_sub=8, k_codes=16, dim=64, lloyd_iters=3))
    assert e1 < e0, f"one Lloyd pass did not cut err_q: {e1} vs {e0}"
    assert e3 <= e1 * 1.001, f"more passes regressed err_q: {e3} vs {e1}"

    # determinism: identical second run, row for row
    a = pq_encode(df, m_sub=8, k_codes=16, dim=64, lloyd_iters=2)
    b = pq_encode(df, m_sub=8, k_codes=16, dim=64, lloyd_iters=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # trained residual PQ beats sampled residual PQ on clustered data
    cents = _ivf_centroids(df, 8, 0, "vec_id", "embedding")
    r0 = tot(pq_encode(df, m_sub=8, k_codes=16, dim=64, centroids=cents))
    r1 = tot(
        pq_encode(
            df, m_sub=8, k_codes=16, dim=64, centroids=cents, lloyd_iters=1
        )
    )
    assert r1 < r0, f"trained residual not below sampled residual: {r1} vs {r0}"


def test_ivfpq_lloyd_option_keeps_contract(spark, sf_dir):
    """ivfpq_topk(lloyd_iters=1): same all-int output contract,
    contiguous per-query ranks, <= k rows per query; default path
    (lloyd_iters=0) is byte-identical to before the option existed."""
    from syncquill_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(emb, q, k=5, n_cells=8, nprobe=2, lloyd_iters=1)
    rows = out.collect()
    assert rows and out.columns == ["query_id", "neighbor_id", "rk", "score_q"]
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    for rks in per_q.values():
        assert sorted(rks) == list(range(1, len(rks) + 1)) and len(rks) <= 5


def test_exact_rerank_full_candidates_equals_brute_force(spark, sf_dir):
    """exact_rerank is brute force restricted to the candidate set —
    so with the candidate set = the whole corpus it must reproduce
    brute_force_topk row for row (same Arrow cosine, same tie-break).
    This is the stage-2 contract: the refiner adds no approximation of
    its own."""
    from syncquill_spark.operators.similarity import (
        brute_force_topk,
        exact_rerank,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    all_cand = q.select("query_id").crossJoin(
        emb.select(F.col("vec_id").alias("neighbor_id"))
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in exact_rerank(all_cand, emb, q, k=7).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in brute_force_topk(emb, q, k=7).collect()
    )
    assert got == want and len(got) > 0


def test_ivfpq_rerank_buys_back_quantization_loss(spark, sf_dir):
    """Two-stage serving's whole point: with the SAME coarse stage
    (cells/probes/codes), exact re-ranking of the ADC top-50 must
    (a) keep the self-hit, (b) emit contiguous ranks with results a
    subset of the ADC candidates, (c) beat or match ADC-only recall
    at k=10 vs brute force (on this structureless fixture recall
    becomes candidate-coverage-bound instead of quantization-bound),
    and (d) be deterministic across runs."""
    from syncquill_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nq = q.count()
    adc = ivfpq_topk(emb, q, k=10, n_cells=16, nprobe=4)
    cand = ivfpq_topk(emb, q, k=50, n_cells=16, nprobe=4)
    rer = ivfpq_topk_rerank(emb, q, k=10, rerank=50, n_cells=16, nprobe=4)
    rows = rer.collect()

    top1 = [r for r in rows if r.rk == 1]
    assert len(top1) == nq and all(r.query_id == r.neighbor_id for r in top1)

    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 10
               for v in per_q.values())
    cand_set = {(r.query_id, r.neighbor_id) for r in cand.collect()}
    assert all((r.query_id, r.neighbor_id) in cand_set for r in rows)

    exact = brute_force_topk(emb, q, k=10)

    def recall(approx):
        a = ann_recall(approx.select("query_id", "neighbor_id"), exact).agg(
            F.sum("n_hits").alias("h"), F.sum("n_exact").alias("e")
        ).collect()[0]
        return a.h / a.e

    r_adc, r_rer = recall(adc), recall(rer)
    assert r_rer >= r_adc
    assert r_rer >= 0.3

    again = sorted((r.query_id, r.neighbor_id, r.rk)
                   for r in ivfpq_topk_rerank(
                       emb, q, k=10, rerank=50, n_cells=16, nprobe=4
                   ).collect())
    assert again == sorted((r.query_id, r.neighbor_id, r.rk) for r in rows)


def test_ivfpq_rerank_depth_validation(spark):
    from syncquill_spark.operators.similarity import ivfpq_topk_rerank

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).alias("embedding"),
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="rerank depth"):
        ivfpq_topk_rerank(df, q, k=10, rerank=5, dim=8, m_sub=4)


def test_exact_rerank_composes_with_persisted_index(spark, sf_dir, tmp_path):
    """Two-stage serving from the DEPLOYED layout: candidates from the
    persisted cell-partitioned index (ivfpq_topk_from_index), refined
    by exact_rerank, must equal the monolithic ivfpq_topk_rerank row
    for row — so the serve path and the one-shot path cannot drift."""
    from syncquill_spark.operators.similarity import (
        exact_rerank,
        ivfpq_build_index,
        ivfpq_topk_from_index,
        ivfpq_topk_rerank,
    )
    from syncquill_spark.sources.index_store import load_index, save_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = str(tmp_path / "ivfpq_rerank_idx")
    save_index(
        p,
        _partition_by={"codes": ["cell_id"]},
        **ivfpq_build_index(emb, n_cells=16),
    )
    idx = load_index(spark, p)
    cand = ivfpq_topk_from_index(q, idx, k=30, nprobe=4)
    served = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in exact_rerank(cand, emb, q, k=10).collect()
    )
    mono = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in ivfpq_topk_rerank(emb, q, k=10, rerank=30, n_cells=16, nprobe=4).collect()
    )
    assert served == mono and len(served) > 0


def test_random_projection_matches_numpy_and_is_deterministic(spark, sf_dir):
    """The JL projection equals a pure-numpy recomputation with the
    same md5-derived matrix (fixed-order accumulation), output length
    is out_dim, and two runs are identical (no RNG state)."""
    import numpy as np

    from syncquill_spark.operators.similarity import (
        _hyperplane,
        random_projection,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(8)
    rows = random_projection(emb, out_dim=16).orderBy("vec_id").collect()
    planes = np.array(
        [_hyperplane(64, f"rp-v1:{k}") for k in range(16)], dtype=np.float64
    ) / np.sqrt(16.0)
    for r in rows:
        x = np.asarray(r.embedding, dtype=np.float64)
        y = np.zeros(16, dtype=np.float64)
        for j in range(64):
            y = y + x[j] * planes[:, j]
        assert len(r.embedding_rp) == 16
        assert np.array_equal(np.asarray(r.embedding_rp), y)
    again = random_projection(emb, out_dim=16).orderBy("vec_id").collect()
    assert [r.embedding_rp for r in again] == [r.embedding_rp for r in rows]


def test_random_projection_coarse_stage_with_exact_rerank(spark, sf_dir):
    """The deployment composition: project 64 -> 16 dims (4x less to
    scan), take projected-space top-100 as candidates, exact_rerank on
    the ORIGINAL floats. Self-hits survive projection exactly (a
    vector's projected cosine with itself is 1), and two-stage recall
    beats projected-space-only recall — measured floors pinned on the
    deterministic fixture."""
    from syncquill_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        exact_rerank,
        random_projection,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, q, k=10)
    proj = random_projection(emb, out_dim=16).select(
        "vec_id", F.col("embedding_rp").alias("embedding")
    )
    qp = proj.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall(approx):
        a = ann_recall(approx.select("query_id", "neighbor_id"), exact).agg(
            F.sum("n_hits").alias("h"), F.sum("n_exact").alias("e")
        ).collect()[0]
        return a.h / a.e

    coarse = brute_force_topk(proj, qp, k=10)
    top1 = {r.query_id: r.neighbor_id for r in coarse.filter("rk = 1").collect()}
    assert top1 and all(k == v for k, v in top1.items())  # self-hit survives

    r_coarse = recall(coarse)
    rer = exact_rerank(brute_force_topk(proj, qp, k=100), emb, q, k=10)
    r_two_stage = recall(rer)
    assert r_two_stage > r_coarse
    assert r_two_stage >= 0.5  # measured 0.64 on this fixture


def test_random_projection_validates_out_dim(spark):
    from syncquill_spark.operators.similarity import random_projection

    df = spark.range(2).select(
        F.col("id").alias("vec_id"), F.array(*[F.lit(0.1)] * 8).alias("embedding")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="out_dim"):
        random_projection(df, out_dim=0, dim=8)
    with _pytest.raises(ValueError, match="out_dim"):
        random_projection(df, out_dim=9, dim=8)


def test_pca_fit_matches_numpy_model(spark, sf_dir):
    """pca_fit's basis equals a pure-numpy replication of the same
    quantized pipeline (int64 sums -> covariance -> eigh -> sign
    convention) — so the fit is partitioning-independent by arithmetic
    and this test pins it bit-for-bit."""
    import numpy as np

    from syncquill_spark.operators.similarity import SIG_SCALE, pca_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, k=8)
    comp_rows = model["components"].orderBy("rank").collect()
    (mean_row,) = model["mean"].collect()

    pdf = emb.toPandas().sort_values("vec_id")
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    q = np.floor(x * float(SIG_SCALE) + 0.5).astype(np.int64)
    n = len(q)
    s = q.sum(axis=0)
    m = q.T.astype(object) @ q.astype(object)  # exact integer products
    m = m.astype(np.float64)
    mu = s.astype(np.float64) / n
    cov = (m - np.outer(mu, s) - np.outer(s, mu) + n * np.outer(mu, mu)) / n
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(-eigval)[:8]
    assert mean_row.n == n
    assert np.array_equal(
        np.asarray(mean_row.mean), mu / float(SIG_SCALE)
    )
    for rank, idx in enumerate(order):
        v = eigvec[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        r = comp_rows[rank]
        assert r.eigval_q == int(np.floor(eigval[idx] + 0.5))
        assert np.array_equal(np.asarray(r.component), v), rank


def test_pca_project_recovers_planted_direction(spark):
    """Data with variance planted along one direction: the first
    component aligns with it (|cos| > 0.99), projection onto k=1
    captures almost all centered variance, and fit -> persist ->
    load -> project equals fit -> project."""
    import numpy as np

    from syncquill_spark.operators.similarity import pca_fit, pca_project
    from syncquill_spark.sources.index_store import load_index, save_index

    rng_free = [(i * 37 % 101) / 101.0 - 0.5 for i in range(400)]  # no RNG
    d = np.zeros(16)
    d[3], d[11] = 3.0, 4.0  # planted direction, norm 5
    d = d / 5.0
    rows = []
    for i in range(400):
        t = rng_free[i] * 10.0
        noise = np.array(
            [((i * 13 + j * 7) % 17 - 8) / 80.0 for j in range(16)]
        )
        rows.append((i, [float(v) for v in t * d + noise]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = pca_fit(df, k=2, dim=16)
    (c0,) = model["components"].filter("rank = 0").collect()
    cos = abs(float(np.dot(np.asarray(c0.component), d)))
    assert cos > 0.99

    import tempfile

    p = tempfile.mkdtemp(prefix="sq_pca_") + "/pca"
    save_index(p, **model)
    loaded = load_index(spark, p)
    a = {r.vec_id: list(r.embedding_pca)
         for r in pca_project(df, model).collect()}
    b = {r.vec_id: list(r.embedding_pca)
         for r in pca_project(df, loaded).collect()}
    assert a == b
    # k=1 energy dominates: sum of squared first coords >> second
    e0 = sum(v[0] ** 2 for v in a.values())
    e1 = sum(v[1] ** 2 for v in a.values())
    assert e0 > 50 * e1


def test_pca_fit_sampling_and_validation(spark, sf_dir):
    from syncquill_spark.operators.similarity import pca_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = pca_fit(emb, k=4)
    sampled = pca_fit(emb, k=4, sample_mod=2)
    n_full = full["mean"].collect()[0].n
    n_samp = sampled["mean"].collect()[0].n
    assert 0 < n_samp < n_full

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        pca_fit(emb, k=0)
    with _pytest.raises(ValueError, match="empty"):
        pca_fit(emb.filter("vec_id < 0"), k=2)


def test_pca_whiten_unit_variance_on_fit_sample(spark):
    """whiten=True: each projected coordinate has ~unit population
    variance on the fit sample (the covariance eigenvalue by
    construction, up to SIG_SCALE quantization), and the unwhitened
    coordinate variance equals eigval_q/SIG_SCALE^2."""
    import numpy as np

    from syncquill_spark.operators.similarity import (
        SIG_SCALE,
        pca_fit,
        pca_project,
    )

    d = np.zeros(16)
    d[2], d[9] = 0.6, 0.8
    rows = []
    for i in range(300):
        t = ((i * 53) % 97 - 48) / 10.0
        noise = np.array([((i * 11 + j * 5) % 13 - 6) / 60.0 for j in range(16)])
        rows.append((i, [float(v) for v in t * d + noise]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = pca_fit(df, k=2, dim=16)
    (c0,) = model["components"].filter("rank = 0").collect()

    plain = np.array(
        [r.embedding_pca[0] for r in pca_project(df, model).collect()]
    )
    white = np.array(
        [r.embedding_pca[0] for r in pca_project(df, model, whiten=True).collect()]
    )
    var_plain = plain.var()  # population variance, matching the 1/n fit
    want = c0.eigval_q / float(SIG_SCALE) ** 2
    assert abs(var_plain - want) / want < 0.01
    assert abs(white.var() - 1.0) < 0.01


# ---------------------------------------------------------------------------
# bitext mining (margin criterion)
# ---------------------------------------------------------------------------


def _bitext_fixture(spark, n_src=10, n_noise=24, dim=8):
    """Deterministic planted-translation fixture: tgt i is src i
    slightly perturbed (the aligned pair), plus unrelated noise
    vectors on the target side. No RNG — md5-derived components."""
    import hashlib

    def vec(salt, i):
        return [
            (int(hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[:8], 16)
             % 1000) / 500.0 - 1.0
            for j in range(dim)
        ]

    src_rows = [(i, vec("s", i)) for i in range(n_src)]
    tgt_rows = [
        (100 + i, [x + 0.05 * ((i + j) % 3 - 1) for j, x in enumerate(v)])
        for i, v in src_rows
    ] + [(500 + i, vec("n", i)) for i in range(n_noise)]
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(src_rows, schema),
        spark.createDataFrame(tgt_rows, schema),
        dict(src_rows),
        dict(tgt_rows),
    )


def _mine_python_model(src, tgt, k, min_margin_ppm):
    """From-scratch margin mining with Spark's integral-division
    semantics (DIV truncates toward zero). Pairs with a NULL or
    zero-norm vector cannot be scored and are no neighbours."""
    import math

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def cos_ppm(a, b):
        if a is None or b is None:
            return None
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        if na == 0 or nb == 0:
            return None
        return math.floor(d / (na * nb) * 1_000_000 + 0.5)

    scores = {
        (si, ti): c
        for si, sv in src.items()
        for ti, tv in tgt.items()
        if (c := cos_ppm(sv, tv)) is not None
    }
    fwd = {
        si: sorted(
            ((scores[(si, ti)], ti) for ti in tgt if (si, ti) in scores),
            key=lambda p: (-p[0], p[1]),
        )[:k]
        for si in src
    }
    bwd = {
        ti: sorted(
            ((scores[(si, ti)], si) for si in src if (si, ti) in scores),
            key=lambda p: (-p[0], p[1]),
        )[:k]
        for ti in tgt
    }
    a = {si: tdiv(sum(c for c, _ in nn), len(nn)) for si, nn in fwd.items() if nn}
    b = {ti: tdiv(sum(c for c, _ in nn), len(nn)) for ti, nn in bwd.items() if nn}
    out = {}
    for si, nn in fwd.items():
        best = None
        for c, ti in nn:
            den = a[si] + b[ti]
            if den <= 0:
                continue
            m = tdiv(2_000_000 * c, den)
            key = (-m, ti)
            if best is None or key < best[0]:
                best = (key, (ti, c, m))
        if best and best[1][2] >= min_margin_ppm:
            out[si] = best[1]
    return out


def test_bitext_margin_matches_python_model(spark):
    """Mined set identical to the from-scratch model — pairs, quantized
    cosines, margins, tie-breaks, truncating division semantics. A
    NULL-embedding and an all-zero target row are never neighbours, so
    adding them changes no margin, even with k past the scorable
    targets (they used to fill those windows, shrink every average and
    inflate the margins)."""
    from syncquill_spark.operators.similarity import bitext_margin_pairs

    src_df, tgt_df, src, tgt = _bitext_fixture(spark)
    got = {
        r.src_id: (r.tgt_id, r.cos_ppm, r.margin_ppm)
        for r in bitext_margin_pairs(src_df, tgt_df, k=4).collect()
    }
    want = _mine_python_model(src, tgt, k=4, min_margin_ppm=1_000_000)
    assert got == want
    padded = tgt_df.unionByName(spark.createDataFrame(
        [(998, None), (999, [0.0] * 8)], "vec_id long, embedding array<double>"
    ))
    k_all = len(tgt) + 2

    def mined(tgt_frame):
        return {
            r.src_id: (r.tgt_id, r.cos_ppm, r.margin_ppm)
            for r in bitext_margin_pairs(src_df, tgt_frame, k=k_all).collect()
        }

    got_all = mined(tgt_df)
    assert got_all and mined(padded) == got_all
    assert _mine_python_model(
        src, {**tgt, 998: None, 999: [0.0] * 8}, k=k_all, min_margin_ppm=1_000_000
    ) == got_all
    # the planted translations are recovered (src i -> tgt 100+i)
    assert len(got) == len(src)
    assert all(got[i][0] == 100 + i for i in src)


def test_bitext_margin_beats_raw_cosine_on_hubs(spark):
    """The criterion's reason to exist: a planted pair whose absolute
    cosine is LOWER than a hub's background similarity still mines,
    because the margin normalizes by neighborhood density."""
    from syncquill_spark.operators.similarity import bitext_margin_pairs

    # hub region: several vectors on BOTH sides nearly parallel (every
    # cross cosine ~0.999 — density, not alignment evidence); isolated
    # pair: src 9 / tgt 900 share a direction nothing else is near
    # (cos ~0.94, LOWER than every hub cosine).
    iso_s = [0.0, 1.0, 0.3, 0.0]
    iso_t = [0.0, 1.0, 0.0, 0.2]
    rows_s = [
        (i, [1.0, 0.005 * i, 0.0, 0.0]) for i in range(4)
    ] + [(9, iso_s)]
    rows_t = [
        (100 + j, [1.0, 0.01 * j, 0.0, 0.0]) for j in range(6)
    ] + [(900, iso_t)]
    schema = "vec_id long, embedding array<double>"
    src_df = spark.createDataFrame(rows_s, schema)
    tgt_df = spark.createDataFrame(rows_t, schema)
    got = {
        r.src_id: (r.tgt_id, r.margin_ppm)
        for r in bitext_margin_pairs(
            src_df, tgt_df, k=3, min_margin_ppm=1_010_000
        ).collect()
    }
    # the isolated pair clears the margin bar; no hub vector does,
    # despite every hub cosine exceeding the isolated pair's
    assert got and set(got) == {9} and got[9][0] == 900


def test_bitext_margin_candidates_param_matches_default(spark):
    """The scale path: an explicit candidate frame covering the full
    cross product must reproduce the default output exactly."""
    from syncquill_spark.operators.similarity import bitext_margin_pairs

    src_df, tgt_df, _, _ = _bitext_fixture(spark, n_src=6, n_noise=10)
    cand = src_df.select(F.col("vec_id").alias("src_id")).crossJoin(
        tgt_df.select(F.col("vec_id").alias("tgt_id"))
    )
    full = sorted(
        map(tuple, bitext_margin_pairs(src_df, tgt_df, k=3).collect())
    )
    via_cand = sorted(
        map(
            tuple,
            bitext_margin_pairs(
                src_df, tgt_df, k=3, candidates=cand
            ).collect(),
        )
    )
    assert full == via_cand and len(full) > 0


# ---------------------------------------------------------------------------
# r13 boundary-battery regressions: NULL / ragged / non-finite
# embeddings through the Arrow kernels and the top-k ranking blocks.
# ---------------------------------------------------------------------------

_BASE = [float(i % 7 - 3) for i in range(64)]


def _pathological(spark):
    rows = [
        (1, _BASE),
        (2, _BASE),
        (3, None),                      # NULL embedding
        (4, [float("nan")] * 64),       # NaN components
        (5, [float("inf")] * 64),       # Inf components
        (6, _BASE[:63]),                # ragged: 63-dim among 64
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kernels_mask_pathological_rows(spark):
    """NULL / ragged rows made np.stack throw inside the Arrow kernels,
    ABORTING THE JOB on one corrupt row (the vector sibling of the
    jaccard_verify 0/0 crash); non-finite rows quantized to garbage
    int64 signatures. All kernels now yield NULL for such rows."""
    from syncquill_spark.functions.vectors import (
        cosine_similarity_arrow,
        dot_arrow,
    )

    df = _pathological(spark)
    pairs = df.alias("a").crossJoin(
        df.selectExpr(
            "vec_id as vec_id_b", "embedding as embedding_b"
        ).alias("b")
    )
    out = pairs.select(
        "vec_id",
        "vec_id_b",
        dot_arrow(F.col("embedding"), F.col("embedding_b")).alias("d"),
        cosine_similarity_arrow(
            F.col("embedding"), F.col("embedding_b")
        ).alias("c"),
    ).collect()
    bad = {3, 4, 5}  # NULL / NaN / Inf rows — no defined score with anyone
    for r in out:
        if r["vec_id"] in bad or r["vec_id_b"] in bad:
            assert r["d"] is None and r["c"] is None, r
    # ragged row 6 pairs only with itself (lengths match)
    for r in out:
        if 6 in (r["vec_id"], r["vec_id_b"]) and r["vec_id"] != r["vec_id_b"]:
            if r["vec_id"] not in bad and r["vec_id_b"] not in bad:
                assert r["d"] is None, r
    clean = {(r["vec_id"], r["vec_id_b"]): r for r in out}
    assert clean[(1, 2)]["c"] == pytest.approx(1.0)
    assert clean[(6, 6)]["c"] == pytest.approx(1.0)


def test_subtract_and_valid_vector_mask_pathological_rows(spark):
    """subtract_arrow stacked unmasked, so one NULL or ragged row
    aborted residual IVF-PQ; it now yields NULL for such pairs.
    valid_vector is the IVF-PQ corpus filter: only full-length, finite,
    non-NULL, non-zero vectors pass, on float and double arrays."""
    from syncquill_spark.functions.vectors import subtract_arrow, valid_vector

    df = _pathological(spark)
    out = {
        r["vec_id"]: r["d"]
        for r in df.select(
            "vec_id", subtract_arrow(F.col("embedding"), F.col("embedding")).alias("d")
        ).collect()
    }
    assert out[1] == [0.0] * 64 and out[6] == [0.0] * 63
    assert out[3] is None and out[4] is None and out[5] is None

    odd = [
        (7, [0.0] * 64),
        (8, _BASE[:-1] + [float("-inf")]),
        (9, _BASE[:-1] + [None]),
        (10, _BASE + [1.0]),
    ]
    frames = [
        df.union(spark.createDataFrame(odd, "vec_id long, embedding array<double>")),
        spark.createDataFrame(
            [(1, _BASE), (4, [float("nan")] * 64)] + odd,
            "vec_id long, embedding array<float>",
        ),
    ]
    for frame in frames:
        flags = {
            r["vec_id"]: r["ok"]
            for r in frame.select(
                "vec_id", valid_vector(F.col("embedding"), 64).alias("ok")
            ).collect()
        }
        assert {i for i, ok in flags.items() if ok} == {1, 2} & set(flags)
        assert all(ok in (True, False) for ok in flags.values()), flags


def test_topk_excludes_pathological_corpus_rows(spark):
    """Before the guard, a NaN cosine RANKED FIRST in every top-k
    (Spark sorts NaN above every double) and NULL-scored rows filled
    trailing ranks. Pathological corpus rows must simply not appear."""
    df = _pathological(spark)
    q = spark.createDataFrame(
        [(100, _BASE)], "query_id long, embedding array<double>"
    )
    got = sorted(
        (r["neighbor_id"], r["rk"])
        for r in brute_force_topk(df, q, k=5).collect()
    )
    assert got == [(1, 1), (2, 2)]  # only the two valid 64-dim rows


def test_near_dup_ignores_pathological_rows(spark):
    from syncquill_spark.operators.similarity import embedding_near_dup_pairs

    df = _pathological(spark)
    pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.5).collect()
    )
    assert pairs == [(1, 2)]


def test_projectors_mask_pathological_rows(spark):
    from syncquill_spark.operators.similarity import (
        pca_fit,
        pca_project,
        random_projection,
    )

    df = _pathological(spark)
    rp = {
        r["vec_id"]: r["rp"]
        for r in random_projection(df, out_dim=8, out_col="rp").collect()
    }
    assert rp[1] is not None and len(rp[1]) == 8
    for vid in (3, 4, 5, 6):
        assert rp[vid] is None
    # the fit must survive (and ignore) the corrupt rows
    model = pca_fit(df, k=4)
    proj = {
        r["vec_id"]: r["pca"]
        for r in pca_project(df, model, out_col="pca").collect()
    }
    assert proj[1] is not None and len(proj[1]) == 4
    for vid in (3, 4, 5, 6):
        assert proj[vid] is None


def test_zero_norm_rows_mask_to_null_and_never_rank(spark):
    """A finite all-zero embedding is the pathological input the
    isfinite mask cannot catch (ADVICE r13): its float cosine is
    0/0 = NaN, and Spark sorts NaN above every double, so one zero
    vector in the corpus topped every desc-ranked top-k while the
    quantized paths' n2 > 0 guards correctly dropped it.
    cosine_similarity_arrow now masks zero-norm rows to NULL — also
    the DuckDB oracle's answer (x/0 is NULL there, floats included) —
    and the ranking blocks' existing isNotNull drop keeps them out."""
    from syncquill_spark.functions.vectors import cosine_similarity_arrow

    zero = [0.0] * 64
    df = spark.createDataFrame(
        [(1, _BASE), (2, _BASE), (3, zero)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, _BASE), (101, zero)], "query_id long, embedding array<double>"
    )
    # kernel level: any pairing with a zero-norm side is NULL, never NaN
    scores = {
        (r["a"], r["b"]): r["c"]
        for r in df.alias("x")
        .crossJoin(
            df.selectExpr("vec_id as b", "embedding as eb")
        )
        .select(
            F.col("vec_id").alias("a"),
            "b",
            cosine_similarity_arrow(F.col("embedding"), F.col("eb")).alias(
                "c"
            ),
        )
        .collect()
    }
    assert scores[(1, 2)] == pytest.approx(1.0)
    for pair in ((1, 3), (3, 1), (3, 3)):
        assert scores[pair] is None, pair
    # ranking level: the zero corpus row never appears, at ANY rank,
    # and a zero-norm query gets no neighbors at all
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in brute_force_topk(df, q, k=5).collect()
    )
    assert got == [(100, 1, 1), (100, 2, 2)]


def test_ivfpq_code_arrays_match_row_codes(spark, sf_dir):
    """r16 optimization pin: the ADC paths' array-of-codes layout
    (one row per vector, entry s = nearest codeword of subspace s)
    must agree exactly with pq_encode's per-(vector, sub) row
    assignment — same sampled codebook, same min(struct(dist, code))
    tie-break — so the serve-path rewrite cannot drift from the
    oracle-checked encoder."""
    from syncquill_spark.operators.similarity import (
        _pq_code_arrays,
        _pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    frame = emb.select("vec_id", "embedding")
    cb = _pq_codebook(frame, 8, 16, 64, "vec_id", "embedding", 0)
    arrays = {
        r.vec_id: r._codes
        for r in _pq_code_arrays(frame, cb, 8, 8, "vec_id", "embedding").collect()
    }
    rows = pq_encode(emb, m_sub=8, k_codes=16, dim=64).collect()
    assert arrays and len(rows) == 8 * len(arrays)
    for r in rows:
        assert arrays[r.vec_id][r.sub] == r.code


def test_nearest_rows_answers_independent_of_layout(spark):
    """The nearest-rows core keeps a top-k per scoring task and merges
    them, so its answers must not depend on physical layout: partition
    count, input order or the session's shuffle width. The corpus holds
    every vector three times under different ids, so equal scores fall
    in different partitions and only the id tie-break orders them."""
    import numpy as np

    from syncquill_spark.operators.similarity import (
        assign_nearest_centroid,
        ivf_topk,
        pq_encode,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 16)).round(2).tolist()
    corpus = spark.createDataFrame(
        [(i, vecs[i % 40], i % 3) for i in range(120)],
        "vec_id long, embedding array<double>, label long",
    )
    queries = spark.createDataFrame(
        [(1000 + i, vecs[i * 7]) for i in range(5)],
        "query_id long, embedding array<double>",
    )

    def answers(c):
        return [
            sorted(brute_force_topk(c, queries, k=5).collect()),
            sorted(ivf_topk(c, queries, k=5, n_cells=4, nprobe=2).collect()),
            sorted(pq_encode(c, m_sub=4, k_codes=8, dim=16).collect()),
            sorted(assign_nearest_centroid(c).collect()),
        ]

    want = answers(corpus.repartition(1))
    assert len(want[0]) == 25 and len(want[3]) == 120
    for c in (corpus.repartition(7), corpus.orderBy(F.rand(11))):
        assert answers(c) == want
    width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("3", "61"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert answers(corpus) == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
