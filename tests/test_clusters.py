"""Connected components / dedup keepers over hand-built graphs."""

from __future__ import annotations

import random

import pytest

from syncquill_spark.operators import clusters
from syncquill_spark.operators.clusters import connected_components, dedup_keepers


def _solve(pairs, monkeypatch, loop: bool, **kw):
    """(schema, sorted rows) of connected_components on the driver
    path, or on the distributed loop when ``loop`` (cap forced to 0)."""
    with monkeypatch.context() as m:
        if loop:
            m.setattr(clusters, "DRIVER_SOLVE_MAX_EDGES", 0)
        out = connected_components(pairs, **kw)
        return out.schema, sorted(tuple(r) for r in out.collect())


def _random_pairs(rng, ids, n_edges):
    """Edges over ``ids`` with self-loops, repeated edges (both
    orientations) and NULL endpoints mixed in."""
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]
    edges += [(x, x) for x in rng.sample(ids, 3)]
    edges += [edges[0], edges[1][::-1], (None, ids[0]), (ids[1], None), (None, None)]
    rng.shuffle(edges)
    return edges


def test_chain_triangle_and_pair(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_keepers_survivor_set(spark):
    pairs = spark.createDataFrame([(5, 3), (3, 9)], "id_a long, id_b long")
    k = {r["node"]: r["keeper"] for r in dedup_keepers(pairs).collect()}
    assert k == {3: 3, 5: 3, 9: 3}


def test_nonconvergence_raises(spark, monkeypatch):
    # a 6-chain cannot converge in 1 round; max_iter bounds only the
    # distributed loop, so the driver solve is switched off
    monkeypatch.setattr(clusters, "DRIVER_SOLVE_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=1)


def test_apply_dedup_keeps_one_per_cluster(spark):
    from syncquill_spark.operators.clusters import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    # clusters {1,2,3} and {5,6}; 0,4,7 singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in apply_dedup(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 7]  # min id survives each cluster


def test_deep_chain_converges_via_pointer_jump(spark, monkeypatch):
    """An 80-node path needs 79 propagation hops; 6 cycles = 12
    neighbor-min steps can only cover 12 of them, so convergence
    within max_iter=6 REQUIRES the distributed loop's per-step pointer
    jump (coverage doubles per step). Pins the jump: removing it turns
    this test into the nonconvergence RuntimeError."""
    monkeypatch.setattr(clusters, "DRIVER_SOLVE_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(79)], "id_a long, id_b long"
    )
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(pairs, max_iter=6).collect()
    }
    assert comp == {i: 0 for i in range(80)}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_driver_solve_equals_loop_on_random_long_graphs(spark, monkeypatch, seed):
    """Seeded random graphs over sparse 64-bit ids (several components,
    self-loops, repeated edges, NULL endpoints): the driver solve and
    the forced distributed loop return the same rows and schema."""
    rng = random.Random(seed)
    ids = sorted({rng.randrange(-(2**62), 2**62) for _ in range(40)})
    edges = _random_pairs(rng, ids, 30)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    driver = _solve(pairs, monkeypatch, loop=False)
    assert driver == _solve(pairs, monkeypatch, loop=True)
    # every node of a NULL-free edge, and only those
    want = {x for e in edges if None not in e for x in e}
    assert {n for n, _ in driver[1]} == want


def test_driver_solve_equals_loop_on_unicode_string_ids(spark, monkeypatch):
    """String ids whose code-point order differs from any case-folded
    or locale order: ASCII upper/lower case, Latin-1 and CJK text and a
    non-BMP emoji (a surrogate pair in UTF-16, four bytes in UTF-8).
    The minimum id, and so every label, is the same on both paths."""
    rng = random.Random(7)
    ids = ["Zebra", "apple", "Äpfel", "éclair", "ß", "東京", "😀x",
           "\uffff", "a", "", "z😀", "Ωmega"]
    # a component of its own whose minimum depends on the order:
    # U+FFFF < U+1F600 (the emoji) by code point and in UTF-8 bytes,
    # but the emoji's UTF-16 surrogate (0xD83D) sorts below 0xFFFF
    apart = [("😀 only", "\uffff only"), ("😀 only", "😀")]
    pairs = spark.createDataFrame(
        _random_pairs(rng, ids, 10) + apart, "id_a string, id_b string"
    )
    driver = _solve(pairs, monkeypatch, loop=False)
    assert driver == _solve(pairs, monkeypatch, loop=True)
    comp = dict(driver[1])
    assert comp["😀"] == comp["😀 only"] == "\uffff only"


@pytest.mark.parametrize("id_type", ["int", "long", "short", "string"])
def test_output_types_follow_input_ids_and_empty_input(spark, monkeypatch, id_type):
    """Both paths type node and comp as the input id type, and an empty
    pair frame gives an empty output with that same schema."""
    cast = str if id_type == "string" else int
    pairs = spark.createDataFrame(
        [(cast(1), cast(2)), (cast(3), cast(2)), (cast(7), cast(7))],
        f"id_a {id_type}, id_b {id_type}",
    )
    schema, rows = _solve(pairs, monkeypatch, loop=False)
    assert (schema, rows) == _solve(pairs, monkeypatch, loop=True)
    assert [f.name for f in schema] == ["node", "comp"]
    assert {f.dataType for f in schema} == {pairs.schema["id_a"].dataType}
    c1 = cast(1)
    assert rows == sorted([(c1, c1), (cast(2), c1), (cast(3), c1), (cast(7), cast(7))])

    empty = pairs.limit(0)
    assert _solve(empty, monkeypatch, loop=False) == (schema, [])
    assert _solve(empty, monkeypatch, loop=True) == (schema, [])


def test_driver_solve_labels_chain_past_max_iter(spark, monkeypatch):
    """A 41-node path, given in shuffled order, is deeper than
    2 * max_iter steps: the driver solve, which max_iter does not
    bound, labels it fully, while the forced loop refuses it."""
    edges = [(i + 1, i) for i in range(40)]
    random.Random(3).shuffle(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    _, rows = _solve(pairs, monkeypatch, loop=False, max_iter=2)
    assert rows == [(i, 0) for i in range(41)]
    with pytest.raises(RuntimeError, match="converge"):
        _solve(pairs, monkeypatch, loop=True, max_iter=2)
