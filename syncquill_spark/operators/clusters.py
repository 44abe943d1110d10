"""Duplicate-cluster resolution: near-dup PAIRS -> connected components
-> one canonical keeper per cluster.

Pair emitters (ngram_jaccard_pairs, minhash_lsh_pairs,
embedding_near_dup_pairs) produce edges; dedup needs the transitive
closure: if A~B and B~C, then {A,B,C} is one duplicate group even when
A~C was never emitted. Component id = MIN node id reachable — a
fixpoint independent of iteration/join order, which is what makes an
iterative distributed algorithm oracle-checkable against a DuckDB
recursive CTE.

Two solvers, one contract. After the edge table is symmetrized,
deduplicated and checkpointed, at most ``DRIVER_SOLVE_MAX_EDGES + 1``
edge rows are pulled to the driver as Arrow. When the graph fits (the
common case: near-dup graphs are sized by the duplicate count, not the
corpus — 80,896 cluster rows even at the 512x dedup_clusters ladder
rung), it is solved in numpy: dense ids by ``np.unique``, then
min-label hooking with pointer jumping to a fixpoint. That replaces the
loop's per-cycle fixed cost (a join, an aggregation, a checkpoint and a
probe job per cycle — most of CC's cost at these sizes) with one
collect and one local frame. A graph past the cap, or ids that are
neither integral nor default-collation strings, run the distributed
loop below unchanged. String ids: numpy orders Python strings by code
point, and Spark's default UTF-8 binary order is the same order, so
both solvers pick the same minimum id.

Scale notes (distributed loop): min-label propagation with a per-step
pointer jump (comp <- min(comp, comp[comp])) converges in O(log
diameter) rounds — near-dup clusters are shallow (pairs all connect
through shared content), so a handful of rounds suffices even without
the jump; max_iter bounds the pathological chain. Each round is one edge-table
join + one groupBy min + one node-sized label self-join; lineage is
cut per round with localCheckpoint so plans don't grow unboundedly
(the standard iterative-algorithm discipline on Spark — same pattern
as GraphFrames' internal CC).

Production note: localCheckpoint stores blocks on executors
(non-replicated) — fast, but a lost executor aborts the job instead of
recomputing. For multi-hour 100 TB dedup jobs prefer reliable
checkpointing (spark.sparkContext.setCheckpointDir to durable storage,
then .checkpoint()) at the cost of one write+read per round; the
algorithm is unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

# Largest symmetrized edge count (each undirected pair counts twice)
# that connected_components solves on the driver. With 8-byte ids the
# Arrow collect is 16 B per edge (64 MB at the cap) and the numpy solve
# peaks at about 100 B per edge more (the concatenated endpoints,
# np.unique's sort buffers and the inverse index; traced on a random
# 2M-edge graph): about 0.5 GB of driver memory in all. String ids
# cost their length on top. Past the cap the distributed loop runs
# instead.
DRIVER_SOLVE_MAX_EDGES = 4_000_000


def _driver_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(node, comp) arrays for a symmetrized edge list, comp = min id.

    Dense ids come from ``np.unique``, which sorts, so a smaller dense
    id is a smaller node id. Each round hooks every root onto the
    smallest root across its edges, then jumps pointers (comp <-
    comp[comp]) until every node points at a root. Labels only fall
    and always name a node of the same component, and the component's
    minimum is a root from the start, so the fixpoint (no hook changes
    anything) is one root per component: its minimum. Every tree that
    has a neighbouring tree hooks or is hooked within two rounds, so
    the round count grows with log(nodes), not the diameter."""
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u) :]
    comp = np.arange(len(nodes))
    while True:
        hooked = comp.copy()
        np.minimum.at(hooked, comp[a], comp[b])
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, comp):
            return nodes, nodes[comp]
        comp = hooked


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`;
    component = min reachable node id.

    Edges with a NULL endpoint are DROPPED before clustering (r15
    verdict): a NULL node id is junk from the pair emitter's
    perspective — none of them produce one — and keeping it minted an
    inert (NULL, label) output row, a wrong-shape answer for a
    first-class operator (and min-label would silently treat every
    NULL as one shared pseudo-node if two malformed edges carried
    one). Consequence: a node whose ONLY edges are half-NULL is absent
    from the output — exactly the same downstream effect as today
    (NULL join keys never matched anything), now explicit.

    Graphs of at most ``DRIVER_SOLVE_MAX_EDGES`` symmetrized edges
    with integral or default-collation string ids are solved on the
    driver (module docstring); the output has the same columns and
    types either way. ``max_iter`` bounds only the distributed loop:
    it raises RuntimeError if max_iter cycles don't reach the fixpoint
    (diameter > 2 * max_iter — not a silently-wrong result).
    """
    # Symmetrize in ONE scan of `pairs` (explode both directions per
    # row) — the union-of-two-selects form scanned the (potentially
    # expensive: LSH/Jaccard join) pair pipeline twice before the
    # checkpoint cut it. Measured ~2x on the pairs phase of
    # dedup_clusters at sf0.1.
    edges = (
        pairs.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # No checkpoint for the initial labels: their lineage is one
    # distinct over the already-checkpointed edges (bounded), they are
    # consumed once (the first cycle), and every later `labels` is a
    # projection of that cycle's checkpoint — skipping the bootstrap
    # materialization saves one job per CC call.
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    comp_type = labels.schema["comp"].dataType
    if isinstance(comp_type, IntegralType) or comp_type == StringType():
        import pyarrow as pa

        cap = DRIVER_SOLVE_MAX_EDGES
        tbl = edges.limit(cap + 1).toArrow()
        if tbl.num_rows <= cap:
            node, comp = _driver_labels(
                tbl.column("u").to_numpy(), tbl.column("v").to_numpy()
            )
            return edges.sparkSession.createDataFrame(
                pa.table({"node": node, "comp": comp}), schema=labels.schema
            )

    def step(lab: DataFrame, rider: str | None) -> DataFrame:
        """One min-label propagation step + POINTER JUMP. When `rider`
        names a column of lab, it rides through unchanged (null on
        neighbor rows, so max() recovers the node's own value) — lets
        the cycle carry an earlier label for change detection without
        an extra join.

        The jump (comp <- min(comp, comp[comp])) is the classic
        pointer-doubling trick: neighbor-min alone moves a label one
        hop per step, so a component converges in O(distance to its
        min node) steps; composing each step with one label-table
        self-join doubles the covered distance per step and the loop
        converges in O(log d) cycles instead of O(d) (measured on the
        sf0.1 simhash graph, diameter ~10: 5 cycles -> 3, identical
        labels). Cost: one extra |V|-row self-join per step — the
        LABEL table, never the edge table, so the added shuffle is
        node-sized. A LEFT join, deliberately: every comp value is a
        node id of the same graph (mins of initial ids), so the match
        is total today, but an inner join would silently DROP nodes if
        that invariant ever broke; F.least skips the null from a
        non-matching left row."""
        riders = [rider] if rider else []
        nbr = edges.join(lab, edges["v"] == lab["node"]).select(
            edges["u"].alias("node"),
            F.col("comp"),
            *[F.lit(None).cast(comp_type).alias(r) for r in riders],
        )
        base = lab.select("node", "comp", *riders)
        stepped = base.union(nbr).groupBy("node").agg(
            F.min("comp").alias("comp"),
            *[F.max(r).alias(r) for r in riders],
        )
        jump_side = stepped.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        return (
            stepped.join(jump_side, stepped["comp"] == F.col("_jn"), "left")
            .select(
                "node",
                F.least(F.col("comp"), F.col("_jc")).alias("comp"),
                *riders,
            )
        )

    # TWO propagation steps per materialization cycle: per-cycle fixed
    # cost (job scheduling, checkpoint, the change-detection action)
    # was the dominant CC cost at small-to-mid edge counts — ~4s for a
    # 79-edge fixture graph, nearly all of it per-round overhead, not
    # data. A lazy localCheckpoint + count fuses materialization and
    # change detection into ONE job, and pairing steps halves the
    # cycle count; labels still converge to the identical min-label
    # fixpoint (step pairing only re-associates the propagation
    # order, and min-label is order-independent).
    #
    # Convergence probe (round 6): `mid` carries the label from after
    # the cycle's FIRST step; min-label is monotone non-increasing, so
    # comp < mid detects exactly "the second step changed something".
    # If the second step changed NOTHING (comp == mid everywhere),
    # the step-1 labels are a one-step fixpoint — and a one-step
    # fixpoint of min-label propagation IS the component labeling —
    # so the loop stops without the extra confirm cycle the old
    # pre-cycle-label probe needed. Shallow graphs (near-dup clusters
    # connect through shared content; diameter 1-2 is the common
    # case) now converge in ONE cycle instead of two — measured
    # ~1.4x on dedup_clusters at sf0.1. max_iter keeps its contract
    # (an upper bound on cycles; deeper-than-2*max_iter graphs raise
    # rather than returning a partial fixpoint).
    for _ in range(max_iter):
        s1 = step(labels, None)
        two = step(
            s1.withColumn("mid", F.col("comp")), "mid"
        ).localCheckpoint(eager=False)
        # The FULL-scan filter count triggers the checkpoint and
        # answers the change probe in one job. No limit(1): a partial
        # action on a lazy checkpoint may skip partitions, leaving
        # them unmaterialized when the lineage is truncated.
        changed = two.filter(F.col("comp") < F.col("mid")).count()
        labels = two.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {2 * max_iter} steps"
    )


def dedup_keepers(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, keeper) per clustered doc: keeper = the cluster's min id.
    Rows with node == keeper are the survivors; the rest drop. Join
    against the corpus with a left-anti on (node != keeper) to apply.
    """
    return connected_components(pairs, src, dst).select(
        F.col("node"), F.col("comp").alias("keeper")
    )


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Dedup a corpus in one call: resolve near-dup ``pairs`` to
    clusters and keep exactly one document per cluster (the min id),
    dropping the other members. Documents in no pair pass through
    untouched.

    Scale shape: the drop list is (cluster members - keepers) — sized
    by the duplicate count, not the corpus — applied with one
    left-anti equi-join; the corpus is scanned once and never
    shuffles its payload (anti-join streams against the skinny id
    set, broadcast when small enough for AQE).
    """
    drops = (
        dedup_keepers(pairs, src, dst)
        .filter(F.col("node") != F.col("keeper"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drops, id_col, "left_anti")
