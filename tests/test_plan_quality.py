"""Plan-quality regression net: the physical properties PLANS.md audits
(pushdown, pruning, broadcast) asserted in pytest so a refactor that
silently loses one fails CI, not a later round's plan audit.

Asserts on explain("formatted") of the pre-execution plan — stable
under AQE (which rewrites at runtime but keeps these markers in the
initial plan)."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from syncquill_spark.plans import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """join_shipping_priority filters on scan columns (dates, segment);
    at 100 TB those predicates must hit the parquet reader, not a
    post-scan Filter only."""
    plan = _plan(QUERIES["join_shipping_priority"](spark, sf_dir))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), f"no pushed filters:\n{plan[:1500]}"


def test_dim_join_broadcasts(spark, sf_dir):
    """join_revenue_by_nation joins facts to the tiny nation dim — the
    dim side must broadcast (no fact shuffle for the dim attach)."""
    plan = _plan(QUERIES["join_revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:1500]


def test_column_pruning_on_wide_table(spark, sf_dir):
    """agg_pricing_summary touches a handful of lineitem's 16 columns;
    the scan's ReadSchema must not materialize the rest."""
    plan = _plan(QUERIES["agg_pricing_summary"](spark, sf_dir))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan[:1500]
    widest = max(len([c for c in s.split(",") if c.strip()]) for s in schemas)
    assert widest <= 8, f"scan reads {widest} columns of lineitem:\n{schemas}"


def test_topk_corpus_side_never_broadcasts(spark, sf_dir):
    """brute-force top-k must ship the QUERY set to the scoring tasks
    and stream the corpus; flipped sides would collect the (at scale,
    100 TB) corpus. The query set is `_nearest`'s collected small side,
    so the plan broadcasts nothing, holds no query-side filter
    (vec_id % 100), and the corpus scan feeds the scoring MapInArrow."""
    plan = _plan(QUERIES["similarity_topk_cosine"](spark, sf_dir))
    assert "BroadcastExchange" not in plan, plan[:1500]
    assert "% 100" not in plan, plan[:1500]
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" in tree[tree.index("MapInArrow"):], plan[:1500]


def test_events_normalized_layout_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """After write_events_normalized, a time-range query must (a) push
    the ts range into the parquet reader (PushedFilters — row-group
    skipping) and (b) prune event_date partitions (directory pruning)
    — neither is possible on the raw layout's derived ts column. Rows
    must match the raw-layout filter exactly."""
    from syncquill_spark.sources.events import (
        filter_time_range,
        normalize_event_ts,
        write_events_normalized,
    )

    dest = str(tmp_path / "events_norm")
    write_events_normalized(spark, f"{sf_dir}/events.parquet", dest)
    norm = spark.read.parquet(dest)

    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    start, end = lo + (hi - lo) // 4, lo + (hi - lo) // 2

    q = filter_time_range(norm, start, end)
    plan = _plan(q)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("ts" in p for p in pushed), f"ts not pushed:\n{plan[:2000]}"
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), f"no partition pruning:\n{plan[:2000]}"

    expect = sorted(
        (r.event_id, r.ts)
        for r in raw.filter((F.col("ts") >= start) & (F.col("ts") < end))
        .select("event_id", "ts").collect()
    )
    got = sorted((r.event_id, r.ts) for r in q.select("event_id", "ts").collect())
    assert got == expect and len(got) > 0


def test_signature_kernel_evaluates_once_per_side(spark):
    """Python-UDF plan hazard regression (see operators/similarity.py):
    a filter referencing a UDF output that Catalyst pushes below the
    projection DUPLICATES the ArrowEvalPython node. The persisted
    signature frame is the barrier; this asserts the signature kernel
    appears exactly once per side in the planned query (it ran twice
    per side before the fix)."""
    import numpy as np

    from syncquill_spark.operators.similarity import (
        embedding_near_dup_against,
        embedding_near_dup_pairs,
        lsh_topk,
    )

    rng = np.random.default_rng(2)
    df = spark.createDataFrame(
        [(i, rng.normal(size=64).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    # one signature frame (self-join both sides read the same cache)
    plan = _plan(embedding_near_dup_pairs(df, threshold=0.9))
    assert plan.count("sig(") == 1, f"duplicated signature eval:\n{plan[:3000]}"

    queries = df.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # two signature frames (corpus + queries), each evaluated once
    plan = _plan(lsh_topk(df, queries, k=3))
    assert plan.count("sig(") == 2, f"duplicated signature eval:\n{plan[:3000]}"
    # two signature frames (new + corpus), each evaluated once
    new = df.filter(F.col("vec_id") % 10 == 0)
    plan = _plan(embedding_near_dup_against(new, df, threshold=0.9))
    assert plan.count("sig(") == 2, f"duplicated signature eval:\n{plan[:3000]}"


def test_domain_quota_plans_partial_topk_below_exchange(spark):
    """domain_quota's docstring claims WindowGroupLimit pushes the
    per-domain top-k BELOW the shuffle (partial mode) — assert both
    window-group-limit phases are planned."""
    from syncquill_spark.operators.curation import domain_quota

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 7 % 13) for i in range(50)],
        "doc_id long, source string, score long",
    )
    plan = _plan(
        domain_quota(df, quota=5, domain_col="source",
                     order_by=[F.col("score").desc()])
    )
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]
    assert "Partial" in plan and "Final" in plan


def test_min_cost_supplier_plans_partial_top1(spark, sf_dir):
    """join_min_cost_supplier's correlated-MIN is a row_number + rk=1
    filter — must plan as WindowGroupLimit (partial top-1 BELOW the
    exchange) so a hot part never funnels its whole supplier list
    through one partition's sort; dims must broadcast."""
    plan = _plan(QUERIES["join_min_cost_supplier"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]
    assert "Partial" in plan and "Final" in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_target_mix_plans_partial_topk(spark):
    """target_mix's rank filter carries a LITERAL max-target conjunct
    precisely so Spark can plan WindowGroupLimit; the data-dependent
    per-stratum cut applies after. A refactor that drops the literal
    conjunct silently loses the partial top-k."""
    from syncquill_spark.operators.curation import target_mix

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(90)],
        "doc_id long, lang string",
    )
    plan = _plan(target_mix(df, {"en": 10, "de": 40}))
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]


def test_market_share_broadcasts_all_dims(spark, sf_dir):
    """join_market_share joins nation twice and region once — all
    three dim attaches must broadcast (facts shuffle only on the
    fact-fact join keys)."""
    plan = _plan(QUERIES["join_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2500]


def test_important_stock_threshold_is_broadcast(spark, sf_dir):
    """agg_important_stock compares per-part aggregates to a one-row
    global total — the crossJoin side must be a broadcast (nested-loop
    over a 1-row broadcast), never a shuffle."""
    plan = _plan(QUERIES["agg_important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2500]


def test_training_mix_pipeline_has_no_cartesian(spark, sf_dir):
    """pipeline_training_mix chains four stages into one plan — no
    stage may degrade to a cartesian product, and the eval-side
    restriction must reach the scan as a pushed filter."""
    plan = _plan(QUERIES["pipeline_training_mix"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2500]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), plan[:2000]


def test_quality_filter_plans_bracketed_order_statistic(spark, sf_dir):
    """Round-7 verdict #2: quality_percentile_filter must NOT rank
    whole strata (fractional cutoff -> WindowGroupLimit can't pre-push;
    the dominant language would sort in one task). The plan must carry
    the percentile_approx bracket pass, and every row_number window
    must consume bracket-filtered input (_v_lo/_v_hi region filters),
    not the raw stratum."""
    plan = _plan(QUERIES["curation_quality_filter"](spark, str(sf_dir)))
    assert "percentile_approx" in plan, plan[:2000]
    # the boundary rank and the (normally empty) fallback both exist,
    # each downstream of the bracket metadata join
    assert plan.count("_v_hi") >= 2, plan[:2000]
    assert plan.count("_v_lo") >= 2, plan[:2000]


def test_order_stat_cutoff_plans_bracketed(spark):
    """stratum_order_stat_values / quality_value_buckets share the
    bracketed two-pass core: the plan must carry the percentile_approx
    bracket pass and the row_number windows must consume
    bracket-filtered input (_v_lo/_v_hi region predicates), never a
    whole stratum — the same shape contract as the quality filter."""
    from pyspark.sql import functions as F

    from syncquill_spark.operators.curation import (
        quality_value_buckets,
        stratum_order_stat_values,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", float(i % 17)) for i in range(60)],
        "doc_id long, lang string, sig double",
    )
    plan = _plan(stratum_order_stat_values(df, "sig", 0.25, stratify_col="lang"))
    assert "percentile_approx" in plan, plan[:2000]
    assert plan.count("_v_hi") >= 1 and plan.count("_v_lo") >= 1, plan[:2000]

    plan_b = _plan(
        quality_value_buckets(
            df, "sig", frac_head=0.1, frac_tail=0.3, stratify_col="lang"
        )
    )
    assert plan_b.count("percentile_approx") >= 2, plan_b[:2000]  # two cutoffs
    assert "_v_head" in plan_b and "_v_tail" in plan_b, plan_b[:2000]
