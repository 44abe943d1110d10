"""Table diff / CDC change-set (reference operator A7 — the core op).

The reference compares two fully-materialized row lists positionally
after sorting only the target side (syncquill.py:109-129): tail-only
length differences become ``del_row``/``extra_row`` (117-123), and per
index/column unequal cells emit ``diff`` records carrying the target
side's key (125-128). Everything is compared as strings (110-113).

Two Spark-native modes:

- ``diff_keyed`` (the scalable default): full-outer join on the key +
  per-column null-safe inequality + unpivot. Shuffles once on the key,
  broadcast-joins automatically when one side is small (AQE), no global
  sort, no driver materialization. This is the *intended* capability of
  the reference; at 100 TB it is the only viable formulation.

- ``diff_positional`` (reference-exact oracle mode): attach
  ``row_number()`` to each side and join on position, reproducing the
  reference's zip-by-index semantics bit-for-bit — including the quirk
  that a mid-table insert cascades into spurious cell diffs plus a tail
  row change. A global ``Window.orderBy`` sorts on a single partition;
  documented as oracle-only, not the 100 TB path.

Change-set output schema (mirrors the dict shapes at syncquill.py:119,
123, 128):

    change_type: string  -- 'diff' | 'extra_row' | 'del_row'
    slno:        string  -- key value (target side's for cell diffs)
    col:         string  -- changed column; NULL for row-level changes
    old_value:   string  -- target-side value; NULL for extra_row
    new_value:   string  -- source-side value; NULL for del_row
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syncquill_spark.operators.normalize import normalize_strings

CHANGE_SET_SCHEMA = T.StructType(
    [
        T.StructField("change_type", T.StringType()),
        T.StructField("slno", T.StringType()),
        T.StructField("col", T.StringType()),
        T.StructField("old_value", T.StringType()),
        T.StructField("new_value", T.StringType()),
    ]
)

_CHANGE_COLS = ["change_type", "slno", "col", "old_value", "new_value"]


def _change_rows(joined: DataFrame, key: str, cell_cols: list[str]) -> DataFrame:
    """Change-set rows from a full-outer join of ``__t_*`` (target) and
    ``__s_*`` (source) columns: a row missing on the source side is a
    ``del_row``, one missing on the target side an ``extra_row``, and
    a paired row emits one ``diff`` per mismatched column of
    ``cell_cols``, keyed by the target side's key.

    Null-safe inequality (`NOT (l <=> r)`): the reference can never see
    nulls post-validation, but the operator tolerates them (a null vs
    non-null cell is a change; null vs null is not). The unpivot is a
    generate (explode) over an already-filtered array, so output volume
    is proportional to actual changes, not table width x rows.
    """
    tk, sk = F.col(f"__t_{key}"), F.col(f"__s_{key}")
    no_cell = [
        F.lit(None).cast("string").alias(c) for c in ("col", "old_value", "new_value")
    ]
    deleted = joined.filter(sk.isNull()).select(
        F.lit("del_row").alias("change_type"), tk.alias("slno"), *no_cell
    )
    inserted = joined.filter(tk.isNull()).select(
        F.lit("extra_row").alias("change_type"), sk.alias("slno"), *no_cell
    )
    mismatches = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col(f"__t_{c}").alias("old_value"),
                    F.col(f"__s_{c}").alias("new_value"),
                )
                for c in cell_cols
            ]
        ),
        lambda s: ~s["old_value"].eqNullSafe(s["new_value"]),
    )
    matched = (
        joined.filter(tk.isNotNull() & sk.isNotNull())
        .select(tk.alias("slno"), F.explode(mismatches).alias("c"))
        .select(
            F.lit("diff").alias("change_type"),
            "slno",
            F.col("c.col").alias("col"),
            F.col("c.old_value").alias("old_value"),
            F.col("c.new_value").alias("new_value"),
        )
    )
    return deleted.unionByName(inserted).unionByName(matched)


def diff_keyed(target: DataFrame, source: DataFrame, key: str = "slno") -> DataFrame:
    """Keyed CDC diff: one full-outer join on ``key``, no global sort.

    Scale notes: single shuffle on the key for both sides; AQE handles
    skew and broadcast conversion; change rows come from
    ``_change_rows``, cell diffs over the non-key columns.
    """
    cols = [c for c in target.columns if c in set(source.columns)]
    if key not in cols:
        raise ValueError(f"key column '{key}' must exist on both sides")

    t = normalize_strings(target.select(*cols)).select(
        *[F.col(c).alias(f"__t_{c}") for c in cols]
    )
    s = normalize_strings(source.select(*cols)).select(
        *[F.col(c).alias(f"__s_{c}") for c in cols]
    )

    joined = t.join(s, t[f"__t_{key}"] == s[f"__s_{key}"], "full_outer")
    return _change_rows(joined, key, [c for c in cols if c != key])


def diff_positional(
    target: DataFrame,
    source: DataFrame,
    key: str = "slno",
    target_order: list[str] | None = None,
    source_order: list[str] | None = None,
) -> DataFrame:
    """Reference-exact positional diff (zip-by-index after sorting target).

    Mirrors syncquill.py:109-129: the target (BigQuery) side is sorted
    by its first column (46); the source (sheet) side keeps its given
    order (here: ``source_order``, defaulting to the key — the aligned
    case). Rows are paired by position; tail-only surplus becomes
    del_row/extra_row; paired rows emit per-column diffs keyed by the
    *target* row's key (128). Key columns of surplus rows ride in
    ``slno``; full-row payloads are recoverable by re-joining on key.

    Global Window.orderBy => single-partition sort. Oracle-only mode;
    use diff_keyed at scale.
    """
    cols = [c for c in target.columns if c in set(source.columns) and c in set(target.columns)]
    if key not in cols:
        raise ValueError(f"key column '{key}' must exist on both sides")

    # Position is assigned BEFORE projecting to the common columns so an
    # explicit order column (e.g. original sheet row number) can drive
    # it without appearing in the diff.
    t_norm = normalize_strings(target)
    s_norm = normalize_strings(source)

    # Reference sorts target numerically (BigQuery returns typed slno
    # ints, sorted before the str-cast at syncquill.py:46); string sort
    # is the tiebreaker for non-numeric keys.
    t_sort = [F.col(c).cast("double").asc_nulls_last() for c in (target_order or [key])]
    t_sort += [F.col(c).asc() for c in (target_order or [key])]
    s_sort = [F.col(c).cast("double").asc_nulls_last() for c in (source_order or [key])]
    s_sort += [F.col(c).asc() for c in (source_order or [key])]

    t = t_norm.withColumn("__pos", F.row_number().over(Window.orderBy(*t_sort))).select(
        "__pos", *[F.col(c).alias(f"__t_{c}") for c in cols]
    )
    s = s_norm.withColumn("__pos", F.row_number().over(Window.orderBy(*s_sort))).select(
        "__pos", *[F.col(c).alias(f"__s_{c}") for c in cols]
    )

    joined = t.join(s, "__pos", "full_outer")
    # Paired rows: unlike keyed mode, the KEY COLUMN ITSELF can differ
    # (misaligned rows) and the reference emits that as a normal cell
    # diff (j ranges over all columns, syncquill.py:126-128).
    return _change_rows(joined, key, cols)
