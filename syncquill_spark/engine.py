"""Pipeline driver: sync / upsert entry functions (reference A15).

Mirrors main() at syncquill.py:217-239:

- ``sync``: read source + target -> validate -> diff -> report ->
  apply as ONE atomic overwrite (vs. the reference's N+1 DML jobs).
- ``upsert``: read source -> truncate-and-load target (syncquill.py:
  131-146, WRITE_TRUNCATE + schema autodetect; here: overwrite with
  the source's schema).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncquill_spark.operators.apply import apply_changes
from syncquill_spark.operators.diff import diff_keyed, diff_positional
from syncquill_spark.operators.report import format_change_report
from syncquill_spark.operators.validate import validate_sync_frame
from syncquill_spark.sources.base import Table


@dataclass
class SyncResult:
    changes: DataFrame
    n_changes: int
    report: str


def sync(
    spark: SparkSession,
    source: Table,
    target: Table,
    key: str = "slno",
    mode: str = "keyed",
    dry_run: bool = False,
    validate: bool = True,
) -> SyncResult:
    """Compute the change set source-vs-target and apply it to target.

    ``mode``: 'keyed' (scalable full-outer-join diff) or 'positional'
    (reference-exact zip-by-index semantics, syncquill.py:109-129).
    """
    src = source.read(spark)
    tgt = target.read(spark)
    if validate:
        validate_sync_frame(src, key=key)

    differ = diff_keyed if mode == "keyed" else diff_positional
    changes = differ(tgt, src, key=key)
    changes = changes.localCheckpoint(eager=True)  # pin: survives target overwrite
    n = changes.count()

    report = ""
    if n:
        # The reference prints FULL row values for added/deleted rows
        # (syncquill.py:199-206); fetch just those rows with a broadcast
        # semi-join against a change-set-sized key list (never a
        # full-table collect). Both collects are capped at REPORT_LIMIT,
        # matching the report renderer's own cap, so a pathological
        # change set (e.g. a full reload that deletes every row) cannot
        # pull the whole table to the driver, and the broadcast side
        # stays bounded at any table size.
        rows_by_key = _rows_for_keys(
            src, _keys_of(changes, "extra_row"), key
        ) | _rows_for_keys(tgt, _keys_of(changes, "del_row"), key)
        report = format_change_report(
            changes, src.columns, rows_by_key=rows_by_key, limit=REPORT_LIMIT
        )
        if not dry_run:
            post = apply_changes(tgt, changes, source=src, key=key)
            target.overwrite(post)
    return SyncResult(changes=changes, n_changes=n, report=report or "No changes.")


#: Driver-side row cap shared by the report renderer and the key
#: collects below (report.py caps rendering at the same number).
REPORT_LIMIT = 10_000


def _keys_of(changes: DataFrame, change_type: str) -> list[str]:
    """Key values of row-level changes. The change set always names its
    key column ``slno`` (CHANGE_SET_SCHEMA) regardless of the caller's
    key name — read it from there, capped at the report limit."""
    return [
        r["slno"]
        for r in changes.filter(F.col("change_type") == change_type)
        .select("slno")
        .limit(REPORT_LIMIT)
        .collect()
    ]


def _rows_for_keys(df: DataFrame, keys: list[str], key: str) -> dict[str, list[str]]:
    """key -> string-normalized full row, for the report's row tables.

    The keys cross Py4J once, as one JSON string literal that the JVM
    explodes into a one-column relation; ``df`` is left-semi-joined to
    it with a broadcast. An ``isin`` list would cost several Py4J round
    trips per key and put every key into the plan as its own literal."""
    if not keys:
        return {}
    wanted = df.sparkSession.range(1).select(
        F.explode(F.from_json(F.lit(json.dumps(keys)), "array<string>")).alias("__k")
    )
    rows = (
        df.join(
            F.broadcast(wanted), df[key].cast("string") == wanted["__k"], "left_semi"
        )
        .select([F.col(c).cast("string").alias(c) for c in df.columns])
        .collect()
    )
    return {r[key]: [("" if r[c] is None else r[c]) for c in df.columns] for r in rows}


def upsert(spark: SparkSession, source: Table, target: Table) -> None:
    """Truncate-and-reload target from source (reference A11)."""
    target.overwrite(source.read(spark))
