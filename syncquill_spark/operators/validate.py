"""Constraint validation (reference operators A2 + A3).

The reference rejects the whole dataset if any row is missing the key
column (syncquill.py:66-70) or contains an empty cell / is shorter than
the header (syncquill.py:72-74), reporting the 1-based sheet row number
(``i + 2``) and the first offending column (helper at 54-58).

Spark-native design: one aggregation pass that collects the first
offending row per failure class instead of a driver-side loop. On a
100 TB table this is a single scan with a tiny (LIMIT 1) result; no
collect of the data itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ValidationError(ValueError):
    """Raised when a sync-source frame violates reference constraints."""


def validate_sync_frame(
    df: DataFrame,
    key: str = "slno",
    row_number_col: str | None = None,
) -> DataFrame:
    """Enforce the reference's two constraints; return df unchanged if OK.

    - every row has a non-null, non-empty ``key``  (syncquill.py:68-70)
    - no cell anywhere is null or empty            (syncquill.py:72-74)

    ``row_number_col``: optional column holding the original 1-based
    data row number; used to phrase errors like the reference's
    ``row {i + 2}`` (header is row 1, first data row is row 2). When
    absent, errors identify the offending key value instead — a stable
    identifier is more useful than a position on a distributed table.
    """
    if key not in df.columns:
        raise ValidationError(
            f"Error: Missing '{key}' column in header {df.columns}."
        )

    cols = [c for c in df.columns if c != row_number_col]
    # One pass: for each row compute (key_missing, first_empty_col).
    empty_checks = F.array(
        *[
            F.when(
                F.col(c).isNull() | (F.col(c).cast("string") == ""), F.lit(c)
            ).otherwise(F.lit(None))
            for c in cols
        ]
    )
    probe = df.select(
        (F.col(key).isNull() | (F.col(key).cast("string") == "")).alias("_key_missing"),
        F.get(F.array_compact(empty_checks), 0).alias("_first_empty_col"),
        (F.col(row_number_col) if row_number_col else F.col(key).cast("string")).alias(
            "_row_ref"
        ),
    ).filter(F.col("_key_missing") | F.col("_first_empty_col").isNotNull())

    bad = probe.limit(1).collect()
    if bad:
        row = bad[0]
        if row["_key_missing"]:
            raise ValidationError(
                f"Error: Missing '{key}' in row {row['_row_ref']}. "
                f"Please ensure every row has a '{key}'."
            )
        raise ValidationError(
            f"Error: Row {row['_row_ref']} contains empty values in column "
            f"{row['_first_empty_col']}. Please ensure every cell is filled."
        )
    return df


def referential_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    relation: str | None = None,
) -> DataFrame:
    """Referential-integrity audit for one FK edge: one row
    (relation, n_children, n_orphans) where n_orphans counts child
    rows whose key has no match in the parent (NULL keys count as
    orphans — a NULL FK can't join and would silently drop from every
    inner join downstream, which is exactly what the audit exists to
    surface).

    The data-quality gate a pipeline runs before training joins:
    orphaned facts silently vanish from inner joins, skewing every
    downstream aggregate. Scale shape: one LEFT equi-join on the key
    (parent side is keys-only and deduped, so AQE broadcasts it when it
    fits) feeding a single aggregation that counts rows and hits
    together — the child is scanned once and never shuffles payloads.
    """
    rel = relation or f"{child_key}->{parent_key}"
    keys = (
        parent.select(F.col(parent_key).alias("_pk"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    # ONE pass over the child (r17, guide §1.2): the old shape scanned
    # it twice (a bare count + the anti-join count) and stitched the
    # two scalar frames with a cross join. A LEFT join against the
    # deduped keys (at most one match per child row) lets a single
    # aggregation count rows and hits together; orphans = rows − hits,
    # which counts NULL FKs as orphans exactly like the anti-join
    # (NULL never matches).
    return (
        child.select(F.col(child_key).alias("_ck"))
        .join(keys, F.col("_ck") == F.col("_pk"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_orphans"),
        )
        .select(
            F.lit(rel).alias("relation"), "n_children", "n_orphans"
        )
    )

