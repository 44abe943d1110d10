"""CSV / JSON-lines Table connectors — same atomic-swap contract as
ParquetTable, for sync endpoints that live in plain-text formats.

CSV reads header-driven and all-string by default (inferSchema=False),
which is exactly the reference's sheet model (syncquill.py:63-65:
header row + string cells) — a CSV export of a sheet drops into the
sync pipeline unchanged. JSON-lines keeps types as written.

Scale note: both formats are row-major and splittable (CSV only when
uncompressed/newline-safe); they are ingestion/interchange endpoints.
Anything queried repeatedly belongs in parquet — columnar pruning and
pushdown don't exist here, and the audit tool will show scans reading
every column.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from syncquill_spark.sources._atomic import atomic_replace_dir
from syncquill_spark.sources.base import Table


class _SwappedFileTable(Table):
    fmt: str = ""
    read_options: dict[str, str] = {}
    write_options: dict[str, str] = {}

    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.options(**self.read_options).format(self.fmt).load(self.path)

    def overwrite(self, df: DataFrame) -> None:
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").options(**self.write_options).format(
                self.fmt
            ).save(staging)
            atomic_replace_dir(staging, self.path)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").options(**self.write_options).format(self.fmt).save(self.path)


class CsvTable(_SwappedFileTable):
    """Header CSV, all-string cells (the sheet model)."""

    fmt = "csv"
    read_options = {"header": "true", "inferSchema": "false"}
    write_options = {"header": "true"}


class JsonTable(_SwappedFileTable):
    """JSON-lines with Spark's schema inference on read."""

    fmt = "json"


class OrcTable(_SwappedFileTable):
    """ORC with native column pruning / predicate pushdown — the other
    splittable columnar format Spark ships a vectorized reader for.
    Parquet stays the repo's primary analytical format; OrcTable is the
    interchange endpoint for warehouses that standardized on ORC
    (Hive-lineage stacks), with the same atomic staging-swap write."""

    fmt = "orc"
