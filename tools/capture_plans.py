"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/capture_plans.py [--round rNN] <suffix> query [query ...]
Writes plans/<round>/<query>_<suffix>.txt (default round: r17). NOTE: building a
query's DataFrame may itself execute side-effecting stages (the
storage_* lifecycle rows write indexes to temp dirs while the plan is
constructed); the captured plan is the final returned frame's.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from syncquill_spark import get_spark  # noqa: E402
from syncquill_spark.plans import QUERIES  # noqa: E402


USAGE = "usage: python tools/capture_plans.py [--round rNN] <suffix> query [query ...]"


def main() -> None:
    argv = sys.argv[1:]
    rnd = "r17"
    if argv[:1] == ["--round"]:
        rnd, argv = (argv[1] if len(argv) > 1 else ""), argv[2:]
    if not rnd or len(argv) < 2:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    suffix = argv[0]
    names = argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("syncquill-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
