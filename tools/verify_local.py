"""Local stand-in for the driver's DuckDB-oracle correctness check.

For each query in the registry: run the Spark program and the DuckDB
oracle on the same sf dir, compare row count, column names, and an
order-insensitive stringified value hash. Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def frame_fingerprint(df) -> tuple[int, list[str], str, object]:
    """(#rows, sorted cols, order-insensitive value hash, sample)."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        tuple(_norm(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(rows), cols, h, rows[:3]


def driver_canonicalize(df) -> None:
    """Replicate the ROUND DRIVER's canonicalization (pandas sort_values
    over every column) so its failure modes surface HERE, not in the
    round artifact: list/array cells raise `unhashable type: 'list'`
    inside pandas — exactly the crash that cost embedding_label_centroids
    its round-3 CORRECTNESS row. Raises on any frame the driver's
    harness would choke on."""
    cols = sorted(df.columns)
    df[cols].sort_values(by=cols)  # raises TypeError on unsortable cells


def _norm(v):
    if v is None:
        return "<null>"
    try:
        import math

        if isinstance(v, float):
            if math.isnan(v):
                return "<null>"
            return repr(v)
    except Exception:
        pass
    return str(v)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--queue"]
    with_queue = "--queue" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from syncquill_spark import get_spark
    from syncquill_spark.plans import QUERIES, ORACLES

    if with_queue:
        # the PERMANENTLY queue-verified pairs (registry end-state,
        # plans/queue_permanent.py): same compare, driver-waived rows
        from syncquill_spark.plans.queue_permanent import (
            QUEUE_ORACLES,
            QUEUE_QUERIES,
        )

        QUERIES = {**QUERIES, **QUEUE_QUERIES}
        ORACLES = {**ORACLES, **QUEUE_ORACLES}

    spark = get_spark("verify-local")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        oracle = ORACLES.get(name)
        if oracle is None:
            print(f"OK?  {name}: rows-only check, {len(spark_pdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            duck_pdf = con.execute(oracle).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        try:
            driver_canonicalize(spark_pdf)
            driver_canonicalize(duck_pdf)
        except Exception as e:
            print(f"FAIL {name}: driver-canonicalizer hazard: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sn, sc, sh, ss = frame_fingerprint(spark_pdf)
        dn, dc, dh, ds = frame_fingerprint(duck_pdf)
        ok = (sn, sc, sh) == (dn, dc, dh)
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: spark({sn} rows, hash {sh}) vs duck({dn} rows, hash {dh}) "
              f"({time.time()-t0:.1f}s)")
        if not ok:
            failures.append(name)
            if sc != dc:
                print(f"  cols spark={sc}\n  cols duck ={dc}")
            else:
                sset, dset = set(map(repr, (tuple(r) for r in ss))), None
                srows = sorted(tuple(_norm(v) for v in row) for row in spark_pdf[sorted(spark_pdf.columns)].itertuples(index=False, name=None))
                drows = sorted(tuple(_norm(v) for v in row) for row in duck_pdf[sorted(duck_pdf.columns)].itertuples(index=False, name=None))
                s_only = [r for r in srows if r not in set(drows)][:3]
                d_only = [r for r in drows if r not in set(srows)][:3]
                print(f"  spark-only: {s_only}\n  duck-only : {d_only}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
