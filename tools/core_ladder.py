"""Core-count ladder at a corpus-heavy fixture (r16 verdict item 4 /
r17): the sf0.1 bench cannot validate parallelism claims — documents
is 5k rows, so per-job fixed cost dominates and 8-vs-32-core ratios
read ~1.0 for 47/53 queries. This probe re-asks the question where it
is answerable: the m=64 replicated corpus (320k docs, the SCALE.md
ladder fixture) for the top-5 slowest registered families. Run it
TWICE, once per core count — the master is local[$SPARK_GRAFT_CPUS],
so the comparison needs two processes:

    SPARK_GRAFT_CPUS=32 python tools/core_ladder.py [sf_dir] [m]
    SPARK_GRAFT_CPUS=8  python tools/core_ladder.py [sf_dir] [m]

Prints one JSON line per operator: {"op", "m", "cpus", "secs",
"rows"}. Same measurement discipline as scale_probe.probe
(clearCache + driver GC per op, count action). A healthy corpus-wall
family should show secs(8) / secs(32) well above 1 (ideally ~4x at a
4x core deficit); ~1.0 means the operator is still fixed-cost-bound
even at 64x, which is a statement about the fixture, not the plan.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from syncquill_spark import get_spark  # noqa: E402
from tools.scale_probe import _winnow_pairs, probe, scaled_corpus  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    m = int(args[1]) if len(args) > 1 else 64
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("core-ladder")
    spark.sparkContext.setLogLevel("ERROR")

    from syncquill_spark.operators.clusters import connected_components
    from syncquill_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from syncquill_spark.operators.text import build_bm25_index

    # the top-5 slowest registered families (r17 pre-bench slowest10):
    # winnowing, simhash index, cluster stats (simhash pairs + CC),
    # minhash index lifecycles, BM25 index build. bits=60 for simhash
    # per the SCALE.md saturation note (band width grows with
    # log2(corpus); bits=32 saturates its bucket space at 64x).
    ops = {
        "winnow_pairs": _winnow_pairs,
        "minhash_lsh": lambda c: minhash_lsh_pairs(c, k=3, threshold=0.2),
        "simhash_bits60": lambda c: simhash_near_pairs(c, bits=60),
        "cc_simhash60": lambda c: connected_components(
            simhash_near_pairs(c, bits=60)
        ),
        "bm25_build": lambda c: build_bm25_index(c)["postings"],
    }

    corpus = scaled_corpus(spark, sf_dir, m)
    for name, fn in ops.items():
        secs, rows = probe(name, fn, corpus)
        print(
            json.dumps(
                {
                    "op": name,
                    "m": m,
                    "cpus": cpus,
                    "secs": round(secs, 1),
                    "rows": rows,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
