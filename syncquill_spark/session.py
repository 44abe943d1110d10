"""SparkSession factory with scale-oriented defaults.

The reference (syncquill.py:14-36) bootstraps Sheets/BigQuery clients;
our equivalent bootstrap is one SparkSession tuned for large scans:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (vectorized pandas_udf exchange), and shuffle partitions sized
by env so the same code runs local[32] in tests and 1000-executor in
production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"

# Driver JVM flags. In local[N] mode the driver JVM is also the executor,
# so these govern every task thread of a local run.
#
# Larger JIT code cache: a long session compiles one generated class per
# distinct plan; when the cache fills, the JVM silently stops
# JIT-compiling (or flushing evicts + forces recompiles) and
# whole-stage-codegen queries run interpreted (measured ~10x on
# fold-heavy plans late in a benchmark run — recurred at 512m past 80
# plans, then AGAIN at 1g past ~88 plans: fold-heavy late-run queries
# read 2.5x their isolated time, e.g. dedup_embedding_cosine 8.0s in-run
# vs 3.2s isolated; 2g restored 3.4s in-run). Size this with the plan
# count of the longest-lived session.
#
# Tier-4 (C2) thresholds at 10x their JDK 17 defaults (5000 / 600 /
# 15000 / 40000). A job's first cycle runs Catalyst, Janino and Py4J
# code a few thousand times; at the defaults C2 compiles all of it, and
# C2 threads were the largest CPU consumer of a one-shot corpus release.
# Raised, that lukewarm code stays in C1 code, while hot data loops
# still reach C2: at real row counts they cross even these thresholds
# within milliseconds. The cost falls on wall time where a session
# runs many distinct plans once each (the full-registry bench.py read
# ~1.1x): task threads run C1 code longer, and C2 no longer compiles
# on otherwise idle cores. Not C1-only (-XX:TieredStopAtLevel=1): hot
# loops then never reach C2, and warm queries ran 1.2-2.0x slower. Not
# higher: a higher factor was not measurably cheaper, and each raise
# keeps more warm code out of C2 and longer in the slow, fully
# profiled tier 3. Executors of a cluster keep the default tiering
# (spark.executor.extraJavaOptions is not set): they are long-lived and
# bound by data, not by compilation. Measurements: SCALE.md "JIT
# tiering".
DRIVER_JAVA_OPTIONS = " ".join([
    "-Djava.net.preferIPv4Stack=true",
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:+UseCodeCacheFlushing",
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
])


def get_spark(
    app_name: str = "syncquill-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults target correctness at local scale and efficiency at
    cluster scale:

    - AQE enabled: coalesces post-shuffle partitions, splits skewed
      join partitions, converts to broadcast joins at runtime.
    - Arrow enabled: pandas_udf / mapInPandas exchange is columnar.
    - shuffle.partitions: env SPARK_GRAFT_CPUS locally; on a real
      cluster override to ~2-3x total cores.
    - driver JVM flags: ``DRIVER_JAVA_OPTIONS`` (code cache, JIT
      tiering). A ``spark.driver.extraJavaOptions`` in ``extra_conf``
      is appended after them, not put in their place.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    extra = dict(extra_conf or {})
    # a caller's JVM flags go after the engine's: HotSpot takes the last
    # occurrence of a flag, so one can be overridden without losing the rest
    java_options = " ".join(filter(None, (DRIVER_JAVA_OPTIONS, extra.pop(JAVA_OPTIONS_KEY, None))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic epoch math everywhere (events.ts NTZ->long
        # normalization in sources/events.py depends on it).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB input splits: right-sized tasks for TB-scale parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Per-file open cost charged when packing files into splits
        # (guide §6): the 4 MB default caps packing at ~32 files per
        # 128 MB split, so a directory of tiny media/text files (the
        # binaryFile ingest sources) fans out into hundreds of
        # near-empty tasks whose Python-boundary fixed cost dominates
        # (measured r17: 5000-file PPM dir, 157 -> 32 scan tasks,
        # Arrow decode 1.27s -> 0.37s steady-state). 256 KB still
        # charges a realistic seek+open on fast storage; byte-heavy
        # splits are unaffected (maxPartitionBytes governs), and
        # spark.sql.files.minPartitionNum (default parallelism) keeps
        # the scan from collapsing below cluster width. Env override
        # for deployments with slow-listing object stores.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", str(256 * 1024)),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[N] mode: the driver heap IS the executor heap for all N
        # task threads — size it for the box, not for a thin driver.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config(JAVA_OPTIONS_KEY, java_options)
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
