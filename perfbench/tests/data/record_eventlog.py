"""Re-record ``eventlog_small.jsonl`` and ``spans_small.json``.

    python3 perfbench/tests/data/record_eventlog.py

Runs three tiny jobs under nested spans (one shuffle job and one
collect inside ``op.demo``, one job outside every span) with the Spark
event log on, then keeps the event types the parser reads, without
their accumulables, so the fixture stays small.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def _strip(ev: dict) -> dict:
    ev.pop("Stage Infos", None)
    for k in ("Stage Info", "Task Info"):
        if k in ev:
            ev[k].pop("Accumulables", None)
            ev[k].pop("RDD Info", None)
    return ev


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tracing import Tracer

    log_dir = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        tr = Tracer(spark.sparkContext, enabled=True)
        with tr.span("op.demo"):
            with tr.span("operators.shuffle"):
                spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 3).alias("k")).count().collect()
            with tr.span("operators.collect"):
                spark.range(0, 10, 1, 1).collect()
        spark.range(0, 10, 1, 1).collect()
        app = spark.sparkContext.applicationId
        spark.stop()
        with open(os.path.join(log_dir, app)) as fh:
            events = [json.loads(line) for line in fh]
        with open(os.path.join(HERE, "eventlog_small.jsonl"), "w") as fh:
            for ev in events:
                if ev.get("Event") in KEEP:
                    fh.write(json.dumps(_strip(ev), sort_keys=True) + "\n")
        with open(os.path.join(HERE, "spans_small.json"), "w") as fh:
            json.dump([s.__dict__ for s in tr.spans], fh, indent=1)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
