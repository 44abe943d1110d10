"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sheet_sync --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench/`` in the current directory, which also receives the
Spark scratch space, event logs and the full result file
(``.perfbench/results/<workload>-seed<seed>-trace<t>.json``).

Stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The lines before it print every metric by
name with its unit and sample count. Any failed correctness check
makes the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
CLK_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END = (
    ("cycle_cpu_s", "s"),
    ("setup_s", "s"),
)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and its live descendants,
    each with the children it has reaped. Here that is this process, the
    Spark JVM and the JVM's Python daemon and workers."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / CLK_TCK


class Recorder:
    """Per-operation wall and CPU samples plus correctness bookkeeping."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ok = True

    @contextlib.contextmanager
    def timed(self, op: str):
        self.attempted += 1
        self.ok = False
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            yield
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            self._fail(f"{op}: {traceback.format_exc(limit=3)}")
            return
        self.samples.setdefault(op, []).append(time.perf_counter() - t0)
        self.cpu.setdefault(op, []).append(tree_cpu_s(os.getpid()) - c0)
        self.ok = True

    def check(self, cond: bool, msg: str) -> None:
        if not cond and self.ok:
            self._fail(msg)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.ok = False
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)


def _environment(seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        **{k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "python": platform.python_version(),
        "commit": commit,
        "seed": seed,
    }


def _set_env(work: str) -> None:
    """Pin the session's size and keep every scratch file in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no JVM monitoring file under the system /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _smoke(spark) -> None:
    """One shuffle through generated code, so a new session's lazy
    start-up is paid in set-up."""
    from pyspark.sql import functions as F

    spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().write.format("noop").mode(
        "overwrite").save()


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(wl, rec: Recorder, setup_s: float, rss: float) -> tuple[dict, dict]:
    """(gated metrics, workload-named metrics with sample counts).

    ``cycle_cpu_s`` sums, over the workload's operation types, each type's
    median CPU seconds, and ``cycle_s`` each type's median wall;
    ``setup_s`` is the session's cold start plus smoke.
    """

    def cycle_sum(samples: dict) -> float | None:
        meds = [_median(samples.get(op, [])) for op in wl.ops]
        return None if None in meds else sum(meds)

    med = {op: _median(rec.samples.get(op, [])) for op in wl.ops}
    gated = {
        "cycle_cpu_s": cycle_sum(rec.cpu),
        "setup_s": setup_s,
    }
    n = min((len(rec.samples.get(op, [])) for op in wl.ops), default=0)
    named: dict[str, dict] = {"cycle_s": {"value": cycle_sum(rec.samples), "unit": "s", "n": n}}
    if wl.name == "sheet_sync":
        for op in wl.ops:
            named[f"{op}_s"] = {"value": med[op], "unit": "s", "n": len(rec.samples.get(op, []))}
    else:
        named["release_s"] = {"value": med["release"], "unit": "s", "n": len(rec.samples.get("release", []))}
        q = [med[name] for name in wl.queries if med[name] is not None]
        named["query_p50_s"] = {"value": _median(q), "unit": "s", "n": len(q)}
        if len(q) >= 100:  # a tail only with >= 10 samples beyond it
            named["query_p90_s"] = {"value": statistics.quantiles(q, n=10)[-1], "unit": "s", "n": len(q)}
        named["registry_total_s"] = {"value": sum(q) if len(q) == len(wl.queries) else None, "unit": "s", "n": n}
    named["peak_rss_mb"] = {"value": rss, "unit": "MB", "n": 1}
    named["failed_frac"] = {"value": rec.failed / max(rec.attempted, 1), "unit": "ratio", "n": rec.attempted}
    return gated, named


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{os.getpid()}")
    _set_env(work)
    sys.path.insert(0, ROOT)
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    from syncquill_spark import get_spark

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    planted = wl.generate(args.seed, work)
    input_gen_s = time.perf_counter() - t0

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # set-up: the session's cold start (launching the JVM) with a smoke job
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    _smoke(spark)
    setup_s = time.perf_counter() - t0

    rec = Recorder()
    tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
    wl.prepare(spark)
    cycles = 0
    t_end = time.perf_counter() + args.seconds
    while cycles == 0 or time.perf_counter() < t_end:
        wl.cycle(spark, rec, tracer)
        cycles += 1
    rss = _peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    env = _environment(args.seed)
    env["spark"] = spark.version
    env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    _stop(spark)

    gated, named = end_to_end(wl, rec, setup_s, rss)
    result = {
        "workload": wl.name,
        "trace": args.trace,
        "seconds": args.seconds,
        "cycles": cycles,
        "environment": env,
        "planted": planted,
        "input_gen_s": input_gen_s,
        "session_start_s": session_start_s,
        "samples_s": rec.samples,
        "samples_cpu_s": rec.cpu,
        "end_to_end": {k: {"value": gated[k], "unit": u} for k, u in END_TO_END},
        "named": named,
        "failures": rec.failures,
    }
    if args.trace:
        with open(os.path.join(work, "eventlog", app_id)) as fh:
            groups = tracing.parse_event_log(fh)
        recs = tracing.span_stats(tracer.spans, groups)
        result["spans"] = recs
        result["coverage"] = layers.coverage(recs)
        result["per_layer"] = layers.per_layer(recs, cycles, session_start_s)
        metrics = result["per_layer"]
    else:
        metrics = result["end_to_end"]

    out_dir = os.path.join(os.getcwd(), ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {wl.name} seed {args.seed} cycles {cycles} input_gen_s {input_gen_s:.3f}")
    n_cycle = min(len(rec.samples.get(op, [])) for op in wl.ops)
    counts = {"cycle_cpu_s": n_cycle, "setup_s": 1}
    for k, m in {**result["end_to_end"], **named}.items():
        print(f"  {k:24s} {m['value']!s:>22} {m['unit']:6s} n={m.get('n', counts.get(k))}")
    if args.trace:
        for k, c in result["coverage"].items():
            print(f"  coverage {k:40s} children cover {c:.3f} of the parent's wall")
    ok = rec.failed == 0 and all(v is not None for v in gated.values())
    print(json.dumps({
        "correct": ok,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
