"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The workload generates
its inputs from ``--seed``, starts a ``local[4]`` Spark session, builds its
tables and indexes, runs its closed loop for ``--seconds`` seconds, checks
every output and prints two JSON lines on stdout:

* a detail line, ``{"detail": ...}``, with the workload's own figures
  (per-kind medians, recall, F1, error rate, leaked pins);
* the result line, ``{"correct", "attempted", "failed", "metrics"}``. With
  ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
  with ``--trace 1`` they are its per-layer metrics, taken from a traced
  run that gives every call its own Spark job group.

Everything the run writes lives under ``.perfbench_work/`` in the checkout;
the per-run directory is removed at exit and the span dump of a traced run
is kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
CORES = 4
# benchmark-side per-layer metrics (the rest are <layer>.<function>.<counter>)
HARNESS = ("harness.op.self_ms", "harness.trace.bookkeeping_ms")


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _finite(obj):
    """NaN (a kind with no timed sample, when every run of it failed) as null."""
    if isinstance(obj, float) and obj != obj:
        return None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_finite(v) for v in obj]
    return obj


def _fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _isolate(work: str) -> None:
    """Keep every temporary file of Python, the JVM and Spark in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = None


def _start_spark(work: str):
    from semantic_index_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        import subprocess

        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(root: str, workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from spans import Tracer, median_of
    from workloads import WORKLOADS, remove, summarize

    cls = WORKLOADS[workload]
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{workload}-s{seed}-{os.getpid()}")
    remove(work)
    os.makedirs(work)
    _isolate(work)
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    try:
        # input generation: outside set-up time and outside the timed loop
        w = cls(None, None, seed, work)
        w.generate()
        phase("generate_s")
        spark = _start_spark(work)
        try:
            phase("session_s")
            w.spark, w.tracer = spark, Tracer(spark, trace)
            w.setup()
            phase("build_s")
            w.warmup()
            phase("warmup_s")
            w.loop(seconds)
            phase("loop_s")
            w.finalize()
            persisted = w.persisted_rdds()
            calls = w.tracer.finish(os.path.join(base, "traces", f"{workload}-s{seed}.json")) if trace else {}
            phase("finalize_s")
        finally:
            _stop_spark(spark)
            phase("stop_s")
    finally:
        remove(work)

    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "setup_s": phases["session_s"] + phases["build_s"], "phases": phases,
        "op_geomean_ms": w.op_geomean_ms(), "round_ms": w.round_ms(),
        "items_per_s": w.items_per_s(),
        "samples": {k: len(v) for k, v in w.lat.items()},
        "latencies_ms": w.lat,
        "p50_ms": {k: summarize(v) for k, v in w.lat.items()},
        "error_rate": w.failed / max(w.attempted, 1),
        "persisted_rdds_end": persisted,
        **{k: {"value": v, "unit": u} for k, (v, u) in w.detail().items()},
        "failures": w.failures[:20],
    }
    if trace:
        with open(SPEC) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {}
        for m in per_layer:
            if m["name"] not in HARNESS:
                fn, counter = m["name"].rsplit(".", 1)
                metrics[m["name"]] = _metric(median_of(calls.get(fn, []), counter), m["unit"])
        ops = w.tracer.op_spans()
        metrics["harness.op.self_ms"] = _metric(median_of(ops, "self_ms"), "ms")
        for s in ops:
            s["bookkeeping_ms"] = s["bookkeeping_s"] * 1e3
        metrics["harness.trace.bookkeeping_ms"] = _metric(median_of(ops, "bookkeeping_ms"), "ms")
        detail["layers"] = {
            fn: {"calls": len(recs), "build_ms": median_of(recs, "build_ms"),
                 "action_ms": median_of(recs, "action_ms"), "jobs": median_of(recs, "jobs"),
                 "executor_cpu_ms": median_of(recs, "executor_cpu_ms")}
            for fn, recs in sorted(calls.items())
        }
    else:
        metrics = {
            "setup_s": _metric(detail["setup_s"], "s"),
            "op_geomean_ms": _metric(detail["op_geomean_ms"], "ms"),
        }
    result = {"correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
              "metrics": metrics}
    return result, detail


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test is the checkout the benchmark runs in
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "semantic_index_spark")):
        _fail(f"no semantic_index_spark package in {root}; run from a checkout's root", 2)
    sys.path[:0] = [HERE, root]
    try:
        import pyspark  # noqa: F401

        import semantic_index_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        _fail(f"cannot import the program: {e}", 2)
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", 2)

    result, detail = run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    for f in detail["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"detail": _finite(detail)}))
    print(json.dumps(_finite(result)))


if __name__ == "__main__":
    main()
