"""Benchmark harness: times registry queries from ``__spark_entry__.queries()``.

    python bench.py                         # every query: the suite's perf gate
    python bench.py [--repo PATH] name ...  # only the named queries

Both modes run :func:`time_queries` at ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, after one ``entry()`` collect that
warms the JVM. ``--repo`` takes the registry and package from another
checkout, so one loop measures both sides of an A/B.

Per query: ``$SPARK_GRAFT_BENCH_WARMUP`` untimed reps (default 1), then
``$SPARK_GRAFT_BENCH_REPS`` timed reps (default 3), each timed end to end
(build + execute + collect). Every rep runs in its own
``session.pinned()`` scope, so it frees what it pinned and no rep reads a
frame an earlier rep cached. When the reps spread by more than 40 % of
their median, up to 2 extra reps are taken. A query that fails on any rep
is an error and stays out of every median. Each ``detail`` entry holds the
median, min, max, spread, rep count and row count, plus ``build_s`` (median
time until the builder returns) and ``jobs`` (Spark jobs of the first timed
rep, counted through a job group named after the query).

Two measured rules:

- Queries run in canonical (sorted-by-name) order, not registry order. The
  registry leads with the verification window; benching in that
  order made the freshly moved queries pay cold-start costs (1.47× against
  1.16× elsewhere, on identical code).
- The warm-up rep pays first-touch parquet footer reads, codegen and Python
  worker forks that later reps do not.

Output, full mode:

- ``BENCH_SUMMARY.json`` and ``BENCH_SUMMARY_r{N}.json`` (N from
  :func:`bench_round`): medians, per-query detail, errors, noise figures.
- stdout, last line: one compact JSON summary under 500 bytes, because the
  perf gate keeps only a short tail of stdout.
- stderr: per-query progress.

Output, named queries: one JSON line ``{repo, sf_dir, queries, errors}``
with the per-query detail, and no summary file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def bench_round(root: str = REPO_ROOT) -> int:
    """The round a run belongs to: one past the highest ``BENCH_r*.json``."""
    rounds = [
        int(m.group(1))
        for fn in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", fn))
    ]
    return max(rounds, default=0) + 1


def time_queries(spark, registry, names, sf_dir, reps, warmup):
    """Time each named query; returns ``(detail, errors)`` keyed by name."""
    try:
        from semantic_index_spark.session import pinned
    except ImportError:  # a ``--repo`` checkout older than the pin scope
        pinned = contextlib.nullcontext
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    detail: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = registry[name]
        times: list[float] = []
        builds: list[float] = []
        rows = -1
        jobs_before = len(tracker.getJobIdsForGroup(name))
        t0 = time.perf_counter()
        try:
            for _ in range(warmup):
                with pinned():
                    fn(spark, sf_dir).collect()
            while len(times) < reps or (
                3 <= len(times) < reps + 2
                and max(times) - min(times) > 0.4 * statistics.median(times)
            ):
                if not times:
                    sc.setJobGroup(name, name)
                t0 = time.perf_counter()
                with pinned():
                    df = fn(spark, sf_dir)
                    t_build = time.perf_counter()
                    rows = len(df.collect())
                times.append(time.perf_counter() - t0)
                builds.append(t_build - t0)
                sc._jsc.clearJobGroup()
        except Exception as e:
            # a failed query must be visible in the parsed output, and its
            # partial timings must not leak into any median or total
            sc._jsc.clearJobGroup()
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"{name:28s} ERROR after {time.perf_counter() - t0:.2f}s: {e}",
                  file=sys.stderr)
            continue
        med = statistics.median(times)
        detail[name] = {
            "median": round(med, 3),
            "min": round(min(times), 3),
            "max": round(max(times), 3),
            # rep spread relative to the median: deltas below it are noise
            "spread_pct": round(100.0 * (max(times) - min(times)) / med, 1) if med else 0.0,
            "reps": len(times),
            "rows": rows,
            "build_s": round(statistics.median(builds), 3),
            "jobs": len(tracker.getJobIdsForGroup(name)) - jobs_before,
        }
        print(
            f"{name:28s} med={med:7.2f}s  [{min(times):.2f}..{max(times):.2f}] "
            f"build={detail[name]['build_s']:.2f}s jobs={detail[name]['jobs']} rows={rows}",
            file=sys.stderr,
        )
    return detail, errors


def _summaries(detail, errors, sf_dir, reps, warmup):
    """(full summary, compact stdout line) of a full-suite run."""
    medians = {k: v["median"] for k, v in detail.items()}
    total = round(sum(medians.values()), 3)
    # total_min: the suite without contention; spread percentiles: how far a
    # per-query delta must move before it is more than noise
    spreads = sorted(v["spread_pct"] for v in detail.values())
    noise = {
        "total_min": round(sum(v["min"] for v in detail.values()), 3),
        "median_spread_pct": spreads[len(spreads) // 2] if spreads else 0.0,
        "p90_spread_pct": spreads[int(len(spreads) * 0.9)] if spreads else 0.0,
    }
    head = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(sf_dir),
        "reps": reps,
    }
    counts = {"n_queries": len(detail) + len(errors), "n_errors": len(errors)}
    full = {**head, "warmup": warmup, "order": "canonical-sorted", **counts,
            "errors": errors, "noise": noise, "queries": medians, "detail": detail}
    slowest = sorted(medians, key=medians.get, reverse=True)[:3]
    # only the 3 slowest medians: the full map would overflow the captured
    # stdout tail; the complete map lives in BENCH_SUMMARY.json
    compact = {**head, **counts, "queries": {k: medians[k] for k in slowest},
               "queries_truncated": True, "queries_file": "BENCH_SUMMARY.json"}
    return full, compact


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Time registry queries.")
    ap.add_argument("--repo", default=REPO_ROOT,
                    help="checkout whose registry and package are timed")
    ap.add_argument("names", nargs="*", help="queries to time (default: all)")
    args = ap.parse_args(argv)
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from semantic_index_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    registry = entrymod.queries()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="semantic-index-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod.entry(spark).collect()  # JVM JIT, footer reads, first-job overhead

    names = args.names or sorted(registry)  # canonical order: see docstring
    detail, errors = time_queries(spark, registry, names, sf_dir, reps, warmup)
    if args.names:
        line = {"repo": repo, "sf_dir": sf_dir, "queries": detail, "errors": errors}
    else:
        full, line = _summaries(detail, errors, sf_dir, reps, warmup)
        for fn in ("BENCH_SUMMARY.json", f"BENCH_SUMMARY_r{bench_round():02d}.json"):
            with open(os.path.join(REPO_ROOT, fn), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
    # exactly one machine-parseable line on stdout, nothing after it
    print(json.dumps(line, separators=(",", ":")))
    sys.stdout.flush()
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
