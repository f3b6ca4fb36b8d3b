"""The query-timing loop in ``bench.py``: error handling, adaptive reps and
the per-query build time and job count. The loop runs on the session
fixture; ``bench.main()`` would stop that session, so the CLI's
named-queries mode runs in a subprocess against a tiny registry."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_registry():
    calls = {"flaky": 0, "noisy": 0}

    def flaky(spark, sf_dir):
        calls["flaky"] += 1
        if calls["flaky"] == 3:  # warm-up, first timed rep, then this
            raise RuntimeError("second timed rep fails")
        return spark.range(5)

    def noisy(spark, sf_dir):
        calls["noisy"] += 1
        time.sleep(0.25 if calls["noisy"] % 2 else 0.05)
        return spark.range(1)

    def plain(spark, sf_dir):
        return spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count()

    return {"flaky": flaky, "noisy": noisy, "plain": plain}


def test_time_queries_errors_adaptive_reps_and_cost(spark, sf_dir):
    registry = _fake_registry()
    detail, errors = bench.time_queries(
        spark, registry, ["flaky", "noisy", "plain"], sf_dir, reps=3, warmup=1)

    assert set(errors) == {"flaky"}
    assert "second timed rep fails" in errors["flaky"]
    assert "flaky" not in detail
    # timed sleeps 0.05/0.25/0.05 spread far past 40 % of the median, so
    # both extra reps are bought and no more
    assert detail["noisy"]["reps"] == 5
    assert detail["noisy"]["rows"] == 1
    plain = detail["plain"]
    assert plain["reps"] == 3 and plain["rows"] == 3
    assert plain["build_s"] <= plain["median"]
    assert plain["jobs"] >= 1


def test_named_queries_print_one_line_and_write_no_summary(tmp_path):
    (tmp_path / "__spark_entry__.py").write_text(
        "def entry(spark):\n"
        "    return spark.range(1)\n\n\n"
        "def queries():\n"
        "    return {'tiny': lambda spark, sf_dir: spark.range(3),\n"
        "            'boom': lambda spark, sf_dir: spark.range(1).selectExpr('raise_error(\"x\")')}\n"
    )
    summaries = {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(REPO, "BENCH_SUMMARY*.json"))}
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="512m",
               SPARK_GRAFT_BENCH_REPS="1", SPARK_GRAFT_BENCH_WARMUP="0")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--repo", str(tmp_path), "tiny", "boom"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)

    assert proc.returncode == 1, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["repo"] == str(tmp_path)
    assert out["queries"]["tiny"]["rows"] == 3
    assert set(out["errors"]) == {"boom"}
    assert {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(REPO, "BENCH_SUMMARY*.json"))} == summaries
    assert not glob.glob(os.path.join(tmp_path, "BENCH_SUMMARY*.json"))


def test_bench_compare_flags_only_outside_the_old_runs_band(tmp_path):
    """Spark-free: with two summaries per side, a query is flagged only
    when every NEW median leaves the OLD runs' min–max band and the ratio
    passes the threshold; job-count changes are listed either way."""
    from tools import bench_compare

    def summary(name, medians, jobs):
        path = tmp_path / name
        path.write_text(json.dumps({"queries": {
            q: {"median": m, "jobs": jobs.get(q, 5)} for q, m in medians.items()}}))
        return str(path)

    old = [
        summary("old1.json", {"drift": 1.0, "slow": 1.0, "fast": 4.0, "same": 2.0}, {}),
        summary("old2.json", {"drift": 4.0, "slow": 1.1, "fast": 4.2, "same": 2.1}, {}),
    ]
    new = [
        # drift: the NEW median is 1.54x the OLD one, but inside the OLD band
        summary("new1.json", {"drift": 3.8, "slow": 2.0, "fast": 1.0, "same": 2.0},
                {"same": 7}),
        summary("new2.json", {"drift": 3.9, "slow": 1.9, "fast": 1.1, "same": 2.1},
                {"same": 7}),
    ]
    r = bench_compare.compare(old, new, threshold=1.5)
    assert [(v, k) for v, _, k, _, _ in r["flagged"]] == [("FASTER", "fast"), ("SLOWER", "slow")]
    assert r["jobs"] == {"same": ([5], [7])}
    # one NEW run inside the band is enough to keep a query unflagged
    new[1] = summary("new2.json", {"drift": 3.9, "slow": 1.05, "fast": 1.1, "same": 2.1}, {})
    assert [k for _, _, k, _, _ in bench_compare.compare(old, new)["flagged"]] == ["fast"]
