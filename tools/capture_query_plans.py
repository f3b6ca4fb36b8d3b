"""Dump .explain('formatted') for named registry queries into plans/<round>/.

The round is ``bench.bench_round()``: one past the highest ``BENCH_r*.json``.

Usage:
    python tools/capture_query_plans.py <repo_root> <suffix> name [name ...]

Writes plans/r<round>/<name>_<suffix>.txt under THIS repo, while
building the DataFrames from the registry at <repo_root> — so a prior-commit
worktree produces the `before` files and the working tree the `after` files.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from bench import bench_round

    repo = os.path.abspath(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from semantic_index_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(app_name="plan-capture", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(ROOT, "plans", f"r{bench_round():02d}")
    os.makedirs(out_dir, exist_ok=True)
    registry = entrymod.queries()
    for name in names:
        df = registry[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name, suffix)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
