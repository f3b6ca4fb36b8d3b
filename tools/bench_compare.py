"""Compare two bench summaries query-by-query.

Usage: python tools/bench_compare.py OLD.json NEW.json [threshold]

Accepts either a BENCH_SUMMARY.json (medians in "queries") or a driver
BENCH_r{N}.json whose "tail" fragment embeds per-query timings. Prints
queries whose ratio new/old exceeds the threshold (default 1.5) either way
— with single-shot jitter of ±2-3× at sf0.1, treat single-rep inputs as
indicative only; medians (reps >= 3) are the comparable form.

When both inputs carry per-query Spark job counts (``detail.*.jobs`` in a
summary, or ``queries.*.jobs`` in a ``bench.py name ...`` line), every query
whose count changed is listed too: job counts do not move with noise.
"""

from __future__ import annotations

import json
import re
import sys


def _load(path: str) -> tuple[str, dict]:
    raw = open(path).read()
    try:
        return raw, json.loads(raw)
    except json.JSONDecodeError:
        return raw, {}


def load_jobs(path: str) -> dict[str, int]:
    d = _load(path)[1]
    block = d.get("detail") or d.get("queries") if isinstance(d, dict) else None
    if not isinstance(block, dict):
        return {}
    return {k: v["jobs"] for k, v in block.items() if isinstance(v, dict) and "jobs" in v}


def load_timings(path: str) -> dict[str, float]:
    raw, d = _load(path)
    if isinstance(d, dict) and isinstance(d.get("queries"), dict) and d["queries"]:
        q = d["queries"]
        # full summary: {"queries": {name: median}} or detail {"median": ...}
        return {k: (v["median"] if isinstance(v, dict) else float(v)) for k, v in q.items()}
    # driver artifact: fish timings out of the (possibly truncated) tail
    tail = d.get("tail", raw) if isinstance(d, dict) else raw
    out: dict[str, float] = {}
    for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', tail):
        name, val = m.group(1), float(m.group(2))
        if name not in ("value", "sf", "n_errors", "reps", "n_queries"):
            out[name] = val
    return out


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load_timings(sys.argv[1]), load_timings(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    common = sorted(set(old) & set(new))
    print(f"{len(common)} comparable queries "
          f"({len(new) - len(common)} new-only, {len(old) - len(common)} old-only)")
    total_old = sum(old[k] for k in common)
    total_new = sum(new[k] for k in common)
    print(f"total over common: {total_old:.1f}s -> {total_new:.1f}s "
          f"({total_new / max(total_old, 1e-9):.2f}x)")
    flagged = [
        (new[k] / max(old[k], 1e-9), k) for k in common
        if new[k] / max(old[k], 1e-9) > threshold and new[k] - old[k] > 0.25
    ]
    for ratio, k in sorted(flagged, reverse=True):
        print(f"  SLOWER {ratio:5.2f}x  {k:30s} {old[k]:7.2f}s -> {new[k]:7.2f}s")
    if not flagged:
        print(f"no query regressed beyond {threshold}x (+0.25s floor)")
    old_jobs, new_jobs = load_jobs(sys.argv[1]), load_jobs(sys.argv[2])
    if old_jobs and new_jobs:
        moved = [k for k in sorted(set(old_jobs) & set(new_jobs)) if old_jobs[k] != new_jobs[k]]
        print(f"{len(moved)} queries changed job count")
        for k in moved:
            print(f"  JOBS {old_jobs[k]:4d} -> {new_jobs[k]:4d}  {k}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
