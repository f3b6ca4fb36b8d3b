"""Compare bench summaries query-by-query, over several runs per side.

Usage: python tools/bench_compare.py OLD[,OLD...] NEW[,NEW...] [threshold]

Each side is one or more comma-separated files. A file is either a
BENCH_SUMMARY.json (medians in "queries"), a ``bench.py name ...`` line
(``queries.*.median``) or a driver BENCH_r{N}.json whose "tail" fragment
embeds per-query timings.

One process's rep spread is narrower than the drift between bench
processes, so the noise band of a query is the min–max of its OLD medians
over the OLD runs. A query is flagged SLOWER (FASTER) only when every NEW
median lies above (below) that band and the ratio of the NEW to the OLD
median of medians passes the threshold (default 1.5) either way, with a
0.25 s floor. The between-run spread of each side is printed as the noise
figure; with one run per side it is 0 and the band is a single value.

When the inputs carry per-query Spark job counts (``detail.*.jobs`` in a
summary, or ``queries.*.jobs`` in a ``bench.py name ...`` line), every
query whose counts differ between the sides is listed too: job counts do
not move with noise.
"""

from __future__ import annotations

import json
import re
import statistics
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


def _side(paths: list[str], load) -> dict[str, list]:
    """Per query, its values over the runs that report it."""
    out: dict[str, list] = {}
    for p in paths:
        for k, v in load(p).items():
            out.setdefault(k, []).append(v)
    return out


def _spread(runs: dict[str, list[float]]) -> str:
    """p50/p90 over queries of (max − min) / median of a side's runs."""
    s = sorted((max(v) - min(v)) / max(statistics.median(v), 1e-9) for v in runs.values())
    if not s:
        return "n/a"
    return f"p50 {100 * s[len(s) // 2]:.0f} %, p90 {100 * s[int(len(s) * 0.9)]:.0f} %"


def compare(old_paths: list[str], new_paths: list[str], threshold: float = 1.5) -> dict:
    """Flagged queries and job-count changes; see the module docstring."""
    old, new = _side(old_paths, load_timings), _side(new_paths, load_timings)
    common = sorted(set(old) & set(new))
    flagged = []
    for k in common:
        lo, hi = min(old[k]), max(old[k])
        o, n = statistics.median(old[k]), statistics.median(new[k])
        ratio = n / max(o, 1e-9)
        if min(new[k]) > hi and ratio > threshold and n - o > 0.25:
            flagged.append(("SLOWER", ratio, k, o, n))
        elif max(new[k]) < lo and ratio < 1 / threshold and o - n > 0.25:
            flagged.append(("FASTER", ratio, k, o, n))
    old_jobs, new_jobs = _side(old_paths, load_jobs), _side(new_paths, load_jobs)
    moved = {
        k: (sorted(set(old_jobs[k])), sorted(set(new_jobs[k])))
        for k in sorted(set(old_jobs) & set(new_jobs))
        if set(old_jobs[k]) != set(new_jobs[k])
    }
    return {"old": old, "new": new, "common": common, "flagged": flagged, "jobs": moved,
            "has_jobs": bool(old_jobs and new_jobs)}


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old_paths, new_paths = sys.argv[1].split(","), sys.argv[2].split(",")
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    r = compare(old_paths, new_paths, threshold)
    old, new, common = r["old"], r["new"], r["common"]
    print(f"{len(common)} comparable queries over {len(old_paths)} OLD and "
          f"{len(new_paths)} NEW runs ({len(new) - len(common)} new-only, "
          f"{len(old) - len(common)} old-only)")
    print(f"between-run spread: OLD {_spread(old)}; NEW {_spread(new)}")
    total_old = sum(statistics.median(old[k]) for k in common)
    total_new = sum(statistics.median(new[k]) for k in common)
    print(f"total over common: {total_old:.1f}s -> {total_new:.1f}s "
          f"({total_new / max(total_old, 1e-9):.2f}x)")
    for verdict, ratio, k, o, n in sorted(r["flagged"], key=lambda f: -abs(f[1] - 1)):
        print(f"  {verdict} {ratio:5.2f}x  {k:30s} {o:7.2f}s -> {n:7.2f}s "
              f"(OLD band {min(old[k]):.2f}..{max(old[k]):.2f}s)")
    if not r["flagged"]:
        print(f"no query moved beyond {threshold}x outside the OLD band (+0.25s floor)")
    if r["has_jobs"]:
        print(f"{len(r['jobs'])} queries changed job count")
        for k, (o, n) in r["jobs"].items():
            print(f"  JOBS {','.join(map(str, o)):>9s} -> {','.join(map(str, n)):<9s} {k}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
