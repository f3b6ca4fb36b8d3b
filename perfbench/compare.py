"""Repeat and paired-comparison modes over ``perfbench/run.py``.

Repeat: run one workload once per seed and print each metric's quartiles
and its spread (interquartile distance over median) next to the bound in
BENCHMARK.json. This is how the bounds were set.

    python3 perfbench/compare.py repeat --workload index_ingest --seeds 1-10

Pair: run the benchmark alternately in a parent checkout and a change
checkout, swapping which side goes first on every pair, with this file's
copy of ``run.py`` for both (one benchmark, two programs). A metric counts
as a gain only when the change wins at least nine pairs in ten and the
medians differ by more than the parent's own spread, and never when the
change fails more operations than the parent; it is unresolved when
either side's spread exceeds the metric's bound, and a regression when the
change's median is worse than the parent's by more than the bound.

    python3 perfbench/compare.py pair --parent ../parent --change . \\
        --workload search_dedup --seeds 1-10

Both modes also take ``--trace 1`` (per-layer metrics) and print the
detail figures each run reports. Run them from any directory; every run
happens inside the checkout it measures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    return {"run_seconds": spec["run_seconds"], "metrics": metrics}


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run in ``checkout``; returns its result and detail."""
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout}: workload {workload} seed {seed}")
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    print(f"  {os.path.basename(os.path.abspath(checkout))} seed={seed} correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if k in ("setup_s", "op_geomean_ms")),
          file=sys.stderr, flush=True)
    return {"result": result, "detail": detail}


def quartiles(values: list[float]) -> tuple:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def _series(runs: list[dict]) -> dict[str, list[float]]:
    """Every numeric figure of every run, by name: result metrics, the
    per-kind medians and the detail figures."""
    out: dict[str, list[float]] = {}
    for r in runs:
        figures = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        d = r["detail"]
        figures.update({f"p50_ms.{k}": v for k, v in d["p50_ms"].items()})
        figures.update({k: v["value"] if isinstance(v, dict) else v for k, v in d.items()
                        if k not in ("seed", "trace")
                        and (isinstance(v, (int, float)) or (isinstance(v, dict) and "value" in v))})
        figures.update({f"phase.{k}": v for k, v in d["phases"].items()})
        for k, v in figures.items():
            if isinstance(v, (int, float)):
                out.setdefault(k, []).append(float(v))
    return out


def repeat(args) -> None:
    spec = load_spec(args.checkout)
    runs = [run_once(args.checkout, args.workload, s, spec["run_seconds"], args.trace)
            for s in seeds_arg(args.seeds)]
    print(f"{args.workload} trace={args.trace} runs={len(runs)} "
          f"correct={sum(r['result']['correct'] for r in runs)}/{len(runs)}")
    print(f"{'metric':58s} {'q1':>11s} {'median':>11s} {'q3':>11s} {'spread':>7s} {'bound':>6s}")
    for name, vals in _series(runs).items():
        q1, q2, q3 = quartiles(vals)
        m = spec["metrics"].get(name, {})
        bound = f"{m['bound']:.2f}" if "bound" in m else ""
        sp = spread(vals)
        flag = " !" if "bound" in m and name != "setup_s" and sp > m["bound"] / 3 else ""
        print(f"{name:58s} {q1:11.4g} {q2:11.4g} {q3:11.4g} {sp:7.3f} {bound:>6s}{flag}")


def pair(args) -> None:
    spec = load_spec(args.change)
    sides: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_arg(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            sides[side].append(run_once(getattr(args, side), args.workload, seed,
                                        spec["run_seconds"], args.trace))
    par, chg = _series(sides["parent"]), _series(sides["change"])
    failed = {side: sum(r["result"]["failed"] for r in runs) for side, runs in sides.items()}
    # a change that fails more operations than its parent gains nothing
    more_failures = failed["change"] > failed["parent"]
    print(f"{args.workload} trace={args.trace} pairs={len(sides['parent'])} "
          f"failed parent={failed['parent']} change={failed['change']}")
    print(f"{'metric':50s} {'parent':>11s} {'change':>11s} {'ratio':>7s} {'wins':>6s}  verdict")
    for name, m in spec["metrics"].items():
        if name not in par or name not in chg:
            continue
        p, c = par[name], chg[name]
        lower = m["better"] == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        ratio = cm / pm if pm else float("inf")
        worse = (ratio - 1) if lower else (1 - ratio)
        verdict = "no change beyond bound"
        if "bound" in m:
            bound = m["bound"]
            all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
            if max(spread(p), spread(c)) > bound and not all_better:
                verdict = "unresolved (spread over bound)"
            elif worse > bound:
                verdict = "REGRESSION"
        p_iqr = quartiles(p)[2] - quartiles(p)[0]
        better = (pm - cm) if lower else (cm - pm)
        if wins >= 0.9 * len(p) and better > p_iqr:
            verdict = "no gain (more failures)" if more_failures else "gain"
        print(f"{name:50s} {pm:11.4g} {cm:11.4g} {ratio:7.3f} {wins:3d}/{len(p):<2d}  {verdict}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    for mode in ("repeat", "pair"):
        p = sub.add_parser(mode)
        p.add_argument("--workload", required=True)
        p.add_argument("--seeds", default="1-10")
        p.add_argument("--trace", type=int, choices=(0, 1), default=0)
        if mode == "repeat":
            p.add_argument("--checkout", default=".")
        else:
            p.add_argument("--parent", required=True)
            p.add_argument("--change", default=".")
    args = ap.parse_args()
    (repeat if args.mode == "repeat" else pair)(args)


if __name__ == "__main__":
    main()
