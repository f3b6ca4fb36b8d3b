"""Outside-in tracing of calls into the package's layers.

The benchmark wraps each call into a layer function (``index.search_df``,
``sources.versioned.merge_into_bucketed``, ...) in a span and gives it its
own Spark job group. Spans stay in memory; when the run ends the Spark
counters of every group are read from the status store (which works with
``spark.ui.enabled=false``) and everything is written out in one file.

Span tree: a workload *op* span (one closed-loop operation) has *call*
children (time inside a layer function, which includes the jobs its pins
fire) and *action* children (the benchmark's collect or count on the frame
a call returned). A span's self time is its duration minus the part of it
that its children cover.

With tracing off, ``call`` runs the function and nothing else.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# counters read per job group from the status store
STAGE_COUNTERS = (
    "tasks", "executor_cpu_ms", "executor_run_ms",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


def dir_files(path: str) -> dict:
    """Size of every file under ``path``, by path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._n = 0
        # wall time the tracer itself spends inside op spans
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------- spans

    def _open(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "kind": kind, "start": time.perf_counter(),
            "end": None, **attrs,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def op(self, name: str):
        """A closed-loop operation of the workload."""
        if not self.enabled:
            yield
            return
        span = self._open(name, "op", bookkeeping_s=0.0)
        self._stack.append(span["id"])
        before = self.bookkeeping_s
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()
            span["bookkeeping_s"] = self.bookkeeping_s - before

    @contextmanager
    def suspended(self, suspend: bool = True):
        """Run warm-up work without recording spans."""
        enabled = self.enabled
        self.enabled = enabled and not suspend
        try:
            yield
        finally:
            self.enabled = enabled

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def call(self, layer_fn: str, fn, action=None, write_dir: str | None = None,
             source_bytes: int = 0):
        """Run ``fn()`` as a traced call of ``layer_fn`` and, if given,
        ``action(result)`` as the benchmark's action on what it returned.
        Returns ``(result, action_result)``."""
        if not self.enabled:
            res = fn()
            return res, (action(res) if action else None)
        t = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, layer_fn)
        persisted = self._persisted()
        files = dir_files(write_dir) if write_dir else None
        self.bookkeeping_s += time.perf_counter() - t

        span = self._open(layer_fn, "call", group=group)
        res = fn()
        span["end"] = time.perf_counter()
        out = None
        if action is not None:
            act = self._open(layer_fn, "action", group=group)
            out = action(res)
            act["end"] = time.perf_counter()

        t = time.perf_counter()
        span["persisted_rdds_delta"] = self._persisted() - persisted
        if files is not None:
            after = dir_files(write_dir)
            new = {p: s for p, s in after.items() if files.get(p) != s}
            span["files_written"] = len(new)
            span["bytes_written"] = sum(new.values())
            span["write_amp"] = sum(new.values()) / max(source_bytes, 1)
        # harness jobs after the call (checks, listings) stay out of its group
        self.sc.setJobGroup("perfbench-harness", "harness")
        self.bookkeeping_s += time.perf_counter() - t
        return res, out

    def annotate(self, layer_fn: str, **attrs) -> None:
        """Attach values to the most recent call span of ``layer_fn``."""
        if self.enabled:
            calls = [s for s in self.spans if s["kind"] == "call" and s["name"] == layer_fn]
            calls[-1].update(attrs)

    # ---------------------------------------------------------- counters

    def _group_counters(self) -> dict:
        """Per job group: jobs plus the stage counters, each stage counted
        once, under the first job that ran it."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_job: dict[int, tuple] = {}
        job_count: dict[str, int] = {}
        for j in range(jobs.size()):
            job = jobs.apply(j)
            grp = job.jobGroup()
            if not grp.isDefined():
                continue
            grp = grp.get()
            job_count[grp] = job_count.get(grp, 0) + 1
            ids = job.stageIds()
            for s in range(ids.size()):
                sid = int(ids.apply(s))
                prev = stage_job.get(sid)
                if prev is None or job.jobId() < prev[0]:
                    stage_job[sid] = (job.jobId(), grp)
        out = {g: dict.fromkeys(STAGE_COUNTERS, 0.0) | {"jobs": n} for g, n in job_count.items()}
        stages = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        for s in range(stages.size()):
            st = stages.apply(s)
            owner = stage_job.get(int(st.stageId()))
            if owner is None:
                continue
            c = out[owner[1]]
            c["tasks"] += st.numCompleteTasks()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["executor_run_ms"] += st.executorRunTime()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["gc_ms"] += st.jvmGcTime()
        return out

    # ------------------------------------------------------------ finish

    def finish(self, path: str) -> dict:
        """Read the counters, compute self times, write every span to
        ``path`` and return per-call records keyed by layer function."""
        counters = self._group_counters()
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        action_ms: dict[str, float] = {}
        for s in self.spans:
            s["ms"] = (s["end"] - s["start"]) * 1e3
            s["self_ms"] = s["ms"] - _covered_ms(children.get(s["id"], []))
            if s["kind"] == "action":
                action_ms[s["group"]] = s["ms"]
        calls: dict[str, list] = {}
        for s in self.spans:
            if s["kind"] == "call":
                c = counters.get(s["group"], {})
                s.update(build_ms=s["ms"], action_ms=action_ms.get(s["group"], 0.0),
                         jobs=c.get("jobs", 0), **{k: c.get(k, 0.0) for k in STAGE_COUNTERS})
                calls.setdefault(s["name"], []).append(s)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
        return calls

    def op_spans(self) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "op"]


def _covered_ms(children: list) -> float:
    """Length of the union of the children's intervals, in ms."""
    total, end = 0.0, None
    for s in sorted(children, key=lambda c: c["start"]):
        if end is None or s["start"] > end:
            total += s["end"] - s["start"]
            end = s["end"]
        elif s["end"] > end:
            total += s["end"] - end
            end = s["end"]
    return total * 1e3


def median_of(recs: list[dict], key: str) -> float:
    vals = [r[key] for r in recs if key in r]
    return float(statistics.median(vals)) if vals else 0.0
