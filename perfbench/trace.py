"""Spans and Spark probes for the traced run.

With tracing off every hook is a no-op, so the untraced run measures the
program alone. With tracing on, each layer call gets a span (name, start,
end, parent, call id), a unique Spark job group whose jobs, stages and
tasks are counted through ``statusTracker()``, and, for DataFrame calls,
the Catalyst phase times of its query execution. Spans stay in memory and
are written when the run ends; the time spent inside the probes themselves
is summed as ``trace.overhead_s``.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def calibrate() -> float:
    """Seconds for a fixed CPU kernel: a sha256 chain over 4 MB on each of
    min(4, cores) threads at once, the parallelism the runs use. Timed at
    the start and end of every run so host drift is a recorded number."""
    buf = bytes(range(256)) * 16384

    def chain() -> None:
        h = b""
        for _ in range(16):
            h = hashlib.sha256(buf + h).digest()  # releases the GIL

    threads = [threading.Thread(target=chain) for _ in range(min(4, os.cpu_count() or 1))]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


class Tracer:
    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[list] = []  # [name, start, end, parent index, call id]
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._groups = itertools.count()

    @contextmanager
    def span(self, name: str, call_id: str | None = None):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if call_id is None and parent is not None:
            call_id = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, call_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def job_group(self, sc, name: str, stats: dict):
        """Run the body under a fresh job group and add its job, stage and
        task counts to ``stats``. A reused group id would make the counts
        accumulate across calls, so every call gets its own."""
        if not self.on:
            yield
            return
        gid = f"perfbench-{next(self._groups)}-{name}"
        sc.setJobGroup(gid, name)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            tracker = sc.statusTracker()
            stages = set()
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
                stats["jobs"] = stats.get("jobs", 0) + 1
            for sid in stages:
                info = tracker.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    stats["stages"] = stats.get("stages", 0) + 1
                    stats["tasks"] = stats.get("tasks", 0) + info.numCompletedTasks
            self.overhead_s += time.perf_counter() - t0

    def catalyst(self, df, stats: dict) -> None:
        """Add the analysis/optimization/planning milliseconds of ``df``'s
        query execution (as seconds) and its optimized plan's line count."""
        if not self.on:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"{kv._1()}_s"
            stats[key] = stats.get(key, 0.0) + kv._2().durationMs() / 1000.0
        stats["plan_lines"] = stats.get("plan_lines", 0) + qe.optimizedPlan().toString().count("\n")
        self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total seconds, and self seconds (total minus the
        time its direct children cover)."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            row = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += end - start
            row["self_s"] += end - start - child[i]
        return out

    def dump(self, path: str, extra: dict) -> None:
        if not self.on:
            return
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                **extra,
                "self_times": self.self_times(),
                "overhead_s": self.overhead_s,
                "spans": [
                    {"name": n, "start": s - t0, "end": (e or s) - t0, "parent": p, "call": c}
                    for n, s, e, p, c in self.spans
                ],
            }, f, indent=1)


def cached_mb(spark) -> float:
    """Storage held by cached or checkpointed blocks, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
