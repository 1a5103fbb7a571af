"""In-memory spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span, op id and the driver JVM's
garbage-collection seconds spent inside it. Each traced op also runs under
its own Spark job group, so the exact job, stage and task counts of the op
are read back from ``StatusTracker`` once the run ends. Spans are written
out as JSON lines when the run ends.

With ``enabled=False`` every method is a no-op, so the untraced run times
the same code path without the bookkeeping. With ``alternate`` set as well,
only every other op of each kind is traced, so one window times both sides
of the tracing overhead.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.alternate = False
        self.spans: list[dict] = []
        self.ops: dict[int, str] = {}  # op id -> op kind
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._gc_beans = None
        self._seen: dict[str, int] = {}  # op kind -> ops started

    def gc_seconds(self) -> float:
        """Cumulative GC time of the driver JVM (all collectors)."""
        if self._gc_beans is None:
            jvm = self.spark._jvm
            self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    @contextmanager
    def op(self, kind: str):
        """Scope of one user-visible op: a job group plus a root span. Yields
        the op id, or None when the op is not traced."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            n = self._seen.get(kind, 0)
            self._seen[kind] = n + 1
        if self.alternate and n % 2 == 0:
            self._local.quiet = True
            try:
                yield None
            finally:
                self._local.quiet = False
            return
        op_id = next(self._ids)
        with self._lock:
            self.ops[op_id] = kind
        self._local.op = op_id
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        try:
            with self.span(f"op.{kind}"):
                yield op_id
        finally:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            self._local.op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled or getattr(self._local, "quiet", False):
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span_id = next(self._ids)
        stack.append(span_id)
        gc0 = self.gc_seconds()
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            gc = self.gc_seconds() - gc0
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": span_id,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "op": getattr(self._local, "op", None),
                        "gc_s": gc,
                    }
                )

    def job_counts(self) -> dict[int, dict[str, int]]:
        """Per traced op: jobs, stages, tasks and failed tasks of its job group."""
        tracker = self.spark.sparkContext.statusTracker()
        out = {}
        for op_id in self.ops:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{op_id}")
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for s in stages:
                info = tracker.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
                    failed += info.numFailedTasks
            out[op_id] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "kind": self.ops.get(s["op"])}) + "\n")
