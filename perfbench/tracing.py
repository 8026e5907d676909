"""Tracing for the benchmark's traced runs: spans recorded around calls
into the program's layers, and scheduler counters read from Spark's own
status store.  Nothing here touches the program's code; layer functions
are wrapped by attribute on their modules for the length of a traced run.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError


@dataclass
class SparkCounters:
    """Work Spark did for one operation, summed over its jobs' stages."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "SparkCounters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class StatusStore:
    """Reads job and stage counters from Spark's status store, which
    Spark keeps even with the UI disabled.

    Jobs are attributed to an operation by id: the benchmark is the only
    client of its session, so every job numbered above the watermark taken
    when the operation started belongs to it — including jobs started on
    other threads, such as a streaming query's micro-batches.  Read after
    every operation: stages beyond ``spark.ui.retainedStages`` are evicted.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _drain(self) -> None:
        # counters reach the store through the listener bus, asynchronously
        self._bus.waitUntilEmpty()

    def watermark(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def since(self, watermark: int) -> SparkCounters:
        self._drain()
        c = SparkCounters()
        jobs = self._store.jobsList(None)  # newest first
        seen: set[int] = set()
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= watermark:
                break
            c.jobs += 1
            sids = job.stageIds()
            for k in range(sids.length()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                c.tasks += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
                c.failed_tasks += s.numFailedTasks()
                c.executor_run_s += s.executorRunTime() / 1e3
                c.executor_cpu_s += s.executorCpuTime() / 1e9
                c.shuffle_write_bytes += s.shuffleWriteBytes()
                c.spill_bytes += s.diskBytesSpilled()
        return c


class Tracer:
    """Span recorder.  Disabled, every method is a no-op, so the untraced
    run pays nothing for the instrumentation it carries."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.store = StatusStore(spark) if enabled else None
        self.spans: list[tuple[str, float, float, int]] = []  # name, start, end, parent
        self._stack: list[int] = []
        self.ops = SparkCounters()  # summed over every operation span
        self.spark_by_span: dict[str, SparkCounters] = defaultdict(SparkCounters)
        self.overhead_s = 0.0  # time spent reading the status store
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Time ``name``.  An operation span (``op``) also counts the Spark
        jobs the block ran."""
        if not self.enabled:
            yield
            return
        wm = None
        if op:
            t = time.perf_counter()
            wm = self.store.watermark()
            self.overhead_s += time.perf_counter() - t
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p)
            if wm is not None:
                t = time.perf_counter()
                c = self.store.since(wm)
                self.ops.add(c)
                self.spark_by_span[name].add(c)
                self.overhead_s += time.perf_counter() - t

    def wrap(self, module, attr: str, name: str, post=None) -> None:
        """Record a span around every call of ``module.attr`` until
        :meth:`unwrap`; ``post`` may replace the call's result."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                out = orig(*a, **kw)
            return post(out) if post is not None else out

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def jobs(self, name: str) -> int:
        """Spark jobs run inside ``name`` operation spans."""
        return self.spark_by_span[name].jobs

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their direct children
        cover (children never overlap: one client thread)."""
        total = 0.0
        for i, (n, s, e, _) in enumerate(self.spans):
            if n != name:
                continue
            child = sum(ce - cs for _, cs, ce, p in self.spans if p == i)
            total += (e - s) - child
        return total
