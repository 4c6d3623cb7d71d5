"""Spans, counters and summary statistics for the benchmark.

Spans come only from benchmark code: the batch proxy handed to the
streaming shell, the store subclass below, and the catalog loop. Nothing
here is imported by the engine.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from kafka_cdc_redshift_spark.streaming import MergeOnReadTargetStore


# -- pure helpers -------------------------------------------------------------
def tail(values, beyond: int = 10):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples the value is the one at
    rank n - beyond (1-based) of the sorted samples, so exactly `beyond`
    samples lie above it. Fewer than beyond + 1 samples support no such
    percentile; the maximum is returned with percentile 1.0.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - beyond
    if k < 1:
        return xs[-1], 1.0, n
    return xs[k - 1], k / n, n


def union_length(intervals) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part its children cover. Children may
    overlap each other (concurrent table tasks), so their union counts,
    not their sum; parts outside the parent are clipped."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(
        (s, e) for s, e in clipped if e > s)


class Stopwatch:
    """Context manager with a span's start and end, for untraced runs."""

    def __enter__(self):
        self.start = time.perf_counter()
        self.end = None
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        return False


# -- spans ----------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None  # index into Tracer.spans
    op: int | None  # operation id: batch id or query sequence number
    thread: str
    attrs: dict = field(default_factory=dict)
    idx: int = -1  # position in Tracer.spans


class Tracer:
    """In-memory span recorder.

    A span's parent is the innermost open span on the same thread; on a
    thread with no open span (pool workers running table tasks) it is the
    open operation span, so store calls made from the processor's thread
    pool still nest under their batch.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_span: int | None = None
        self._op_id = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        sp = Span(name, time.perf_counter(), None, parent, self._op_id,
                  threading.current_thread().name, attrs)
        with self._lock:
            sp.idx = len(self.spans)
            self.spans.append(sp)
        stack.append(sp.idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def op(self, name: str, op_id, **attrs):
        """Top-level operation span (one batch, one query)."""
        self._op_id = op_id
        with self.span(name, **attrs) as sp:
            self._op_span = sp.idx
            try:
                yield sp
            finally:
                self._op_span = None
                self._op_id = None

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


# -- traced store ---------------------------------------------------------------
class TracedMergeOnReadStore(MergeOnReadTargetStore):
    """Times every store entry point the processor calls."""

    def __init__(self, root, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def publish(self, *a, **kw):
        with self.tracer.span("store.publish", table=a[1]):
            return super().publish(*a, **kw)

    def publish_append(self, *a, **kw):
        with self.tracer.span("store.publish_append", table=a[1]):
            return super().publish_append(*a, **kw)

    def publish_delta(self, *a, **kw):
        with self.tracer.span("store.publish_delta", table=a[1]):
            return super().publish_delta(*a, **kw)

    def read(self, spark, table):
        with self.tracer.span("store.read", table=table) as sp:
            sp.attrs["deltas"] = self.delta_count(table)
            return super().read(spark, table)

    def fold_deltas(self, spark, table):
        with self.tracer.span("store.fold", table=table):
            return super().fold_deltas(spark, table)

    def prune_versions(self, *a, **kw):
        with self.tracer.span("store.prune", table=a[0]):
            return super().prune_versions(*a, **kw)


# -- Spark job / stage counters -----------------------------------------------
class SparkCounters:
    """Jobs, stages, shuffle, spill and task CPU since the last `take()`.

    Operations run one at a time, so the jobs submitted since the previous
    call belong to the operation that just ended. Job ids are sequential;
    the listener bus is drained first so the status store has seen every
    job and stage of the operation.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._store = self._jsc.statusStore()
        self.next_job = 0
        self.take()  # skip jobs submitted before the counter existed

    def take(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, stages = 0, set()
        while True:
            info = self._tracker.getJobInfo(self.next_job)
            if info is None:
                break
            jobs += 1
            stages.update(info.stageIds)
            self.next_job += 1
        out = {"jobs": jobs, "stages": 0, "shuffle_b": 0, "spill_b": 0,
               "cpu_ns": 0}
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran (its job skipped it)
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["shuffle_b"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["cpu_ns"] += sd.executorCpuTime()
        return out
