"""Tracing for the benchmark's traced pass: in-memory spans around calls
into the program's layers, and exact Spark counters per operation.

The program carries no instrumentation. Spans are recorded by wrapping
public functions and methods from here, and Spark work is counted from
outside through one job group per operation and ``statusTracker()``.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Records spans in memory. The parent of a span is the innermost open
    span of the same thread, or else the root span of the current
    operation, so work a request handler thread does on behalf of the
    client's operation is attributed to it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.op_root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a version that records a span. With
        a ``counter``, the call's Spark jobs also run under a job group of
        their own, nested in the caller's (see ``SparkCounter.nested``)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            group = (counter.nested(name) if counter is not None
                     else contextlib.nullcontext())
            with group, self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- analysis -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part its children cover."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(self.spans[c].start, self.spans[c].end)
                 for c in children.get(i, [])], s.start, s.end)
            out[i] = (s.end - s.start) - covered
        return out

    def _within(self, i: int, name: str) -> bool:
        parent = self.spans[i].parent
        while parent is not None:
            if self.spans[parent].name == name:
                return True
            parent = self.spans[parent].parent
        return False

    def per_op(self, names: tuple[str, ...], within: str | None = None,
               self_time: bool = False) -> dict[int | None, float]:
        """Per operation (``None`` for setup): time covered by spans whose
        name starts with one of ``names``, overlapping spans counted once,
        or with ``self_time`` their summed self times. ``within`` keeps
        only spans nested in a span of that name."""
        selfs = self.self_times() if self_time else None
        out: dict[int | None, float] = {}
        by_op: dict[int | None, list[tuple[float, float]]] = {}
        for i, s in enumerate(self.spans):
            if not s.name.startswith(names):
                continue
            if within is not None and not self._within(i, within):
                continue
            if selfs is not None:
                out[s.op] = out.get(s.op, 0.0) + selfs[i]
            else:
                by_op.setdefault(s.op, []).append((s.start, s.end))
        for op, iv in by_op.items():
            out[op] = _union_length(iv, float("-inf"), float("inf"))
        return out


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def wrap_spark_actions(tracer: Tracer) -> None:
    """Spans around the driver-side calls that launch Spark jobs."""
    from pyspark.sql import DataFrameWriter

    try:  # the class sessions actually return (it overrides the actions)
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    for attr in ("collect", "toPandas", "count", "localCheckpoint"):
        tracer.wrap(DataFrame, attr, f"spark.{attr}")
    tracer.wrap(DataFrameWriter, "parquet", "spark.write")


class SparkCounter:
    """Exact jobs / stages / tasks of one operation, read from outside:
    the operation runs under its own job group and the counts come from
    ``statusTracker()`` once the listener bus has drained."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.groups: dict[str, None] = {}  # every group set, in order

    def set_group(self, group: str) -> None:
        # job groups are per thread: the caller sets it in every thread
        # that launches the operation's jobs
        self.groups[group] = None
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def nested(self, name: str):
        """Run the block under job group ``<current group>/<name>``, so
        ``count(current)`` still covers its jobs and ``count`` of the
        nested group gives them alone."""
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.set_group(f"{outer}/{name}" if outer else name)
        try:
            yield
        finally:
            if outer:
                self.set_group(outer)
            else:
                self.clear_group()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def count(self, group: str) -> dict[str, int]:
        """Jobs, stages run, tasks and failed tasks of ``group`` and of
        the groups nested in it."""
        self._drain()
        jobs = stages = tasks = failed = 0
        seen: set[int] = set()
        for g in self.groups:
            if g != group and not g.startswith(group + "/"):
                continue
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = self.tracker.getStageInfo(sid)
                    # skipped stages (shuffle output reused) ran no tasks
                    if (st is None
                            or st.numCompletedTasks + st.numFailedTasks == 0):
                        continue
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed": failed}
