"""In-memory span tracer for the benchmark.

Spans are recorded from the benchmark's own files only: ``patch``
swaps a module or class attribute for a wrapper that opens a span
around each call, and restores the original afterwards. Nothing in
the program is edited. A span keeps its name, start, end and parent;
all spans of one top-level operation share that operation's trace id.
Self time is a span's duration minus the part of it that its child
spans cover.

``NullTracer`` has the same surface and records nothing; the untraced
run uses it, so end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    trace_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s


class Tracer:
    """Records nested spans on one thread (the benchmark is a single
    closed-loop client, so one stack is enough)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self._paused = False

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside this block (benchmark bookkeeping)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextlib.contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, parent.trace_id if parent else sid, parent.span_id if parent else None,
                 name, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                # children of one parent never overlap on a single
                # thread, so their durations add up to the covered part
                parent.child_s += s.dur_s
            self.spans.append(s)

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a method) in a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- read-out ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_s(self, name: str, *, self_time: bool = False) -> float:
        """Median duration (or self time) of spans called ``name``, in
        s; 0 when the layer did no work in this workload."""
        vals = [s.self_s if self_time else s.dur_s for s in self.named(name)]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.span_id, "trace": s.trace_id, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self_s": s.self_s,
                }) + "\n")


class NullTracer(Tracer):
    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class JobCounter:
    """Exact Spark job / stage / task counts per benchmark operation.

    Each operation runs under its own job group (an enclosing group is
    restored afterwards); once the listener bus has drained, the status
    tracker lists the group's jobs, their stages and each stage's task
    count. Stages skipped because their shuffle output was reused count
    as stages but add no tasks."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._seq = itertools.count()
        self.counts: dict[str, list[tuple[int, int, int]]] = {}

    @contextlib.contextmanager
    def group(self, op: str):
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        outer_desc = self.sc.getLocalProperty("spark.job.description")
        gid = f"perfbench-{op}-{next(self._seq)}"
        self.sc.setJobGroup(gid, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.sc.setLocalProperty("spark.job.description", outer_desc)
            self.counts.setdefault(op, []).append(self._count(gid))

    def _count(self, gid: str) -> tuple[int, int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    tasks += st.numTasks
        return len(jobs), stages, tasks
