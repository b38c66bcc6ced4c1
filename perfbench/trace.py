"""Spans and Spark counters for the traced run.

A span records name, start, end, parent and pass id. Each span runs its body
under a Spark job group of its own, set in the calling thread (the
exporter's writer threads included), so the jobs a call submits can be
looked up afterwards in Spark's status store. The counters are read once
per pass, outside the timed window, after the listener bus has drained.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    intervals: list = field(default_factory=list)  # (submitted, completed) in seconds

    def add(self, other: "JobStats") -> None:
        for k in ("jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
                  "executor_run_ms", "gc_ms", "shuffle_write_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals


class Tracer:
    """Records spans for one benchmark process.

    ``phase`` is the span that a thread without a span of its own reports
    to: the exporter's writer threads start with no thread-local parent.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_id = 0
        self.phase: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, phase: bool = False, **attrs):
        parent = getattr(self._local, "span", None) or self.phase
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None,
                     self.pass_id, 0.0, attrs=attrs)
            self.spans.append(s)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        prev_span = getattr(self._local, "span", None)
        self.sc.setJobGroup(s.group, name)
        self._local.span = s
        if phase:
            self.phase = s
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if phase:
                self.phase = None
            self._local.span = prev_span
            self.sc.setLocalProperty(GROUP_KEY, prev_group)

    def wrap(self, name: str, fn, phase: bool = False, label=None):
        """``fn`` recorded as a span; ``label(args)`` names the table."""
        def traced(*args, **kwargs):
            attrs = {"table": label(args)} if label else {}
            with self.span(name, phase=phase, **attrs):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    # -- counters -----------------------------------------------------------

    def job_stats(self, spans: list[Span]) -> dict[int, JobStats]:
        """{span id: counters of the jobs submitted under its own group}.

        A stage shared by several jobs (a reused shuffle) is counted once,
        for the first job that lists it.
        """
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        out = {}
        for s in spans:
            st = JobStats()
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                job = store.job(jid)
                st.jobs += 1
                st.skipped_stages += job.numSkippedStages()
                stage_ids = [int(x) for x in job.stageIds().mkString(",").split(",") if x]
                st.stages += len(stage_ids)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    st.intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
                for sid in stage_ids:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        stage = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # never attempted: a skipped stage
                        continue
                    if stage.status().toString() == "SKIPPED":
                        continue
                    st.tasks += stage.numTasks()
                    st.failed_tasks += stage.numFailedTasks()
                    st.executor_run_ms += stage.executorRunTime()
                    st.gc_ms += stage.jvmGcTime()
                    st.shuffle_write_bytes += stage.shuffleWriteBytes()
            out[s.id] = st
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = [{"id": s.id, "name": s.name, "parent": s.parent, "pass": s.pass_id,
                  "start": s.start, "end": s.end, "self_s": self.self_seconds(s), **s.attrs}
                 for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        return span.seconds - covered(kids, span.start, span.end)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
