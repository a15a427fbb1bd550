"""Spans and Spark job counts recorded from the benchmark's own files.

A ``Tracer`` wraps public functions of the program (module attributes
and class methods) so that every call runs inside a span: name, start,
end, parent span and run id. Each span runs its Spark jobs under its own
job group, so the status tracker attributes jobs, stages and tasks to
the innermost span that started them. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def probe(self) -> bool:
        """Probe spans force a lazy layer on the side; their time and
        jobs are not part of the program's own work."""
        return self.name.startswith("probe.")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []
        #: seconds the tracing itself added: job-group bookkeeping and the
        #: hooks (probes, file listings) run around wrapped calls
        self.overhead = 0.0

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}-{span.span_id}", span.name)

    def _count_jobs(self, span: Span) -> None:
        for job_id in self.tracker.getJobIdsForGroup(f"{self.run_id}-{span.span_id}"):
            info = self.tracker.getJobInfo(job_id)
            span.jobs += 1
            for stage_id in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(stage_id)
                if stage is not None:
                    span.stages += 1
                    span.tasks += stage.numCompletedTasks

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent.span_id if parent else None, self.run_id,
                 time.perf_counter(), attrs=dict(attrs))
        self._stack.append(s)
        self._group(s)
        self.overhead += time.perf_counter() - s.start
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(s)
            self._group(parent)
            self.spans.append(s)
            self.overhead += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span.

        ``after(span, result, args, kwargs)`` runs inside the span once
        the call returned; ``before(span, args, kwargs)`` before it.
        """
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                t0 = time.perf_counter()
                if before:
                    before(s, args, kwargs)
                t1 = time.perf_counter()
                result = original(*args, **kwargs)
                t2 = time.perf_counter()
                if after:
                    after(s, result, args, kwargs)
                self.overhead += (t1 - t0) + (time.perf_counter() - t2)
                return result

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- aggregation ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, span: Span, what: str) -> int:
        """A job count of a span and its descendants, probes excluded."""
        children = [c for c in self.spans if c.parent == span.span_id and not c.probe]
        return getattr(span, what) + sum(self.inclusive(c, what) for c in children)

    def net_seconds(self, span: Span) -> float:
        """Wall time of a span minus the probes that ran inside it."""
        inside = [c for c in self.spans if c.probe and span.start <= c.start and c.end <= span.end]
        return span.seconds - sum(c.seconds for c in inside)

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "span": s.span_id, "parent": s.parent, "run": s.run_id,
             "start": round(s.start, 6), "end": round(s.end, 6), "jobs": s.jobs,
             "stages": s.stages, "tasks": s.tasks, **s.attrs}
            for s in self.spans
        ]


def jvm_stats(spark) -> dict:
    """Peak RSS of the Spark JVM and its cumulative GC time."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    gc_ms = sum(
        max(0, b.getCollectionTime())
        for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    return {"peak_rss_mb": hwm_kb / 1024.0, "gc_s": gc_ms / 1000.0}
