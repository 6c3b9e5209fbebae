"""Spans around the benchmark's calls into each engine layer.

A span records its name, start, end, parent span and operation id.
While it is open, the Spark job group is set to the span's id.  At the
end of the run, every Spark job is attributed to a span: by job group
when it has one, otherwise (jobs started from the engine's own worker
threads, which do not inherit the group) to the innermost span open
when the job was submitted.  The driver is single-threaded, so that
attribution is exact.  Spans stay in memory until ``write``.

``Tracer(None)`` is the untraced mode: ``span`` does nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "op", "phase", "parent", "start", "end",
                 "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid: int, name: str, op, phase, parent):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.phase = phase
        self.start = self.end = 0.0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "op": self.op,
                "phase": self.phase,
                "parent": self.parent.id if self.parent else None,
                "start": self.start, "end": self.end,
                "jobs": self.jobs, "stages": self.stages,
                "tasks": self.tasks, "failed_tasks": self.failed_tasks}


class Tracer:
    GROUP_PREFIX = "perfbench-span-"

    def __init__(self, spark_context):
        self.sc = spark_context
        self.enabled = spark_context is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0   # time spent in span bookkeeping
        self.phase = None       # the run phase new spans belong to

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op, self.phase, parent)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.GROUP_PREFIX + str(s.id), name)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.GROUP_PREFIX + str(parent.id),
                                    parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def attribute_jobs(self) -> None:
        """Read every job from the Spark status store and add its
        stage and task counts to its span and that span's ancestors."""
        if not self.enabled:
            return
        time.sleep(0.5)  # let the listener bus deliver the last events
        by_id = {self.GROUP_PREFIX + str(s.id): s for s in self.spans}
        store = self.sc._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            owner = by_id.get(grp.get()) if grp.isDefined() else None
            if owner is None:
                sub = j.submissionTime()
                if not sub.isDefined():
                    continue
                owner = self._innermost_at(sub.get().getTime() / 1000.0)
            node = owner
            while node is not None:
                node.jobs += 1
                node.stages += j.numCompletedStages()
                node.tasks += j.numCompletedTasks()
                node.failed_tasks += j.numFailedTasks()
                node = node.parent

    def _innermost_at(self, t: float):
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None
                                          or s.start >= best.start):
                best = s
        return best

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)

    def named(self, name: str, phases=None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (phases is None or s.phase in phases)]
