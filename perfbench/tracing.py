"""Spans, per-request Spark job counts and the percentile helper.

A span records a name, start, end, parent span and request id. The
benchmark opens spans only around its own calls into the engine's
public functions; nothing inside the package is instrumented. Spans are
kept in memory and written as JSON lines when the run ends.

Timing is the same code path with tracing on or off: a span always
measures its own duration, so the untraced run reads its latencies from
the very same ``Span`` objects. Tracing only decides whether spans are
kept and whether each request runs under its own Spark job group, whose
job, stage and task counts are read from the status tracker once the
run's Spark work is over.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100); NaN when empty."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def median(values) -> float:
    return pct(values, 50)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "req", "attrs")

    def __init__(self, sid, name, parent, req, attrs):
        self.id, self.name, self.parent, self.req = sid, name, parent, req
        self.attrs = attrs
        self.start = time.perf_counter()
        self.end = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "req": self.req,
                **self.attrs}


class Tracer:
    def __init__(self, enabled: bool):
        self.sc = None  # the SparkContext, once the session is up
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._req = None
        self._n_req = 0
        self.groups: dict[int, str] = {}  # request id -> job group
        self.source = "setup"  # the run phase a new span belongs to

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self._req,
                 {"source": self.source, **attrs})
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed elsewhere (on a worker thread), kept as a root."""
        s = Span(len(self.spans), name, None, None, {"source": self.source, **attrs})
        s.start, s.end = start, end
        if self.enabled:
            self.spans.append(s)

    @contextmanager
    def request(self, kind: str):
        """A root span for one client request. Traced, its Spark jobs
        run under a job group of their own."""
        self._n_req += 1
        self._req = self._n_req
        if self.enabled:
            group = f"perfbench-req-{self._req}"
            self.groups[self._req] = group
            self.sc.setJobGroup(group, kind)
        try:
            with self.span("request", kind=kind) as s:
                yield s
        finally:
            if self.enabled:
                self.sc.setJobGroup("perfbench-other", "between requests")
            self._req = None

    def job_counts(self) -> dict[int, dict]:
        """(jobs, stages, tasks, failed_tasks) per traced request. Call
        after the last Spark action: it first waits for the listener
        bus, so every task end has reached the status store."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # the bus API is internal; settle by waiting
            time.sleep(2.0)
        st = self.sc.statusTracker()
        out = {}
        for req, group in self.groups.items():
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    # a skipped stage (shuffle output reused) ran no task
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            out[req] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                        "failed_tasks": failed}
        return out

    def children_ms(self, span: Span) -> float:
        """Wall time of ``span`` covered by its direct children (one
        client thread, so siblings never overlap)."""
        return sum(c.ms for c in self.spans if c.parent == span.id)

    def write(self, path: str, counts: dict[int, dict]) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = s.as_dict()
                if s.name == "request" and s.req in counts:
                    d.update(counts[s.req])
                d["self_ms"] = s.ms - self.children_ms(s)
                f.write(json.dumps(d) + "\n")
