"""Spans around the engine's public entry points, recorded from outside.

A traced run patches the listed functions with wrappers that record a span
(name, start, end, parent, request id) and run the wrapped call under a
Spark job group named after the span, so every Spark job is attributed to
the innermost span that submitted it. Spans stay in memory; `harvest`
reads job and stage records from the driver's status store once the run
is over. An untraced run patches nothing.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; `enabled=False` makes every method a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, name, parent.sid if parent else None,
                  rid or (parent.rid if parent else f"r{sid}"), time.perf_counter())
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None, site: bool = False) -> None:
        """Replace owner.attr with a spanned wrapper; `on_result(span,
        result)` may tag the span from the return value, and `site` records
        the caller's file:line (the first frame outside PySpark)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if site:
                    sp.attrs["site"] = call_site(sys._getframe(1))
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def call_site(frame) -> str:
    while frame is not None and f"{os.sep}pyspark{os.sep}" in frame.f_code.co_filename:
        frame = frame.f_back
    if frame is None:
        return "?"
    return f"{os.path.basename(frame.f_code.co_filename)}:{frame.f_lineno}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            if cur_end is None or c.start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c.start, c.end
            else:
                cur_end = max(cur_end, c.end)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.dur - covered
    return out


@dataclass
class Job:
    jid: int
    group: str | None
    name: str
    ms: float
    tasks: int = 0
    shuffle_bytes: int = 0
    gc_ms: int = 0


def harvest(spark, timeout_s: float = 30.0) -> list[Job]:
    """Every job the session ran, with its stages' task counts, shuffle
    write bytes and GC time, read from the driver's status store after the
    active jobs have drained. A stage shared by several jobs counts once,
    for the first job that lists it."""
    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    sl = store.stageList(gw.jvm.java.util.ArrayList(), False, False,
                         gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
    for i in range(sl.size()):
        s = sl.apply(i)
        key = s.stageId()
        rec = stages.setdefault(key, [0, 0, 0])
        rec[0] += s.numTasks()
        rec[1] += s.shuffleWriteBytes()
        rec[2] += s.jvmGcTime()
    jobs, seen = [], set()
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        grp = j.jobGroup()
        sub, comp = j.submissionTime(), j.completionTime()
        ms = (comp.get().getTime() - sub.get().getTime()) if sub.isDefined() and comp.isDefined() else 0.0
        job = Job(j.jobId(), grp.get() if grp.isDefined() else None, j.name(), float(ms))
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            job.tasks += stages[sid][0]
            job.shuffle_bytes += stages[sid][1]
            job.gc_ms += stages[sid][2]
        jobs.append(job)
    return sorted(jobs, key=lambda j: j.jid)


def jobs_by_span(jobs: list[Job]) -> dict[int, list[Job]]:
    out: dict[int, list[Job]] = {}
    for j in jobs:
        if j.group and j.group.startswith("span-"):
            out.setdefault(int(j.group[5:]), []).append(j)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """root and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def spark_totals(jobs: list[Job]) -> dict[str, float]:
    return {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "spark.shuffle_mb": sum(j.shuffle_bytes for j in jobs) / 1e6,
        "spark.gc_s": sum(j.gc_ms for j in jobs) / 1e3,
    }


def dump(path: str, spans: list[Span], jobs: list[Job]) -> None:
    """Write spans and jobs as JSON lines (one record a line)."""
    import json

    t0 = min((s.start for s in spans), default=0.0)
    with open(path, "w") as fh:
        for s in sorted(spans, key=lambda s: s.start):
            fh.write(json.dumps({
                "span": s.sid, "name": s.name, "parent": s.parent, "rid": s.rid,
                "start_ms": round((s.start - t0) * 1e3, 3),
                "end_ms": round((s.end - t0) * 1e3, 3), **s.attrs,
            }) + "\n")
        for j in jobs:
            fh.write(json.dumps({
                "job": j.jid, "group": j.group, "call_site": j.name, "ms": j.ms,
                "tasks": j.tasks, "shuffle_bytes": j.shuffle_bytes, "gc_ms": j.gc_ms,
            }) + "\n")
