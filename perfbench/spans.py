"""Spans around the package's public calls, recorded from outside it.

The tracer replaces attributes (module functions, class methods) with
timing wrappers and puts the originals back on ``restore``. Spans are
kept in memory and written out once, at the end of the run. A span's
``dur`` is the time the call was running; for a returned iterator it
also accumulates the time spent inside each ``next()``, so a lazy
stream's work is charged to the span that produced it.

Spark work is attributed to requests through job groups: the HTTP
handler wrapper puts the request id (``X-Request-Id``) in the thread's
job group, and ``Engine.query`` switches it to ``<rid>|plan`` while it
builds a plan, so jobs started during planning can be told apart.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

RID_HEADER = "X-Request-Id"
PLAN_SUFFIX = "|plan"


@dataclass
class Span:
    sid: int
    rid: str
    name: str
    start: float
    parent: Optional[int]
    thread: str
    dur: float = 0.0


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @property
    def rid(self) -> str:
        return getattr(self._tls, "rid", "-")

    def set_rid(self, rid: str) -> None:
        self._tls.rid = rid
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", rid)

    @contextmanager
    def _running(self, span: Span):
        stack = self._stack()
        stack.append(span)
        t = time.perf_counter()
        try:
            yield span
        finally:
            span.dur += time.perf_counter() - t
            stack.pop()

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        s = Span(next(self._ids), self.rid, name, time.perf_counter(),
                 stack[-1].sid if stack else None,
                 threading.current_thread().name)
        with self._lock:
            self.spans.append(s)
        with self._running(s):
            yield s

    def _iterate(self, it, span: Span):
        while True:
            with self._running(span):
                try:
                    item = next(it)
                except StopIteration:
                    return
            yield item

    def wrap(self, fn, name: str, plan: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            rid = tracer.rid
            if plan:
                tracer.set_rid(rid + PLAN_SUFFIX)
            try:
                with tracer.span(name) as s:
                    out = fn(*a, **k)
            finally:
                if plan:
                    tracer.set_rid(rid)
            if hasattr(out, "__next__"):
                return tracer._iterate(out, s)
            return out
        return traced

    # --------------------------------------------------------- patching
    def patch(self, owner, attr: str, name: str, plan: bool = False):
        own = vars(owner).get(attr)
        setattr(owner, attr, self.wrap(getattr(owner, attr), name,
                                       plan=plan))
        self._patched.append((owner, attr, own))

    def patch_handler(self, handler_cls) -> None:
        """Wrap an HTTP handler class so each request runs under its
        ``X-Request-Id`` and a ``server.request`` span."""
        tracer = self
        for verb in ("do_GET", "do_POST"):
            own = vars(handler_cls).get(verb)

            def traced(self, _orig=getattr(handler_cls, verb)):
                tracer.set_rid(self.headers.get(RID_HEADER, "-"))
                try:
                    with tracer.span("server.request"):
                        return _orig(self)
                finally:
                    tracer.set_rid("-")
            setattr(handler_cls, verb, traced)
            self._patched.append((handler_cls, verb, own))

    def restore(self) -> None:
        """Put back every replaced attribute (``None``: it was
        inherited, so the override is removed)."""
        for owner, attr, own in reversed(self._patched):
            if own is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patched.clear()

    # ---------------------------------------------------------- reading
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the durations of its children."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {s.sid: s.dur - child.get(s.sid, 0.0) for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def stage_totals(sc, job_group: str) -> dict:
    """Jobs, tasks, failed tasks, input records and shuffle bytes of
    every job Spark ran under ``job_group`` (skipped stages excluded:
    they reuse an earlier stage's output)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "input_records": 0,
           "shuffle_bytes": 0}
    for jid in tracker.getJobIdsForGroup(job_group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            seq = store.stageData(int(sid), False, jvm.java.util.ArrayList(),
                                  False, gw.new_array(jvm.double, 0))
            it = seq.iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["input_records"] += sd.inputRecords()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out
