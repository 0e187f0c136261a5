"""Spans around the calls the benchmark makes into the engine.

A span records name, start, end, parent and call id (the id of its
root span). While a span is open its id is the Spark job group, so the
jobs a call starts are attributed to the innermost open span; their
stage, task, shuffle and SQL-execution figures are read from the
status stores once the root span closes. Spans stay in memory and
``dump`` writes them to a side file at the end of the run.

Calls the engine makes internally (``knn_search`` inside
``VectorTable.search_numpy``, the IVF helpers inside ``IVFIndex``) are
reached by wrapping the module attribute the engine looks them up
from; no engine code changes.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time

# newest SQL executions scanned per call; one engine call starts far fewer
_SQL_WINDOW = 200


class Span:
    __slots__ = ("id", "name", "parent", "call", "start", "end", "children",
                 "jobs", "stages", "tasks", "shuffle_bytes", "exec_ms")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.parent = parent
        self.call = parent.call if parent is not None else sid
        self.start = time.perf_counter()
        self.end = None
        self.children: list[Span] = []
        self.jobs: list[int] = []
        self.stages = self.tasks = self.shuffle_bytes = 0
        self.exec_ms = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    @property
    def self_ms(self) -> float:
        # children of one span run one after another, never overlapping
        return self.ms - sum(c.ms for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, attr: str):
        return sum(getattr(s, attr) for s in self.walk())

    @property
    def n_jobs(self) -> int:
        return sum(len(s.jobs) for s in self.walk())

    def find(self, name: str) -> list["Span"]:
        return [s for s in self.walk() if s.name == name]


class Tracer:
    """``enabled=False`` makes every span a no-op. ``active`` switches
    recording per operation inside a traced run, so traced and
    untraced calls of the same kind interleave and their latency
    difference measures the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._sql_before = self._last_execution_id()
        s = Span(next(self._ids), name, parent)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"vecbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"vecbench-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._collect(s)
                self.roots.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        """Route ``module.attr`` through a span named ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- status stores ---------------------------------------------------

    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _recent_executions(self) -> list:
        self._jsc().listenerBus().waitUntilEmpty()
        store = self._sql_store()
        n = int(store.executionsCount())
        window = min(n, _SQL_WINDOW)
        if window == 0:
            return []
        execs = store.executionsList(n - window, window)
        return [execs.apply(i) for i in range(execs.size())]

    def _last_execution_id(self) -> int:
        recent = self._recent_executions()
        return max((int(e.executionId()) for e in recent), default=-1)

    def _collect(self, root: Span) -> None:
        jsc = self._jsc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        for s in root.walk():
            s.jobs = sorted(tracker.getJobIdsForGroup(f"vecbench-{s.id}"))
            for j in s.jobs:
                jd = store.job(j)
                s.stages += int(jd.numCompletedStages())
                s.tasks += int(jd.numCompletedTasks())
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(int(sid))
                    except Exception:  # skipped stages have no attempt
                        continue
                    s.shuffle_bytes += int(st.shuffleWriteBytes())
        # SQL executions started during the call
        for e in self._recent_executions():
            done = e.completionTime()
            if int(e.executionId()) > self._sql_before and done.isDefined():
                root.exec_ms += done.get().getTime() - e.submissionTime()

    # -- output ----------------------------------------------------------

    def dump(self, path: str, extra: dict) -> None:
        def rec(s: Span) -> dict:
            return {
                "id": s.id, "name": s.name,
                "parent": s.parent.id if s.parent else None, "call": s.call,
                "start_s": s.start, "end_s": s.end,
                "ms": s.ms, "self_ms": s.self_ms, "jobs": s.jobs,
                "stages": s.stages, "tasks": s.tasks,
                "shuffle_bytes": s.shuffle_bytes, "exec_ms": s.exec_ms,
            }

        spans = [rec(s) for r in self.roots for s in r.walk()]
        self_ms: dict[str, float] = {}
        for r in self.roots:
            for s in r.walk():
                self_ms[s.name] = self_ms.get(s.name, 0.0) + s.self_ms
        with open(path, "w") as f:
            json.dump({**extra, "self_ms_by_span": self_ms, "spans": spans}, f, indent=1)
