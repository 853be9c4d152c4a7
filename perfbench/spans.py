"""Spans and counters recorded from outside the engine, plus Spark's own stats.

The benchmark never edits engine code to trace it.  It wraps public
functions where they are looked up (a module attribute, or a class
attribute for methods) and reads Spark's status store and streaming
progress.  Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    #: Wall time of child spans inside this one (for self time).
    child: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.child


class Tracer:
    """In-memory span recorder; spans nest per thread."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0,
                    stack[-1] if stack else None, self.run_id)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.perf_counter()
            if span.parent is not None:
                self.spans[span.parent].child += span.seconds

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_everywhere(self, fn, name: str, package: str) -> None:
        """Wrap ``fn`` in every loaded module of ``package`` that bound it
        by name (``from x import fn``), so every call site is seen."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def calls(self, name: str, since: float = 0.0) -> int:
        return sum(1 for s in self.spans if s.name == name and s.start >= since)

    def self_seconds(self, name: str, since: float = 0.0) -> float:
        return sum(s.self_seconds for s in self.spans
                   if s.name == name and s.start >= since)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id}) + "\n")


# --- Spark status store -----------------------------------------------------

#: Totals read from the status store, with their units.
SPARK_TOTALS = {"jobs": "count", "stages": "count", "tasks": "count",
                "executor_run_s": "s", "shuffle_read_mb": "mb",
                "shuffle_write_mb": "mb", "spill_mb": "mb"}


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_totals(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle and spill for the
    given jobs, read from the status store (last attempt of each stage)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_TOTALS, 0.0)
    seen: set[int] = set()
    mb = 1024.0 * 1024.0
    for jid in job_ids:
        out["jobs"] += 1
        job = store.job(int(jid))
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = int(ids.apply(i))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped: it never ran
                continue
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                       + st.shuffleLocalBytesRead()) / mb
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / mb
    return out


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    QueryExecution, forcing the physical plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total += phases.apply(name).durationMs()
    return total / 1000.0
