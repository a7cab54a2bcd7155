"""In-memory spans recorded from the benchmark's own calls into the
engine's layers, plus per-operation Spark job/stage/task counts.

One *operation* span (query, commit, reopen, compaction, build, setup)
is the root of each request; its children are the layer calls made for
it (``dsl.search`` = the ``search*()`` call that plans, ``search.collect``
= execution, ``build.save``, ``deltas.save_delta``, ``deltas.load`` ...).
Spans stay in memory and are written out once, when the run ends.

With tracing off every method is a no-op, so untraced runs pay one
attribute lookup and an empty context manager per boundary.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from typing import Dict, List, Optional

_NULL = contextlib.nullcontext()


class SparkCounter:
    """Spark jobs/stages/tasks of one operation, read from the status
    tracker. Jobs the operation starts from its own thread carry its job
    group; jobs the library starts from helper threads carry no group
    and are attributed to the operation only when it runs alone
    (``serial=True``)."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()

    def _ungrouped(self) -> set:
        return set(self.st.getJobIdsForGroup(None))

    def begin(self, group: str, serial: bool):
        self.sc.setJobGroup(group, group, interruptOnCancel=False)
        return self._ungrouped() if serial else None

    def end(self, group: str, before: Optional[set]) -> Dict[str, int]:
        ids = set(self.st.getJobIdsForGroup(group))
        if before is not None:
            ids |= self._ungrouped() - before
        self.sc.setJobGroup("", "", interruptOnCancel=False)
        stages = tasks = 0
        for j in ids:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for sid in list(info.stageIds):
                stages += 1
                si = self.st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}


class Tracer:
    def __init__(self, enabled: bool, counter: Optional[SparkCounter] = None):
        self.enabled = enabled
        self.counter = counter
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _record(self, name: str, op: bool, serial: bool, attrs: dict):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        span = {"id": sid, "name": name,
                "parent": parent["id"] if parent else None,
                "op": sid if op else (parent["op"] if parent else sid),
                "thread": threading.get_ident()}
        span.update(attrs)
        before = None
        if op and self.counter is not None:
            before = self.counter.begin("op-%d" % sid, serial)
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            if op and self.counter is not None:
                span["spark"] = self.counter.end("op-%d" % sid, before)
            with self._lock:
                self.spans.append(span)

    def op(self, name: str, serial: bool = True, **attrs):
        """Root span of one operation; counts its Spark work."""
        if not self.enabled:
            return _NULL
        return self._record(name, True, serial, attrs)

    def span(self, name: str, **attrs):
        """A layer call inside the current operation."""
        if not self.enabled:
            return _NULL
        return self._record(name, False, False, attrs)

    # -- analysis -------------------------------------------------------

    def self_times(self) -> Dict[str, List[float]]:
        """Self time (ms) of every span, grouped by span name: duration
        minus the time its direct children cover (children of one span
        run on its thread, one after another)."""
        child_ms: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = (child_ms.get(s["parent"], 0.0)
                                         + (s["end"] - s["start"]) * 1e3)
        out: Dict[str, List[float]] = {}
        for s in self.spans:
            d = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
            out.setdefault(s["name"], []).append(d)
        return out

    def durations(self, name: str) -> List[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name]

    def spark_per_op(self, name: str) -> Dict[str, float]:
        ops = [s["spark"] for s in self.spans
               if s["name"] == name and "spark" in s]
        if not ops:
            return {}
        return {k: statistics.fmean(o[k] for o in ops) for k in ops[0]}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")
