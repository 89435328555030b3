"""In-memory spans and Spark job counters for the traced run.

A traced run wraps the public calls of each layer (see ``Tracer.wrap``)
so every call records a span: name, start, end, parent span and the id
of the request or batch it belongs to.  Spans stay in memory and are
written once, when the run ends.  A span's self time is its duration
minus the time its child spans cover.

With tracing off every method is a no-op, so the untraced run pays
nothing beyond one attribute check per call.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` around the body; ``op`` defaults to the
        enclosing span's request/batch id."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next += 1
            s = Span(self._next, name,
                     op if op is not None else (parent.op if parent else None),
                     parent.idx if parent else None, time.perf_counter(),
                     attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start

    def wrap(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanned version for this run.
        ``name`` is the span name, or a callable of the call's arguments
        returning it.  ``close`` restores the original."""
        orig = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as s:
                out = orig(*args, **kwargs)
                s.attrs["result"] = _summary(out)
                return out

        self.patch(owner, attr, spanned)

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Install ``replacement`` for ``owner.attr`` in traced runs only."""
        if not self.enabled:
            return
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up)."""
        with self._lock:
            self.spans.clear()

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries ---------------------------------------------------------

    def median_self(self, name: str) -> float:
        """Median over requests/batches of the summed self time of the
        spans called ``name``; calls outside any request or batch
        (verification) are left out, and 0.0 means the layer was not
        reached."""
        acc: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None:
                acc[s.op] = acc.get(s.op, 0.0) + s.self_s
        return statistics.median(acc.values()) if acc else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = s.self_s
                f.write(json.dumps(row, default=str) + "\n")


def _summary(out) -> object:
    """Small JSON-able record of a wrapped call's result."""
    if isinstance(out, (int, float, str)) or out is None:
        return out
    if isinstance(out, dict):
        return {k: v for k, v in out.items() if isinstance(v, (int, float, str))}
    if isinstance(out, list):
        return len(out)
    return type(out).__name__


class JobCounter:
    """Spark jobs, executed stages and tasks per operation, read from the
    status tracker with one job group per operation."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.per_op: list[dict[str, int]] = []

    @contextmanager
    def group(self, op: str, record: bool = True):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if record:
                self.per_op.append(self.count(op))

    @contextmanager
    def aside(self):
        """Run the body's jobs outside the current operation's group, so
        a probe the benchmark adds is not counted as the operation's."""
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup("probe", "probe")
        try:
            yield
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def count(self, op: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks + st.numFailedTasks
            out["failed_tasks"] += st.numFailedTasks
        return out

    def medians(self) -> dict[str, float]:
        if not self.per_op:
            return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        out = {k: statistics.median(c[k] for c in self.per_op)
               for k in ("jobs", "stages", "tasks")}
        out["failed_tasks"] = sum(c["failed_tasks"] for c in self.per_op)
        return out
