"""Spans around the calls the benchmark makes into the engine.

A span records its wall interval and sets the Spark job group
``bench:<workload>:<label>:<call>`` for its thread while it is open, so
every event-log stage can be attributed to the innermost span that
submitted it. Spans nest per thread; a span opened on a thread with no
open span (an orchestrator pool thread) takes the ambient parent, the
span that was open when :meth:`Tracer.ambient` was entered.

With ``enabled=False`` every method is a cheap no-op: the untraced run
executes exactly the same benchmark code path minus the bookkeeping.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    label: str
    call: str
    t0: float
    t1: float = 0.0
    unit: int = -1

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.unit = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ambient: int | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def group(self, label: str, call: str) -> str:
        return f"bench:{self.workload}:{label}:{call}"

    @contextlib.contextmanager
    def span(self, label: str, call: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1].sid if stack else self._ambient
        with self._lock:
            sp = Span(len(self.spans), parent, label, call, 0.0,
                      unit=self.unit)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(self.group(label, call), label)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    @contextlib.contextmanager
    def ambient(self, sp: Span | None):
        """Make ``sp`` the parent of spans opened on threads that have
        no open span of their own (the orchestrator's pool)."""
        if sp is None:
            yield
            return
        prev, self._ambient = self._ambient, sp.sid
        try:
            yield
        finally:
            self._ambient = prev

    def wrap(self, fn, label: str, call: str = ""):
        if not self.enabled:
            return fn

        def traced(*a, **k):
            with self.span(label, call):
                return fn(*a, **k)

        return traced

    # -- reading the record ---------------------------------------------
    def of_unit(self, unit: int) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]


class TracedTable:
    """A ``ParquetMaintainedTable`` whose public methods each run in a
    ``lake.<method>`` span. Attributes and private helpers pass
    through untouched, so the engine sees the real object's state."""

    def __init__(self, table, tracer: Tracer, name: str):
        object.__setattr__(self, "_table", table)
        object.__setattr__(self, "_tracer", tracer)
        object.__setattr__(self, "_name", name)

    def __getattr__(self, attr):
        val = getattr(self._table, attr)
        if attr.startswith("_") or not callable(val):
            return val
        return self._tracer.wrap(val, f"lake.{attr}", self._name)

    def __setattr__(self, attr, val):
        setattr(self._table, attr, val)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[a, b)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(sp: Span, pool: list[Span]) -> float:
    """The span's duration minus the time its child spans cover."""
    kids = [(max(c.t0, sp.t0), min(c.t1, sp.t1))
            for c in pool if c.parent == sp.sid]
    return sp.dur - union_seconds([k for k in kids if k[1] > k[0]])
