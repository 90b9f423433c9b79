"""Runtime tracing for the benchmark's traced mode.

`Tracer.patch` swaps a public function or method of a layer for a
wrapper that records one span per call: name, layer, start, end, parent
span, Spark jobs started and py4j round trips made while it ran. The
wrappers live only in the benchmark process and are removed by
`Tracer.restore`; no file of the program changes.

- py4j round trips: `send_command` on the py4j connection classes is
  wrapped once and counts every call, from any thread, except the
  tracer's own bookkeeping calls.
- Spark jobs: the Spark driver's job counter, read before and after the span,
  so jobs that pool threads start inside the span are counted too.
- Self time: a span's duration minus the part of it covered by its child
  spans (`self_times`). Spark is lazy, so the jobs a call forces are
  billed to that call, not to the call that built the plan.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def self_counts(spans: list[Span], attr: str) -> dict[int, int]:
    """span id -> its `attr` count minus its direct children's."""
    child_sum: dict[int, int] = {}
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0) + getattr(s, attr)
    return {s.id: getattr(s, attr) - child_sum.get(s.id, 0) for s in spans}


class Tracer:
    def __init__(self, job_counter=None):
        #: callable returning the id the next Spark job will get
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- counters ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _jobs(self) -> int:
        if self.job_counter is None:
            return 0
        self._local.internal = True
        try:
            return self.job_counter()
        finally:
            self._local.internal = False

    def count_py4j(self) -> None:
        if not getattr(self._local, "internal", False):
            with self._lock:
                self.py4j_calls += 1

    def instrument_py4j(self, *conn_classes) -> None:
        """Count every `send_command` on the given connection classes."""
        for cls in conn_classes:
            orig = cls.send_command

            def send_command(conn, *a, _orig=orig, **k):
                self.count_py4j()
                return _orig(conn, *a, **k)

            self._swap(cls, "send_command", send_command)

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        s = Span(sid, name, layer, stack[-1].id if stack else None, 0.0)
        jobs0, py4j0 = self._jobs(), self.py4j_calls
        s.start = time.perf_counter()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            s.jobs = self._jobs() - jobs0
            s.py4j = self.py4j_calls - py4j0
            with self._lock:
                self.spans.append(s)

    def patch(self, owner, attr: str, layer: str, on_call=None, under: str | None = None) -> None:
        """Replace `owner.attr` with a wrapper recording a span named
        `attr`. `on_call(span, args, kwargs, run)` may wrap the call
        itself (`run()` performs it and returns its result) to add
        attributes to the span. With `under`, only calls made while the
        innermost open span on this thread is of layer `under` get a
        span; others pass straight through."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if under is not None:
                stack = self._stack()
                if not stack or stack[-1].layer != under:
                    return orig(*args, **kwargs)
            with self.span(attr, layer) as s:
                run = functools.partial(orig, *args, **kwargs)
                if on_call is None:
                    return run()
                return on_call(s, args, kwargs, run)

        self._swap(owner, attr, wrapper)

    def _swap(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
