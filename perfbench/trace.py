"""In-memory spans around calls into the program's layers.

The traced run wraps the program's public functions at the names its
callers resolve them through (``patched``). A wrapper records a span
only while the calling thread carries an operation id (set by
``Tracer.op``), so operations run without an id pay one thread-local
lookup and nothing else; the benchmark alternates traced and untraced
operations to measure what tracing costs. Spans stay in memory until
``Tracer.write`` dumps them at exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: str
    name: str
    start: float
    end: float
    count: int | None = None  # e.g. result size, when the wrapper records one
    hook: float = 0.0  # time the tracer itself spent recording this span

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent_id is not None and s.parent_id in by_id:
            p = by_id[s.parent_id]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent_id, []).append((lo, hi))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []))
        for s in spans
    }


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    @contextlib.contextmanager
    def op(self, op_id: str | None, name: str = "op") -> Iterator[None]:
        """Root span of one operation on this thread; ``None`` runs the
        operation untraced."""
        if op_id is None:
            yield
            return
        self._local.op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._local.op = None

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None) -> Iterator[dict]:
        """Span around the body; the body may set ``count`` in the
        yielded dict."""
        op_id = op_id or self.current_op
        attrs: dict = {}
        if op_id is None:
            yield attrs
            return
        h0 = self.clock()
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = self.clock()
        try:
            yield attrs
        finally:
            end = self.clock()
            stack.pop()
            span = Span(sid, parent, op_id, name, start, end, attrs.get("count"))
            with self._lock:
                self.spans.append(span)
            span.hook = (start - h0) + (self.clock() - end)

    def wrap(self, fn: Callable, name: str,
             count: Callable[[object], int] | None = None) -> Callable:
        """``fn`` recording a span per traced call; ``count(result)``,
        when given, is stored on the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.current_op is None:
                return fn(*args, **kwargs)
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if count is not None:
                    attrs["count"] = count(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def hook_s(self, op_ids) -> float:
        """Time the tracer spent recording the spans of ``op_ids``."""
        ops = set(op_ids)
        return sum(s.hook for s in self.spans if s.op_id in ops)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@contextlib.contextmanager
def patched(target, attr: str, replacement) -> Iterator[None]:
    """Set ``target.attr`` for the duration, then restore it."""
    old = getattr(target, attr)
    setattr(target, attr, replacement)
    try:
        yield
    finally:
        setattr(target, attr, old)
