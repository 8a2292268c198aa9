"""In-memory spans around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, trace id). Spans opened on the
main thread are tagged with ``setJobGroup(<span id>)`` so event-log jobs
map back to them; spans opened inside the streaming sink (another thread)
map their jobs by time containment. Spans stay in memory until
``Tracer.dump`` at the end of the run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    tagged: bool


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    enabled = False

    def span(self, name: str, tag: bool = True, parent: Span | None = None):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, tag: bool = True, parent: Span | None = None):
        """``parent`` links a span opened on another thread (the streaming
        sink's) to the main-thread span that caused it."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = next(self._ids)
        trace = parent.trace if parent else sid
        s = Span(sid, name, time.time(), 0.0, parent.id if parent else None, trace, tag)
        stack.append(s)
        if tag:
            self._sc.setJobGroup(str(sid), name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if tag:
                outer = next((p for p in reversed(stack) if p.tagged), None)
                if outer is not None:
                    self._sc.setJobGroup(str(outer.id), outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = (s.end - s.start) - covered
    return out
