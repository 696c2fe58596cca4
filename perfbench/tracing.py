"""In-memory spans and counts recorded around the benchmark's calls into
each layer of the program.

Spans are kept in a list and written out once, when the run ends.
Each span has a name, start and end (``perf_counter`` seconds), the id
of the span that was open on the same thread when it started, and an
optional ``trace`` id shared by the spans of one operation (a batch
epoch, a query). A disabled tracer records nothing, so the untraced
runs that give the end-to-end metrics pay only a function call.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace: str | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), name, stack[-1].id if stack else None, trace, 0.0)
        stack.append(sp)
        with self._lock:
            self.spans.append(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - sp.end

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its direct children
        cover (children run on the caller's thread, so they nest)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_s[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "counts": dict(self.counts)},
                f,
            )
