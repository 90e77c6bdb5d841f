"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, op). Spans are recorded around
the benchmark's own calls into each layer; Spark job intervals are added
afterwards as child spans (see ``ledger.py``). Nothing is written until
``dump`` at the end of the run. A disabled tracer records nothing and its
``span`` context costs one attribute check.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # wall spent inside the recorder itself: the tracing overhead
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(sid, name, time.time(), 0.0, parent, op))
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self.spans[sid].end = time.time()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> None:
        """Record a finished span (a Spark job interval, for instance)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, parent, op))

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {s.id: self_time(s.start, s.end, kids.get(s.id, [])) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [dict(asdict(s), self_s=round(selfs[s.id], 6)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh)
