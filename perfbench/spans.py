"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark around its own calls into each layer's
public functions; the engine itself carries no tracing. A span holds a
name, start and end (``perf_counter_ns``), its parent span and a trace id
shared by every span of one request, micro-batch or curation pass. Spans
stay in memory and are written out once, when the run ends.

A disabled tracer records nothing: ``span`` then costs one attribute test,
so the untraced runs execute the same benchmark code.
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
    parent: int | None
    trace: str
    name: str
    start_ns: int
    end_ns: int

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        tid = trace if trace is not None else (parent[1] if parent else str(sid))
        stack.append((sid, tid))
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent[0] if parent else None, tid, name, start, end))

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def mean_ms(self, name: str) -> float:
        spans = self.by_name(name)
        return sum(s.ms for s in spans) / len(spans) if spans else 0.0

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0, s.start_ns
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start_ns):
                lo, hi = max(c.start_ns, cur_end), min(c.end_ns, s.end_ns)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] += (s.end_ns - s.start_ns - covered) / 1e6
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
