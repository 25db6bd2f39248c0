"""In-memory spans for one benchmark run.

Every timed region is a span: name, start, end and the id of the span
that contains it (run -> pass -> operation -> build / action / release).
Spans are always recorded, because the end-to-end timings are read from
them; a traced run also writes them out when it ends and adds
status-store counters to the operation spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        s = Span(len(self.spans), parent.id if parent else None, name,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its children cover."""
        covered, reach = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return span.seconds - covered

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"meta": meta,
                       "spans": [asdict(s) | {"self_s": self.self_seconds(s)}
                                 for s in self.spans]}, f)
