"""Spans around the benchmark's calls into each layer.

A span has a name, a start and an end (epoch seconds), the id of the
span that caused it and the id of the run it belongs to. Spans are kept
in memory and written as one JSON file when the benchmark ends. A
disabled tracer records nothing, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record the block as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        span = Span(len(self.spans), name, time.time(), 0.0,
                    self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished interval measured elsewhere, such as a
        micro-batch taken from a streaming progress record."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                Span(len(self.spans), name, start, end, parent, self.run_id, attrs)
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
