"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and end (``time.time()`` seconds), the span that
caused it and free-form attributes. Spans are kept in a list and written out
once, when the run ends. A span's self time is its duration minus the part
of its interval covered by its children.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
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
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> None:
        """Record a span measured elsewhere (a micro-batch, from its progress)."""
        if self.enabled:
            pid = parent.id if parent is not None else None
            self.spans.append(Span(len(self.spans), pid, name, start, end, dict(attrs)))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, end), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    end = b
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
