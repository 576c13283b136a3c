"""Spans around the benchmark's calls into the engine's layers.

A span is (name, start, end, parent, op). Spans stay in memory and are
written once, when the run ends. Nothing inside the engine is
instrumented: each span wraps one public call the benchmark makes, so
a layer's time here is the wall time of that call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def duration(self, name: str, op: int) -> float:
        """Total duration of the spans called ``name`` in op ``op``."""
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op == op)

    def self_time(self, name: str) -> dict[int, float]:
        """Per op: the duration of ``name`` spans minus the part their
        direct children cover (children never overlap: one client)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[int, float] = {}
        for i, s in enumerate(self.spans):
            if s.name == name:
                out[s.op] = out.get(s.op, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
