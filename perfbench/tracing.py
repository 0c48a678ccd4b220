"""Benchmark-side spans around calls into the program's layers.

A span records name, start, end, parent and run id. Spark jobs started
inside a span carry the span's job group, so the event log attributes
their tasks to it (see ``eventlog.py``). Spans stay in memory and are
written out once, when the run ends. Nothing inside the package is
instrumented: every span wraps a public call made from this directory.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    run_id: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def timed(fn):
    """(fn(), seconds it took)."""
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


class Tracer:
    def __init__(self, spark_context):
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run_id: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{run_id}/{name}"
        s = Span(name, run_id, group, parent.name if parent else None, time.monotonic())
        self._stack.append(s)
        self._sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered = sum(
            c.wall_s for c in self.spans
            if c.run_id == s.run_id and c.parent == s.name
        )
        return max(0.0, s.wall_s - covered)

    def write(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_seconds(s)) for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=1)
