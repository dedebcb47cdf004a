"""In-memory spans around calls into the engine's public functions.

A span has a name, start and end (epoch seconds), a parent and the run
id. While a span is open, Spark jobs submitted from the driver thread
carry its id as their job group, so event-log jobs and stages map back
onto spans. Spans are kept in memory and written out once, when the run
ends."""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import union_length


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its children
    (overlapping children are counted once; parts outside the span are
    ignored)."""
    return span.wall - union_length(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    )


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body,
    so untraced runs pay nothing and set no job groups."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}/{next(self._ids)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        else:
            sc.setJobGroup(sp.id, sp.name)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [
            {**asdict(s), "self_s": self_time(s, self.children(s))}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)
