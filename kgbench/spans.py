"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id).  Spans are recorded by the
benchmark around its calls into each layer, so the program under test is
measured from outside; the Spark jobs of a span carry its job group, which
the event-log reader rolls stage metrics up by.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._sc = spark_context
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        """Record a span; with ``job_group``, Spark jobs started inside it
        carry that group (and the previous group is restored after)."""
        prev = None
        if job_group is not None and self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(job_group, name)
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), float("nan"),
                               self._stack[-1] if self._stack else None, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()
            if job_group is not None and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)

    def self_seconds(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part its children cover."""
        children = sum(s.seconds for s in self.spans if s.parent == idx)
        return self.spans[idx].seconds - children

    def total_self(self, name: str) -> float:
        """Self time summed over every span called ``name``."""
        return sum(self.self_seconds(i) for i, s in enumerate(self.spans) if s.name == name)

    def as_dicts(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {**asdict(s), "start": round(s.start - t0, 6), "end": round(s.end - t0, 6)}
            for s in self.spans
        ]
