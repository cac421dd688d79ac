"""In-memory span recorder for traced benchmark runs.

A span wraps one call into an engine layer, made from the benchmark's own
code. While it is open, its id is the Spark job group, so every Spark job
the call launches can be attributed to it from the event log afterwards
(census.py). Spans nest: a child's job group replaces its parent's until
the child closes. With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None          # foreground op (request / pass / batch) index
    start_ms: float         # epoch milliseconds, comparable to event times
    end_ms: float
    rows: int = 0           # work the caller attaches, e.g. rows embedded


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled and sc is not None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.op: int | None = None
        # set by the workload around untraced work: warm-up, and every
        # second op so the traced run can measure its own overhead
        self.paused = False

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", f"span {sid}")

    @contextmanager
    def span(self, name: str, rows: int = 0):
        if not self.enabled or self.paused:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            t1 = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(Span(sid, name, parent, self.op, t0, t1, rows))

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)]
