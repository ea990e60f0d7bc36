"""In-memory spans around the benchmark's own calls into each layer.

A span records name, start, end, parent and run id. Spans are kept in
memory and written out once, when the run ends. With tracing off the
same ``Span`` objects still time each call (the end-to-end metrics need
those durations) but nothing is recorded.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float          # epoch seconds, comparable with Spark event times
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    id: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # one monotonic clock for every span, anchored once to the epoch
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(name, self.now(), parent=parent, run_id=self.run_id, attrs=attrs)
        if self.enabled:
            s.id = len(self.spans)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.now()
            if self.enabled:
                self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.duration - covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
