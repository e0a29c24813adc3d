"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer: its name, start, end and the span that
was open when it began (its parent). Spans are kept in a list while the
run goes on and written out once, at the end, so recording stays cheap.
A layer's self time is its span's duration minus the time its direct
child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int  # sid of the enclosing span, -1 at the top level

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans from one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = Span(sid, name, time.perf_counter(), 0.0, parent)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, name: str, fn, count=None):
        """*fn* with every call recorded as a span called *name*; with
        *count*, ``count(result)`` is added to ``counts[name]``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if count is not None:
                self.counts[name] = self.counts.get(name, 0) + count(result)
            return result

        return traced

    def totals(self) -> dict[str, tuple[int, float]]:
        """name -> (number of spans, summed duration in seconds)."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            n, t = out.get(s.name, (0, 0.0))
            out[s.name] = (n + 1, t + s.duration)
        return out

    def self_times(self) -> dict[str, float]:
        """name -> summed self time (duration minus direct children)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child_time[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration - child_time[s.sid]
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "start": s.start - t0,
                            "end": s.end - t0,
                            "parent": s.parent,
                        }
                    )
                    + "\n"
                )
