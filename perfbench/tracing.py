"""In-memory spans recorded from the benchmark's side of the program's
public functions.

The program is not modified: the caller swaps a module attribute for
`Tracer.wrapper(fn, name)`, which opens a span around each call, and puts
the original back at the end. Functions the program imports
inside a function body are looked up on their module at call time, so
wrapping the defining module catches them; names a module binds at
import time are wrapped in that importing module.

Spans stay in memory (name, start, end, parent, run id) and are written
out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrapper(self, fn, name: str, after=None):
        """fn wrapped in a span. `after(result)` runs inside the span once
        the call returns (used to force plan analysis of returned
        DataFrames)."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        return wrapped

    def run_spans(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the time its
    direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.sid, 0.0)
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, summed over the outermost span of each
    name among `spans` (a name nested in itself is not counted twice)."""
    by_id = {s.sid: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        p = s.parent
        while p in by_id and by_id[p].name != s.name:
            p = by_id[p].parent
        if p not in by_id:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def under(spans: list[Span], ancestor: str) -> list[Span]:
    """Spans with an ancestor named `ancestor` among `spans`."""
    by_id = {s.sid: s for s in spans}
    keep = []
    for s in spans:
        p = s.parent
        while p in by_id and by_id[p].name != ancestor:
            p = by_id[p].parent
        if p in by_id:
            keep.append(s)
    return keep
