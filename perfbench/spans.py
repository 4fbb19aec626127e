"""In-memory spans around calls into the engine's layers.

A :class:`Tracer` replaces module or class attributes with timing
wrappers for the duration of a ``with`` block and restores them on
exit. Spans record (name, start, end, parent, run id); the driver is
single-threaded, so the parent is the innermost open span. Self time
is a span's duration minus its children's, so the self times of one
root span's tree add up to the root's duration.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run = ""
        self.active = False  # wrappers time calls only while True
        self.overhead_s = 0.0  # time spent recording spans
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, timed)

    def __enter__(self) -> "Tracer":
        return self

    def __exit__(self, *exc) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def totals(self, run: str) -> tuple[dict[str, float], dict[str, float]]:
        """(inclusive seconds, self seconds) per span name for one run.
        Inclusive time counts only the outermost span of a name, so a
        nested call of the same layer is not counted twice."""
        incl: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.run != run:
                continue
            own[s.name] += s.self_s
            p = s.parent
            while p is not None and self.spans[p].name != s.name:
                p = self.spans[p].parent
            if p is None:
                incl[s.name] += s.duration
        return dict(incl), dict(own)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run": s.run}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> None:
        t0 = time.perf_counter()
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        span = Span(self.name, 0.0, 0.0, parent, t.run)
        t.spans.append(span)
        t._stack.append(len(t.spans) - 1)
        span.start = time.perf_counter()
        t.overhead_s += span.start - t0

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self.tracer
        span = t.spans[t._stack.pop()]
        span.end = end
        if span.parent is not None:
            t.spans[span.parent].child_s += span.duration
        t.overhead_s += time.perf_counter() - end
