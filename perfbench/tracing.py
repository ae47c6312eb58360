"""In-memory spans around calls into the engine's modules.

A :class:`Tracer` wraps module functions from the outside (the engine
code is not edited): while tracing is on, each call records a span of
name, start, end, parent span and op id.  Spans stay in memory and are
written out once, when the run ends.  Per-layer self time is derived
from them afterwards: a span's duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans; does nothing while ``enabled`` is false."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, value: str | None) -> None:
        self._local.op = value

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper for the rest of the
        run.  Patch every module that bound the function by name, since
        ``from x import f`` copies the reference."""
        setattr(module, attr, self.wrap(name, getattr(module, attr)))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        stack = self.tracer._stack()
        self.span_id = next(self.tracer._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.span_id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.spans.append(
            Span(self.span_id, self.name, self.start, end, self.parent,
                 self.tracer.op)
        )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent, so overlapping or overhanging children are
    not subtracted twice)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.span_id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span], ops: set[str] | None = None) -> dict[str, float]:
    """Summed self time per span name, over spans of the given ops."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if ops is None or s.op in ops:
            out[s.name] += st[s.span_id]
    return dict(out)
