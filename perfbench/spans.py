"""Spans recorded from outside the program.

``Tracer.wrap`` replaces a callable where its caller looks it up, and
restores it on ``unwrap_all``. A span is ``(name, start, end, parent, op)``:
parent is the index of the enclosing span (-1 at the root) and op the id of
the benchmark op it belongs to. Spans stay in memory, in flat arrays that
the garbage collector does not scan, and are written out once, at exit.
Counter hooks run inside their own ``trace.counters`` span, so the cost of
counting is kept out of the layer it describes.
"""

from __future__ import annotations

import functools
import json
import time
from array import array
from collections import defaultdict

COUNTERS = "trace.counters"


class Tracer:
    """Span and counter recorder for one thread."""

    def __init__(self) -> None:
        self.counts: dict[str, float] = defaultdict(float)
        self.op = -1
        self._names: list[str] = []
        self._start = array("d")
        self._end = array("d")
        self._parent = array("q")
        self._op = array("q")
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @property
    def spans(self) -> list[tuple]:
        return list(zip(self._names, self._start, self._end, self._parent,
                        self._op))

    def begin(self, name: str) -> int:
        i = len(self._names)
        self._names.append(name)
        self._parent.append(self._stack[-1] if self._stack else -1)
        self._op.append(self.op)
        self._end.append(0.0)
        self._start.append(time.perf_counter())
        self._stack.append(i)
        return i

    def end(self, i: int) -> None:
        self._end[i] = time.perf_counter()
        self._stack.pop()

    def add(self, counter: str, value: float) -> None:
        self.counts[counter] += value

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Record a ``name`` span around every call of ``owner.attr``.
        ``before(args)`` runs ahead of the call and its result goes to
        ``after(state, args, out)``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = None
            if before is not None:
                j = tracer.begin(COUNTERS)
                state = before(args)
                tracer.end(j)
            i = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(i)
            if after is not None:
                j = tracer.begin(COUNTERS)
                after(state, args, out)
                tracer.end(j)
            return out

        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for name, s, e, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")


def self_times(spans: list[tuple]) -> list[float]:
    """Each span's duration minus the part of it that its children cover.
    Children of one span never overlap (one thread), but they are merged as
    intervals anyway and clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _, s, e, parent, _ in spans:
        if parent >= 0:
            kids[parent].append((s, e))
    out = []
    for i, (_, s, e, _, _) in enumerate(spans):
        covered, reach = 0.0, s
        for cs, ce in sorted(kids.get(i, ())):
            cs, ce = max(cs, reach), min(ce, e)
            if ce > cs:
                covered += ce - cs
                reach = ce
        out.append((e - s) - covered)
    return out


def self_time_by_name(spans: list[tuple]) -> dict[str, float]:
    """Total self seconds per span name."""
    out: dict[str, float] = defaultdict(float)
    for span, t in zip(spans, self_times(spans)):
        out[span[0]] += t
    return dict(out)
