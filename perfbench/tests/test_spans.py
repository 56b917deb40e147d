"""Span bookkeeping and self-time arithmetic."""

import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import COUNTERS, Tracer, self_time_by_name, self_times  # noqa


def test_self_time_subtracts_nested_children():
    #   root [0, 10]
    #     a  [1, 4]      b [5, 9]
    #     a1 [2, 3]      b1 [6, 7]   b2 [7, 8.5]
    spans = [("root", 0.0, 10.0, -1, 0),
             ("a", 1.0, 4.0, 0, 0), ("a1", 2.0, 3.0, 1, 0),
             ("b", 5.0, 9.0, 0, 0), ("b1", 6.0, 7.0, 3, 0),
             ("b2", 7.0, 8.5, 3, 0)]
    assert self_times(spans) == [3.0, 2.0, 1.0, 1.5, 1.0, 1.5]
    # self times partition the root span
    assert sum(self_times(spans)) == 10.0


def test_self_time_merges_overlap_and_clips_to_parent():
    spans = [("p", 0.0, 10.0, -1, 0), ("c", 2.0, 6.0, 0, 0),
             ("d", 4.0, 12.0, 0, 0)]
    assert self_times(spans)[0] == 2.0


def test_same_name_spans_sum():
    spans = [("op", 0.0, 6.0, -1, 0), ("x", 1.0, 2.0, 0, 0),
             ("x", 3.0, 5.0, 0, 0), ("op", 6.0, 7.0, -1, 1)]
    assert self_time_by_name(spans) == {"op": 4.0, "x": 3.0}


def test_wrap_records_nesting_counters_and_restores():
    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    t = Tracer()
    seen = []
    t.wrap(mod, "inner", "in", before=lambda a: a[0],
           after=lambda st, a, out: seen.append((st, out)))
    t.wrap(mod, "outer", "out")
    t.op = 5
    assert mod.outer(3) == 8
    assert seen == [(3, 4)]
    names = [s[0] for s in t.spans]
    assert names == ["out", COUNTERS, "in", COUNTERS]
    parents = [s[3] for s in t.spans]
    assert parents == [-1, 0, 0, 0]
    assert {s[4] for s in t.spans} == {5}
    t.unwrap_all()
    assert mod.inner is inner and mod.outer is outer


def test_span_closes_when_the_call_raises():
    mod = types.SimpleNamespace(f=lambda: 1 / 0)
    t = Tracer()
    t.wrap(mod, "f", "f")
    try:
        mod.f()
    except ZeroDivisionError:
        pass
    (name, s, e, parent, _), = t.spans
    assert name == "f" and e >= s and parent == -1
    assert t.begin("next") == 1 and t.spans[1][3] == -1
