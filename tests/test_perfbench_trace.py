"""A traced benchmark run (``perfbench/run.py --trace 1``) wraps fatespark
internals by name where their callers look them up; a name that no longer
exists makes the traced run fail before its first op. Installing and
removing every wrap here catches that without building an index."""

import importlib.util
import os
import sys

import fatespark.local as local
import fatespark.query as query
import fatespark.wand as wand

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)  # puts perfbench/ on sys.path
    finally:
        sys.path[:] = saved
    return mod


def test_trace_wraps_resolve_and_unwrap():
    run = _load_run()
    owners = (local, local.LocalSearchIndex, local._RGIndex, query,
              wand.TermBlocks)
    before = [dict(vars(o)) for o in owners]
    tracer = run.Tracer()
    try:
        run.install_spans(tracer)
        assert tracer._undo, "no wrap installed"
    finally:
        tracer.unwrap_all()
    assert [dict(vars(o)) for o in owners] == before
