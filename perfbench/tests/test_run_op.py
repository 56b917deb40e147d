"""The serving adapter turns every result frame into a comparable list."""

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import queries  # noqa: E402
import run  # noqa: E402


class _Index:
    """Answers every search with a fixed frame."""

    def __init__(self, frame):
        self.frame = frame

    def search(self, *args, **kwargs):
        return self.frame


def test_empty_result_without_url_column_is_empty_answer():
    # LocalSearchIndex returns (doc_id, score) only when nothing matches,
    # even with with_url=True
    empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                          "score": pd.array([], dtype="float64")})
    op = queries.Op("search", ("a", "b"), "and", with_url=True)
    assert run.run_op(_Index(empty), op) == []


def test_hits_keep_url_column():
    hits = pd.DataFrame({"doc_id": [3, 1], "score": [2.0, 1.0],
                         "url": ["u3", "u1"]})
    op = queries.Op("search", ("a",), "or", with_url=True)
    assert run.run_op(_Index(hits), op) == [(3, 2.0, "u3"), (1, 1.0, "u1")]
    op = queries.Op("search", ("a",), "or")
    assert run.run_op(_Index(hits), op) == [(3, 2.0), (1, 1.0)]
