"""search_after cursor pagination: O(k)-per-page deep paging (the
Elasticsearch search_after contract) applied inside the per-bucket kernels.

Exactness oracle: paging with cursors must reproduce exactly the slices of
one big search — for AND, OR under every ``use_wand`` value, quantized
scores (tie-heavy), and on both readers.
"""

import numpy as np
import pytest

from fatespark.build import BuildConfig, IndexBuilder
from fatespark.local import LocalSearchIndex
from fatespark.query import SearchIndex
from fatespark import wand

WORDS = ["apple", "banana", "cherry", "date", "elder", "fig", "grape"]


def _text(i: int) -> str:
    # deterministic skewed mixture: apple frequent, grape rare
    toks = []
    for j in range(6 + i % 7):
        toks.append(WORDS[(i * 31 + j * j * 7 + j) % (1 + (i + j) % 7 if (i + j) % 11 else 7) % 7])
    if i % 3 == 0:
        toks.append("apple")
    if i % 17 == 0:
        toks.append("grape")
    return " ".join(toks)


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    d = str(tmp_root / "search_after_idx")
    rows = [(i, _text(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=0)).build(
        spark, df, id_col="doc_id", url_col="doc_id", text_col="text",
        build_id="sa")
    return SearchIndex(spark, d), LocalSearchIndex(d)


def _pages(idx, terms, k, n_pages, **kw):
    out, cursor = [], None
    for _ in range(n_pages):
        page = idx.search(terms, k=k, search_after=cursor, **kw)
        if hasattr(page, "collect"):
            rows = [(int(r["doc_id"]), float(r["score"]))
                    for r in page.collect()]
        else:
            rows = [(int(r.doc_id), float(r.score))
                    for r in page.itertuples()]
        if not rows:
            break
        out.extend(rows)
        cursor = (rows[-1][1], rows[-1][0])
    return out


@pytest.mark.parametrize("mode,use_wand", [("OR", False), ("OR", True),
                                           ("AND", False)])
def test_pages_equal_big_search(built, mode, use_wand):
    idx, _ = built
    terms = ["apple", "banana"]
    big = [(r["doc_id"], r["score"]) for r in
           idx.search(terms, k=100, mode=mode, use_wand=use_wand).collect()]
    paged = _pages(idx, terms, k=7, n_pages=9, mode=mode, use_wand=use_wand)
    assert paged == big[:len(paged)]
    assert len(paged) >= min(63, len(big)) - 6  # pages cover the run


def test_quantized_tie_groups(built):
    """Floor-quantize to 1 decimal so score ties are large — the cursor's
    doc_id tie-break must walk through a tie group exactly."""
    idx, _ = built
    terms = ["apple", "cherry"]
    big = [(r["doc_id"], r["score"]) for r in
           idx.search(terms, k=120, quantize=1).collect()]
    paged = _pages(idx, terms, k=5, n_pages=16, quantize=1)
    assert paged == big[:len(paged)]


def test_local_reader_parity(built):
    idx, loc = built
    terms = ["apple", "banana"]
    cursor = None
    for _ in range(5):
        sp = idx.search(terms, k=6, search_after=cursor).collect()
        lp = loc.search(terms, k=6, search_after=cursor)
        assert [(r["doc_id"], r["score"]) for r in sp] == \
            [(int(r.doc_id), float(r.score)) for r in lp.itertuples()]
        if not sp:
            break
        cursor = (sp[-1]["score"], sp[-1]["doc_id"])


def test_wand_pages_match_exhaustive_pages(built):
    idx, _ = built
    terms = ["apple", "banana", "grape"]
    pe = _pages(idx, terms, k=9, n_pages=6, mode="OR", use_wand=False)
    pw = _pages(idx, terms, k=9, n_pages=6, mode="OR", use_wand=True)
    assert pe == pw


def test_cursor_past_end_empty(built):
    idx, _ = built
    out = idx.search(["apple"], k=10, search_after=(-1.0, 1 << 60)).collect()
    assert out == []


def test_offset_conflict_raises(built):
    idx, loc = built
    with pytest.raises(ValueError):
        idx.search(["apple"], k=5, offset=5, search_after=(1.0, 3))
    with pytest.raises(ValueError):
        loc.search(["apple"], k=5, offset=5, search_after=(1.0, 3))


def test_kernel_after_mask_semantics():
    docs = np.array([1, 2, 3, 4], dtype=np.int64)
    scores = np.array([5.0, 4.0, 4.0, 3.0])
    m = wand.after_mask(docs, scores, (4.0, 2))
    assert m.tolist() == [False, False, True, True]
    d, s = wand.topk_select(docs, scores, 2, after=(5.0, 1))
    assert d.tolist() == [2, 3] and s.tolist() == [4.0, 4.0]
