"""LocalSearchIndex (pyarrow, no Spark jobs) must return IDENTICAL results
to the distributed SearchIndex — same kernels, same total order."""

import os

import pytest

from fatespark.build import BuildConfig, IndexBuilder
from fatespark.corpus import contacts_df, pages_df
from fatespark.local import LocalSearchIndex
from fatespark.query import SearchIndex


@pytest.fixture(scope="module")
def pages_idx(spark, tmp_root):
    d = str(tmp_root / "local_pages_idx")
    corpus = pages_df(spark, 4000, partitions=4)
    IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1)).build(
        spark, corpus, build_id="lp")
    return SearchIndex(spark, d), LocalSearchIndex(d)


@pytest.fixture(scope="module")
def contacts_idx(spark, tmp_root):
    d = str(tmp_root / "local_contacts_idx")
    IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=0)).build(
        spark, contacts_df(spark, 1500, partitions=4), id_col="id",
        url_col="id", text_cols=["first_name", "last_name"], build_id="lc")
    return SearchIndex(spark, d), LocalSearchIndex(d)


def _rows(df):
    if hasattr(df, "collect"):
        return [(r["doc_id"], r["score"]) for r in df.collect()]
    return list(zip(df["doc_id"].tolist(), df["score"].tolist()))


QUERIES = [
    (["the"], "OR", False),
    (["smith", "the"], "AND", False),
    (["smith", "jones"], "OR", False),
    (["the", "smith", "zyzzyva"], "OR", True),
    (["nosuchterm"], "OR", False),
]


@pytest.mark.parametrize("terms,mode,wand", QUERIES)
def test_search_matches_distributed(pages_idx, terms, mode, wand):
    dist, loc = pages_idx
    a = _rows(dist.search(terms, k=10, mode=mode, use_wand=wand))
    b = _rows(loc.search(terms, k=10, mode=mode, use_wand=wand))
    assert a == b


def test_counts_and_stats_match(pages_idx):
    dist, loc = pages_idx
    for t in ["the", "smith", "zyzzyva", "nosuchterm"]:
        assert loc.count(t) == dist.count(t), t
    assert loc.n_docs == dist.n_docs
    assert loc.avgdl == dist.avgdl


def test_prefix_matches_distributed(pages_idx):
    dist, loc = pages_idx
    assert loc.expand_prefix("fa") == dist.expand_prefix("fa")
    a = _rows(dist.search_prefix("fa", k=10, quantize=4))
    b = _rows(loc.search_prefix("fa", k=10, quantize=4))
    assert a == b


def test_pagination_matches(pages_idx):
    dist, loc = pages_idx
    a = _rows(dist.search(["the", "smith"], k=5, mode="OR", offset=5))
    b = _rows(loc.search(["the", "smith"], k=5, mode="OR", offset=5))
    assert a == b


def test_multifield_weights_match(contacts_idx):
    dist, loc = contacts_idx
    for terms, mode in [(["smith"], "OR"), (["james", "smith"], "AND")]:
        a = _rows(dist.search(terms, k=12, mode=mode, weights=[0.2, 1.0]))
        b = _rows(loc.search(terms, k=12, mode=mode, weights=[0.2, 1.0]))
        assert a == b
    assert loc.count("smith", field=1) == dist.count("smith", field=1)


def test_local_is_sparkless(pages_idx):
    # constructing + querying from the directory alone, no session handle
    _, loc = pages_idx
    out = loc.search(["the"], k=3, mode="OR")
    assert list(out.columns) == ["doc_id", "score"]
    assert len(out) == 3


def test_phrase_matches_distributed(pages_idx):
    dist, loc = pages_idx
    for phrase in ["big array", "the", "no such phrase here"]:
        a = _rows(dist.search_phrase(phrase, k=10))
        b = _rows(loc.search_phrase(phrase, k=10))
        assert a == b, phrase


def test_phrase_pagination_matches(pages_idx):
    dist, loc = pages_idx
    a = _rows(dist.search_phrase("big array", k=5, offset=2))
    b = _rows(loc.search_phrase("big array", k=5, offset=2))
    assert a == b


def test_count_occurrences_matches(pages_idx):
    dist, loc = pages_idx
    for t in ["the", "smith", "nosuchterm"]:
        assert loc.count_occurrences(t) == dist.count_occurrences(t), t


def test_with_url_matches(pages_idx, contacts_idx):
    dist, loc = pages_idx
    a = dist.search(["smith"], k=5, mode="OR", with_url=True).collect()
    b = loc.search(["smith"], k=5, mode="OR", with_url=True)
    assert [(r["doc_id"], r["url"]) for r in a] == \
        list(zip(b["doc_id"].tolist(), b["url"].tolist()))
    # nothing matches: an absent term, and an AND pair that shares no doc
    # (every contact has exactly one first name) keep the url column too
    for (dist, loc), terms in [(pages_idx, ["nosuchterm"]),
                               (contacts_idx, ["james", "mary"])]:
        a = dist.search(terms, k=5, mode="AND", with_url=True)
        b = loc.search(terms, k=5, mode="AND", with_url=True)
        assert a.columns == list(b.columns) == ["doc_id", "score", "url"]
        assert a.count() == len(b) == 0, terms


def test_index_stats_diagnostics(pages_idx, tmp_root):
    from fatespark.diagnostics import index_stats
    dist, _ = pages_idx
    s = index_stats(str(tmp_root / "local_pages_idx"))
    assert s["n_docs"] == dist.n_docs
    assert s["codec"] == "varint"
    assert s["n_postings"] > 0 and s["n_blocks"] > 0
    assert 0 < s["encoded_bytes_per_posting"] < 64
    assert s["head_terms"][0]["term"] == "the"
    assert s["head_terms"][0]["df"] == dist.count("the")
    assert s["chunks"]["done"] == 1
    assert s["pending_tombstones"] == 0
    assert s["bucket_skew"]["max_over_mean"] < 2.0
    assert s["snapshots"]["current_id"] == s["snapshots"]["n"] >= 1
    assert s["snapshots"]["operations"][-1]["op"] in ("build", "vacuum")
    # never compacted: no serving copy on disk
    assert s["serving"] is None
    assert s["disk_bytes"]["postings_local"] == 0


def test_matching_docs_matches_distributed(pages_idx):
    dist, loc = pages_idx
    for terms, mode in [(["the", "smith"], "OR"), (["the", "smith"], "AND"),
                        (["smith", "nosuchterm"], "AND"),
                        (["nosuchterm"], "OR")]:
        a = sorted(r["doc_id"] for r in
                   dist.matching_docs(terms, mode).collect())
        b = loc.matching_docs(terms, mode)["doc_id"].tolist()
        assert a == b, (terms, mode)


@pytest.mark.parametrize("mode,wand,kernel", [
    ("OR", False, "score_exhaustive_or"),
    ("OR", True, "score_bmw_or"),
    ("OR", "maxscore", "score_maxscore_or"),
    ("AND", False, "score_and"),
])
def test_one_kernel_call_per_query(pages_idx, monkeypatch, mode, wand,
                                   kernel):
    """A local query is one pass over all buckets: its multi-bucket index
    still costs exactly one scoring-kernel call."""
    import fatespark.local as local
    _, loc = pages_idx
    calls = []
    real = getattr(local, kernel)

    def spy(*args, **kwargs):
        calls.append(kernel)
        return real(*args, **kwargs)

    monkeypatch.setattr(local, kernel, spy)
    out = loc.search(["the", "smith"], k=10, mode=mode, use_wand=wand)
    assert len(out) == 10
    assert calls == [kernel]


def test_phrase_decodes_each_stream_once(pages_idx, monkeypatch):
    """Positions are decoded once per (field, term) across all buckets."""
    import fatespark.query as query
    _, loc = pages_idx
    seen = []
    real = query._decode_with_positions

    def spy(g, codec="varint"):
        seen.append(tuple(sorted(set(zip(g["field"].astype(int),
                                         g["term"])))))
        return real(g, codec)

    monkeypatch.setattr(query, "_decode_with_positions", spy)
    assert len(loc.search_phrase("big array", k=10))
    assert sorted(seen) == [((0, "array"),), ((0, "big"),)]


@pytest.fixture(scope="module")
def chunked_idx(spark, tmp_root):
    """Two build chunks (interleaved doc ranges per term), two fields
    (text, lang) and tombstoned deletes of top-ranked docs."""
    d = str(tmp_root / "local_chunked_idx")
    b = IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1))
    b.build(spark, pages_df(spark, 3000, partitions=4),
            text_cols=["text", "lang"], build_id="lch", n_chunks=2)
    dist = SearchIndex(spark, d)
    victims = sorted({r["doc_id"] for q in (["the", "smith", "big"],
                                            ["big", "array"])
                      for r in dist.search(q, k=4, mode="OR").collect()})
    b.delete_docs(spark, victims)
    loc = LocalSearchIndex(d)
    assert loc.tombstones is not None
    return SearchIndex(spark, d), loc, victims


CHUNKED_CASES = {
    "or": lambda ix: ix.search(["the", "smith", "big"], k=10, mode="OR"),
    "wand": lambda ix: ix.search(["the", "smith", "big"], k=10, mode="OR",
                                 use_wand=True),
    "maxscore": lambda ix: ix.search(["the", "smith", "big"], k=10,
                                     mode="OR", use_wand="maxscore"),
    "and": lambda ix: ix.search(["the", "big"], k=10, mode="AND"),
    "exclude": lambda ix: ix.search(["the", "big"], k=10, mode="OR",
                                    exclude="smith"),
    "filter": lambda ix: ix.search(["the", "smith"], k=10, mode="OR",
                                   filter_terms=["ru", "de"],
                                   filter_field=1),
    "lmd": lambda ix: ix.search(["the", "big"], k=10, mode="OR",
                                similarity="lmd"),
    "near": lambda ix: ix.search_near(["big", "array"], 3, k=10),
    "span_within": lambda ix: ix.search_span_within("array", "big array",
                                                    k=10),
    "phrase": lambda ix: ix.search_phrase("big array", k=10),
    # every scalar the planner computes, one case each
    "boosts": lambda ix: ix.search(["the", "smith", "big"], k=10, mode="OR",
                                   boosts={"smith": 2.5, "big": 0.5}),
    "weights_text_only": lambda ix: ix.search(["the", "big", "de"], k=10,
                                              mode="OR",
                                              weights=[1.0, 0.0]),
    "weights_mixed": lambda ix: ix.search(["the", "big", "de"], k=10,
                                          mode="OR", weights=[0.5, 2.0]),
    "classic": lambda ix: ix.search(["the", "big"], k=10, mode="OR",
                                    similarity="classic"),
    "bm25plus": lambda ix: ix.search(["the", "big"], k=10, mode="OR",
                                     similarity="bm25plus"),
    "lmjm": lambda ix: ix.search(["the", "big"], k=10, mode="OR",
                                 similarity="lmjm"),
    "quantize": lambda ix: ix.search(["the", "smith", "big"], k=10,
                                     mode="OR", quantize=1),
    "wand_exclude_filter": lambda ix: ix.search(
        ["the", "smith", "big"], k=10, mode="OR", use_wand=True,
        exclude="array", filter_terms=["ru", "de"], filter_field=1),
    # every positional query family, and the phrase scorer's options
    "span_first": lambda ix: ix.search_span_first("the big", 30, k=10),
    "span_not": lambda ix: ix.search_span_not("the big", "of", k=10,
                                              pre=2, post=1),
    "span_containing": lambda ix: ix.search_span_containing(
        ["the big", "smith the"], "the", k=10),
    "phrase_prefix": lambda ix: ix.search_phrase_prefix("the bi", k=10),
    "phrases_any": lambda ix: ix.search_phrases_any(
        ["the big", "smith the"], k=10),
    "phrase_weights": lambda ix: ix.search_phrase("the big", k=10,
                                                  weights=[1.0, 0.0]),
    "phrase_quantize": lambda ix: ix.search_phrase("the big", k=10,
                                                   quantize=1),
    "phrase_offset": lambda ix: ix.search_phrase("the big", k=10,
                                                 offset=2),
}


@pytest.mark.parametrize("case", sorted(CHUNKED_CASES))
def test_chunked_tombstoned_parity(chunked_idx, case):
    dist, loc, victims = chunked_idx
    a = _rows(CHUNKED_CASES[case](dist))
    b = _rows(CHUNKED_CASES[case](loc))
    assert a, "fixture must produce matches"
    assert a == b
    assert not set(victims) & {d for d, _ in b}


@pytest.mark.parametrize("phrase,prefix", [
    ("the big", False), ("the bi", True), ("arr", True)])
def test_chunked_count_phrase_parity(chunked_idx, phrase, prefix):
    """Pending deletes send every count through the span matcher, the
    single-token prefix one with an uncapped expansion."""
    dist, loc, _ = chunked_idx
    n = dist.count_phrase(phrase, prefix=prefix)
    assert n > 0
    assert loc.count_phrase(phrase, prefix=prefix) == n


def test_chunked_tombstoned_search_after(chunked_idx):
    dist, loc, _ = chunked_idx
    cursor = None
    for _ in range(3):
        a = _rows(dist.search(["the", "big"], k=4, mode="OR",
                              use_wand=True, search_after=cursor))
        b = _rows(loc.search(["the", "big"], k=4, mode="OR",
                             use_wand=True, search_after=cursor))
        assert a and a == b
        cursor = (a[-1][1], a[-1][0])


BAD_INPUT = {
    "k": lambda ix: ix.search(["the", "big"], k=-1, mode="OR"),
    "offset": lambda ix: ix.search(["the", "big"], k=5, mode="OR",
                                   offset=-2),
    "mode": lambda ix: ix.search(["the", "big"], k=5, mode="XOR"),
    "prefix": lambda ix: ix.search_prefix("bi", k=-1),
    "near": lambda ix: ix.search_near(["big", "array"], 3, k=-1),
    "phrase": lambda ix: ix.search_phrase("big array", k=-1),
    "span": lambda ix: ix.search_span_within("array", "big array", k=5,
                                             offset=-1),
    "many": lambda ix: ix.search_many({"q": ["the", "big"]}, k=5,
                                      mode="XOR"),
    # nothing matches: the window is still checked
    "phrase_nomatch": lambda ix: ix.search_phrase("zzznope", k=-1),
    "span_nomatch": lambda ix: ix.search_span_first("zzznope big", 5,
                                                    offset=-1),
    "enclosure_nomatch": lambda ix: ix.search_span_within(
        "array", "zzznope", k=-1),
}


@pytest.mark.parametrize("reader,case", [
    (r, c) for r in ("SearchIndex", "LocalSearchIndex") for c in BAD_INPUT
    if not (r == "LocalSearchIndex" and c == "many")])
def test_invalid_search_input_raises(chunked_idx, reader, case):
    """A negative k or offset, or a mode other than AND/OR, raises
    ValueError on either reader instead of running."""
    dist, loc, _ = chunked_idx
    ix = dist if reader == "SearchIndex" else loc
    with pytest.raises(ValueError):
        out = BAD_INPUT[case](ix)
        if hasattr(out, "collect"):
            out.collect()


# -- serving copy (IndexBuilder.compact_local) --------------------------------

@pytest.fixture(scope="module")
def compacted_chunked(spark, tmp_root, chunked_idx):
    """A copy of ``chunked_idx`` with its serving copy written, next to the
    uncompacted original (whose reader builds the layout at open)."""
    import shutil
    dist, loc, victims = chunked_idx
    d = str(tmp_root / "local_chunked_compacted")
    shutil.copytree(dist.index_dir, d)
    IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1)).compact_local(spark)
    return dist, loc, LocalSearchIndex(d), victims


@pytest.mark.parametrize("case", sorted(CHUNKED_CASES))
def test_compacted_parity(compacted_chunked, case):
    dist, loc, comp, victims = compacted_chunked
    a = _rows(CHUNKED_CASES[case](dist))
    assert a, "fixture must produce matches"
    assert _rows(CHUNKED_CASES[case](loc)) == a
    assert _rows(CHUNKED_CASES[case](comp)) == a
    assert not set(victims) & {d for d, _ in a}


def test_compacted_search_after(compacted_chunked):
    dist, loc, comp, _ = compacted_chunked
    cursor = None
    for _ in range(3):
        kw = dict(k=4, mode="OR", use_wand=True, search_after=cursor)
        a = _rows(dist.search(["the", "big"], **kw))
        assert a
        assert _rows(loc.search(["the", "big"], **kw)) == a
        assert _rows(comp.search(["the", "big"], **kw)) == a
        cursor = (a[-1][1], a[-1][0])


def test_compacted_reads_slices_only(compacted_chunked, monkeypatch):
    """A compacted reader opens the file without rebuilding it, and its
    queries neither scan parquet row groups nor re-block a stream."""
    import fatespark.local as local
    import fatespark.serving as serving
    from fatespark.wand import TermBlocks
    dist, _, comp, _ = compacted_chunked

    def boom(*args, **kwargs):
        raise AssertionError("not on the serving path")

    monkeypatch.setattr(TermBlocks, "_reblock", boom)
    monkeypatch.setattr(local._RGIndex, "read", boom)
    monkeypatch.setattr(serving, "build", boom)
    fresh = LocalSearchIndex(comp.index_dir)
    for case in sorted(CHUNKED_CASES):
        assert _rows(CHUNKED_CASES[case](fresh)) == \
            _rows(CHUNKED_CASES[case](comp)), case
    assert fresh.count("the") == dist.count("the")
    assert fresh.count_prefix("bi") == dist.count_prefix("bi")
    assert fresh.expand_prefix("bi") == dist.expand_prefix("bi")
    assert fresh.matching_docs(["big", "array"], "AND")["doc_id"].tolist() \
        == sorted(r["doc_id"] for r in
                  dist.matching_docs(["big", "array"], "AND").collect())


def test_index_stats_reports_serving_copy(compacted_chunked):
    from fatespark.diagnostics import index_stats
    _, _, comp, _ = compacted_chunked
    s = index_stats(comp.index_dir)
    sv = s["serving"]
    assert sv["n_postings"] == s["n_postings"]
    # one stream per (term, field): far fewer blocks than bucket x salt
    assert 0 < sv["n_blocks"] < s["n_blocks"]
    assert 0 < sv["bytes_per_posting"] < 64
    assert sv["current"]
    assert s["disk_bytes"]["postings_local"] == sv["bytes"]


def _top(ix, terms=("the", "smith"), k=5):
    return _rows(ix.search(list(terms), k=k, mode="OR"))


def test_rebuild_in_place_drops_stale_copy(spark, tmp_root):
    """Rebuilding an index in place must not leave the local reader on the
    previous build's serving copy — neither the one compact_local wrote
    nor a copy that survives on disk."""
    import shutil
    d = str(tmp_root / "local_rebuilt_idx")
    b = IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1))
    b.build(spark, pages_df(spark, 2400, partitions=4), build_id="r1")
    b.compact_local(spark)
    old = str(tmp_root / "local_rebuilt_old_copy")
    shutil.copytree(os.path.join(d, "postings_local"), old)
    b.build(spark, pages_df(spark, 1200, partitions=4), build_id="r2")
    dist = SearchIndex(spark, d)
    loc = LocalSearchIndex(d)
    assert loc.n_docs == dist.n_docs == 1200
    assert _top(loc) == _top(dist)
    # a copy stamped at an older snapshot is ignored, not served
    shutil.rmtree(os.path.join(d, "postings_local"), ignore_errors=True)
    shutil.copytree(old, os.path.join(d, "postings_local"))
    assert _top(LocalSearchIndex(d)) == _top(dist)


def test_compact_local_publishes_atomically(spark, tmp_root, monkeypatch):
    """A compaction that fails partway leaves no half-written copy: the
    reader keeps answering exactly as SearchIndex does, from the previous
    copy if there is one, else from the layout built at open."""
    import hashlib
    import pyarrow.parquet as pq
    import fatespark.serving as serving
    d = str(tmp_root / "local_atomic_idx")
    b = IndexBuilder(d, BuildConfig(n_buckets=4, salt_bits=1))
    b.build(spark, pages_df(spark, 1500, partitions=4), build_id="at")
    dist = SearchIndex(spark, d)
    want = _top(dist)
    real = pq.ParquetFile.iter_batches

    def one_then_fail(self, *args, **kwargs):
        for rb in real(self, *args, **kwargs):
            yield rb
            raise OSError("writer died mid-copy")

    def failing_compact():
        with monkeypatch.context() as m:
            m.setattr(pq.ParquetFile, "iter_batches", one_then_fail)
            with pytest.raises(OSError, match="mid-copy"):
                b.compact_local(spark)
        assert os.listdir(os.path.dirname(serving.path(d))) == (
            [serving.FILENAME] if os.path.exists(serving.path(d)) else [])
        assert not [n for n in os.listdir(d) if n.startswith(
            serving.DIRNAME + "_tmp")]

    failing_compact()
    assert not os.path.exists(serving.path(d))
    assert _top(LocalSearchIndex(d)) == want

    b.compact_local(spark)
    digest = hashlib.sha256(open(serving.path(d), "rb").read()).hexdigest()
    failing_compact()
    assert hashlib.sha256(
        open(serving.path(d), "rb").read()).hexdigest() == digest
    assert _top(LocalSearchIndex(d)) == want
