"""Query planning and execution shared by both readers, and the
driver-local reader that runs them with no Spark jobs, so query latency is
milliseconds instead of the ~0.3 s Spark scheduling floor.

``plan_search`` compiles ``search`` options once against a reader's
statistics: it validates them and returns a ``Plan`` with the query,
exclude and filter term sets, every (term, field) stream's scalar
(field weight x idf x boost) and similarity spec, and the kernel options.
``execute`` runs a plan over a mapping (term, field) -> block rows: it
applies the filter, exclude and tombstone restrictions (``restrict``),
builds ``TermBlocks`` and picks the scoring kernel (``score_streams``).
``LocalSearchIndex`` calls it once per query over every bucket's rows;
``SearchIndex``'s per-bucket scorers (``_score_buckets``, so also
``federate.search_federated``; ``search_near``; ``search_many``, for the
kernel choice) call it once per bucket. Spark-only statistics (the
filtered-subset rebase, federated global df/avgdl) enter the planner as
``global_stats``.

Positional queries (phrase, phrase prefix, phrases-any, span
first/not/within/containing, ``count_phrase``) have their own planner and
matcher. ``plan_spans`` validates the page, the positions gate and the
span options, drops the variants (token sequences, from
``_phrase_variants``/``_spanor_variants``) that the dictionary cannot
match and returns a ``SpanPlan`` with the scan terms; ``plan_phrase_count``
answers ``count_phrase`` from the dictionary where it can. ``positions``
decodes a (term, field) -> block rows mapping into field -> term ->
postings with positions, and ``match_spans`` turns that into (doc_id,
field, tf, dl) match rows; ``near_docs`` is the proximity window test
over the same decode. Each reader's ``_span_matches`` runs the matcher:
once over every bucket's rows locally, once per bucket in Spark's
``applyInPandas``. The readers differ only in the pseudo-term scorer that
ranks the matches: numpy locally, a JVM expression on Spark.

This is the Spark-era analogue of the reference's in-memory readers
(``lib/suffix_array_reader.rb:97-113`` loads header + inline suffixes once,
then answers in µs): open once, then ``count``/``search``/``search_prefix``
answer from memory. Use it for interactive lookups against small/medium
indexes or a hot shard; the distributed ``SearchIndex`` path is the one that
scales to the full corpus (both produce IDENTICAL results — tested).

At open the reader loads the ``terms/`` table into sorted arrays (term
stats, counts and prefix/fuzzy expansion are ``searchsorted`` lookups) and
memory-maps the serving copy (``fatespark.serving``): one doc-ordered
stream per (term, field), blocked at 128 postings, sorted by
(term, field, first_doc). A query's postings are row slices of that file —
no row-group scan, no filter, no query-time re-block. Run
``IndexBuilder.compact_local(spark)`` once after a build to write the copy;
without a copy for the snapshot being read (never compacted, a stale copy,
a pinned ``snapshot_id``/``as_of``), the reader builds the same layout in
memory at open. Tombstones apply at query time. ``use_wand=True`` uses the
same interval-at-a-time block-vectorized BMW kernel as the distributed
scorer."""

from __future__ import annotations

import math

import glob
import os
from typing import NamedTuple

import numpy as np
import pandas as pd

from . import serving
from .analysis import ANALYZERS, ascii_fold
from .oracle import idf as idf_fn
from .wand import (TermBlocks, score_and, score_bmw_or, score_dismax,
                   score_exhaustive_or, score_maxscore_or, score_or_msm,
                   score_or_must)

SIMILARITIES = ("bm25", "classic", "lmd", "lmjm", "bm25plus")


def _fold_terms(query: str | list[str], analyzer: str) -> list[str]:
    """Query terms -> index-ready terms: every term runs through the SAME
    analyzer the index was built with (fold + tokenize + stem for stemming
    analyzers), the reference's prepared-term discipline
    (``lib/suffix_array_reader.rb:116,128``)."""
    tok, _ = ANALYZERS[analyzer]
    parts = [query] if isinstance(query, str) else [t for t in query if t]
    raw = [t for p in parts for t in tok(p)]
    return sorted({ascii_fold(t) for t in raw})


def _sq(x: float) -> float:
    return x * x


def _term_blocks_from_pdf(g, idf: float, avgdl: float = 0.0,
                          codec: str = "varint",
                          sim: tuple | None = None) -> TermBlocks:
    """One stream's ``TermBlocks`` from its block rows: a pandas frame, or
    any mapping of block columns to arrays (``serving.Rows``)."""
    return TermBlocks(
        idf, g["first_doc"], g["last_doc"], g["n"], g["max_tf"],
        g["min_dl"], list(g["docs"]), list(g["tfs"]), list(g["dls"]),
        avgdl=avgdl, codec=codec, sim=sim)


# -- query plan and executor, shared by both readers ------------------------

class Plan(NamedTuple):
    """One compiled ``search``: which streams to read, each stream's
    scalar and similarity, the doc-set restrictions and the kernel.
    ``plan_search`` builds it from a reader's statistics; ``execute`` runs
    it over every bucket at once (``LocalSearchIndex``) or over one bucket
    (``SearchIndex``'s per-bucket scorers). It holds no reader, so a Spark
    closure ships it to the executors as is."""
    terms: list[str]        # scored query terms found in the dictionary
    exclude: frozenset      # NOT-terms found in the dictionary
    filter: frozenset       # filter terms found in the dictionary
    filter_field: int | None
    idfs: dict              # (term, field) -> weight * idf * boost
    sims: dict | None       # (term, field) -> similarity spec; None: bm25
    avgdl: float            # the kernels' fallback length norm
    field_avgdl: dict       # field -> avgdl
    codec: str
    mode: str
    k: int                  # hits each kernel call returns: k + offset
    use_wand: bool | str
    qmul: float | None      # quantize multiplier
    after: tuple | None     # search_after cursor (score, doc_id)
    msm: int | None
    dismax_tie: float | None
    must: frozenset

    def scan_terms(self) -> list[str]:
        """Every term whose streams the executor reads."""
        return sorted(set(self.terms) | self.exclude | self.filter)


def check_page(k: int, offset: int = 0, mode: str = "OR") -> None:
    """Reject a result window or boolean mode that no reader answers."""
    if mode not in ("AND", "OR"):
        raise ValueError(f"mode must be AND|OR, got {mode!r}")
    if k < 0 or offset < 0:
        raise ValueError(f"k and offset must be >= 0 (k={k}, "
                         f"offset={offset})")


def plan_search(ix, query: str | list[str], k: int = 10, mode: str = "AND",
                offset: int = 0, use_wand: bool | str = False,
                quantize: int | None = None,
                weights: list[float] | None = None,
                exclude: str | list[str] | None = None,
                filter_terms: str | list[str] | None = None,
                filter_field: int | None = None,
                boosts: dict[str, float] | None = None,
                search_after: tuple[float, int] | None = None,
                similarity: str = "bm25", mu: float = 2000.0,
                jm_lambda: float = 0.7, delta: float = 1.0,
                min_should_match: int | None = None,
                must_terms: str | list[str] | None = None,
                combine: str = "sum", tie_breaker: float = 0.0,
                stats: dict | None = None,
                global_stats=None) -> Plan | None:
    """Validate ``search`` options (see ``SearchIndex.search``) and compile
    them against reader ``ix`` — either reader: its ``analyzer``,
    ``term_stats``, ``n_docs``, ``n_fields``, ``avgdl``, ``field_avgdl``,
    ``field_sumdl`` and ``codec_name``. Returns None when no document can
    match.

    ``stats`` is a ``term_stats`` result that covers the query
    (``search_many`` looks its whole batch up once). ``global_stats`` is
    called as ``global_stats(filter_terms, filter_field, terms)`` with the
    dictionary-resolved terms and returns ``(n_docs, avgdl, field_avgdl,
    {(term, field): df})``, which replace the reader's own statistics: the
    filtered-subset rebase (``SearchIndex._rebase_stats``) or federated
    global statistics. Streams whose df is 0 there are dropped."""
    check_page(k, offset, mode)
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually "
                         "exclusive (cursor pages replace offsets)")
    if similarity not in SIMILARITIES:
        raise ValueError("similarity must be " + "|".join(SIMILARITIES))
    msm = int(min_should_match) if min_should_match else None
    if msm is not None and msm <= 1:
        msm = None
    if msm is not None:
        if mode != "OR":
            raise ValueError("min_should_match requires mode='OR'")
        if use_wand:
            raise ValueError("min_should_match is exhaustive-only "
                             "(WAND bounds ignore the match floor)")
    if combine not in ("sum", "dismax", "cross_fields"):
        raise ValueError("combine must be sum|dismax|cross_fields")
    dismax_tie = None
    if combine != "sum":
        if mode != "OR" or use_wand or msm is not None:
            raise ValueError(f"combine={combine!r} requires mode='OR', no "
                             "use_wand, no min_should_match")
        dismax_tie = float(tie_breaker)
    if combine == "cross_fields" and (similarity != "bm25"
                                      or global_stats is not None):
        raise ValueError("combine='cross_fields' requires bm25 without "
                         "rebase_stats")
    if similarity != "bm25" and global_stats is not None:
        raise ValueError("rebase_stats currently supports bm25 only")
    mterms = _fold_terms(must_terms, ix.analyzer) if must_terms else []
    if mterms and (mode != "OR" or use_wand or msm is not None
                   or dismax_tie is not None):
        raise ValueError("must_terms requires mode='OR' without "
                         "use_wand/min_should_match/dismax")
    qterms = _fold_terms(query, ix.analyzer)
    xterms = _fold_terms(exclude, ix.analyzer) if exclude else []
    fterms = _fold_terms(filter_terms, ix.analyzer) if filter_terms else []
    if stats is None:
        stats = ix.term_stats(qterms + xterms + fterms)
    present = [t for t in qterms if t in stats]
    if not present or (mode == "AND" and len(present) < len(qterms)):
        return None
    if mterms:
        if set(mterms) - set(qterms):
            raise ValueError("must_terms must be among the query terms")
        if set(mterms) - set(present):
            return None             # a required term matches nothing
    fpresent = sorted({t for t in fterms if t in stats})
    if fterms and not fpresent:
        return None                 # the filter matches no dictionary term
    n_docs, avgdl, favg = ix.n_docs, ix.avgdl, ix.field_avgdl
    dfs = None
    if global_stats is not None:
        n_docs, avgdl, favg, dfs = global_stats(fpresent, filter_field,
                                                present)
        if not n_docs:
            return None
    w = list(weights) if weights is not None else [1.0] * ix.n_fields
    # boost keys run through the SAME analyzer as query terms (fold +
    # tokenize + stem): on a stemming index boosts={'running': 2.0}
    # must land on the scored term 'run', not silently no-op
    bmap = {t: float(bv) for bt, bv in (boosts or {}).items()
            for t in _fold_terms(bt, ix.analyzer)}
    keys = [(t, f) for t in present for f in stats[t]
            if f < len(w) and w[f] != 0.0
            and (dfs is None or dfs.get((t, f), 0) > 0)]
    blend: dict[str, int] | None = None
    if combine == "cross_fields":
        # BlendedTermQuery: one df per term, the max across the queried
        # (non-zero-weight) fields, feeds every field stream's idf
        blend = {}
        for t, f in keys:
            blend[t] = max(blend.get(t, 0), stats[t][f]["df"])
        keys = [(t, f) for t, f in keys if blend[t] > 0]

    def df(t: str, f: int) -> int:
        if blend is not None:
            return blend[t]
        return stats[t][f]["df"] if dfs is None else dfs[(t, f)]

    # (term, field) -> field weight * idf * boost: the stream's full
    # scalar (an unboosted term multiplies by exactly 1.0: bit-identical)
    if similarity == "classic":
        # Lucene ClassicSimilarity: contribution =
        # (weight * idf_c^2 * boost) * sqrt(tf)/sqrt(dl),
        # idf_c = 1 + ln(N / (df + 1)); explicit c*c, not **2: the SQL
        # twin multiplies the two factors, and pow(x, 2.0) is not
        # guaranteed bit-equal to x*x
        idfs = {(t, f): w[f]
                * _sq(1.0 + math.log(n_docs / (df(t, f) + 1.0)))
                * bmap.get(t, 1.0) for t, f in keys}
    elif similarity in ("lmd", "lmjm"):
        # LM smoothing models: idf-free; p(w|C) rides the sim spec
        idfs = {(t, f): w[f] * bmap.get(t, 1.0) for t, f in keys}
    else:
        idfs = {(t, f): w[f] * idf_fn(n_docs, df(t, f)) * bmap.get(t, 1.0)
                for t, f in keys}
    scored = {t for t, _ in idfs}
    if not idfs or (mode == "AND" and len(scored) < len(qterms)) \
            or (msm is not None and len(scored) < msm):
        return None
    if similarity == "classic":
        sims = {kk: ("classic",) for kk in idfs}
    elif similarity == "bm25plus":
        # BM25+ (Lv & Zhai 2011): contribution =
        # (weight * idf * boost) * (bm25_part(tf, dl) + delta)
        sims = {kk: ("bm25plus", float(delta)) for kk in idfs}
    elif similarity in ("lmd", "lmjm"):
        smooth = float(mu if similarity == "lmd" else jm_lambda)
        sims = {(t, f): (similarity, smooth, stats[t][f]["cf"]
                         / max(ix.field_sumdl.get(f, 0.0), 1.0))
                for t, f in idfs}
    else:
        sims = None
    return Plan(
        terms=present,
        exclude=frozenset(t for t in xterms if t in stats),
        filter=frozenset(fpresent), filter_field=filter_field,
        idfs=idfs, sims=sims, avgdl=avgdl, field_avgdl=favg,
        codec=ix.codec_name, mode=mode, k=k + offset, use_wand=use_wand,
        qmul=float(10 ** quantize) if quantize else None,
        after=None if search_after is None
        else (float(search_after[0]), int(search_after[1])),
        msm=msm, dismax_tie=dismax_tie, must=frozenset(mterms))


def stream_docs(rows, codec: str) -> np.ndarray:
    """Sorted doc ids of one (term, field) stream's block rows."""
    return _term_blocks_from_pdf(rows, 0.0, 0.0, codec).decode_all()[0]


def doc_set(rows, terms, codec: str,
            field: int | None = None) -> np.ndarray | None:
    """Sorted ids of the docs holding any of ``terms`` (in ``field``, if
    given) in ``rows``, a mapping (term, field) -> block rows; None when
    ``rows`` has no such stream."""
    parts = [stream_docs(g, codec) for (t, f), g in rows.items()
             if t in terms and (field is None or f == field)]
    return np.unique(np.concatenate(parts)) if parts else None


def restrict(rows, plan: Plan, tombstones,
             keep: np.ndarray | None = None) -> dict | None:
    """``TermBlocks`` of every scored stream in ``rows`` (a mapping
    (term, field) -> block rows: ``serving.Rows`` or a pandas group),
    restricted to the docs that may rank: docs holding an exclude term and
    ``tombstones`` (sorted ids) drop; with a filter, or ``keep`` (sorted
    ids), only those docs stay. Empty streams drop. None when the filter
    matches no doc in ``rows``. Exclude streams never score; a filter
    term may both filter and score."""
    allowed = keep
    if plan.filter:
        allowed = doc_set(rows, plan.filter, plan.codec, plan.filter_field)
        if allowed is None:
            return None
        if keep is not None:
            allowed = np.intersect1d(allowed, keep, assume_unique=True)
    drop = tombstones
    excl = doc_set(rows, plan.exclude, plan.codec) if plan.exclude else None
    if excl is not None:
        drop = excl if drop is None else np.union1d(drop, excl)
    by_tf = {}
    for key, g in rows.items():
        if key[0] in plan.exclude or key not in plan.idfs:
            continue
        tb = _term_blocks_from_pdf(
            g, plan.idfs[key], plan.field_avgdl.get(key[1], plan.avgdl),
            plan.codec, sim=None if plan.sims is None else plan.sims[key])
        if drop is not None:
            tb = tb.without_docs(drop)
        if allowed is not None:
            tb = tb.keep_docs(allowed)
        if tb.total:
            by_tf[key] = tb
    return by_tf


def score_streams(by_tf: dict, plan: Plan,
                  k: int) -> tuple[np.ndarray, np.ndarray]:
    """(docs, scores): the top ``k`` of ``plan``'s kernel over restricted
    streams ``by_tf`` ((term, field) -> TermBlocks). Streams sum in
    ascending (term, field) order in every kernel, so one call over all
    buckets equals the merge of per-bucket calls bit for bit."""
    keys = sorted(by_tf)
    terms = sorted({t for t, _ in keys})
    if not keys or (plan.mode == "AND" and len(terms) < len(plan.terms)) \
            or not plan.must.issubset(terms):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    avgdl, qmul, after = plan.avgdl, plan.qmul, plan.after
    if plan.mode == "OR" and not plan.must and plan.msm is None \
            and plan.dismax_tie is None:
        kernel = (score_maxscore_or if plan.use_wand == "maxscore"
                  else score_bmw_or if plan.use_wand else score_exhaustive_or)
        return kernel([by_tf[kk] for kk in keys], avgdl, k, qmul,
                      after=after)
    groups = [[by_tf[kk] for kk in keys if kk[0] == t] for t in terms]
    if plan.mode == "AND":
        return score_and(groups, avgdl, k, qmul, after=after)
    if plan.must:
        return score_or_must(groups, [t in plan.must for t in terms], avgdl,
                             k, qmul, after=after)
    if plan.msm is not None:
        return score_or_msm(groups, avgdl, k, plan.msm, qmul, after=after)
    return score_dismax(groups, avgdl, k, plan.dismax_tie, qmul, after=after)


def execute(rows, plan: Plan, tombstones, k: int,
            keep: np.ndarray | None = None
            ) -> tuple[np.ndarray, np.ndarray]:
    """(docs, scores): ``plan`` run over ``rows`` — ``restrict``, then
    ``score_streams``."""
    by_tf = restrict(rows, plan, tombstones, keep)
    if by_tf is None:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    return score_streams(by_tf, plan, k)


# -- positional queries: span planner and matcher, shared by both readers ---

class SpanPlan(NamedTuple):
    """One compiled positional query (phrase, phrase prefix, phrases-any,
    span first/not/within/containing, ``count_phrase``): the token
    sequences to match and their span constraints. ``plan_spans`` builds
    it, positionally (serving loops plan a phrase op per call);
    ``match_spans`` runs it over all buckets (``LocalSearchIndex``) or one
    (``SearchIndex``'s per-bucket matcher)."""
    terms: list[str]          # every term whose position streams are read
    variants: list            # phrase clauses; an enclosure's kept side
    others: list | None       # an enclosure's other side; None: phrase
    mode: str | None          # "within" | "containing"; None: phrase
    max_end: int | None       # SpanFirst bound on the exclusive span end
    exclude: list[str]        # SpanNot terms found in the dictionary
    pre: int
    post: int


def require_positions(ix, what: str) -> None:
    """Reject a positional query on an index built without positions."""
    if not ix.meta.get("store_positions", True):
        raise ValueError(f"index built without positions; {what} disabled")


def plan_spans(ix, variants: list[list[str]],
               others: list[list[str]] | None = None,
               mode: str | None = None, k: int = 0, offset: int = 0,
               max_end: int | None = None,
               exclude: str | list[str] | None = None,
               pre: int = 0, post: int = 0) -> SpanPlan | None:
    """Validate a positional query and compile it against reader ``ix``
    (either reader: its ``meta``, ``analyzer`` and ``term_stats``).
    Docs match when ANY of ``variants`` (token sequences, see
    ``_phrase_variants``) occurs; with ``mode`` "within"/"containing" the
    variants are the kept side of a span enclosure against ``others``.
    ``max_end``, ``exclude`` (raw SpanNot terms, folded here) and
    ``pre``/``post`` are the span constraints of
    ``query._match_variant_rows``. Returns None when no document can
    match: no variant has all its terms in the dictionary, or an
    enclosure has no such variant on one side."""
    require_positions(ix, "phrase and span queries")
    check_page(k, offset)
    if max_end is not None and max_end <= 0:
        raise ValueError("max_end must be positive")
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    ex = []
    if exclude is not None:
        ex = _fold_terms(exclude, ix.analyzer)
        if not ex:
            raise ValueError("empty exclude terms")
    variants = [v for v in variants if v]
    others = None if others is None else [v for v in others if v]
    if not variants or others == []:
        return None
    stats = ix.term_stats(sorted({t for v in variants + (others or [])
                                  for t in v} | set(ex)))
    variants = [v for v in variants if all(t in stats for t in v)]
    others = None if others is None else \
        [v for v in others if all(t in stats for t in v)]
    if not variants or others == []:
        return None
    ex = [t for t in ex if t in stats]
    terms = sorted({t for v in variants + (others or []) for t in v}
                   | set(ex))
    return SpanPlan(terms, variants, others, mode,
                    None if max_end is None else int(max_end), ex,
                    int(pre), int(post))


def _phrase_variants(ix, phrase: str,
                     max_expansions: int | None = None) -> list[list[str]]:
    """Token sequences to match: just the analyzed phrase
    (``max_expansions=None``), or — prefix mode — one variant per dictionary
    expansion of the LAST token (the reference's natural suffix semantics: a
    query is a byte prefix of the suffix from a token start, so earlier
    tokens are exact and the final token matches as a prefix —
    ``README.markdown:7-11``). ``max_expansions=0`` expands UNCAPPED (exact
    counts under pending tombstones). ``ix.expand_prefix`` is the reader's
    dictionary range scan."""
    tok, _ = ANALYZERS[ix.analyzer]
    terms = [ascii_fold(t) for t in tok(ascii_fold(phrase))]
    if not terms:
        return []
    if max_expansions is None:
        return [terms]
    cap = None if max_expansions == 0 else max_expansions
    return [terms[:-1] + [e] for e in ix.expand_prefix(terms[-1], cap)]


def _spanor_variants(ix, q: str | list[str]) -> list[list[str]]:
    """The variants of a SpanOr: one phrase, or any of a list of them."""
    parts = [q] if isinstance(q, str) else [p for p in q if p]
    return [v for p in parts for v in _phrase_variants(ix, p)]


def plan_phrase_count(ix, phrase: str, prefix: bool,
                      max_expansions: int) -> int | SpanPlan:
    """``count_phrase`` (see ``SearchIndex.count_phrase``) from the
    dictionary where it answers exactly — single-token variants on an
    index with no pending deletes sum cf, a prefix through
    ``ix.count_prefix`` (uncapped) — else the plan whose matches' tf sum
    is the count; 0 when nothing can match. With pending deletes a
    single-token prefix expands uncapped, so the matcher's count stays
    exact."""
    live = ix.tombstones is not None
    tok, _ = ANALYZERS[ix.analyzer]
    toks = [ascii_fold(t) for t in tok(ascii_fold(phrase))]
    cap = max_expansions if prefix else None
    if prefix and live and len(toks) == 1:
        cap = 0
    variants = _phrase_variants(ix, phrase, cap)
    if variants and all(len(v) == 1 for v in variants) and not live:
        if prefix:
            return ix.count_prefix(toks[-1])
        st = ix.term_stats([v[0] for v in variants])
        return sum(f["cf"] for d in st.values() for f in d.values())
    plan = plan_spans(ix, variants)
    return 0 if plan is None else plan


def positions(rows, codec: str) -> dict[int, dict[str, dict]]:
    """field -> term -> decoded postings with positions
    (``query._decode_with_positions``) of every stream in ``rows``, a
    mapping (term, field) -> block rows: ``serving.Rows`` of every bucket
    locally, one bucket's ``query._stream_rows`` on Spark. Each stream
    decodes once."""
    from . import query
    out: dict[int, dict[str, dict]] = {}
    for (t, f), g in rows.items():
        out.setdefault(f, {})[t] = query._decode_with_positions(g, codec)
    return out


def match_spans(by_field: dict, plan: SpanPlan, tombs) -> pd.DataFrame:
    """(doc_id int64, field int32, tf int32, dl int32) of every doc and
    field where ``plan``'s spans survive, tf = surviving spans summed
    over variants — ``query._variants_match_rows`` (phrases, span
    first/not) or ``query._variants_enclosure_rows`` (within/containing)
    per field of ``by_field`` (``positions``)."""
    from . import query
    frames = []
    # per field: unlike the reference's heap-wide byte match (an artifact
    # of its single fulltext stream), a phrase never spans two fields
    for f in sorted(by_field):
        if plan.mode is None:
            m = query._variants_match_rows(
                by_field[f], plan.variants, tombs, max_end=plan.max_end,
                exclude=plan.exclude, pre=plan.pre, post=plan.post)
        else:
            m = query._variants_enclosure_rows(
                by_field[f], plan.variants, plan.others, tombs, plan.mode)
        if m is not None:
            frames.append(pd.DataFrame({
                "doc_id": m["doc_id"].astype("int64"),
                "field": np.full(len(m), f, dtype=np.int32),
                "tf": m["tf"].astype("int32"),
                "dl": m["dl"].astype("int32")}))
    if not frames:
        return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                             "field": pd.array([], dtype="int32"),
                             "tf": pd.array([], dtype="int32"),
                             "dl": pd.array([], dtype="int32")})
    return pd.concat(frames, ignore_index=True)


def near_docs(by_field: dict, terms: list[str], slop: int, tombs,
              ordered_terms: list[str] | None = None) -> np.ndarray | None:
    """Sorted ids of the live docs where all ``terms`` co-occur within a
    window of ``slop`` in some field of ``by_field`` (``positions``):
    ``query._near_match_docs``, or ``query._ordered_near_match_docs``
    over ``ordered_terms``, the same terms in query order. None when no
    doc qualifies."""
    from . import query
    allowed = []
    for data in by_field.values():
        if any(t not in data for t in terms):
            continue
        if ordered_terms is None:
            m = query._near_match_docs(data, terms, slop, tombs)
        else:
            m = query._ordered_near_match_docs(data, ordered_terms, slop,
                                               tombs)
        if m.size:
            allowed.append(m)
    return np.unique(np.concatenate(allowed)) if allowed else None


class _RGIndex:
    """Row-group skip index over a parquet directory, keyed by a string
    column's min/max statistics (the persisted fuzzy-variant table). Footers
    are read ONCE at open; a lookup touches only the row groups whose
    [min, max] range covers a key."""

    def __init__(self, path: str | list[str], key: str):
        import pyarrow.parquet as pq
        self.key = key
        self.files: list = []
        self.spans: list[tuple[int, int, str, str]] = []  # file, rg, lo, hi
        roots = [path] if isinstance(path, str) else list(path)
        for f in sorted(f for r in roots
                        for f in glob.glob(os.path.join(r, "**", "*.parquet"),
                                           recursive=True)):
            pf = pq.ParquetFile(f)
            fi = len(self.files)
            self.files.append(pf)
            md = pf.metadata
            ki = md.schema.names.index(key)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ki).statistics
                if st is None or not st.has_min_max:
                    self.spans.append((fi, rg, "", "\U0010ffff"))
                else:
                    self.spans.append((fi, rg, st.min, st.max))

    def read(self, keys: list[str], columns: list[str]) -> pd.DataFrame:
        """Rows of the matching row groups, filtered to key in keys."""
        import pyarrow as pa
        import pyarrow.compute as pc
        want: dict[int, list[int]] = {}
        for fi, rg, lo, hi in self.spans:
            if any(lo <= t <= hi for t in keys):
                want.setdefault(fi, []).append(rg)
        tables = []
        kset = pa.array(keys, type=pa.string())
        for fi, rgs in want.items():
            t = self.files[fi].read_row_groups(rgs, columns=columns)
            t = t.filter(pc.is_in(t[self.key], value_set=kset))
            if t.num_rows:
                tables.append(t)
        if not tables:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in columns})
        return pa.concat_tables(tables).to_pandas()

    # no caller left in fatespark; perfbench/run.py wraps it by name
    # (--trace 1 raises KeyError without it), so it goes with that wrap
    def read_range(self, lo: str, hi: str, columns: list[str]) -> pd.DataFrame:
        """Rows with lo <= key < hi (prefix expansion)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        tables = []
        for fi, rg, mn, mx in self.spans:
            if mx >= lo and mn < hi:
                t = self.files[fi].read_row_groups([rg], columns=columns)
                m = pc.and_(pc.greater_equal(t[self.key], lo),
                            pc.less(t[self.key], hi))
                t = t.filter(m)
                if t.num_rows:
                    tables.append(t)
        if not tables:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in columns})
        return pa.concat_tables(tables).to_pandas()


class LocalSearchIndex:
    """Spark-free reader over an ``IndexBuilder`` directory.

    Time travel mirrors the distributed reader: ``snapshot_id=`` /
    ``as_of=`` resolve physical paths through the same snapshot log
    (``snapshots.resolve`` — pure local parquet, still no Spark jobs)."""

    def __init__(self, index_dir: str, *, snapshot_id: int | None = None,
                 as_of: float | None = None):
        import pyarrow.parquet as pq
        self._paths: dict[str, list[str]] | None = None
        self.snapshot_id: int | None = None
        if snapshot_id is not None or as_of is not None:
            from . import snapshots as _snap
            self.snapshot_id, self._paths = _snap.resolve(
                index_dir, snapshot_id=snapshot_id, as_of=as_of)

        def src(name: str) -> list[str]:
            if self._paths is not None:
                return self._paths.get(name, [])
            return [os.path.join(index_dir, name)]

        metas = sorted(f for d in src("meta")
                       for f in glob.glob(os.path.join(d, "*.parquet")))
        if not metas:
            raise FileNotFoundError(f"no published index at {index_dir}")
        m = pq.read_table(metas[-1]).to_pandas().iloc[0].to_dict()
        self.n_docs = int(m["n_docs"])
        self.avgdl = float(m["avgdl"])
        self.n_fields = int(m.get("n_fields", 1) or 1)
        self.analyzer = m["analyzer"]
        self.codec_name = str(m.get("codec") or "varint")
        self.meta = m
        fsp = sorted(f for d in src("field_stats")
                     for f in glob.glob(os.path.join(d, "*.parquet")))
        if fsp:
            fs = pq.read_table(fsp[-1]).to_pandas()
            self.field_avgdl = {int(r.field): float(r.avgdl)
                                for r in fs.itertuples()}
            self.field_sumdl = {int(r.field): float(r.sum_dl)
                                for r in fs.itertuples()}
        else:
            self.field_avgdl = {0: self.avgdl}
            self.field_sumdl = {0: float(self.avgdl * self.n_docs)}
        if self._paths is not None:  # snapshot pins the tombstone FILE set
            tombs = self._paths.get("tombstones", [])
        else:
            tombs = sorted(glob.glob(os.path.join(index_dir, "tombstones",
                                                  "*.parquet")))
        if tombs:
            import pyarrow.parquet as _pq
            ids = np.concatenate([
                _pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
                for f in tombs])
            self.tombstones = np.sort(ids.astype(np.int64))
        else:
            self.tombstones = None
        self.index_dir = index_dir
        self._fuzzy_local: tuple | None = None  # lazy (_RGIndex, depth)
        self._load_terms(src("terms"))
        # the serving copy stamped at the snapshot being read, else the
        # same layout built in memory from that snapshot's postings
        from . import snapshots as _snap
        sid = self.snapshot_id if self._paths is not None \
            else _snap.current_id(index_dir)
        table = serving.load(index_dir, sid)
        if table is None:
            table = serving.build(src("postings"), self.codec_name)
        self._post = serving.Streams(table)
        # the docs file list is resolved once, like the arrays above
        self._docs_files = sorted(
            f for d in src("docs")
            for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                               recursive=True))
        self._docs_ds = None  # pyarrow dataset, built on first urls_of

    def _load_terms(self, roots: list[str]) -> None:
        """The terms table as arrays sorted by (term, field)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        cols = ["term", "field", "df", "cf", "max_tf"]
        files = sorted(f for r in roots for f in glob.glob(
            os.path.join(r, "**", "*.parquet"), recursive=True))
        t = pa.concat_tables([pq.ParquetFile(f).read(columns=cols)
                              for f in files]) if files else \
            pa.table({c: pa.array([], pa.string() if c == "term"
                                   else pa.int64()) for c in cols})
        t = t.sort_by([("term", "ascending"), ("field", "ascending")])
        self._t_term = t.column("term").to_numpy()
        self._t_field, self._t_df, self._t_cf, self._t_max_tf = (
            np.asarray(t.column(c), dtype=np.int64) for c in cols[1:])
        self._t_len = None  # term lengths, on first fuzzy scan

    # -- stats --------------------------------------------------------------
    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for t in set(terms):
            for i in serving.key_range(self._t_term, t):
                out.setdefault(t, {})[int(self._t_field[i])] = {
                    "df": int(self._t_df[i]), "cf": int(self._t_cf[i]),
                    "max_tf": int(self._t_max_tf[i])}
        return out

    def count(self, term: str, field: int | None = None) -> int:
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("df", 0)
        return sum(v["df"] for v in by_field.values())

    def count_occurrences(self, term: str, field: int | None = None) -> int:
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("cf", 0)
        return sum(v["cf"] for v in by_field.values())

    def find_all(self, query: str | list[str]) -> pd.DataFrame:
        """Every hit location (doc_id, field, term, position), 0-based token
        positions, sorted by (doc_id, field, position, term) —
        ``SearchIndex.find_all`` through the same ``query._hit_frames``
        (reference ``Hits`` enumeration,
        ``lib/suffix_array_reader.rb:45-72``)."""
        from .query import _hit_frames
        require_positions(self, "find_all")
        qterms = _fold_terms(query, self.analyzer)
        present = sorted(set(qterms) & set(self.term_stats(qterms)))
        frames = _hit_frames(pd.DataFrame(
            {"term": pd.array([], dtype="string"),
             "field": pd.array([], dtype="int64")}), self.codec_name, None)
        if present:
            pdf = self._post.frame(present, ["term", "field", "n", "docs",
                                             "tfs", "dls", "poss"])
            frames = _hit_frames(pdf, self.codec_name, self.tombstones)
        out = pd.concat(frames, ignore_index=True)
        return out.sort_values(["doc_id", "field", "position", "term"],
                               kind="mergesort").reset_index(drop=True)

    def matching_docs(self, query: str | list[str],
                      mode: str = "OR") -> pd.DataFrame:
        """Sorted (doc_id) frame of every live doc matching the boolean
        query — local twin of ``SearchIndex.matching_docs``, same shared
        kernel (``query._matched_ids``), doc-id streams only."""
        from .query import _matched_ids
        qterms = sorted(set(_fold_terms(query, self.analyzer)))
        empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64")})
        if not qterms:
            return empty
        present = sorted(set(qterms) & set(self.term_stats(qterms)))
        if not present or (mode == "AND" and len(present) < len(qterms)):
            return empty
        pdf = self._post.frame(present, ["term", "n", "docs"])
        need_all = frozenset(present) if mode == "AND" else None
        out = _matched_ids(pdf, self.codec_name, self.tombstones, need_all)
        return pd.DataFrame({"doc_id": np.sort(out)})

    # -- search -------------------------------------------------------------
    def urls_of(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id -> url from the docs table (pyarrow dataset filter with
        row-group statistics pushdown; result sets are top-k sized)."""
        import pyarrow.dataset as ds
        import pyarrow.compute as pc
        if not doc_ids:
            return {}
        if self._docs_ds is None:
            self._docs_ds = ds.dataset(self._docs_files, format="parquet")
        t = self._docs_ds.to_table(
            columns=["doc_id", "url"],
            filter=pc.field("doc_id").isin(list(doc_ids)))
        return dict(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))

    def search(self, query: str | list[str], k: int = 10, mode: str = "AND",
               offset: int = 0, use_wand: bool = False,
               with_url: bool = False, quantize: int | None = None,
               weights: list[float] | None = None,
               exclude: str | list[str] | None = None,
               filter_terms: str | list[str] | None = None,
               filter_field: int | None = None,
               boosts: dict[str, float] | None = None,
               search_after: tuple[float, int] | None = None,
               similarity: str = "bm25", mu: float = 2000.0,
               jm_lambda: float = 0.7,
               delta: float = 1.0) -> pd.DataFrame:
        """Identical semantics and results to ``SearchIndex.search``: the
        same planner (``plan_search``) and executor (``execute``), same
        (score DESC, doc_id ASC) total order; returns a pandas DataFrame
        (doc_id, score[, url]). One pass over all buckets: one stream per
        (term, field) and one kernel call, whose top-k is the answer —
        bit-identical to the distributed per-bucket top-k merge, since
        every doc lives in one bucket and sums its streams with global
        idf/avgdl in ascending (term, field) order.
        ``exclude`` mirrors the distributed reader: NOT-terms whose docs
        are dropped before top-k selection. ``filter_terms`` /
        ``filter_field`` mirror the index-side metadata filter (IN-list
        restriction before top-k, no score contribution); ``search_after``
        the O(k)-per-page cursor pagination (see SearchIndex.search)."""
        p = plan_search(self, query, k=k, mode=mode, offset=offset,
                        use_wand=use_wand, quantize=quantize,
                        weights=weights, exclude=exclude,
                        filter_terms=filter_terms, filter_field=filter_field,
                        boosts=boosts, search_after=search_after,
                        similarity=similarity, mu=mu, jm_lambda=jm_lambda,
                        delta=delta)
        if p is None:
            return _empty_result(with_url)
        docs, scores = execute(self._post.streams(p.scan_terms()), p,
                               self.tombstones, p.k)
        out = pd.DataFrame({"doc_id": docs[offset:],
                            "score": scores[offset:]})
        if with_url:
            u = self.urls_of([int(d) for d in out["doc_id"]])
            out = out.assign(url=np.array(
                [u.get(int(d)) for d in out["doc_id"]], dtype=object))
        return out

    def count_prefix(self, prefix: str) -> int:
        """Exact, uncapped occurrence count of tokens starting with
        ``prefix`` — sums cf over the sorted terms-table range
        (local twin of ``SearchIndex.count_prefix``)."""
        p = ascii_fold(prefix)
        if not p:
            return 0
        r = _prefix_range(self._t_term, p)
        return int(self._t_cf[r.start:r.stop].sum())

    # -- positional queries: plan_spans -> _span_matches -> score ----------
    def _span_matches(self, plan: SpanPlan) -> pd.DataFrame:
        """``match_spans`` over every bucket's position streams at once."""
        return match_spans(positions(self._post.streams(plan.terms),
                                     self.codec_name),
                           plan, self.tombstones)

    def _ranked_spans(self, plan: SpanPlan | None, k: int, offset: int,
                      quantize: int | None,
                      weights: list[float] | None) -> pd.DataFrame:
        if plan is None:
            return _empty_result()
        return self._score_phrase_rows(self._span_matches(plan), k, offset,
                                       quantize, weights)

    def count_phrase(self, phrase: str, prefix: bool = False,
                     max_expansions: int = 256) -> int:
        """``SearchIndex.count_phrase``: the shared ``plan_phrase_count``,
        then ``match_spans``."""
        p = plan_phrase_count(self, phrase, prefix, max_expansions)
        if not isinstance(p, SpanPlan):
            return p
        return int(self._span_matches(p)["tf"].sum())

    def search_phrase(self, phrase: str, k: int = 10, offset: int = 0,
                      quantize: int | None = None,
                      weights: list[float] | None = None) -> pd.DataFrame:
        """Consecutive-token phrase over positions — identical semantics to
        ``SearchIndex.search_phrase`` (phrase scored as a pseudo-term with
        per-field df/idf; a phrase never crosses a field boundary), answered
        from the serving copy's row slices."""
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_phrase_prefix(self, phrase: str, k: int = 10, offset: int = 0,
                             max_expansions: int = 16,
                             quantize: int | None = None,
                             weights: list[float] | None = None
                             ) -> pd.DataFrame:
        """``SearchIndex.search_phrase_prefix`` (shared ``plan_spans``)."""
        p = plan_spans(self, _phrase_variants(self, phrase, max_expansions),
                       k=k, offset=offset)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_phrases_any(self, phrases: list[str], k: int = 10,
                           offset: int = 0, quantize: int | None = None,
                           weights: list[float] | None = None
                           ) -> pd.DataFrame:
        """``SearchIndex.search_phrases_any`` (shared ``plan_spans``)."""
        p = plan_spans(self, _spanor_variants(self, phrases), k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_span_first(self, phrase: str, max_end: int, k: int = 10,
                          offset: int = 0, quantize: int | None = None,
                          weights: list[float] | None = None
                          ) -> pd.DataFrame:
        """``SearchIndex.search_span_first`` (shared ``plan_spans``)."""
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset, max_end=max_end)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_span_not(self, phrase: str, exclude: str | list[str],
                        k: int = 10, pre: int = 0, post: int = 0,
                        offset: int = 0, quantize: int | None = None,
                        weights: list[float] | None = None) -> pd.DataFrame:
        """``SearchIndex.search_span_not`` (shared ``plan_spans``)."""
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset, exclude=exclude, pre=pre, post=post)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_span_within(self, little, big, k: int = 10,
                           offset: int = 0, quantize: int | None = None,
                           weights: list[float] | None = None
                           ) -> pd.DataFrame:
        """``SearchIndex.search_span_within`` (shared ``plan_spans``)."""
        p = plan_spans(self, _spanor_variants(self, little),
                       _spanor_variants(self, big), "within", k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_span_containing(self, big, little, k: int = 10,
                               offset: int = 0, quantize: int | None = None,
                               weights: list[float] | None = None
                               ) -> pd.DataFrame:
        """``SearchIndex.search_span_containing`` (shared ``plan_spans``)."""
        p = plan_spans(self, _spanor_variants(self, big),
                       _spanor_variants(self, little), "containing", k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, quantize, weights)

    def search_near(self, query: str | list[str], slop: int, k: int = 10,
                    offset: int = 0, quantize: int | None = None,
                    weights: list[float] | None = None) -> pd.DataFrame:
        """Proximity (SLOP) search — ``SearchIndex.search_near``: the
        shared window test (``near_docs``) over all buckets' positions,
        then the shared plan and executor (``execute`` restricted to the
        window-matching docs), identical results."""
        require_positions(self, "proximity search")
        p = plan_search(self, query, k=k, mode="AND", offset=offset,
                        quantize=quantize, weights=weights)
        if p is None:
            return _empty_result()
        streams = self._post.streams(p.terms)
        keep = near_docs(positions(streams, self.codec_name), p.terms,
                         int(slop), self.tombstones)
        if keep is None:
            return _empty_result()
        # window matches are live docs already: no tombstone pass
        docs, scores = execute(streams, p, None, p.k, keep=keep)
        return pd.DataFrame({"doc_id": docs[offset:],
                             "score": scores[offset:]})

    def _score_phrase_rows(self, m: pd.DataFrame, k: int, offset: int,
                           quantize: int | None = None,
                           weights: list[float] | None = None) -> pd.DataFrame:
        """Top ``k`` after ``offset`` of phrase match rows scored as one
        pseudo-term: the numpy form of ``SearchIndex._phrase_sums``, same
        parenthesization, the span scorer that runs without Spark."""
        w = list(weights) if weights is not None else None
        if w is not None:
            keep = m["field"].map(
                lambda f: int(f) < len(w) and w[int(f)] != 0.0)
            m = m[keep.to_numpy()]
        if not len(m):
            return _empty_result()
        m = m.sort_values(["doc_id", "field"], kind="mergesort")
        k1, b = 1.2, 0.75
        score = np.zeros(len(m), dtype=np.float64)
        tf = m["tf"].to_numpy(np.float64)
        dl = m["dl"].to_numpy(np.float64)
        for f, g in m.groupby("field"):
            dfp = int(len(g))
            iv = idf_fn(self.n_docs, dfp)
            if w is not None:
                iv = w[int(f)] * iv
            ad = self.field_avgdl.get(int(f), self.avgdl)
            sel = (m["field"] == f).to_numpy()
            norm = (1.0 - b) + (b * dl[sel] / ad if ad > 0 else 0.0)
            # same parenthesization as the Spark path and the oracle
            score[sel] = iv * (tf[sel] * (k1 + 1.0) / (tf[sel] + k1 * norm))
        m = m.assign(score=score)
        out = m.groupby("doc_id", as_index=False)["score"].sum()
        if quantize:
            qm = float(10 ** quantize)
            out = out.assign(score=np.floor(out["score"].to_numpy() * qm) / qm)
        out = out.sort_values(["score", "doc_id"], ascending=[False, True],
                              kind="mergesort").head(k + offset)
        return out.iloc[offset:][["doc_id", "score"]].reset_index(drop=True)

    def expand_prefix(self, prefix: str,
                      max_terms: int | None = 256) -> list[str]:
        p = ascii_fold(prefix)
        if not p:
            return []
        r = _prefix_range(self._t_term, p)
        terms = sorted(set(self._t_term[r.start:r.stop]))
        return terms if max_terms is None else terms[:max_terms]

    def search_prefix(self, prefix: str, k: int = 10, max_terms: int = 256,
                      quantize: int | None = None) -> pd.DataFrame:
        check_page(k)
        terms = self.expand_prefix(prefix, max_terms)
        if not terms:
            return _empty_result()
        return self.search(terms, k=k, mode="OR", quantize=quantize)

    def expand_fuzzy(self, term: str, max_edit: int = 1,
                     max_terms: int = 256) -> list[str]:
        """Dictionary terms within Levenshtein distance ``max_edit`` (1 or
        2) of ``term`` — reader-parity twin of ``suggest.expand_fuzzy``.
        An edit anywhere in the term defeats the sorted-term skip index (a
        substitution at position 0 lands anywhere in the dictionary), so
        without a persisted banded dictionary this length-window prunes the
        in-memory term array and exact-verifies the sliver. Same
        ``max_terms`` cap order as the distributed path (distance ASC, df
        DESC, term ASC)."""
        if max_edit not in (1, 2):
            raise ValueError("expand_fuzzy supports max_edit in (1, 2)")
        q = ascii_fold(term)
        if not q:
            return []
        best = self._fuzzy_probe(q, max_edit)
        if best is None:
            if self._t_len is None:
                self._t_len = np.fromiter(map(len, self._t_term), np.int64,
                                          self._t_term.size)
            near = np.flatnonzero(np.abs(self._t_len - len(q)) <= max_edit)
            best = {}
            for s, df in zip(self._t_term[near], self._t_df[near]):
                d = _lev_banded(q, s, max_edit)
                if d > max_edit:
                    continue
                cur = best.get(s)
                if cur is None or int(df) > cur[1]:
                    best[s] = (d, int(df))
        ordered = sorted(best.items(),
                         key=lambda x: (x[1][0], -x[1][1], x[0]))
        return sorted(s for s, _ in ordered[:max_terms])

    def _fuzzy_probe(self, q: str,
                     max_edit: int) -> dict[str, tuple[int, int]] | None:
        """term -> (dist, df) via the persisted banded dictionary
        (``suggest.write_fuzzy_variants``), or None when absent / built too
        shallow / reading a pinned snapshot (the variants table tracks the
        CURRENT dictionary). Touches only the row groups covering the
        query's own deletion variants (``_RGIndex`` min/max pruning over
        the variant-sorted files) — O(query variants), not O(vocab)."""
        if self._paths is not None:
            return None
        if self._fuzzy_local is None:
            import pyarrow.parquet as pq
            metas = sorted(glob.glob(os.path.join(
                self.index_dir, "fuzzy_meta", "*.parquet")))
            vdir = os.path.join(self.index_dir, "fuzzy_variants")
            if metas and glob.glob(os.path.join(vdir, "**", "*.parquet"),
                                   recursive=True):
                m = pq.read_table(metas[-1]).to_pandas().iloc[0]
                self._fuzzy_local = (_RGIndex(vdir, "variant"),
                                     int(m["depth"]))
            else:
                self._fuzzy_local = (None, 0)
        ix, depth = self._fuzzy_local
        # dictionary side banded at >= max_edit + query side banded at
        # exactly max_edit => complete for distance <= max_edit (SymSpell);
        # a shallower table cannot serve this request
        if ix is None or depth < max_edit:
            return None
        from .suggest import deletion_variants
        qvars = deletion_variants(q, depth=max_edit)
        t = ix.read(qvars, ["variant", "term", "df"])
        best: dict[str, tuple[int, int]] = {}
        for s, df in zip(t["term"], t["df"]):
            if abs(len(s) - len(q)) > max_edit:
                continue
            if s in best:       # stored rows are unique per (variant, term)
                continue        # with max-df dedup already applied
            d = _lev_banded(q, s, max_edit)
            if d <= max_edit:
                best[s] = (d, int(df))
        return best


def _within_edit1(a: str, b: str) -> bool:
    """Exact Levenshtein(a, b) <= 1 without the full DP (equal, one
    substitution, or one insert/delete)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la = b, a, lb
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def _lev_banded(a: str, b: str, d: int) -> int:
    """Levenshtein(a, b), exact up to ``d`` (returns d+1 beyond): banded
    DP — only the 2d+1 diagonal band is computed, O(len * d)."""
    if a == b:
        return 0
    if d == 1:
        return 1 if _within_edit1(a, b) else 2
    la, lb = len(a), len(b)
    if abs(la - lb) > d:
        return d + 1
    big = d + 1
    prev = [j if j <= d else big for j in range(lb + 1)]
    for i in range(1, la + 1):
        jlo, jhi = max(1, i - d), min(lb, i + d)
        cur = [big] * (lb + 1)
        if i - d <= 0:
            cur[jlo - 1] = i if i <= d else big
        for j in range(jlo, jhi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
        if min(prev[jlo - 1:jhi + 1]) > d:
            return big
    return prev[lb] if prev[lb] <= d else big


def _prefix_range(sorted_terms: np.ndarray, p: str) -> range:
    """Indices of the terms starting with ``p`` in a sorted term array:
    every string in [p, p with its last char incremented) has prefix p."""
    hi = p[:-1] + chr(ord(p[-1]) + 1)
    return range(int(np.searchsorted(sorted_terms, p, "left")),
                 int(np.searchsorted(sorted_terms, hi, "left")))


def _empty_result(with_url: bool = False) -> pd.DataFrame:
    out = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                        "score": pd.array([], dtype="float64")})
    return out.assign(url=np.array([], dtype=object)) if with_url else out
