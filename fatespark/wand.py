"""Top-k scoring kernels: vectorized exhaustive BM25 (plain OR,
minimum-should-match, must-terms, dis-max) and galloping AND intersection.
Each decodes its streams once and scores every posting — the reference's
single summing pass over matched records (``lib/fulltext_reader.rb:56-85``),
with no pruning. They run over one bucket's streams inside the distributed
scorer UDF and over every bucket's at once in the local reader
(``local.LocalSearchIndex``).

Float discipline: scores are float64 and per-doc totals always sum term
contributions in ascending term order, so every kernel, Spark and the
pure-Python oracle produce bit-identical scores (FIXTURES F5 rank-identical
requirement).
"""

from __future__ import annotations



import numpy as np

from .codec import get_codec, not_in_sorted

K1 = 1.2
B = 0.75


def bm25_part(tf, dl, avgdl: float):
    """tf/length part of BM25 (idf excluded); float64, vectorized."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    norm = (1.0 - B) + (B * dl / avgdl if avgdl > 0 else 0.0)
    return tf * (K1 + 1.0) / (tf + K1 * norm)


def sim_part(sim, tf, dl, stream_avgdl: float, avgdl_fallback: float):
    """Per-stream tf/length part under a similarity spec; the stream's
    per-doc contribution is always ``scalar * part(tf, dl)`` where the
    scalar (TermBlocks.idf) carries weight x idf x boost.

    sim is None            -> BM25 (the default: bit-identical legacy path)
    sim == ("classic",)    -> Lucene ClassicSimilarity tf/norm:
                              sqrt(tf) / sqrt(dl)  (idf^2 lives in the
                              scalar, as in Lucene's TFIDFSimilarity)
    sim == ("lmd", mu, pw) -> LM Dirichlet (Zhai & Lafferty 2004 /
                              Lucene LMDirichletSimilarity):
                              log(1 + tf/(mu*p(w|C))) + log(mu/(dl+mu)),
                              clamped at 0 per contribution (Lucene's
                              non-negative-scores contract).
    sim == ("lmjm", l, pw)-> LM Jelinek-Mercer (Zhai & Lafferty 2001 /
                              Lucene LMJelinekMercerSimilarity):
                              log(1 + ((1-l) * (tf/dl)) / (l * p(w|C)))
                              — always positive, no clamp needed.
    sim == ("bm25plus", d) -> BM25+ (Lv & Zhai, CIKM 2011): the plain
                              BM25 tf/length part plus the constant
                              lower-bound delta, fixing BM25's
                              over-penalization of long documents
                              (every matching posting contributes at
                              least idf*delta regardless of dl)."""
    if sim is None:
        return bm25_part(tf, dl, stream_avgdl or avgdl_fallback)
    if sim[0] == "bm25plus":
        return bm25_part(tf, dl, stream_avgdl or avgdl_fallback) \
            + float(sim[1])
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    kind = sim[0]
    if kind == "classic":
        return np.sqrt(tf) / np.sqrt(np.maximum(dl, 1.0))
    if kind == "lmd":
        mu, pw = float(sim[1]), float(sim[2])
        # ln(1 + x), not log1p: x = tf/(mu*p) is never tiny here and the
        # SQL twin folds the literal ln(1 + ...) — same libm, bit-equal
        raw = np.log(1.0 + tf / (mu * pw)) + np.log(mu / (dl + mu))
        return np.maximum(raw, 0.0)
    if kind == "lmjm":
        lam, pw = float(sim[1]), float(sim[2])
        return np.log(1.0 + ((1.0 - lam) * (tf / dl)) / (lam * pw))
    raise ValueError(f"unknown similarity {sim!r}")


def after_mask(doc_ids: np.ndarray, scores: np.ndarray,
               after: tuple[float, int]) -> np.ndarray:
    """Cursor-eligibility mask for search_after pagination: a doc is
    eligible iff it sorts STRICTLY AFTER the cursor ``(score, doc_id)`` in
    the (score DESC, doc_id ASC) total order."""
    s, d = float(after[0]), int(after[1])
    return (scores < s) | ((scores == s) & (doc_ids > d))


def topk_select(doc_ids: np.ndarray, scores: np.ndarray, k: int,
                after: tuple[float, int] | None = None):
    """(score DESC, doc_id ASC) total order, top k. Vectorized and
    tie-exact: argpartition finds the k-th score, then the boundary tie
    group is resolved by smallest doc_id (a bare 2k-candidate partition
    would split large tie groups arbitrarily). ``after`` restricts the
    selection to docs strictly after the cursor (search_after)."""
    if after is not None:
        keep = after_mask(doc_ids, scores, after)
        doc_ids, scores = doc_ids[keep], scores[keep]
    n = doc_ids.size
    if n == 0:
        return doc_ids[:0], scores[:0]
    if n > k:
        part = np.argpartition(-scores, k - 1)
        kth = scores[part[k - 1]]
        gt = np.flatnonzero(scores > kth)
        need = k - gt.size
        eq = np.flatnonzero(scores == kth)
        eq_sel = eq[np.argsort(doc_ids[eq], kind="stable")[:need]] if need else eq[:0]
        cand = np.concatenate([gt, eq_sel])
    else:
        cand = np.arange(n)
    order = np.lexsort((doc_ids[cand], -scores[cand]))[:k]
    sel = cand[order]
    return doc_ids[sel], scores[sel]


class TermBlocks:
    """One (term, field)'s posting blocks — within one bucket (distributed
    scorer) or across all buckets (local reader) — decoded on first use.
    ``idf`` is the full scalar multiplier for this stream's
    contributions — field weight × idf(term, field) for weighted multi-field
    scoring; ``avgdl`` is the FIELD's average length (BM25F-style per-field
    normalization, the principled upgrade of the reference's per-field
    weights, ``lib/fates.rb:65``)."""

    __slots__ = ("idf", "avgdl", "ns", "enc_docs", "enc_tfs", "enc_dls",
                 "_all", "total", "codec", "sim")

    def __init__(self, idf: float, first, ns, enc_docs, enc_tfs, enc_dls,
                 avgdl: float = 0.0, codec: str = "varint",
                 sim: tuple | None = None):
        # blocks in first-doc order: a single-chunk stream decodes sorted
        order = np.argsort(np.asarray(first, dtype=np.int64), kind="mergesort")
        self.idf = float(idf)
        self.avgdl = float(avgdl)
        self.sim = sim
        self.codec = get_codec(codec)
        self.ns = np.asarray(ns, dtype=np.int64)[order]
        self.enc_docs = [enc_docs[i] for i in order]
        self.enc_tfs = [enc_tfs[i] for i in order]
        self.enc_dls = [enc_dls[i] for i in order]
        self._all = None
        self.total = int(self.ns.sum())

    def _decode(self, ns, enc_docs, enc_tfs, enc_dls) -> tuple:
        """(docs, tfs, dls) of the given blocks concatenated: ONE
        vectorized multi-buffer decode per column (per-block python calls
        dominate for long posting lists)."""
        from .codec import _u64_to_i64_ordered, segmented_cumsum_u64
        total = int(ns.sum())
        starts = np.zeros(ns.size, dtype=np.int64)
        np.cumsum(ns[:-1], out=starts[1:])
        d_gaps = self.codec.decode_concat(enc_docs, ns, total)
        docs = _u64_to_i64_ordered(segmented_cumsum_u64(d_gaps, starts))
        tfs = self.codec.decode_concat(enc_tfs, ns, total).astype(np.int64)
        dls = self.codec.decode_concat(enc_dls, ns, total).astype(np.int64)
        return docs, tfs, dls

    def decode_all(self):
        """(docs, tfs, dls) for the whole stream, doc-sorted, decoded once.
        Blocks from different build chunks or buckets may interleave doc
        ranges, so sort if needed; a doc id present in two chunks keeps
        both postings, in block order."""
        if self._all is not None:
            return self._all
        if not len(self.ns):
            z = np.zeros(0, dtype=np.int64)
            return z, z, z
        docs, tfs, dls = self._decode(self.ns, self.enc_docs, self.enc_tfs,
                                      self.enc_dls)
        # NB: compare, don't np.diff — int64 differences overflow for
        # full-range xxhash ids and can wrap to positive, silently skipping
        # the sort on an unsorted concat
        if np.any(docs[1:] <= docs[:-1]):
            o = np.argsort(docs, kind="mergesort")
            docs, tfs, dls = docs[o], tfs[o], dls[o]
        self._all = (docs, tfs, dls)
        return self._all

    # No caller in fatespark: perfbench/run.py's --trace 1 wraps
    # decode_blocks, local.score_bmw_or and local.score_maxscore_or by
    # name, so they go together with _RGIndex.read_range in the next
    # benchmark change.
    def decode_blocks(self, sel: np.ndarray):
        """(docs, tfs, dls) of the selected block indices, concatenated."""
        if sel.size == len(self.ns):
            return self.decode_all()
        if not sel.size:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z
        return self._decode(self.ns[sel], [self.enc_docs[i] for i in sel],
                            [self.enc_tfs[i] for i in sel],
                            [self.enc_dls[i] for i in sel])

    @classmethod
    def from_arrays(cls, idf: float, docs: np.ndarray, tfs: np.ndarray,
                    dls: np.ndarray, avgdl: float = 0.0,
                    sim: tuple | None = None) -> "TermBlocks":
        """One already-decoded doc-sorted stream (tombstone-filtered or
        restricted), held as a single block."""
        tb = cls.__new__(cls)
        tb.idf = float(idf)
        tb.avgdl = float(avgdl)
        tb.sim = sim
        tb.codec = get_codec("varint")  # unused: everything is decoded
        tb.ns = np.array([docs.size] if docs.size else [], dtype=np.int64)
        tb.enc_docs = tb.enc_tfs = tb.enc_dls = None
        tb._all = (docs, tfs, dls)
        tb.total = int(docs.size)
        return tb

    def without_docs(self, drop_sorted: np.ndarray) -> "TermBlocks":
        """Copy of this stream with the (sorted int64) doc ids removed."""
        docs, tfs, dls = self.decode_all()
        keep = not_in_sorted(docs, drop_sorted)
        if keep.all():
            return self
        return TermBlocks.from_arrays(self.idf, docs[keep], tfs[keep],
                                      dls[keep], avgdl=self.avgdl,
                                      sim=self.sim)

    def keep_docs(self, keep_sorted: np.ndarray) -> "TermBlocks":
        """Copy of this stream restricted to the (sorted int64) doc ids —
        the positive twin of ``without_docs``, used by proximity search to
        score only window-matching documents."""
        docs, tfs, dls = self.decode_all()
        hit = ~not_in_sorted(docs, keep_sorted)
        if hit.all():
            return self
        return TermBlocks.from_arrays(self.idf, docs[hit], tfs[hit],
                                      dls[hit], avgdl=self.avgdl,
                                      sim=self.sim)

    def part(self, tf, dl, avgdl_fallback: float):
        """This stream's tf/length part under its similarity spec."""
        return sim_part(self.sim, tf, dl, self.avgdl, avgdl_fallback)


def _quantize(scores: np.ndarray, qmul: float | None) -> np.ndarray:
    """Floor-quantize scores (cross-engine rank stability; see
    SearchIndex.search quantize)."""
    return np.floor(scores * qmul) / qmul if qmul else scores


def score_exhaustive_or(terms: list[TermBlocks], avgdl: float, k: int,
                        qmul: float | None = None,
                        after: tuple[float, int] | None = None):
    """Vectorized disjunctive BM25 over the union of candidate docs.
    Streams must be supplied in ascending (term, field) order (summation
    order). ``avgdl`` is the fallback when a stream carries none. A doc id
    that a stream holds twice (one url in two build chunks) counts one of
    its postings: the buffered ``+=`` keeps the last write."""
    live = [t for t in terms if t.total]
    if not live:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    decoded = [t.decode_all() for t in live]
    all_docs = np.unique(np.concatenate([d[0] for d in decoded]))
    scores = np.zeros(all_docs.size, dtype=np.float64)
    for t, (docs, tfs, dls) in zip(live, decoded):
        idx = np.searchsorted(all_docs, docs)
        scores[idx] += t.idf * t.part(tfs, dls, avgdl)
    return topk_select(all_docs, _quantize(scores, qmul), k, after)


def _group_docs(group: list[TermBlocks]) -> np.ndarray:
    """Union of a term's doc ids across its field streams (sorted)."""
    parts = [t.decode_all()[0] for t in group if t.total]
    if not parts:
        return np.zeros(0, dtype=np.int64)
    return parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))


def score_or_msm(terms, avgdl: float, k: int, msm: int,
                 qmul: float | None = None,
                 after: tuple[float, int] | None = None):
    """Disjunctive scoring with a minimum-should-match floor (the Lucene
    ``minimum_should_match`` contract): a doc qualifies only if it matches
    at least ``msm`` distinct query TERMS (in any field); qualifying docs
    score the full disjunctive sum. ``terms`` is one TermBlocks (or one
    list of field streams, ascending field order) per query term, in
    ascending term order — contributions are summed in the same global
    ascending (term, field) order as ``score_exhaustive_or`` so scores are
    bit-identical to the plain OR path for qualifying docs. msm=1 is plain
    OR; msm=n_terms selects exactly the AND candidate set."""
    groups = [[g] if isinstance(g, TermBlocks) else list(g) for g in terms]
    live = [[t for t in g if t.total] for g in groups]
    live = [g for g in live if g]
    if len(live) < msm:   # not enough present terms to ever qualify
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    decoded = [[t.decode_all() for t in g] for g in live]
    all_docs = np.unique(np.concatenate(
        [d[0] for g in decoded for d in g]))
    counts = np.zeros(all_docs.size, dtype=np.int64)
    for g in decoded:
        gmask = np.zeros(all_docs.size, dtype=bool)
        for docs, _, _ in g:
            gmask[np.searchsorted(all_docs, docs)] = True
        counts += gmask
    cand = all_docs[counts >= msm]
    if cand.size == 0:
        return cand, np.zeros(0, dtype=np.float64)
    scores = np.zeros(cand.size, dtype=np.float64)
    for g, dg in zip(live, decoded):   # ascending (term, field) order
        for t, (docs, tfs, dls) in zip(g, dg):
            idx = np.searchsorted(docs, cand)
            hit = idx < docs.size
            hit[hit] = docs[idx[hit]] == cand[hit]
            scores[hit] += t.idf * t.part(tfs[idx[hit]], dls[idx[hit]],
                                          avgdl)
    return topk_select(cand, _quantize(scores, qmul), k, after)


def score_dismax(terms, avgdl: float, k: int, tie: float = 0.0,
                 qmul: float | None = None,
                 after: tuple[float, int] | None = None):
    """Per-term disjunction-max over field streams (the Lucene
    DisjunctionMaxQuery / best_fields contract): a term's contribution is
    its BEST field score plus ``tie`` times the rest,

        contrib(t, d) = max_f s_{t,f}(d) + tie * (sum_f s_{t,f}(d) - max_f)

    then contributions sum over terms. ``tie=1.0`` degenerates to the
    BM25F field-sum (score_exhaustive_or); ``tie=0.0`` is pure best-field.
    ``terms``: one list of field streams per query term, ascending field
    order within, terms ascending — sums and maxes fold in that order, and
    absent streams contribute exactly 0.0 (BM25 scores are positive, so
    max against an absent field's 0 never wins), which is what the SQL
    twin's coalesce-0 + greatest computes: bit-identical."""
    groups = [[g] if isinstance(g, TermBlocks) else list(g) for g in terms]
    live = [[t for t in g if t.total] for g in groups]
    live = [g for g in live if g]
    if not live:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    decoded = [[t.decode_all() for t in g] for g in live]
    all_docs = np.unique(np.concatenate(
        [d[0] for g in decoded for d in g]))
    scores = np.zeros(all_docs.size, dtype=np.float64)
    tie = float(tie)
    for g, dg in zip(live, decoded):   # terms ascending
        gsum = np.zeros(all_docs.size, dtype=np.float64)
        gmax = np.zeros(all_docs.size, dtype=np.float64)
        for t, (docs, tfs, dls) in zip(g, dg):   # fields ascending
            v = np.zeros(all_docs.size, dtype=np.float64)
            idx = np.searchsorted(all_docs, docs)
            v[idx] = t.idf * t.part(tfs, dls, avgdl)
            gsum += v
            np.maximum(gmax, v, out=gmax)
        scores += gmax + tie * (gsum - gmax)
    return topk_select(all_docs, _quantize(scores, qmul), k, after)


def score_and(terms, avgdl: float, k: int, qmul: float | None = None,
              after: tuple[float, int] | None = None):
    """Conjunctive over query TERMS (a doc must contain every term in at
    least one field): intersection starting from the rarest term-group.
    ``terms`` is a list of TermBlocks (single-field) or a list of lists
    (one group of field streams per term, ascending field order within)."""
    groups = [[g] if isinstance(g, TermBlocks) else list(g) for g in terms]
    if not groups or any(sum(t.total for t in g) == 0 for g in groups):
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    by_rarity = sorted(range(len(groups)),
                       key=lambda i: sum(t.total for t in groups[i]))
    cand = _group_docs(groups[by_rarity[0]])
    for i in by_rarity[1:]:
        if cand.size == 0:
            break
        cand = np.intersect1d(cand, _group_docs(groups[i]),
                              assume_unique=True)
    if cand.size == 0:
        return cand, np.zeros(0, dtype=np.float64)
    scores = np.zeros(cand.size, dtype=np.float64)
    for g in groups:  # ascending (term, field) == oracle summation order
        for t in g:
            if not t.total:
                continue
            docs, tfs, dls = t.decode_all()
            idx = np.searchsorted(docs, cand)
            hit = idx < docs.size
            hit[hit] = docs[idx[hit]] == cand[hit]
            scores[hit] += t.idf * t.part(tfs[idx[hit]], dls[idx[hit]],
                                          avgdl)
    return topk_select(cand, _quantize(scores, qmul), k, after)


def score_or_must(terms, must_flags, avgdl: float, k: int,
                  qmul: float | None = None,
                  after: tuple[float, int] | None = None):
    """Disjunctive scoring with a MUST subset (the Lucene
    ``CommonTermsQuery`` shape: low-frequency terms are required,
    high-frequency terms only contribute): a doc qualifies iff it
    matches EVERY must term (in any field); qualifying docs score the
    full disjunctive sum over ALL terms in the same ascending
    (term, field) order as ``score_exhaustive_or`` — bit-identical for
    qualifying docs. ``terms``/``must_flags`` are parallel, terms
    ascending. A must term with no live streams disqualifies the whole
    bucket (buckets are doc-complete, so this is exact)."""
    groups = [[g] if isinstance(g, TermBlocks) else list(g) for g in terms]
    live = [[t for t in g if t.total] for g in groups]
    z = np.zeros(0, dtype=np.int64)
    if any(f and not g for g, f in zip(live, must_flags)):
        return z, np.zeros(0, dtype=np.float64)
    pairs = [(g, f) for g, f in zip(live, must_flags) if g]
    if not pairs:
        return z, np.zeros(0, dtype=np.float64)
    decoded = [[t.decode_all() for t in g] for g, _ in pairs]
    all_docs = np.unique(np.concatenate(
        [d[0] for g in decoded for d in g]))
    keep = np.ones(all_docs.size, dtype=bool)
    for (g, f), dg in zip(pairs, decoded):
        if not f:
            continue
        gmask = np.zeros(all_docs.size, dtype=bool)
        for docs, _, _ in dg:
            gmask[np.searchsorted(all_docs, docs)] = True
        keep &= gmask
    cand = all_docs[keep]
    if cand.size == 0:
        return cand, np.zeros(0, dtype=np.float64)
    scores = np.zeros(cand.size, dtype=np.float64)
    for (g, f), dg in zip(pairs, decoded):   # ascending (term, field)
        for t, (docs, tfs, dls) in zip(g, dg):
            idx = np.searchsorted(docs, cand)
            hit = idx < docs.size
            hit[hit] = docs[idx[hit]] == cand[hit]
            scores[hit] += t.idf * t.part(tfs[idx[hit]], dls[idx[hit]],
                                          avgdl)
    return topk_select(cand, _quantize(scores, qmul), k, after)
