"""Top-k scoring kernels: vectorized exhaustive BM25, galloping AND
intersection, and document-at-a-time Block-Max WAND (BMW) with lazy block
decode. All operate on decoded (or lazily decodable) posting blocks: one
bucket's inside the distributed scorer UDF, every bucket's at once in the
local reader (``local.LocalSearchIndex``).

The per-block ``(first_doc, last_doc, max_tf, min_dl)`` metadata written at
merge time gives the block upper bound ``idf * part(max_tf, min_dl)`` —
``part`` is monotone increasing in tf and decreasing in dl, so this bounds
every real score in the block. This is the scalable analogue of the
reference's sampled inline-suffix skip index
(``lib/suffix_array_reader.rb:224-292``), minus its disabled/buggy block
alignment (noted "occasionally causes infinite loops" there — we test pruned
== exhaustive instead).

Float discipline: scores are float64 and per-doc totals always sum term
contributions in ascending term order, so WAND, exhaustive, Spark and the
pure-Python oracle produce bit-identical scores (FIXTURES F5 rank-identical
requirement).
"""

from __future__ import annotations



import numpy as np

from .codec import get_codec

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
                              non-negative-scores contract; the clamp
                              keeps the part monotone inc in tf / dec in
                              dl, so block-max WAND bounds stay sound).
    sim == ("lmjm", l, pw)-> LM Jelinek-Mercer (Zhai & Lafferty 2001 /
                              Lucene LMJelinekMercerSimilarity):
                              log(1 + ((1-l) * (tf/dl)) / (l * p(w|C)))
                              — always positive, no clamp needed.
    sim == ("bm25plus", d) -> BM25+ (Lv & Zhai, CIKM 2011): the plain
                              BM25 tf/length part plus the constant
                              lower-bound delta, fixing BM25's
                              over-penalization of long documents
                              (every matching posting contributes at
                              least idf*delta regardless of dl).

    Every variant is monotone increasing in tf and decreasing in dl, so
    the per-block (max_tf, min_dl) upper bound machinery applies
    unchanged to all of them."""
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
    scorer) or across all buckets (local reader) — decoded lazily per
    block. ``idf`` is the full scalar multiplier for this stream's
    contributions — field weight × idf(term, field) for weighted multi-field
    scoring; ``avgdl`` is the FIELD's average length (BM25F-style per-field
    normalization, the principled upgrade of the reference's per-field
    weights, ``lib/fates.rb:65``)."""

    __slots__ = ("idf", "avgdl", "first", "last", "ns", "max_tf", "min_dl",
                 "enc_docs", "enc_tfs", "enc_dls", "_cache", "_all", "total",
                 "codec", "sim")

    def __init__(self, idf: float, first, last, ns, max_tf, min_dl,
                 enc_docs, enc_tfs, enc_dls, avgdl: float = 0.0,
                 codec: str = "varint", sim: tuple | None = None):
        order = np.argsort(np.asarray(first, dtype=np.int64), kind="mergesort")
        self.idf = float(idf)
        self.avgdl = float(avgdl)
        self.sim = sim
        self.codec = get_codec(codec)
        self.first = np.asarray(first, dtype=np.int64)[order]
        self.last = np.asarray(last, dtype=np.int64)[order]
        self.ns = np.asarray(ns, dtype=np.int64)[order]
        self.max_tf = np.asarray(max_tf, dtype=np.int64)[order]
        self.min_dl = np.asarray(min_dl, dtype=np.int64)[order]
        self.enc_docs = [enc_docs[i] for i in order]
        self.enc_tfs = [enc_tfs[i] for i in order]
        self.enc_dls = [enc_dls[i] for i in order]
        self._cache: dict[int, tuple] = {}
        self._all = None
        self.total = int(self.ns.sum())
        # blocks from different build chunks can interleave doc ranges; the
        # cursor/skip machinery assumes disjoint ordered blocks, so re-block
        # once on load (chunked indexes only; single-chunk never hits this)
        if len(self.ns) > 1 and bool(np.any(self.first[1:] <= self.last[:-1])):
            self._reblock()

    def _reblock(self, block_size: int = 128):
        docs, tfs, dls = self.decode_all()
        nb = (docs.size + block_size - 1) // block_size
        starts = np.arange(nb, dtype=np.int64) * block_size
        ends = np.minimum(starts + block_size, docs.size)
        self.first = docs[starts]
        self.last = docs[ends - 1]
        self.ns = ends - starts
        self.max_tf = np.maximum.reduceat(tfs, starts)
        self.min_dl = np.minimum.reduceat(dls, starts)
        self.enc_docs = self.enc_tfs = self.enc_dls = None
        self._cache = {i: (docs[a:b], tfs[a:b], dls[a:b])
                       for i, (a, b) in enumerate(zip(starts, ends))}

    def block(self, i: int):
        got = self._cache.get(i)
        if got is None:
            got = (self.codec.decode_ids(self.enc_docs[i], int(self.ns[i])),
                   self.codec.decode_u32s(self.enc_tfs[i], int(self.ns[i])),
                   self.codec.decode_u32s(self.enc_dls[i], int(self.ns[i])))
            self._cache[i] = got
        return got

    def decode_all(self):
        """(docs, tfs, dls) for the whole stream, doc-sorted.
        Bulk path: ONE vectorized multi-buffer varint decode across every
        block (per-block python calls dominate for long posting lists).
        Blocks from different build chunks or buckets may interleave doc
        ranges, so sort if needed."""
        if self._all is not None:
            return self._all
        if not len(self.ns):
            z = np.zeros(0, dtype=np.int64)
            return z, z, z
        # bulk decode even when some blocks were already decoded into the
        # block cache (the BMW chunk rounds warm it before a wholesale
        # bail-out): ONE vectorized decode of everything beats assembling
        # thousands of per-block python decodes by ~20x
        if self.enc_docs is not None:
            from .codec import _u64_to_i64_ordered, segmented_cumsum_u64
            total = self.total
            starts = np.zeros(len(self.ns), dtype=np.int64)
            np.cumsum(self.ns[:-1], out=starts[1:])
            d_gaps = self.codec.decode_concat(self.enc_docs, self.ns, total)
            docs = _u64_to_i64_ordered(segmented_cumsum_u64(d_gaps, starts))
            tfs = self.codec.decode_concat(self.enc_tfs, self.ns,
                                           total).astype(np.int64)
            dls = self.codec.decode_concat(self.enc_dls, self.ns,
                                           total).astype(np.int64)
        else:
            parts = [self.block(i) for i in range(len(self.ns))]
            docs = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
        # NB: compare, don't np.diff — int64 differences overflow for
        # full-range xxhash ids and can wrap to positive, silently skipping
        # the sort on an unsorted concat
        if np.any(docs[1:] <= docs[:-1]):
            o = np.argsort(docs, kind="mergesort")
            docs, tfs, dls = docs[o], tfs[o], dls[o]
        self._all = (docs, tfs, dls)
        return self._all

    def decode_blocks(self, sel: np.ndarray):
        """(docs, tfs, dls) for the selected block indices only — the
        block-skipping bulk path: ONE vectorized multi-buffer decode over
        just those blocks (a term's blocks are doc-disjoint and
        first-sorted, so the concat is already doc-sorted)."""
        if sel.size == len(self.ns):
            return self.decode_all()
        if not sel.size:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z
        if self.enc_docs is None:  # re-blocked: everything is in the cache
            parts = [self.block(int(i)) for i in sel]
            return (np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]),
                    np.concatenate([p[2] for p in parts]))
        from .codec import _u64_to_i64_ordered, segmented_cumsum_u64
        ns = self.ns[sel]
        total = int(ns.sum())
        starts = np.zeros(ns.size, dtype=np.int64)
        np.cumsum(ns[:-1], out=starts[1:])
        d_gaps = self.codec.decode_concat([self.enc_docs[i] for i in sel],
                                          ns, total)
        docs = _u64_to_i64_ordered(segmented_cumsum_u64(d_gaps, starts))
        tfs = self.codec.decode_concat([self.enc_tfs[i] for i in sel],
                                       ns, total).astype(np.int64)
        dls = self.codec.decode_concat([self.enc_dls[i] for i in sel],
                                       ns, total).astype(np.int64)
        return docs, tfs, dls

    @classmethod
    def from_arrays(cls, idf: float, docs: np.ndarray, tfs: np.ndarray,
                    dls: np.ndarray, avgdl: float = 0.0,
                    block_size: int = 128,
                    sim: tuple | None = None) -> "TermBlocks":
        """Build directly from decoded doc-sorted arrays (tombstone-filtered
        streams); block metadata recomputed so WAND bounds stay tight."""
        tb = cls.__new__(cls)
        tb.idf = float(idf)
        tb.avgdl = float(avgdl)
        tb.sim = sim
        tb.codec = get_codec("varint")  # unused: everything below is decoded
        nb = (docs.size + block_size - 1) // block_size
        starts = np.arange(nb, dtype=np.int64) * block_size
        ends = np.minimum(starts + block_size, docs.size)
        tb.first = docs[starts] if nb else np.zeros(0, np.int64)
        tb.last = docs[ends - 1] if nb else np.zeros(0, np.int64)
        tb.ns = ends - starts
        tb.max_tf = np.maximum.reduceat(tfs, starts) if nb else \
            np.zeros(0, np.int64)
        tb.min_dl = np.minimum.reduceat(dls, starts) if nb else \
            np.zeros(0, np.int64)
        tb.enc_docs = tb.enc_tfs = tb.enc_dls = None
        tb._cache = {i: (docs[a:b], tfs[a:b], dls[a:b])
                     for i, (a, b) in enumerate(zip(starts, ends))}
        tb._all = (docs, tfs, dls)
        tb.total = int(docs.size)
        return tb

    def without_docs(self, drop_sorted: np.ndarray) -> "TermBlocks":
        """Copy of this stream with the (sorted int64) doc ids removed."""
        docs, tfs, dls = self.decode_all()
        j = np.searchsorted(drop_sorted, docs)
        hit = j < drop_sorted.size
        hit[hit] = drop_sorted[j[hit]] == docs[hit]
        if not hit.any():
            return self
        keep = ~hit
        return TermBlocks.from_arrays(self.idf, docs[keep], tfs[keep],
                                      dls[keep], avgdl=self.avgdl,
                                      sim=self.sim)

    def keep_docs(self, keep_sorted: np.ndarray) -> "TermBlocks":
        """Copy of this stream restricted to the (sorted int64) doc ids —
        the positive twin of ``without_docs``, used by proximity search to
        score only window-matching documents."""
        docs, tfs, dls = self.decode_all()
        j = np.searchsorted(keep_sorted, docs)
        hit = j < keep_sorted.size
        hit[hit] = keep_sorted[j[hit]] == docs[hit]
        if hit.all():
            return self
        return TermBlocks.from_arrays(self.idf, docs[hit], tfs[hit],
                                      dls[hit], avgdl=self.avgdl,
                                      sim=self.sim)

    def part(self, tf, dl, avgdl_fallback: float):
        """This stream's tf/length part under its similarity spec."""
        return sim_part(self.sim, tf, dl, self.avgdl, avgdl_fallback)

    def block_ub(self, i: int, avgdl: float | None = None) -> float:
        a = self.avgdl if avgdl is None else avgdl
        return self.idf * float(self.part(self.max_tf[i], self.min_dl[i], a))

    def term_ub(self, avgdl: float | None = None) -> float:
        if not len(self.ns):
            return 0.0
        a = self.avgdl if avgdl is None else avgdl
        return self.idf * float(
            self.part(int(self.max_tf.max()), int(self.min_dl.min()), a))


def _quantize(scores: np.ndarray, qmul: float | None) -> np.ndarray:
    """Floor-quantize scores (cross-engine rank stability; see
    SearchIndex.search quantize)."""
    return np.floor(scores * qmul) / qmul if qmul else scores


def score_exhaustive_or(terms: list[TermBlocks], avgdl: float, k: int,
                        qmul: float | None = None,
                        after: tuple[float, int] | None = None):
    """Vectorized disjunctive BM25 over the union of candidate docs.
    Streams must be supplied in ascending (term, field) order (summation
    order). ``avgdl`` is the fallback when a stream carries none."""
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


def score_bmw_or(terms: list[TermBlocks], avgdl: float, k: int,
                 qmul: float | None = None,
                 chunk_intervals: int = 16,
                 after: tuple[float, int] | None = None):
    """Interval-at-a-time Block-Max WAND top-k (disjunctive), fully
    block-vectorized — no per-document Python loop.

    The doc-id space is decomposed into ELEMENTARY INTERVALS at the union
    of all block boundaries, so every block either fully covers an interval
    or misses it entirely. A difference array over block upper bounds gives
    each interval's exact score bound in one vectorized pass. A short
    PRELUDE evaluates the best-bound intervals (``chunk_intervals`` at a
    time) with the same numpy union+searchsorted kernel as
    ``score_exhaustive_or`` (same ascending-term summation order →
    bit-identical scores) until the running top-k sets the threshold; the
    FINISH is then one block-skipping bulk pass — only blocks that
    intersect an interval whose bound survives the threshold are decoded
    at all, everything under it is skipped WHOLESALE.

    Returns exactly the same (doc, score) top-k as ``score_exhaustive_or``:
    pruning uses strict ``bound < theta`` so equal-to-threshold docs, which
    can still win on the doc-id tie-break, are always evaluated.
    """
    live = [t for t in terms if t.total]
    if not live:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)

    # elementary intervals [bounds[j], bounds[j+1]) over block boundaries
    bounds = np.unique(np.concatenate(
        [t.first for t in live] + [t.last + 1 for t in live]))
    m = bounds.size - 1
    # interval bounds accumulate POSITIVE block ubs per term, in the same
    # ascending-term order the scorer sums contributions. No +/- difference
    # array: cancellation there can round an interval's bound BELOW a
    # boundary doc's float score (tf==max_tf, dl==min_dl) and wrongly prune
    # an exact-theta tie. Positive same-order accumulation is elementwise
    # >= the doc sum under IEEE monotonicity, so the bound is sound — and
    # bit-exact on the boundary case.
    iub = np.zeros(m, dtype=np.float64)
    ivstart = bounds[:m]
    for t in live:
        tub = t.idf * t.part(t.max_tf, t.min_dl, avgdl)
        # a term's blocks are doc-disjoint, and intervals are elementary
        # (no block boundary inside one), so each interval is covered by at
        # most ONE of the term's blocks — find it by binary search instead
        # of a Python loop over blocks. One add per (term, interval), in
        # the same ascending-term order as before: bit-identical bounds.
        cand = np.searchsorted(t.first, ivstart, side="right") - 1
        covered = cand >= 0
        covered[covered] = t.last[cand[covered]] >= ivstart[covered]
        iub[covered] += tub[cand[covered]]
    cand = np.flatnonzero(iub > 0.0)
    order = cand[np.argsort(-iub[cand], kind="stable")]

    pool_docs = np.zeros(0, dtype=np.int64)
    pool_scores = np.zeros(0, dtype=np.float64)
    # search_after: docs already scored at FULL coverage whose score fell
    # on/before the cursor. They must never re-enter via a later round's
    # PARTIAL re-score (a skipped covering block lowers the sum, which
    # could fake cursor eligibility). Prelude scores are always full
    # coverage (a chunk interval's every covering block is decoded), so
    # blocked only accretes there; the finish is the final round.
    blocked = np.zeros(0, dtype=np.int64)
    theta = -1.0
    pos = 0
    while pos < order.size:
        in_prelude = theta < 0.0
        if theta >= 0.0:
            # WHOLESALE FINISH (block-skipping): the prelude rounds set the
            # threshold from the best-bound intervals; from here,
            # fine-grained interval stepping costs Python bookkeeping PER
            # SURVIVING INTERVAL (measured 2-2.6x over the exhaustive
            # numpy kernel on head-term queries where most intervals
            # survive). Instead, select exactly the blocks that intersect
            # a surviving interval (vectorized reduceat-style count over
            # the survival flags) and bulk-decode ONLY those — blocks all
            # of whose intervals fall below theta are skipped wholesale,
            # never decoded, which is the Block-Max-WAND win. Pruning is
            # strict (`< theta`), so exact-theta ties are evaluated; docs
            # in sub-theta intervals inside a selected block are scored
            # harmlessly (their score is bounded below theta and cannot
            # displace the top-k); prelude docs that reappear are merged
            # with max at the pool update (see below), so nothing is ever
            # counted twice or downgraded by a partially-covered re-score.
            remaining = order[pos:]
            surv = remaining[iub[remaining] >= theta]
            pos = order.size
            if not surv.size:
                break
            flags = np.zeros(m, dtype=bool)
            flags[surv] = True
            cnt = np.zeros(m + 1, dtype=np.int64)
            cnt[1:] = np.cumsum(flags)
            parts = []
            for t in live:
                s = np.searchsorted(bounds, t.first)
                e = np.searchsorted(bounds, t.last + 1)
                bsel = np.flatnonzero(cnt[e] - cnt[s] > 0)
                if not bsel.size:
                    continue
                dd, tt, ll = t.decode_blocks(bsel)
                parts.append((t, dd, tt, ll))
        else:
            # prelude: evaluate the best-bound intervals a small chunk at
            # a time until the pool holds k docs and the threshold exists
            chunk = order[pos:pos + chunk_intervals]
            pos += chunk_intervals
            # gather each term's postings inside the chunk's intervals:
            # find the one covering block per (term, interval) by binary
            # search, bulk-decode the distinct blocks, then keep only the
            # docs whose interval is in the chunk — all vectorized (the
            # per-interval python decode loop this replaces was the
            # dominant WAND-vs-exhaustive overhead)
            cflags = np.zeros(m, dtype=bool)
            cflags[chunk] = True
            cstart = bounds[chunk]
            parts = []
            for t in live:
                cb = np.searchsorted(t.first, cstart, side="right") - 1
                ok = cb >= 0
                ok[ok] = t.last[cb[ok]] >= cstart[ok]
                bsel = np.unique(cb[ok])
                if not bsel.size:
                    continue
                dd, tt, ll = t.decode_blocks(bsel)
                keep = cflags[np.searchsorted(bounds, dd,
                                              side="right") - 1]
                if keep.any():
                    parts.append((t, dd[keep], tt[keep], ll[keep]))
        if not parts:
            continue
        union = np.unique(np.concatenate([p[1] for p in parts]))
        sc = np.zeros(union.size, dtype=np.float64)
        for t, dd, tt, ll in parts:  # ascending term order == exhaustive
            idx = np.searchsorted(union, dd)
            sc[idx] += t.idf * t.part(tt, ll, avgdl)
        sc = _quantize(sc, qmul)
        if after is not None:
            if blocked.size:
                keep = ~np.isin(union, blocked)
                union, sc = union[keep], sc[keep]
            elig = after_mask(union, sc, after)
            if in_prelude and not elig.all():
                blocked = np.union1d(blocked, union[~elig])
            union, sc = union[elig], sc[elig]
            # docs whose only appearance is a partial finish re-score sit
            # in sub-theta intervals: score < theta (the k-th ELIGIBLE
            # best), so even if the partial sum slips past the cursor it
            # cannot displace the top-k — same argument as the unmasked
            # kernel, with theta now defined over eligible docs only.
        # a doc scored in a prelude round can be decoded again by the
        # wholesale finish. If its interval survives the threshold, every
        # covering block is selected and it re-scores bit-identically; if
        # not, it may reappear with only PARTIAL term coverage (some
        # covering block skipped) and a lower score. Merging with max
        # keeps the full prelude score in that case — O(k log n), cheaper
        # than masking every decoded doc's interval. Docs whose only entry
        # is partial sit in sub-theta intervals and cannot reach the
        # top-k (floor-quantize is monotone, so this holds quantized too).
        if pool_docs.size:
            both = np.isin(pool_docs, union)
            if both.any():
                at = np.searchsorted(union, pool_docs[both])
                sc[at] = np.maximum(sc[at], pool_scores[both])
                pool_docs = pool_docs[~both]
                pool_scores = pool_scores[~both]
        pool_docs = np.concatenate([pool_docs, union])
        pool_scores = np.concatenate([pool_scores, sc])
        pool_docs, pool_scores = topk_select(pool_docs, pool_scores, k)
        if pool_docs.size >= k:
            theta = float(pool_scores[k - 1])
    return pool_docs, pool_scores


def _lookup_in_blocks(t: TermBlocks, cand: np.ndarray):
    """``t``'s postings restricted to the sorted candidate doc ids,
    decoding ONLY the blocks that contain a candidate (block metadata
    binary search; a term's blocks are doc-disjoint and first-sorted).
    Degenerates to ``decode_all`` when every block is touched."""
    bi = np.searchsorted(t.first, cand, side="right") - 1
    ok = bi >= 0
    ok[ok] = t.last[bi[ok]] >= cand[ok]
    bsel = np.unique(bi[ok])
    if not bsel.size:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    docs, tfs, dls = t.decode_blocks(bsel)
    j = np.searchsorted(cand, docs)
    hit = j < cand.size
    hit[hit] = cand[j[hit]] == docs[hit]
    return docs[hit], tfs[hit], dls[hit]


def _score_full(live: list[TermBlocks], cand: np.ndarray, avgdl: float):
    """Exact scores for the sorted candidate ids: per stream IN LIST ORDER
    (the exhaustive kernel's ascending summation order — a doc's adds are
    the same subsequence, so the float64 fold is bit-identical), looked up
    block-skippingly."""
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in live:
        docs, tfs, dls = _lookup_in_blocks(t, cand)
        if docs.size:
            idx = np.searchsorted(cand, docs)
            scores[idx] += t.idf * t.part(tfs, dls, avgdl)
    return scores


def score_maxscore_or(terms: list[TermBlocks], avgdl: float, k: int,
                      qmul: float | None = None,
                      after: tuple[float, int] | None = None,
                      seed_mult: int = 4):
    """MaxScore top-k (Turtle & Flood 1995, the Lucene 8+ default WAND
    sibling), candidate-set formulation, fully vectorized:

    1. SEED: fully score the ``seed_mult * k`` best postings (by local
       contribution) of the highest-upper-bound stream; the k-th best of
       those full scores is a sound LOWER bound theta on the final
       threshold.
    2. SPLIT: streams sorted ascending by upper bound ``ub = idf *
       part(max_tf, min_dl)``; the longest prefix whose ub sum is
       STRICTLY below theta is non-essential — a doc appearing in no
       essential stream has score <= that prefix sum < theta and (floor
       quantization being monotone) can neither displace nor tie into
       the top-k, doc-id tie-break included.
    3. EVALUATE: candidates = essential-stream doc unions + the seed;
       every candidate is scored EXACTLY over all streams (non-essential
       streams are probed block-skippingly, never fully decoded), so the
       returned (doc, score) top-k is bit-identical to
       ``score_exhaustive_or`` — the same guarantee as ``score_bmw_or``,
       reached by pruning docs instead of score intervals.

    With ``after``, theta comes from cursor-eligible seed scores only and
    the final selection applies the same mask; every candidate score is
    full-coverage, so no partial-score bookkeeping is needed."""
    live = [t for t in terms if t.total]
    if not live:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    ubs = np.array([t.term_ub(avgdl) for t in live], dtype=np.float64)

    s_i = int(np.argmax(ubs))
    sd, st, sl = live[s_i].decode_all()
    contrib = live[s_i].idf * live[s_i].part(st, sl, avgdl)
    nseed = min(sd.size, max(seed_mult, 1) * k)
    seed = np.unique(sd[np.lexsort((sd, -contrib))[:nseed]])
    sq = _quantize(_score_full(live, seed, avgdl), qmul)
    pool_s = sq[after_mask(seed, sq, after)] if after is not None else sq
    theta = -1.0
    if pool_s.size >= k:
        theta = float(np.partition(pool_s, pool_s.size - k)[pool_s.size - k])

    order = np.argsort(ubs, kind="stable")          # ascending ub
    if theta >= 0.0:
        j = int(np.searchsorted(np.cumsum(ubs[order]), theta))
        ess = order[j:]
    else:
        ess = order
    parts = [live[int(i)].decode_all()[0] for i in ess] + [seed]
    cand = np.unique(np.concatenate(parts))
    scores = _score_full(live, cand, avgdl)
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
