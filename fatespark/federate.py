"""Federated multi-index search — ES ``dfs_query_then_fetch`` across
indexes/shards, exact.

Searching several indexes with each scoring under its OWN statistics
(ES's default query_then_fetch) makes scores incomparable across
indexes: the same term gets a different idf per shard, and the merged
ranking interleaves incompatible numbers. ES's ``dfs_query_then_fetch``
fixes it with a stats pre-phase: collect GLOBAL term statistics first,
then have every shard score under them. This module implements that
contract exactly over ``SearchIndex`` instances:

1. **dfs phase** — per-(term, field) document frequencies SUM across
   indexes (dictionary lookups only, vocabulary-bounded); ``n_docs`` and
   per-field total doc length sum to global values, giving the global
   idf and avgdl.
2. **query phase** — each index's per-bucket kernels score with the
   global stats injected through the same override hooks the
   filtered-search rebase path uses; per-index top-k candidates union
   and one k-bounded global rank merges them.

Exactness: a doc's BM25 under global stats depends only on its own
tf/dl plus the global (idf, avgdl) — so federated scores are
BIT-IDENTICAL to scoring one index built over the union corpus (the
per-doc ascending-(term, field) fold order is unchanged). That identity
is the test AND the operational claim: you can shard a 10^12-doc corpus
into per-crawl / per-month indexes, search them federated, and get the
single-index ranking — the serving topology every web-scale deployment
actually runs.

Contract: doc_ids globally unique across indexes (they're shards of one
corpus); all indexes share the analyzer. AND mode skips an index
missing any query term in its dictionary (none of its docs can match).

Scale shape: the dfs phase is per-index dictionary pruning (the
``term_stats`` path, pushed-down term IN-lists); the query phase is the
ordinary per-bucket scan per index; the merge is indexes x buckets x k
rows. Reference analogue: none (fates is single-index) — target-new,
the ES/Lucene distributed-search surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .local import _fold_terms, plan_search

__all__ = ["federated_stats", "search_federated"]


def federated_stats(indexes, terms: list[str]):
    """The dfs phase: (n_docs, field_avgdl, gdf) with per-(term, field)
    dfs summed across ``indexes`` and length stats globalized."""
    n = sum(ix.n_docs for ix in indexes)
    if n == 0:
        raise ValueError("federated search over empty indexes")
    sumdl: dict[int, float] = {}
    for ix in indexes:
        for f, s in ix.field_sumdl.items():
            sumdl[f] = sumdl.get(f, 0.0) + float(s)
    favg = {f: s / n for f, s in sumdl.items()}
    gdf: dict[tuple, int] = {}
    for ix in indexes:
        st = ix.term_stats(terms)
        for t, fields in st.items():
            for f, d in fields.items():
                gdf[(t, int(f))] = gdf.get((t, int(f)), 0) + int(d["df"])
    return n, favg, gdf


def search_federated(indexes, query, k: int = 10, mode: str = "OR",
                     quantize: int | None = None,
                     use_wand: bool = False) -> DataFrame:
    """Top-k (doc_id, score) across ``indexes`` under GLOBAL statistics
    (module docstring) — bit-identical to searching the union index."""
    if not indexes:
        raise ValueError("at least one index required")
    if k <= 0:
        raise ValueError("k must be positive")
    analyzer = indexes[0].analyzer
    if any(ix.analyzer != analyzer for ix in indexes):
        raise ValueError("all federated indexes must share the analyzer")
    qterms = _fold_terms(query, analyzer)
    if not qterms:
        raise ValueError("federated search needs >= 1 analyzable term")
    n, favg, gdf = federated_stats(indexes, qterms)
    present = sorted({t for (t, _f) in gdf})
    if not present or (mode == "AND" and len(present) < len(qterms)):
        return indexes[0]._empty()
    # global avgdl from the summed EXACT per-field dl totals — the same
    # derivation favg uses — not from the already-rounded per-index avgdl
    # doubles (avgdl * n_docs can differ in the last bits and undermine
    # the union-index bit-identity; pre-field_stats indexes degrade to
    # the avgdl * n_docs reconstruction inside field_sumdl itself)
    sumdl_all = sum(float(s) for ix in indexes
                    for s in ix.field_sumdl.values())
    avgdl = sumdl_all / n
    parts = []
    for ix in indexes:
        # global n/df/avgdl replace each index's own; quantize INSIDE the
        # kernels (quantize-then-rank), exactly as search() does — keeps
        # the union-index bit-identity through ties
        p = plan_search(ix, query, k=k, mode=mode, quantize=quantize,
                        use_wand=use_wand,
                        global_stats=lambda *_: (n, avgdl, favg, gdf))
        if p is not None:   # None: no doc here can match
            parts.append(ix._score_buckets(p))
    if not parts:
        return indexes[0]._empty()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
