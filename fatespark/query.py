"""Query engine: count / search / top-k over a built index.

Query lifecycle (SURVEY §3.2 target shape): fold query terms → broadcast-size
lookup of term stats (df → idf) from the tiny ``terms`` table (predicate
pushdown onto term-sorted parquet) → filtered scan of posting blocks
(``term IN (...)`` reaches the parquet row-group stats) → per-bucket scorer
(``applyInPandas``: decode, intersect/merge, BM25, block-max WAND, local
top-k) → global ``orderBy(score DESC, doc_id ASC).limit(k)`` (Catalyst
``TakeOrderedAndProject``) → optional doc-metadata join.

The index is document-partitioned (bucket = hash(doc_id)), so every bucket
scores independently and the global merge touches only n_buckets × k rows —
the property that keeps top-k latency flat as the corpus scales.

Public surface mirrors the reference library API (``lib/fates.rb:48-84``):
``count`` ~ fulltext_count, ``search(query, k, offset, mode)`` ~
fulltext_find with BM25 replacing weighted ranking, plus phrase
(``README.markdown:9-11`` natural phrase semantics) and prefix
(``README.markdown:7-9`` LIKE-prefix semantics) queries.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import ANALYZERS, ascii_fold
from .codec import (_u64_to_i64_ordered, get_codec, segmented_cumsum_u64,
                    varint_decode_concat)
from .oracle import idf as idf_fn
from .wand import (B, K1, TermBlocks, score_and, score_bmw_or,
                   score_dismax, score_exhaustive_or, score_maxscore_or,
                   score_or_msm, score_or_must)

RESULT_SCHEMA = "doc_id long, score double"

# tombstone sets up to this size ship inline in task closures (fast, no
# broadcast round-trip); larger sets go through a Spark broadcast variable
# so millions of deletes don't bloat every serialized task
TOMBSTONE_BROADCAST_ROWS = 100_000


class _TombRef:
    """Picklable handle to the sorted tombstone id array: the array inline
    (small set / None) or a Spark broadcast (large set). Closures capture
    the handle and call ``get()`` executor-side, so a task ships at most
    the broadcast id, never the array itself."""

    __slots__ = ("arr", "bc")

    def __init__(self, arr=None, bc=None):
        self.arr = arr
        self.bc = bc

    def get(self):
        return self.arr if self.bc is None else self.bc.value


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


def _term_blocks_from_pdf(g: pd.DataFrame, idf: float, avgdl: float = 0.0,
                          codec: str = "varint",
                          sim: tuple | None = None) -> TermBlocks:
    """One stream's ``TermBlocks`` from its block rows: a pandas frame, or
    any mapping of block columns to arrays (``serving.Rows``)."""
    return TermBlocks(
        idf, g["first_doc"], g["last_doc"], g["n"], g["max_tf"],
        g["min_dl"], list(g["docs"]), list(g["tfs"]), list(g["dls"]),
        avgdl=avgdl, codec=codec, sim=sim)


class SearchIndex:
    """Reader over an index directory produced by ``IndexBuilder``.

    Time travel: ``snapshot_id=`` pins a committed snapshot from the
    snapshot log, ``as_of=`` (unix ts) picks the last snapshot at or before
    that time (snapshots.resolve) — the Iceberg ``VERSION AS OF`` /
    ``TIMESTAMP AS OF`` read semantics. Default: the current published
    state (and ``self.snapshot_id`` reports its id when a log exists)."""

    def __init__(self, spark: SparkSession, index_dir: str, *,
                 snapshot_id: int | None = None,
                 as_of: float | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self._paths: dict[str, list[str]] | None = None
        self.snapshot_id: int | None = None
        if snapshot_id is not None or as_of is not None:
            from . import snapshots as _snap
            self.snapshot_id, self._paths = _snap.resolve(
                index_dir, snapshot_id=snapshot_id, as_of=as_of)

        def src(name: str) -> list[str]:
            if self._paths is not None:
                return self._paths.get(name, [])
            return [f"{index_dir}/{name}"]

        meta = spark.read.parquet(*src("meta")).collect()
        if not meta:
            raise FileNotFoundError(f"no published index at {index_dir}")
        m = meta[0].asDict()
        self.n_docs = int(m["n_docs"])
        self.avgdl = float(m["avgdl"])
        self.n_buckets = int(m["n_buckets"])
        self.analyzer = m["analyzer"]
        self.store_positions = bool(m["store_positions"])
        self.n_fields = int(m.get("n_fields", 1) or 1)
        self.codec_name = str(m.get("codec") or "varint")
        self.meta = m
        # per-field avgdl (BM25F normalization); pre-field_stats indexes fall
        # back to the corpus avgdl for their single field
        try:
            fs = spark.read.parquet(*src("field_stats")).collect()
            self.field_avgdl = {int(r["field"]): float(r["avgdl"])
                                for r in fs}
            self.field_sumdl = {int(r["field"]): float(r["sum_dl"])
                                for r in fs}
        except Exception:
            self.field_avgdl = {0: self.avgdl}
            self.field_sumdl = {0: float(self.avgdl * self.n_docs)}
        self.postings = spark.read.parquet(*src("postings"))
        self.docs = spark.read.parquet(*src("docs"))
        self.terms = spark.read.parquet(*src("terms"))
        self._has_field = "field" in self.terms.columns
        # tombstoned deletes (pre-vacuum): excluded from every search result;
        # df/avgdl stats stay stale until IndexBuilder.vacuum (documented).
        # Snapshot reads pin the tombstone FILE SET of that commit, so a
        # travel to a pre-delete snapshot un-deletes.
        if self._paths is not None:
            files = self._paths.get("tombstones", [])
            if files:
                import pyarrow.parquet as pq
                t = pd.concat([pq.read_table(f).to_pandas() for f in files],
                              ignore_index=True)
            else:
                t = None
        else:
            from .build import _read_local_parquet
            t = _read_local_parquet(f"{index_dir}/tombstones")
        self.tombstones = np.sort(t["doc_id"].to_numpy(np.int64)) \
            if t is not None and not t.empty else None
        self._tomb_bc = None  # lazy broadcast for large tombstone sets

    def _tombs_ref(self) -> "_TombRef":
        """Closure-shippable tombstone handle (inline under
        ``TOMBSTONE_BROADCAST_ROWS`` ids, broadcast above — built once,
        reused by every subsequent query on this reader)."""
        t = self.tombstones
        if t is None or t.size <= TOMBSTONE_BROADCAST_ROWS:
            return _TombRef(arr=t)
        if self._tomb_bc is None:
            self._tomb_bc = self.spark.sparkContext.broadcast(t)
        return _TombRef(bc=self._tomb_bc)

    def mget(self, ids: list[int], *,
             with_deleted: bool = False) -> DataFrame:
        """ES ``_mget`` / ``ids`` query: point-fetch stored documents by
        id from the doc store — (doc_id, url, dl, any ``store_cols``),
        in ascending doc_id order. The id list pushes to the parquet
        scan (an ``In`` filter over the doc-store row groups — bounded
        IO regardless of corpus size); tombstoned docs are excluded
        unless ``with_deleted=True`` (the ES found=false contract is the
        absence of the row). Reference analogue: fates resolves matches
        back to source rows by offset (``lib/fates.rb:52-60``); the
        stored-fields fetch is the same serving call over the doc
        store."""
        if not ids:
            raise ValueError("mget needs >= 1 id")
        uniq = sorted({int(i) for i in ids})
        out = self.docs.filter(F.col("doc_id").isin(uniq))
        t = self.tombstones
        if not with_deleted and t is not None:
            uset = set(uniq)
            dead = [int(d) for d in t if int(d) in uset]
            if dead:
                out = out.filter(~F.col("doc_id").isin(dead))
        if "dls" in out.columns:
            out = out.withColumn(
                "dl", F.col("dls")[0].cast("long")).drop("dls")
        # physical layout columns are not stored fields
        out = out.drop(*[c for c in ("chunk",) if c in out.columns])
        return out.orderBy("doc_id")

    # -- stats ---------------------------------------------------------------
    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        """term -> field -> {df, cf, max_tf} (single-field indexes: field 0
        only). One partition-pruned lookup of the tiny terms table."""
        rows = self.terms.filter(F.col("term").isin(list(terms))).collect()
        out: dict[str, dict] = {}
        for r in rows:
            f = int(r["field"]) if self._has_field else 0
            out.setdefault(r["term"], {})[f] = {
                "df": int(r["df"]), "cf": int(r["cf"]),
                "max_tf": int(r["max_tf"])}
        return out

    def count(self, term: str, field: int | None = None) -> int:
        """Doc frequency (reference ``count_hits`` analogue for whole-token
        terms, ``lib/suffix_array_reader.rb:115-125``). On a multi-field
        index with ``field=None`` this counts (doc, field) hit locations —
        the reference's suffix-hit granularity — not distinct docs."""
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("df", 0)
        return sum(v["df"] for v in by_field.values())

    def count_occurrences(self, term: str, field: int | None = None) -> int:
        """Total occurrences (collection frequency)."""
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("cf", 0)
        return sum(v["cf"] for v in by_field.values())

    def _empty(self, with_url: bool = False) -> DataFrame:
        return self.spark.createDataFrame(
            [], RESULT_SCHEMA + (", url string" if with_url else ""))

    # -- per-hit enumeration ---------------------------------------------------
    def find_all(self, query: str | list[str]) -> DataFrame:
        """Every individual hit location of the query's terms:
        (doc_id, field, term, position) with 0-based token positions —
        the reference's lazy ``Hits``/``Hit`` enumeration granularity
        (``lib/suffix_array_reader.rb:45-72``) as a DataFrame, so it stays
        lazy/streamable exactly like the reference's Enumerable. Positions
        come straight from the index's posting position lists (no corpus
        re-scan); tombstoned docs are filtered. Attach surrounding text
        with ``hit_contexts`` (the ``Hit#context`` analogue)."""
        if not self.store_positions:
            raise ValueError("index built without positions; find_all "
                             "disabled")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        present = sorted({t for t in qterms if t in stats})
        if not present:
            return self.spark.createDataFrame(
                [], "doc_id long, field int, term string, position long")
        tombs_ref = self._tombs_ref()
        codec = self.codec_name

        def enum_hits(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.concat(_hit_frames(pdf, codec, tombs_ref.get()),
                             ignore_index=True)

        blocks = self.postings.filter(F.col("term").isin(present)).select(
            "bucket", "term", "field", "n", "docs", "tfs", "dls", "poss")
        return blocks.groupBy("bucket").applyInPandas(
            enum_hits, "doc_id long, field int, term string, position long")

    def explain(self, query: str | list[str], k: int = 10,
                mode: str = "OR", weights: list[float] | None = None,
                quantize: int | None = None) -> DataFrame:
        """Per-(doc, term, field) BM25 scoring breakdown for the query's
        top-k documents — the Lucene ``Explanation`` surface: (doc_id,
        term, field, tf, df, dl, idf, contribution), where ``idf`` is the
        field-weighted idf scalar the scorer used and folding the
        contributions in ascending (term, field) order reproduces the
        ``search()`` score bit-for-bit (tested). Plan: ranked top-k
        (bounded, k ids collected) -> ``find_all`` restricted to those
        docs for exact tfs (only the query terms' posting streams are
        read) -> broadcast joins of the k-row dl slice and the tiny
        idf/avgdl tables; every float expression mirrors the kernel's
        operation order (``(1-b) + (b*dl)/avgdl``, ``idf * part``)."""
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        present = sorted({t for t in qterms if t in stats})
        empty_schema = ("doc_id long, term string, field int, tf long, "
                        "df long, dl long, idf double, contribution double")
        if not present:
            return self.spark.createDataFrame([], empty_schema)
        top = self.search(qterms, k=k, mode=mode, weights=weights,
                          quantize=quantize)
        ids = [int(r["doc_id"]) for r in top.select("doc_id").collect()]
        if not ids:
            return self.spark.createDataFrame([], empty_schema)
        w = list(weights) if weights is not None else [1.0] * self.n_fields
        idf_rows = [(t, f, int(st["df"]),
                     float(w[f] * idf_fn(self.n_docs, st["df"])))
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0]
        idf_df = self.spark.createDataFrame(
            idf_rows, "term string, field int, df long, widf double")
        favg_df = self.spark.createDataFrame(
            [(int(f), float(a)) for f, a in sorted(self.field_avgdl.items())],
            "field int, avgdl double")
        hits = self.find_all(present).filter(F.col("doc_id").isin(ids))
        tf = (hits.groupBy("doc_id", "term", "field")
              .agg(F.count("*").alias("tf")))
        dl = (self.docs.filter(F.col("doc_id").isin(ids))
              .select("doc_id", F.posexplode("dls").alias("field", "dl")))
        j = (tf.join(F.broadcast(idf_df), ["term", "field"])
             .join(F.broadcast(favg_df), "field")
             .join(F.broadcast(dl), ["doc_id", "field"]))
        tfd = F.col("tf").cast("double")
        dld = F.col("dl").cast("double")
        part = (tfd * F.lit(K1 + 1.0)
                / (tfd + F.lit(K1) * ((F.lit(1.0) - F.lit(B))
                                      + (F.lit(B) * dld) / F.col("avgdl"))))
        return (j.select("doc_id", "term", "field", "tf", "df",
                         F.col("dl").cast("long").alias("dl"),
                         F.col("widf").alias("idf"),
                         (F.col("widf") * part).alias("contribution"))
                .orderBy("doc_id", "term", "field"))

    def matching_docs(self, query: str | list[str],
                      mode: str = "OR") -> DataFrame:
        """Every live document matching the boolean query, as a (doc_id)
        DataFrame — OR: any term in any field; AND: every term (each in at
        least one field). Decodes ONLY the doc-id streams (column pruning
        keeps tf/dl/position bytes out of the scan entirely), and the
        distinct is bucket-local: buckets are doc-disjoint by construction,
        so no global distinct shuffle is ever needed. This is the
        unscored-match primitive facet counting and filtered exports build
        on (the reference's unranked ``find_all`` doc set,
        ``lib/fates.rb:73-81``, minus the per-hit granularity)."""
        qterms = sorted(set(_fold_terms(query, self.analyzer)))
        if not qterms:
            return self.spark.createDataFrame([], "doc_id long")
        stats = self.term_stats(qterms)
        present = [t for t in qterms if t in stats]
        if not present or (mode == "AND" and len(present) < len(qterms)):
            return self.spark.createDataFrame([], "doc_id long")
        codec = self.codec_name
        tombs_ref = self._tombs_ref()
        need_all = frozenset(present) if mode == "AND" else None

        def match_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"doc_id": _matched_ids(pdf, codec, tombs_ref.get(),
                                        need_all)})

        blocks = self.postings.filter(F.col("term").isin(present)).select(
            "bucket", "term", "n", "docs")
        return blocks.groupBy("bucket").applyInPandas(
            match_bucket, "doc_id long")

    # -- search ----------------------------------------------------------------
    def search(self, query: str | list[str], k: int = 10, mode: str = "AND",
               offset: int = 0, use_wand: bool | str = False,
               with_url: bool = False, quantize: int | None = None,
               weights: list[float] | None = None,
               exclude: str | list[str] | None = None,
               filter_terms: str | list[str] | None = None,
               filter_field: int | None = None,
               boosts: dict[str, float] | None = None,
               rebase_stats: bool = False,
               search_after: tuple[float, int] | None = None,
               similarity: str = "bm25", mu: float = 2000.0,
               jm_lambda: float = 0.7,
               delta: float = 1.0,
               min_should_match: int | None = None,
               must_terms: str | list[str] | None = None,
               combine: str = "sum",
               tie_breaker: float = 0.0) -> DataFrame:
        """Top-k BM25. Returns DataFrame (doc_id, score[, url]) in total
        order (score DESC, doc_id ASC), sliced [offset, offset+k).

        ``search_after=(score, doc_id)`` is CURSOR pagination (the
        Elasticsearch search_after contract): return the top-k docs
        sorting strictly after the cursor in the (score DESC, doc_id ASC)
        total order. Unlike ``offset`` — whose cost grows as
        O(offset + k) per bucket and per page — a cursor page is O(k)
        regardless of depth, which is the only pagination that survives
        deep scrolls at 10^12 docs. The eligibility mask is applied
        INSIDE the per-bucket kernels before top-k selection (and before
        WAND threshold-setting, so pruning stays exact); page p+1 passes
        the LAST hit of page p as ``search_after=(score, doc_id)`` —
        sort-key order, like Elasticsearch sort values. Mutually exclusive with
        ``offset``. With ``quantize``, the cursor compares against the
        quantized scores the previous page returned.

        ``use_wand`` selects the OR-mode pruning kernel: ``True`` is
        interval-at-a-time Block-Max WAND (``wand.score_bmw_or``),
        ``"maxscore"`` is the Turtle & Flood MaxScore candidate pruner
        (``wand.score_maxscore_or``) — both return the exhaustive
        kernel's exact (doc, score) top-k, bit-identical; they differ
        only in which postings they avoid decoding.

        ``boosts`` multiplies a term's score contribution (Lucene
        ``term^2`` semantics): the per-stream scalar becomes
        ``(weight * idf) * boost`` — a query-time knob only, nothing in
        the index changes. Keys run through the index analyzer exactly
        like query terms (fold + tokenize + stem — on a porter index
        ``{'running': 2.0}`` boosts the scored term ``run``); absent keys
        boost 1.0.

        ``weights`` gives one multiplier per field (default 1.0 each) — the
        reference's weighted-field ranking (``lib/fates.rb:65``) upgraded to
        a weighted sum of per-field BM25 with per-field length
        normalization. AND means: every query term in at least one field.

        ``exclude`` lists NOT-terms: any document containing one (in ANY
        field) is removed BEFORE per-bucket top-k selection, so ranks
        back-fill correctly — '-term' query semantics. Buckets are
        doc-disjoint, so each bucket's exclusion set is derived entirely
        from that bucket's own posting streams: no broadcast, no extra
        shuffle, the exclude terms simply ride the same postings scan.
        Exclude terms absent from the dictionary are no-ops.

        ``quantize=d`` floor-quantizes scores to d decimals BEFORE ranking
        (both locally and globally) so that cross-engine 1-ULP differences
        (e.g. a different libm ln) cannot flip near-tied ranks — used by the
        DuckDB-oracle driver checks; default is exact float64.

        ``filter_terms`` (with optional ``filter_field``) is an INDEX-SIDE
        metadata filter: a doc must contain at least one filter term (in
        ``filter_field`` if given, else any field) to be scored — IN-list
        semantics, e.g. lang IN ('en','de') against a lang field indexed
        as unscored metadata. The filter streams ride the same postings
        scan and restrict bucket-locally BEFORE per-bucket top-k (ranks
        back-fill), so a filtered query costs one scan and touches no
        doc-table join — the scalable faceted-search design (filters as
        postings). Filter terms contribute NO score.

        ``similarity`` picks the scoring model (the Lucene pluggable-
        Similarity contract; index bytes are model-agnostic — tf/dl/df/cf
        serve all of them, so this is a pure query-time switch):
        ``"bm25"`` (default, bit-unchanged), ``"classic"`` (Lucene
        ClassicSimilarity TF-IDF: idf_c^2 * sqrt(tf)/sqrt(dl) with
        idf_c = 1 + ln(N/(df+1))), or ``"lmd"`` (LM Dirichlet, Zhai &
        Lafferty 2004: ln(1 + tf/(mu*p(w|C))) + ln(mu/(dl+mu)) with
        p(w|C) = cf/total_field_tokens, per-contribution clamped at 0 —
        Lucene's non-negative-scores contract, which also keeps block-max
        WAND bounds sound, so ``use_wand`` works under every model).
        ``mu`` is the Dirichlet prior (lmd only); ``"lmjm"`` is LM
        Jelinek-Mercer (Zhai & Lafferty 2001: ln(1 + ((1-lambda) *
        tf/dl) / (lambda * p(w|C))), always positive) with mixing
        weight ``jm_lambda``.

        ``rebase_stats=True`` (requires ``filter_terms``) recomputes
        n_docs, per-(term, field) df, and per-field avgdl over the
        FILTERED subset before scoring (``_rebase_stats``: two bounded
        extra aggregates), so scores are comparable across different
        filters — without it, scores use unfiltered-corpus statistics
        (the default, bit-unchanged). A rebased search over filter F
        returns exactly what an index built over only F's docs would
        (tested).

        ``min_should_match=m`` (OR mode only) is the Lucene
        minimum-should-match floor: a doc must contain at least ``m``
        distinct query terms (in any field) to be scored; qualifying docs
        keep the full disjunctive sum, so their scores are bit-identical
        to the plain OR path (ranks back-fill bucket-locally — buckets
        are doc-disjoint, so the floor composes with sharding exactly).
        ``m <= 1`` is plain OR; ``m == len(terms)`` selects the AND doc
        set. Not combinable with ``use_wand`` (block-max bounds don't
        model the match-count floor; the exhaustive msm kernel is used).

        ``combine="dismax"`` switches multi-field term combination from
        the BM25F field-sum (default, ``"sum"``) to Lucene
        DisjunctionMax / best_fields: a term contributes its best field
        score plus ``tie_breaker`` times the other fields' scores
        (``tie_breaker=1.0`` is bit-identical to the sum path; 0.0 is
        pure best-field). OR mode, exhaustive kernel only.

        ``combine="cross_fields"`` is the ES multi_match cross_fields
        mode (Lucene BlendedTermQuery): per-term document frequencies
        are BLENDED across the queried fields — every field stream of a
        term scores with ``idf(max_f df_{t,f})`` — then the term
        combines per-field scores dis-max style with ``tie_breaker``
        (ES default 0.0). This treats the fields as one logical field:
        a term that is rare in the body but common in the title no
        longer gets an inflated body idf, the failure mode best_fields
        has on cross-field entity names. bm25 similarity only."""
        if search_after is not None and offset:
            raise ValueError("search_after and offset are mutually "
                             "exclusive (cursor pages replace offsets)")
        if similarity not in ("bm25", "classic", "lmd", "lmjm",
                              "bm25plus"):
            raise ValueError(
                "similarity must be bm25|classic|lmd|lmjm|bm25plus")
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
        if combine in ("dismax", "cross_fields"):
            if mode != "OR" or use_wand or msm is not None:
                raise ValueError(f"combine={combine!r} requires "
                                 "mode='OR', no use_wand, no "
                                 "min_should_match")
            dismax_tie = float(tie_breaker)
        if combine == "cross_fields" and (similarity != "bm25"
                                          or rebase_stats):
            raise ValueError("combine='cross_fields' requires bm25 "
                             "without rebase_stats")
        if similarity != "bm25" and rebase_stats:
            raise ValueError("rebase_stats currently supports bm25 only")
        mterms = _fold_terms(must_terms, self.analyzer) if must_terms \
            else []
        if mterms:
            if mode != "OR" or use_wand or msm is not None \
                    or dismax_tie is not None:
                raise ValueError("must_terms requires mode='OR' without "
                                 "use_wand/min_should_match/dismax")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        present = [t for t in qterms if t in stats]
        if not present or (mode == "AND" and len(present) < len(qterms)):
            return self._empty(with_url)
        mset = set(mterms)
        if mset - set(qterms):
            raise ValueError("must_terms must be among the query terms")
        if mset - set(present):
            return self._empty(with_url)   # a required term matches nothing
        xterms = _fold_terms(exclude, self.analyzer) if exclude else []
        xstats = self.term_stats(xterms) if xterms else {}
        xpresent = sorted({t for t in xterms if t in xstats})
        fterms = _fold_terms(filter_terms, self.analyzer) if filter_terms \
            else []
        fstats = self.term_stats(fterms) if fterms else {}
        fpresent = sorted({t for t in fterms if t in fstats})
        if fterms and not fpresent:
            return self._empty(with_url)   # filter matches no dictionary term
        w = list(weights) if weights is not None else [1.0] * self.n_fields
        # boost keys run through the SAME analyzer as query terms (fold +
        # tokenize + stem): on a stemming index boosts={'running': 2.0}
        # must land on the scored term 'run', not silently no-op
        bmap = {t: float(bv) for bt, bv in (boosts or {}).items()
                for t in _fold_terms(bt, self.analyzer)}
        # (term, field) -> field_weight * idf * boost — the stream's full
        # scalar (unboosted terms multiply by exactly 1.0: bit-identical)
        avg_over: float | None = None
        favg_over: dict | None = None
        if rebase_stats:
            if not fpresent:
                raise ValueError("rebase_stats=True requires filter_terms "
                                 "that match the dictionary")
            n_re, avg_over, favg_over, df_re = self._rebase_stats(
                fpresent, filter_field, present)
            if n_re == 0:
                return self._empty(with_url)
            # streams absent from the subset (df'=0) drop: no allowed doc
            # contains them, so they could never contribute anyway
            idfs = {(t, f): w[f] * idf_fn(n_re, df_re[(t, f)])
                    * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0
                    and df_re.get((t, f), 0) > 0}
            if mode == "AND" and len({t for t, _ in idfs}) < len(qterms):
                return self._empty(with_url)
            if not idfs:
                return self._empty(with_url)
        elif similarity == "classic":
            # Lucene ClassicSimilarity: contribution =
            # (weight * idf_c^2 * boost) * sqrt(tf)/sqrt(dl),
            # idf_c = 1 + ln(N / (df + 1))
            # explicit c*c, not **2: the SQL twin multiplies the two
            # factors, and pow(x, 2.0) is not guaranteed bit-equal to x*x
            idfs = {(t, f): w[f]
                    * _sq(1.0 + math.log(self.n_docs / (st["df"] + 1.0)))
                    * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        elif similarity in ("lmd", "lmjm"):
            # LM smoothing models: idf-free; the model term p(w|C) rides
            # the per-stream sim spec below
            idfs = {(t, f): w[f] * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        else:
            idfs = {(t, f): w[f] * idf_fn(self.n_docs, st["df"])
                    * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        if combine == "cross_fields":
            # BlendedTermQuery: one df per term — the max across the
            # queried (non-zero-weight) fields — feeds every field
            # stream's idf; terms present only in zero-weight fields
            # drop (they could never contribute)
            bdf = {t: m for t in present
                   if (m := max((st["df"] for f, st in stats[t].items()
                                 if f < len(w) and w[f] != 0.0),
                                default=0)) > 0}
            idfs = {(t, f): w[f] * idf_fn(self.n_docs, bdf[t])
                    * bmap.get(t, 1.0)
                    for t in bdf for f in stats[t]
                    if f < len(w) and w[f] != 0.0}
            if not idfs:
                return self._empty(with_url)
        sims = None
        if similarity == "classic":
            sims = {tf_key: ("classic",) for tf_key in idfs}
        elif similarity == "bm25plus":
            # BM25+ (Lv & Zhai 2011): contribution =
            # (weight * idf * boost) * (bm25_part(tf, dl) + delta)
            sims = {tf_key: ("bm25plus", float(delta)) for tf_key in idfs}
        elif similarity == "lmd":
            sims = {(t, f): ("lmd", float(mu),
                             stats[t][f]["cf"]
                             / max(self.field_sumdl.get(f, 0.0), 1.0))
                    for (t, f) in idfs}
        elif similarity == "lmjm":
            sims = {(t, f): ("lmjm", float(jm_lambda),
                             stats[t][f]["cf"]
                             / max(self.field_sumdl.get(f, 0.0), 1.0))
                    for (t, f) in idfs}
        if msm is not None and len({t for t, _ in idfs}) < msm:
            return self._empty(with_url)   # floor can never be met
        scored = self._score_buckets(present, idfs, k + offset, mode, use_wand,
                                     quantize, exclude_terms=xpresent,
                                     required_terms=fpresent or None,
                                     required_field=filter_field,
                                     avgdl_override=avg_over,
                                     field_avgdl_override=favg_over,
                                     after=search_after, sims=sims,
                                     msm=msm, dismax_tie=dismax_tie,
                                     must_all=sorted(mset) or None)
        out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k + offset)
        if offset:
            out = out.offset(offset)
        return self._join_url(out) if with_url else out

    def search_many(self, queries: dict[str, str | list[str]], k: int = 10,
                    mode: str = "AND", quantize: int | None = None,
                    use_wand: bool = False) -> DataFrame:
        """Batched top-k: N queries answered from ONE postings scan —
        (query_id, doc_id, score, rank) with rank 1..k per query in the
        same (score DESC, doc_id ASC) total order as ``search``.

        This is the shape a query log replay / offline relevance eval runs
        at cluster scale: the scan term set is the UNION of all queries'
        terms, each (term, field) posting stream is decoded ONCE per bucket
        (TermBlocks caches the decode) and re-scored per query, so B
        queries sharing a vocabulary cost ~one query's scan plus B cheap
        scoring passes. The global per-query top-k is one window rank over
        n_buckets x k x B rows — no per-query Spark job, no per-query
        shuffle. Semantics per query are IDENTICAL to ``search(query, k,
        mode)`` (tested)."""
        from pyspark.sql import Window
        folded = {qid: _fold_terms(qv, self.analyzer)
                  for qid, qv in queries.items()}
        all_terms = sorted({t for v in folded.values() for t in v})
        out_schema = "query_id string, doc_id long, score double"
        if not all_terms:
            return self.spark.createDataFrame([], out_schema + ", rank int")
        stats = self.term_stats(all_terms)
        live: dict[str, list[str]] = {}
        for qid, terms in folded.items():
            present = [t for t in terms if t in stats]
            if present and not (mode == "AND" and len(present) < len(terms)):
                live[qid] = present
        if not live:
            return self.spark.createDataFrame([], out_schema + ", rank int")
        scan_terms = sorted({t for v in live.values() for t in v})
        idfs = {(t, f): idf_fn(self.n_docs, st["df"])
                for t in scan_terms for f, st in stats[t].items()}
        avgdl, favg = self.avgdl, dict(self.field_avgdl)
        tombs_ref, codec = self._tombs_ref(), self.codec_name
        qmul = float(10 ** quantize) if quantize else None
        qlist = sorted(live.items())

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            drop = tombs_ref.get()
            by_tf = {(t, int(f)): _term_blocks_from_pdf(
                        g, idfs[(t, int(f))], favg.get(int(f), avgdl), codec)
                     for (t, f), g in pdf.groupby(["term", "field"])}
            if drop is not None:
                by_tf = {kk: tb.without_docs(drop) for kk, tb in by_tf.items()}
                by_tf = {kk: tb for kk, tb in by_tf.items() if tb.total}
            keys = sorted(by_tf)
            frames = []
            for qid, qterms in qlist:
                sub = [kk for kk in keys if kk[0] in qterms]
                terms_here = {t for t, _ in sub}
                if mode == "AND":
                    if len(terms_here) < len(qterms):
                        continue
                    groups = [[by_tf[kk] for kk in sub if kk[0] == t]
                              for t in sorted(terms_here)]
                    docs, scores = score_and(groups, avgdl, k, qmul)
                elif use_wand == "maxscore":
                    docs, scores = score_maxscore_or(
                        [by_tf[kk] for kk in sub], avgdl, k, qmul)
                elif use_wand:
                    docs, scores = score_bmw_or([by_tf[kk] for kk in sub],
                                                avgdl, k, qmul)
                else:
                    docs, scores = score_exhaustive_or(
                        [by_tf[kk] for kk in sub], avgdl, k, qmul)
                if len(docs):
                    frames.append(pd.DataFrame(
                        {"query_id": qid, "doc_id": docs, "score": scores}))
            if not frames:
                return pd.DataFrame({"query_id": pd.array([], dtype=str),
                                     "doc_id": pd.array([], dtype="int64"),
                                     "score": pd.array([], dtype="float64")})
            return pd.concat(frames, ignore_index=True)

        blocks = self.postings.filter(F.col("term").isin(scan_terms)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "docs", "tfs", "dls")
        scored = blocks.groupBy("bucket").applyInPandas(scorer, out_schema)
        wspec = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                       F.asc("doc_id"))
        return (scored.withColumn("rank", F.row_number().over(wspec))
                .filter(F.col("rank") <= k))

    def _rebase_stats(self, fterms: list[str], ffield: int | None,
                      qterms: list[str]) -> tuple[int, float, dict, dict]:
        """Per-filter BM25 stats (the Lucene-style rebase for
        ``search(rebase_stats=True)``): over the subset of docs matching
        ANY of ``fterms`` (in ``ffield`` if given), returns
        ``(n_docs', avgdl', {field: avgdl'_f}, {(term, field): df'})``.

        Two bounded extra aggregates, nothing corpus-sized on the driver:

        1. per-bucket pass over the SAME pruned postings scan the query
           uses (filter + query streams, doc-id columns only): buckets are
           doc-disjoint, so the filter-set intersection for every query
           stream is computed bucket-locally and only
           ``n_buckets x n_terms`` count rows aggregate up;
        2. the matching doc-id set semi-joins the doc store for exact
           per-field length sums (an allowed doc need not contain any
           query term, so its dl can't come from the scanned streams).

        Tombstone semantics match the unfiltered stats: pending deletes
        stay IN the stats until vacuum (documented staleness), exactly as
        ``n_docs``/``df``/``avgdl`` behave on the default path."""
        codec = self.codec_name
        fset = frozenset(fterms)
        qset = frozenset(qterms)
        ffld = ffield
        out_schema = "term string, field int, df long"

        def statser(pdf: pd.DataFrame) -> pd.DataFrame:
            fmask = pdf["term"].isin(fset)
            if ffld is not None:
                fmask &= pdf["field"] == ffld
            fparts = [_term_blocks_from_pdf(g, 0.0, 0.0, codec)
                      .decode_all()[0]
                      for _, g in pdf[fmask].groupby(["term", "field"])]
            terms_o: list = []
            fields_o: list = []
            dfs_o: list = []
            if fparts:
                allowed = np.unique(np.concatenate(fparts))
                for (t, f), g in pdf[pdf["term"].isin(qset)].groupby(
                        ["term", "field"]):
                    docs = _term_blocks_from_pdf(g, 0.0, 0.0,
                                                 codec).decode_all()[0]
                    terms_o.append(t)
                    fields_o.append(int(f))
                    dfs_o.append(int(np.isin(docs, allowed).sum()))
            return pd.DataFrame({
                "term": pd.Series(terms_o, dtype="object"),
                "field": pd.Series(fields_o, dtype="int32"),
                "df": pd.Series(dfs_o, dtype="int64")})

        scan_terms = sorted(qset | fset)
        blocks = self.postings.filter(
            F.col("term").isin(scan_terms)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "docs", "tfs", "dls")
        df_rows = (blocks.groupBy("bucket").applyInPandas(statser,
                                                          out_schema)
                   .groupBy("term", "field")
                   .agg(F.sum("df").alias("df")).collect())
        df_re = {(r["term"], int(r["field"])): int(r["df"])
                 for r in df_rows}

        allowed_df = self._matching_docs_raw(fterms, ffld)
        aggs = [F.count("*").alias("n")]
        aggs += [F.sum(F.col("dls")[i]).alias(f"s{i}")
                 for i in range(self.n_fields)]
        aggs += [F.sum("dl").alias("s_all")]
        row = (self.docs.join(allowed_df, "doc_id").agg(*aggs).collect()[0])
        n_re = int(row["n"] or 0)
        if n_re == 0:
            return 0, 0.0, {}, df_re
        # int/int true division: the exact rational correctly rounded —
        # the same operation build._finalize uses, so a rebased search
        # reproduces a subset-built index's avgdl bit-for-bit
        favg_re = {i: int(row[f"s{i}"] or 0) / n_re
                   for i in range(self.n_fields)}
        avgdl_re = int(row["s_all"] or 0) / n_re
        return n_re, avgdl_re, favg_re, df_re

    def _matching_docs_raw(self, terms: list[str],
                           field: int | None = None) -> DataFrame:
        """(doc_id) rows containing ANY of the already-analyzed ``terms``
        (restricted to ``field`` if given) — ``matching_docs`` minus the
        query analysis, for internal already-folded term sets (numeric
        trie tokens must not re-tokenize). Keeps tombstoned docs: callers
        needing live-only semantics filter themselves."""
        codec = self.codec_name

        def match_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"doc_id": _matched_ids(pdf, codec, None, None)})

        blocks = self.postings.filter(F.col("term").isin(list(terms)))
        if field is not None:
            blocks = blocks.filter(F.col("field") == field)
        blocks = blocks.select("bucket", "term", "n", "docs")
        return blocks.groupBy("bucket").applyInPandas(
            match_bucket, "doc_id long")

    def _score_buckets(self, terms: list[str], idfs: dict[tuple, float],
                       k_local: int, mode: str, use_wand: bool,
                       quantize: int | None = None,
                       exclude_terms: list[str] | None = None,
                       required_terms: list[str] | None = None,
                       required_field: int | None = None,
                       avgdl_override: float | None = None,
                       field_avgdl_override: dict | None = None,
                       after: tuple[float, int] | None = None,
                       sims: dict | None = None,
                       msm: int | None = None,
                       dismax_tie: float | None = None,
                       must_all: list[str] | None = None
                       ) -> DataFrame:
        # rebased-stats searches override the corpus length norms
        # (everything else about the scan/scoring is identical)
        avgdl = self.avgdl if avgdl_override is None else avgdl_override
        favg = dict(self.field_avgdl if field_avgdl_override is None
                    else field_avgdl_override)
        n_query = len(terms)
        qmul = float(10 ** quantize) if quantize else None

        tombs_ref = self._tombs_ref()
        codec = self.codec_name
        xset = frozenset(exclude_terms or [])
        fset = frozenset(required_terms or [])
        mall = frozenset(must_all or [])
        ffield = required_field
        cursor = (float(after[0]), int(after[1])) if after is not None \
            else None

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            drop = tombs_ref.get()
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "score": pd.array([], dtype="float64")})
            allowed = None
            if fset:
                fmask = pdf["term"].isin(fset)
                if ffield is not None:
                    fmask &= pdf["field"] == ffield
                # filter streams are NOT removed from pdf: a term may both
                # filter and score (it scores only if it is in idfs)
                fparts = [_term_blocks_from_pdf(g, 0.0, avgdl, codec)
                          .decode_all()[0]
                          for _, g in pdf[fmask].groupby(["term", "field"])]
                if not fparts:
                    return empty
                allowed = np.unique(np.concatenate(fparts))
            bucket_drop = drop
            if xset:
                xmask = pdf["term"].isin(xset)
                xpdf, pdf = pdf[xmask], pdf[~xmask]
                xparts = [_term_blocks_from_pdf(g, 0.0, avgdl, codec)
                          .decode_all()[0]
                          for _, g in xpdf.groupby(["term", "field"])]
                if xparts:
                    excl = np.unique(np.concatenate(xparts))
                    bucket_drop = (excl if bucket_drop is None
                                   else np.union1d(bucket_drop, excl))
            # one TermBlocks per (term, field) stream, ascending order
            by_tf = {(t, int(f)): _term_blocks_from_pdf(
                        g, idfs[(t, int(f))], favg.get(int(f), avgdl), codec,
                        sim=None if sims is None else sims[(t, int(f))])
                     for (t, f), g in pdf.groupby(["term", "field"])
                     if (t, int(f)) in idfs}
            if bucket_drop is not None:
                by_tf = {k: tb.without_docs(bucket_drop)
                         for k, tb in by_tf.items()}
                by_tf = {k: tb for k, tb in by_tf.items() if tb.total}
            if allowed is not None:
                by_tf = {k: tb.keep_docs(allowed)
                         for k, tb in by_tf.items()}
                by_tf = {k: tb for k, tb in by_tf.items() if tb.total}
            terms_here = {t for t, _ in by_tf}
            if mode == "AND" and len(terms_here) < n_query:
                return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                     "score": pd.array([], dtype="float64")})
            keys = sorted(by_tf)                     # (term, field) ascending
            if mode == "AND":
                groups = [[by_tf[k] for k in keys if k[0] == t]
                          for t in sorted(terms_here)]
                docs, scores = score_and(groups, avgdl, k_local, qmul,
                                         after=cursor)
            elif mall:
                if mall - terms_here:   # a must term absent from this
                    return empty        # doc-complete bucket: no doc here
                ordered = sorted(terms_here)
                groups = [[by_tf[k] for k in keys if k[0] == t]
                          for t in ordered]
                docs, scores = score_or_must(
                    groups, [t in mall for t in ordered], avgdl, k_local,
                    qmul, after=cursor)
            elif msm is not None:
                groups = [[by_tf[k] for k in keys if k[0] == t]
                          for t in sorted(terms_here)]
                docs, scores = score_or_msm(groups, avgdl, k_local, msm,
                                            qmul, after=cursor)
            elif dismax_tie is not None:
                groups = [[by_tf[k] for k in keys if k[0] == t]
                          for t in sorted(terms_here)]
                docs, scores = score_dismax(groups, avgdl, k_local,
                                            dismax_tie, qmul, after=cursor)
            elif use_wand == "maxscore":
                docs, scores = score_maxscore_or([by_tf[k] for k in keys],
                                                 avgdl, k_local, qmul,
                                                 after=cursor)
            elif use_wand:
                docs, scores = score_bmw_or([by_tf[k] for k in keys], avgdl,
                                            k_local, qmul, after=cursor)
            else:
                docs, scores = score_exhaustive_or([by_tf[k] for k in keys],
                                                   avgdl, k_local, qmul,
                                                   after=cursor)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        # column-prune before the Arrow hop: the scorer never reads positions
        # (poss is the largest column in the index)
        scan_terms = terms + [t for t in (exclude_terms or [])
                              if t not in terms]
        scan_terms += [t for t in (required_terms or [])
                       if t not in scan_terms]
        blocks = self.postings.filter(F.col("term").isin(scan_terms)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc", "max_tf",
            "min_dl", "docs", "tfs", "dls")
        return blocks.groupBy("bucket").applyInPandas(scorer, RESULT_SCHEMA)

    # -- phrase ----------------------------------------------------------------
    def _phrase_variants(self, phrase: str,
                         max_expansions: int | None = None) -> list[list[str]]:
        return _phrase_variants_for(self.analyzer, self.expand_prefix,
                                    phrase, max_expansions)

    def _phrase_matches(self, variants: list[list[str]],
                        max_end: int | None = None,
                        exclude: list[str] | None = None,
                        pre: int = 0, post: int = 0) -> DataFrame | None:
        """(doc_id, field, tf, dl) for docs matching ANY variant, tf summed
        across variants — at a given token position exactly one variant can
        match (a position holds one term), so occurrences are disjoint and
        the sum is the exact total. One match pass decodes each term once
        per (bucket, field) no matter how many variants share it.
        ``max_end``/``exclude``/``pre``/``post`` are the span constraints
        (see ``_match_variant_rows``); excluded terms ride the same
        postings fetch but never gate the match."""
        if not self.store_positions:
            raise ValueError("index built without positions; phrase disabled")
        variants = [v for v in variants if v]
        stats = self.term_stats(sorted({t for v in variants for t in v}))
        variants = [v for v in variants if all(t in stats for t in v)]
        if not variants:
            return None
        uniq = sorted({t for v in variants for t in v}
                      | set(exclude or []))

        tombs_ref = self._tombs_ref()
        codec = self.codec_name

        def matcher(pdf: pd.DataFrame) -> pd.DataFrame:
            tombs = tombs_ref.get()
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "field": pd.array([], dtype="int32"),
                                  "tf": pd.array([], dtype="int32"),
                                  "dl": pd.array([], dtype="int32")})
            outs = [empty]
            # phrase matches are per (doc, field): a phrase never crosses a
            # field boundary (unlike the reference's heap-wide byte match,
            # an acknowledged artifact of its single fulltext stream)
            for fid, fpdf in pdf.groupby("field"):
                data = {t: _decode_with_positions(g, codec)
                        for t, g in fpdf.groupby("term")}
                m = _variants_match_rows(data, variants, tombs,
                                         max_end=max_end, exclude=exclude,
                                         pre=pre, post=post)
                if m is not None:
                    outs.append(pd.DataFrame({
                        "doc_id": m["doc_id"].astype("int64"),
                        "field": np.full(len(m), int(fid), dtype=np.int32),
                        "tf": m["tf"].astype("int32"),
                        "dl": m["dl"].astype("int32")}))
            return pd.concat(outs, ignore_index=True)

        blocks = self.postings.filter(F.col("term").isin(uniq)).select(
            "bucket", "term", "field", "n", "docs", "tfs", "dls", "poss")
        return blocks.groupBy("bucket").applyInPandas(
            matcher, "doc_id long, field int, tf int, dl int")

    def count_prefix(self, prefix: str) -> int:
        """EXACT total occurrences of tokens starting with ``prefix`` — a
        JVM aggregation over the terms table (no driver-side expansion, no
        cap; scalable to any vocabulary). Terms-table semantics: includes
        tombstoned docs until vacuum, like ``count``/``count_occurrences``."""
        p = ascii_fold(prefix)
        if not p:
            return 0
        r = (self.terms
             .filter((F.col("term") >= p) & F.col("term").startswith(p))
             .agg(F.sum("cf")).collect()[0][0])
        return int(r or 0)

    def search_phrase(self, phrase: str, k: int = 10, offset: int = 0,
                      with_url: bool = False,
                      quantize: int | None = None,
                      weights: list[float] | None = None) -> DataFrame:
        """Consecutive-token phrase, scored as one pseudo-term (tf = phrase
        occurrences, df = matching docs). Two jobs: match (needs positions),
        then JVM-side BM25 over the (tiny) match set. ``quantize``/
        ``weights`` as in ``search``."""
        m = self._phrase_matches(self._phrase_variants(phrase))
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def search_phrases_any(self, phrases: list[str], k: int = 10,
                           offset: int = 0, with_url: bool = False,
                           quantize: int | None = None,
                           weights: list[float] | None = None) -> DataFrame:
        """Lucene SpanOrQuery over phrase clauses: docs matching ANY of the
        given phrases (lengths may differ), scored as ONE pseudo-term —
        tf = total occurrences across clauses, df = docs matching any.
        This is exactly the analyzer-variant machinery ``search_phrase``
        already runs for multi-token expansions, surfaced for caller-
        provided clauses; one postings scan covers every clause (shared
        terms decode once per bucket/field). Lucene parity target-new."""
        variants = []
        for p in phrases:
            variants.extend(self._phrase_variants(p))
        if not variants:
            return self._empty()
        m = self._phrase_matches(variants)
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def _phrase_contrib(self, matches: DataFrame) -> DataFrame | None:
        """(doc_id, s) unranked pseudo-term BM25 contributions for one
        clause-set match table — the scoring half of
        ``_score_phrase_matches`` without quantize/top-k, for callers
        that SUM several pseudo-terms (synonym graph). Same expression
        parenthesization, so per-position scores are bit-identical to a
        standalone ``search_phrases_any``."""
        matches = matches.cache()
        per_field = {int(r["field"]): int(r["n"]) for r in
                     matches.groupBy("field").agg(
                         F.count("*").alias("n")).collect()}
        if not per_field:
            matches.unpersist()
            return None
        k1, b = 1.2, 0.75
        score = None
        for f, dfp in sorted(per_field.items()):
            iv = idf_fn(self.n_docs, dfp)
            ad = self.field_avgdl.get(f, self.avgdl)
            norm = (1.0 - b) + b * F.col("dl") / F.lit(ad) if ad > 0 \
                else F.lit(1.0 - b)
            s_f = F.lit(iv) * (F.col("tf") * F.lit(k1 + 1.0) / (
                F.col("tf") + F.lit(k1) * norm))
            s_f = F.when(F.col("field") == f, s_f)
            score = s_f if score is None else F.coalesce(s_f, score)
        out = (matches.select("doc_id", score.alias("s"))
               .where(F.col("s").isNotNull())
               .groupBy("doc_id").agg(F.sum("s").alias("s"))
               .localCheckpoint(eager=True))
        matches.unpersist()
        return out

    def search_synonym_graph(self, qterms: list[str],
                             graph: dict[str, list[str]], k: int = 10,
                             offset: int = 0, with_url: bool = False,
                             quantize: int | None = None) -> DataFrame:
        """ES ``synonym_graph`` at query time (Lucene GraphTokenFilter →
        GraphQuery): each query position expands to a clause set of the
        original term plus its synonyms — synonyms may be MULTI-WORD
        phrases ('ny' -> 'new york'), the case the plain synonym filter
        cannot express — and each position scores as ONE SpanOr
        pseudo-term (tf = occurrences across clauses, df = docs matching
        any clause, the ``search_phrases_any`` machinery). Doc score =
        sum of position contributions in fixed position order (a static
        expression over per-position sums, so floats are bit-stable and
        the DuckDB twin hash-matches); OR semantics — any matching
        position qualifies the doc.

        100 TB shape: per position one pruned postings scan (clauses
        share term decodes), per-position contributions are doc-bounded
        aggs; the cross-position combine is one union + one groupBy over
        match rows only. Lucene parity target-new (fates has no synonym
        surface)."""
        if not qterms:
            raise ValueError("synonym graph search needs >= 1 term")
        contribs = []
        for t in qterms:
            variants = []
            for p in [t, *graph.get(t, ())]:
                variants.extend(self._phrase_variants(p))
            m = self._phrase_matches(variants) if variants else None
            contribs.append(self._phrase_contrib(m) if m is not None
                            else None)
        arms = [(i, c) for i, c in enumerate(contribs) if c is not None]
        if not arms:
            return self._empty()
        tagged = None
        for i, c in arms:
            t = c.select("doc_id", F.lit(i).alias("p"), "s")
            tagged = t if tagged is None else tagged.unionByName(t)
        pv = tagged.groupBy("doc_id").agg(
            *[F.sum(F.when(F.col("p") == i, F.col("s"))).alias(f"s{i}")
              for i, _ in arms])
        total = None
        for i, _ in arms:
            c = F.coalesce(F.col(f"s{i}"), F.lit(0.0))
            total = c if total is None else total + c
        agg = pv.select("doc_id", total.alias("score"))
        if quantize:
            qm = float(10 ** quantize)
            agg = agg.select(
                "doc_id", (F.floor(F.col("score") * qm) / qm).alias("score"))
        out = (agg.orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(k + offset))
        if offset:
            out = out.offset(offset)
        return self._join_url(out) if with_url else out

    def search_span_first(self, phrase: str, max_end: int, k: int = 10,
                          offset: int = 0, with_url: bool = False,
                          quantize: int | None = None,
                          weights: list[float] | None = None) -> DataFrame:
        """Lucene SpanFirstQuery: the phrase (or single term) must occur
        with EXCLUSIVE end position <= ``max_end`` — i.e. entirely inside
        the field's first ``max_end`` tokens (the lead-paragraph /
        title-zone constraint). Scored as a pseudo-term over the spans
        that qualify (tf = qualifying occurrences, df = docs with >= 1),
        so a doc whose only hits are deep in the body neither matches nor
        inflates df. Same one-postings-scan shape as ``search_phrase``;
        the end-position filter is two vector ops inside the bucket
        kernel. Reference analogue: offset-bounded suffix-array range scan
        (``lib/suffix_array_reader.rb:45-72`` exposes match offsets);
        Lucene parity target-new."""
        if max_end <= 0:
            raise ValueError("max_end must be positive")
        m = self._phrase_matches(self._phrase_variants(phrase),
                                 max_end=int(max_end))
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def search_span_not(self, phrase: str, exclude: str | list[str],
                        k: int = 10, pre: int = 0, post: int = 0,
                        offset: int = 0, with_url: bool = False,
                        quantize: int | None = None,
                        weights: list[float] | None = None) -> DataFrame:
        """Lucene SpanNotQuery: occurrences of the include phrase that do
        NOT have any ``exclude`` term within [start - pre, end - 1 + post]
        (pre/post widen the forbidden zone, Lucene's overlap slack).
        tf counts only surviving spans and df only docs that keep >= 1 —
        a doc whose every occurrence is poisoned drops out entirely.
        Excluded terms ride the same postings fetch (no extra scan); an
        exclude term absent from the index excludes nothing, per Lucene.
        Lucene parity target-new."""
        if pre < 0 or post < 0:
            raise ValueError("pre/post must be >= 0")
        tok, _ = ANALYZERS[self.analyzer]
        parts = [exclude] if isinstance(exclude, str) else list(exclude)
        ex = sorted({ascii_fold(t) for p in parts for t in tok(p)})
        if not ex:
            raise ValueError("empty exclude terms")
        m = self._phrase_matches(self._phrase_variants(phrase),
                                 exclude=ex, pre=int(pre), post=int(post))
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def _enclosure_matches(self, keeps: list[list[str]],
                           others: list[list[str]],
                           mode: str) -> DataFrame | None:
        """(doc_id, field, tf, dl) for span-enclosure matches — the
        two-span-set analogue of ``_phrase_matches``; both sides ride ONE
        postings scan (shared terms decode once per bucket/field)."""
        if not self.store_positions:
            raise ValueError("index built without positions; span "
                             "queries disabled")
        keeps = [v for v in keeps if v]
        others = [v for v in others if v]
        stats = self.term_stats(sorted({t for v in keeps + others
                                        for t in v}))
        keeps = [v for v in keeps if all(t in stats for t in v)]
        others = [v for v in others if all(t in stats for t in v)]
        if not keeps or not others:
            return None                  # no enclosure possible
        uniq = sorted({t for v in keeps + others for t in v})
        tombs_ref, codec = self._tombs_ref(), self.codec_name

        def matcher(pdf: pd.DataFrame) -> pd.DataFrame:
            tombs = tombs_ref.get()
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "field": pd.array([], dtype="int32"),
                                  "tf": pd.array([], dtype="int32"),
                                  "dl": pd.array([], dtype="int32")})
            outs = [empty]
            for fid, fpdf in pdf.groupby("field"):
                data = {t: _decode_with_positions(g, codec)
                        for t, g in fpdf.groupby("term")}
                m = _variants_enclosure_rows(data, keeps, others, tombs,
                                             mode)
                if m is not None:
                    outs.append(pd.DataFrame({
                        "doc_id": m["doc_id"].astype("int64"),
                        "field": np.full(len(m), int(fid), dtype=np.int32),
                        "tf": m["tf"].astype("int32"),
                        "dl": m["dl"].astype("int32")}))
            return pd.concat(outs, ignore_index=True)

        blocks = self.postings.filter(F.col("term").isin(uniq)).select(
            "bucket", "term", "field", "n", "docs", "tfs", "dls", "poss")
        return blocks.groupBy("bucket").applyInPandas(
            matcher, "doc_id long, field int, tf int, dl int")

    def _spanor_variants(self, q: str | list[str]) -> list[list[str]]:
        parts = [q] if isinstance(q, str) else [p for p in q if p]
        out: list[list[str]] = []
        for p in parts:
            out.extend(self._phrase_variants(p))
        return out

    def search_span_within(self, little: str | list[str],
                           big: str | list[str], k: int = 10,
                           offset: int = 0, with_url: bool = False,
                           quantize: int | None = None,
                           weights: list[float] | None = None) -> DataFrame:
        """Lucene SpanWithinQuery: occurrences of ``little`` (a phrase or
        a SpanOr list of phrases) that lie ENTIRELY inside an occurrence
        of ``big`` — start >= big start and end <= big end. tf counts
        only enclosed little spans and df only docs keeping >= 1, so a
        doc whose little hits all fall outside big neither matches nor
        inflates df. One postings scan carries both span sets; the
        enclosure test is two searchsorted probes per (clause, length).
        Scored as one pseudo-term like every span query here. Lucene
        parity target-new; reference analogue: position-filtered
        suffix-array hits (``lib/suffix_array_reader.rb:45-72``)."""
        m = self._enclosure_matches(self._spanor_variants(little),
                                    self._spanor_variants(big), "within")
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def search_span_containing(self, big: str | list[str],
                               little: str | list[str], k: int = 10,
                               offset: int = 0, with_url: bool = False,
                               quantize: int | None = None,
                               weights: list[float] | None = None
                               ) -> DataFrame:
        """Lucene SpanContainingQuery: occurrences of ``big`` that CONTAIN
        at least one occurrence of ``little`` (both sides SpanOr phrase
        lists). The dual of ``search_span_within`` — tf counts qualifying
        big spans; same one-scan, searchsorted-probe kernel with the
        enclosure interval reversed."""
        m = self._enclosure_matches(self._spanor_variants(big),
                                    self._spanor_variants(little),
                                    "containing")
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def search_phrase_prefix(self, phrase: str, k: int = 10, offset: int = 0,
                             max_expansions: int = 16,
                             with_url: bool = False,
                             quantize: int | None = None,
                             weights: list[float] | None = None) -> DataFrame:
        """fates' natural phrase-prefix search: ``'big arr'`` matches
        ``'big array'`` (``README.markdown:7-11``) — last token expanded
        against the term dictionary, earlier tokens exact, all variants
        matched in one pass and scored as one pseudo-term."""
        m = self._phrase_matches(
            self._phrase_variants(phrase, max_expansions))
        if m is None:
            return self._empty()
        return self._score_phrase_matches(m, k, offset, with_url, quantize,
                                          weights)

    def search_near(self, query: str | list[str], slop: int, k: int = 10,
                    offset: int = 0, with_url: bool = False,
                    quantize: int | None = None,
                    weights: list[float] | None = None,
                    ordered: bool = False) -> DataFrame:
        """Proximity (SLOP) search: documents where ALL query terms co-occur
        within a token window of span <= ``slop`` (unordered; span = max
        position - min position) in at least one field, ranked by the
        standard conjunctive BM25 of the individual terms — proximity as a
        match constraint, term statistics as the rank. ``slop=1`` on a
        two-term query accepts both orders of adjacency; ``search_phrase``
        is the ordered/consecutive special case.

        The reference answers this shape by walking suffix-array hit
        positions (``lib/suffix_array_reader.rb:45-72`` exposes every match
        offset); here the window test runs bucket-locally over the index's
        position lists (``_near_match_docs``: exact minimal-covering-window
        semantics, vectorized searchsorted over composite doc/pos keys) and
        only window-matching docs enter scoring — one postings scan, no
        corpus access, no extra shuffle (buckets stay doc-disjoint)."""
        if not self.store_positions:
            raise ValueError("index built without positions; proximity "
                             "search disabled")
        oterms: list[str] | None = None
        if ordered:
            # preserve QUERY order through the analyzer (Lucene ordered
            # SpanNear: slop counts allowed intervening positions;
            # slop=0 is the consecutive phrase). Repeated terms would
            # need per-occurrence consumption — rejected, documented.
            tok, _ = ANALYZERS[self.analyzer]
            parts = [query] if isinstance(query, str) else \
                [t for t in query if t]
            oterms = [ascii_fold(t) for p in parts for t in tok(p)]
            if len(set(oterms)) != len(oterms):
                raise ValueError("ordered near does not support repeated "
                                 "query terms")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        if any(t not in stats for t in qterms) or not qterms:
            return self._empty()
        uniq = list(qterms)                        # already sorted distinct
        w = list(weights) if weights is not None else [1.0] * self.n_fields
        idfs = {(t, f): w[f] * idf_fn(self.n_docs, st["df"])
                for t in uniq for f, st in stats[t].items()
                if f < len(w) and w[f] != 0.0}
        avgdl, favg = self.avgdl, dict(self.field_avgdl)
        tombs_ref, codec = self._tombs_ref(), self.codec_name
        qmul = float(10 ** quantize) if quantize else None
        k_local, n_query, sl = k + offset, len(uniq), int(slop)

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            tombs = tombs_ref.get()
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "score": pd.array([], dtype="float64")})
            allowed = []
            for _fid, fpdf in pdf.groupby("field"):
                data = {t: _decode_with_positions(g, codec)
                        for t, g in fpdf.groupby("term")}
                if any(t not in data for t in uniq):
                    continue
                if oterms is not None:
                    m = _ordered_near_match_docs(data, oterms, sl, tombs)
                else:
                    m = _near_match_docs(data, uniq, sl, tombs)
                if m.size:
                    allowed.append(m)
            if not allowed:
                return empty
            keep = np.unique(np.concatenate(allowed))
            by_tf = {(t, int(f)): _term_blocks_from_pdf(
                        g, idfs[(t, int(f))], favg.get(int(f), avgdl), codec)
                     for (t, f), g in pdf.groupby(["term", "field"])
                     if (t, int(f)) in idfs}
            by_tf = {kk: tb.keep_docs(keep) for kk, tb in by_tf.items()}
            by_tf = {kk: tb for kk, tb in by_tf.items() if tb.total}
            terms_here = {t for t, _ in by_tf}
            if len(terms_here) < n_query:
                return empty
            keys = sorted(by_tf)
            groups = [[by_tf[kk] for kk in keys if kk[0] == t]
                      for t in sorted(terms_here)]
            docs, scores = score_and(groups, avgdl, k_local, qmul)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        blocks = self.postings.filter(F.col("term").isin(uniq)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "docs", "tfs", "dls", "poss")
        scored = blocks.groupBy("bucket").applyInPandas(scorer, RESULT_SCHEMA)
        out = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(k + offset))
        if offset:
            out = out.offset(offset)
        return self._join_url(out) if with_url else out

    def search_proximity_boost(self, query: str | list[str], k: int = 10,
                               c: float = 1.0,
                               quantize: int | None = None,
                               with_url: bool = False) -> DataFrame:
        """Proximity-boosted conjunctive ranking (the min-span proximity
        BM25 family — Clarke et al.'s shortest-substring evidence,
        Buettcher & Clarke SIGIR 2006): docs containing ALL query terms
        in one field, scored

            bm25(doc) * (1 + c / (1 + (minspan - (n_terms - 1))))

        where ``minspan`` is the doc's MINIMAL covering token window over
        the query terms (min across fields on multi-field indexes) —
        perfectly adjacent terms get the full ``1 + c`` boost, scattered
        terms decay toward plain BM25. Proximity re-ranks rather than
        gates (``search_near`` is the gate). Positions come straight from
        the index; per-bucket top-k happens AFTER boosting (the boost
        changes ranks), buckets stay doc-complete so the global top-k is
        exact."""
        if not self.store_positions:
            raise ValueError("index built without positions; proximity "
                             "boost disabled")
        if c < 0:
            raise ValueError("c must be >= 0")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        if any(t not in stats for t in qterms) or not qterms:
            return self._empty()
        uniq = list(qterms)
        idfs = {(t, f): idf_fn(self.n_docs, st["df"])
                for t in uniq for f, st in stats[t].items()}
        avgdl, favg = self.avgdl, dict(self.field_avgdl)
        tombs_ref, codec = self._tombs_ref(), self.codec_name
        qmul = float(10 ** quantize) if quantize else None
        k_local, n_query, cc = k, len(uniq), float(c)
        nm1 = float(len(uniq) - 1)

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            from .wand import topk_select
            tombs = tombs_ref.get()
            empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                  "score": pd.array([], dtype="float64")})
            span_ids: list[np.ndarray] = []
            span_vals: list[np.ndarray] = []
            for _fid, fpdf in pdf.groupby("field"):
                data = {t: _decode_with_positions(g, codec)
                        for t, g in fpdf.groupby("term")}
                if any(t not in data for t in uniq):
                    continue
                ids, spans = _min_spans(data, uniq, tombs)
                if ids.size:
                    span_ids.append(ids)
                    span_vals.append(spans)
            if not span_ids:
                return empty
            all_ids = np.concatenate(span_ids)
            all_spans = np.concatenate(span_vals)
            order = np.lexsort((all_spans, all_ids))
            keep = np.concatenate(
                ([True], all_ids[order][1:] != all_ids[order][:-1]))
            ids = all_ids[order][keep]          # sorted unique doc ids
            spans = all_spans[order][keep]      # min across fields
            by_tf = {(t, int(f)): _term_blocks_from_pdf(
                        g, idfs[(t, int(f))], favg.get(int(f), avgdl),
                        codec)
                     for (t, f), g in pdf.groupby(["term", "field"])
                     if (t, int(f)) in idfs}
            by_tf = {kk: tb.keep_docs(ids) for kk, tb in by_tf.items()}
            by_tf = {kk: tb for kk, tb in by_tf.items() if tb.total}
            terms_here = {t for t, _ in by_tf}
            if len(terms_here) < n_query:
                return empty
            keys = sorted(by_tf)
            groups = [[by_tf[kk] for kk in keys if kk[0] == t]
                      for t in sorted(terms_here)]
            docs, scores = score_and(groups, avgdl, int(ids.size), None)
            at = np.searchsorted(ids, docs)
            boost = 1.0 + cc / (1.0 + (spans[at].astype(np.float64)
                                       - nm1))
            boosted = scores * boost
            if qmul:
                boosted = np.floor(boosted * qmul) / qmul
            docs, boosted = topk_select(docs, boosted, k_local)
            return pd.DataFrame({"doc_id": docs, "score": boosted})

        blocks = self.postings.filter(F.col("term").isin(uniq)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "docs", "tfs", "dls", "poss")
        scored = blocks.groupBy("bucket").applyInPandas(scorer,
                                                        RESULT_SCHEMA)
        out = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return self._join_url(out) if with_url else out

    def count_phrase(self, phrase: str, prefix: bool = False,
                     max_expansions: int = 256) -> int:
        """Total phrase occurrences across the corpus — the reference's
        ``count_hits`` on a multi-token query (every suffix-array entry the
        phrase byte string is a prefix of, ``lib/suffix_array_reader.rb:
        115-125``). ``prefix=True`` applies last-token prefix semantics.

        Tombstone-consistent: with pending deletes the count always goes
        through the (tombstone-filtering) matcher. Single-token prefix
        counts are ALWAYS exact and uncapped — clean index via the
        ``count_prefix`` aggregation, pending deletes via an uncapped
        dictionary expansion feeding the matcher; multi-token prefix counts
        expand at most ``max_expansions`` dictionary terms (raise it for
        exhaustive counts over adversarial vocabularies)."""
        live = self.tombstones is not None
        cap = _phrase_count_cap(self.analyzer, phrase, prefix, live,
                                max_expansions)
        variants = self._phrase_variants(phrase, cap)
        if variants and all(len(v) == 1 for v in variants) and not live:
            if prefix:  # exact + uncapped: terms-table aggregation
                tok, _ = ANALYZERS[self.analyzer]
                last = [ascii_fold(t)
                        for t in tok(ascii_fold(phrase))][-1]
                return self.count_prefix(last)
            st = self.term_stats([v[0] for v in variants])
            return sum(f["cf"] for d in st.values() for f in d.values())
        m = self._phrase_matches(variants)
        if m is None:
            return 0
        return int(m.agg(F.sum("tf")).collect()[0][0] or 0)

    def _score_phrase_matches(self, matches: DataFrame, k: int, offset: int,
                              with_url: bool,
                              quantize: int | None = None,
                              weights: list[float] | None = None) -> DataFrame:
        w = list(weights) if weights is not None else None
        matches = matches.cache()
        try:
            # per-field phrase df -> per-field idf (phrase as pseudo-term)
            per_field = {int(r["field"]): int(r["n"]) for r in
                         matches.groupBy("field").agg(
                             F.count("*").alias("n")).collect()}
            if w is not None:
                per_field = {f: n for f, n in per_field.items()
                             if f < len(w) and w[f] != 0.0}
            if not per_field:
                return self._empty()
            k1, b = 1.2, 0.75
            score = None
            for f, dfp in sorted(per_field.items()):
                iv = idf_fn(self.n_docs, dfp)
                if w is not None:
                    iv = w[f] * iv
                ad = self.field_avgdl.get(f, self.avgdl)
                norm = (1.0 - b) + b * F.col("dl") / F.lit(ad) if ad > 0 \
                    else F.lit(1.0 - b)
                # same parenthesization as oracle: idf * (tf-part)
                s_f = F.lit(iv) * (F.col("tf") * F.lit(k1 + 1.0) / (
                    F.col("tf") + F.lit(k1) * norm))
                s_f = F.when(F.col("field") == f, s_f)
                score = s_f if score is None else F.coalesce(s_f, score)
            # drop rows of weight-excluded fields BEFORE aggregating: the
            # when/coalesce chain yields NULL for them, and groupBy.sum over
            # an all-NULL group would emit (doc, NULL) rows — the local
            # reader filters such rows first, and parity requires we match
            agg = (matches.select("doc_id", score.alias("s"))
                   .where(F.col("s").isNotNull())
                   .groupBy("doc_id").agg(F.sum("s").alias("score")))
            if quantize:
                qm = float(10 ** quantize)
                agg = agg.select(
                    "doc_id",
                    (F.floor(F.col("score") * qm) / qm).alias("score"))
            out = (agg.orderBy(F.desc("score"), F.asc("doc_id"))
                   .limit(k + offset))
            if offset:
                out = out.offset(offset)
            out = out.localCheckpoint(eager=True)
        finally:
            matches.unpersist()
        return self._join_url(out) if with_url else out

    # -- prefix ----------------------------------------------------------------
    def expand_prefix(self, prefix: str,
                      max_terms: int | None = None) -> list[str]:
        p = ascii_fold(prefix)
        # >= p gives parquet row-group lower-bound pruning on the term-sorted
        # table; startswith is the exact predicate. ``max_terms`` pushes the
        # bound into the plan (TakeOrdered) so a short prefix over a web-scale
        # vocabulary never collects the whole expansion to the driver.
        t = (self.terms
             .filter((F.col("term") >= p) & F.col("term").startswith(p))
             .select("term").distinct())
        if max_terms is not None:
            t = t.orderBy("term").limit(max_terms)
        return sorted(r["term"] for r in t.collect())

    def search_prefix(self, prefix: str, k: int = 10, max_terms: int = 256,
                      with_url: bool = False,
                      quantize: int | None = None) -> DataFrame:
        """Prefix query ``fa%`` → dictionary range-expansion → OR-BM25."""
        terms = self.expand_prefix(prefix, max_terms)
        if not terms:
            return self._empty()
        return self.search(terms, k=k, mode="OR", with_url=with_url,
                           quantize=quantize)

    def expand_fuzzy(self, term: str, max_edit: int = 1,
                     max_terms: int = 256) -> list[str]:
        """Dictionary terms within Levenshtein distance 1 or 2
        (``term~1`` / ``term~2``) via SymSpell deletion banding at the
        matching depth (complete) — see ``suggest.expand_fuzzy``."""
        from .suggest import expand_fuzzy
        return expand_fuzzy(self, term, max_edit=max_edit,
                            max_terms=max_terms)

    # -- misc ------------------------------------------------------------------
    def _join_url(self, result: DataFrame) -> DataFrame:
        ids = [r["doc_id"] for r in result.select("doc_id").collect()]
        meta = self.docs.filter(F.col("doc_id").isin(ids)).select("doc_id", "url")
        return (result.join(F.broadcast(meta), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id")))


def facet_cardinality(index: "SearchIndex", corpus: DataFrame,
                      query: str | list[str], field: str, *,
                      mode: str = "OR", p: int = 12,
                      id_col: str = "doc_id") -> DataFrame:
    """Cardinality aggregation (the Elasticsearch ``cardinality`` agg):
    HLL-estimated distinct values of a stored corpus column among the
    docs matching the query. Returns one row (n_regs, v_zero, est) —
    ``est`` rounded exactly like the HLL sketch's contract, so the
    float hash-compares cross-engine.

    Plan: ``matching_docs`` (doc-id streams only) equi-joins the corpus
    projection, then the HLL register agg (2^p bounded state, map-side
    combined) — at 10^12 docs the shuffle carries registers, never
    values. Reference analogue: none (fates has no aggregations,
    ``lib/fates.rb``); the ES aggregation surface extension."""
    from .sketch import hll_distinct_df
    m = index.matching_docs(query, mode=mode)
    vals = (corpus.select(F.col(id_col).alias("doc_id"), F.col(field))
            .join(m, "doc_id")
            .select(F.lit(0).alias("_g"), F.col(field)))
    return (hll_distinct_df(vals, "_g", field, p=p)
            .select("n_regs", "v_zero", "est"))


def search_sorted_by(index: "SearchIndex", corpus: DataFrame,
                     query: str | list[str], field: str, *, k: int = 10,
                     mode: str = "OR", ascending: bool = True,
                     id_col: str = "doc_id",
                     extra_fields: list[str] | None = None) -> DataFrame:
    """Field-sorted retrieval (the Lucene ``Sort`` surface: "filter by
    query, sort by date/price/length" instead of by relevance): every
    matching live doc, ordered by a STORED corpus column with the doc-id
    tie-break, top-``k``. Returns (doc_id, <field>[, extra...]).

    Plan shape: ``matching_docs`` (bucket-local distinct over doc-id
    streams only) equi-joins the corpus projection, and the global order
    is a ``TakeOrderedAndProject`` — k-bounded, never a full sort, so at
    10^12 docs this costs the match scan + one join shuffle + a top-k,
    exactly the Lucene SortField execution shape. Reference analogue:
    fates returns suffix-array order only (``lib/fates.rb:73-81``);
    field sorting is the serving-tier extension."""
    m = index.matching_docs(query, mode=mode)
    cols = [F.col(id_col).alias("doc_id"), F.col(field)]
    for c in (extra_fields or []):
        cols.append(F.col(c))
    j = corpus.select(*cols).join(m, "doc_id")
    order = [F.asc(field) if ascending else F.desc(field),
             F.asc("doc_id")]
    return j.orderBy(*order).limit(k)


def snippets(result: DataFrame, corpus: DataFrame, query: str | list[str],
             size: int = 30, text_col: str = "text",
             id_col: str = "doc_id", analyzer: str = "whitespace") -> DataFrame:
    """Attach a ±size-char context snippet around the first query-term match
    to each result row (reference ``Hit#context``/``Hit#text``,
    ``lib/suffix_array_reader.rb:19-36``). Pure JVM expressions: the result
    set is tiny (top-k), joined against the corpus row store on doc_id with
    the small side broadcast."""
    from .textops import fold_col
    terms = _fold_terms(query, analyzer)
    folded = fold_col(F.col(text_col))
    # first match position across terms (1-based; 0 = no match)
    locs = [F.locate(t, folded) for t in terms]
    pos = F.least(*[F.when(loc > 0, loc).otherwise(F.lit(2**31 - 1))
                    for loc in locs]) if len(terms) > 1 else \
        F.when(locs[0] > 0, locs[0]).otherwise(F.lit(2**31 - 1))
    start = F.greatest(pos - size, F.lit(1))
    snippet = F.when(pos == 2**31 - 1, F.lit("")).otherwise(
        F.substring(F.col(text_col), start.cast("int"), 2 * size))
    joined = corpus.join(F.broadcast(result), id_col)
    return joined.select(id_col, "score", snippet.alias("snippet"))


def _hit_frames(pdf: pd.DataFrame, codec: str, tombs) -> list[pd.DataFrame]:
    """Per-(term, field) hit-enumeration frames (doc_id, field, term,
    position) from a posting-block pandas frame, tombstone-filtered —
    SHARED by SearchIndex.find_all and LocalSearchIndex.find_all so the
    two readers stay structurally identical, not just test-identical."""
    outs = [pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                          "field": pd.array([], dtype="int32"),
                          "term": pd.array([], dtype="string"),
                          "position": pd.array([], dtype="int64")})]
    for (t, fid), g in pdf.groupby(["term", "field"]):
        d = _decode_with_positions(g, codec)
        docs, tfs, poss = d["docs"], d["tfs"], d["poss"]
        if tombs is not None and docs.size:
            j = np.searchsorted(tombs, docs)
            hit = j < tombs.size
            hit[hit] = tombs[j[hit]] == docs[hit]
            if hit.any():
                keep = ~hit
                poss = poss[np.repeat(keep, tfs)]
                docs, tfs = docs[keep], tfs[keep]
        n = int(tfs.sum())
        outs.append(pd.DataFrame({
            "doc_id": np.repeat(docs, tfs),
            "field": np.full(n, int(fid), dtype=np.int32),
            "term": pd.array([t] * n, dtype="string"),
            "position": poss}))
    return outs


def hit_contexts(hits: DataFrame, corpus: DataFrame, size: int = 3,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Attach a ±``size``-TOKEN context window around each hit position —
    ``Hit#context`` (``lib/suffix_array_reader.rb:19-36``) re-addressed from
    bytes to tokens (the engine's position unit). Pure JVM expressions: the
    corpus text is tokenized with the same whitespace-split/drop-empties
    rule as the analyzer, so ``position`` indexes the array directly.

    Multi-field: positions index each FIELD's own token stream, so for a
    multi-field index pass a long-format corpus with a ``field`` column
    (one row per (doc, field) with that field's text) — the join then keys
    on (doc_id, field) and each hit slices the right stream."""
    toks = F.filter(F.split(F.col(text_col), r"[ \t\n\r\f\v]+"),
                    lambda x: x != "")
    start = F.greatest(F.col("position") + 1 - size, F.lit(1))
    end = F.least(F.col("position") + 1 + size, F.size(toks))
    ctx = F.concat_ws(
        " ", F.slice(toks, start.cast("int"),
                     (end - start + 1).cast("int")))
    if "field" in corpus.columns:
        joined = hits.join(corpus.select(id_col, "field", text_col),
                           [id_col, "field"])
    else:
        joined = hits.join(corpus.select(id_col, text_col), id_col)
    return joined.select(id_col, "field", "term", "position",
                         ctx.alias("context"))


def _matched_ids(pdf: pd.DataFrame, codec: str, tombs,
                 need_all: frozenset | None) -> np.ndarray:
    """Sorted unique live doc_ids matching the boolean query within one
    doc-disjoint posting frame: per-term field-union, then AND-intersection
    (``need_all`` = required term set) or OR-union; tombstones dropped.
    Decodes doc-id streams only. SHARED by ``SearchIndex.matching_docs``
    and ``LocalSearchIndex.matching_docs`` (reader parity)."""
    c = get_codec(codec)
    per_term: dict[str, np.ndarray] = {}
    for t, g in pdf.groupby("term"):
        docs = np.concatenate(
            [c.decode_ids(bb, int(n)) for bb, n in zip(g["docs"], g["n"])])
        per_term[t] = np.unique(docs)  # fields unioned, sorted
    if not per_term:
        return np.zeros(0, dtype=np.int64)
    if need_all is not None:
        if not need_all.issubset(per_term):
            return np.zeros(0, dtype=np.int64)
        out = None
        for t in sorted(need_all):
            out = per_term[t] if out is None else \
                np.intersect1d(out, per_term[t], assume_unique=True)
    else:
        out = np.unique(np.concatenate(list(per_term.values())))
    if tombs is not None and out.size:
        j = np.searchsorted(tombs, out)
        hit = j < tombs.size
        hit[hit] = tombs[j[hit]] == out[hit]
        out = out[~hit]
    return out.astype(np.int64, copy=False)


def facet_counts(index: "SearchIndex", corpus: DataFrame,
                 query: str | list[str], facet_cols: list[str],
                 mode: str = "OR", id_col: str = "doc_id") -> DataFrame:
    """Matching-document counts per facet value (e.g. per lang / source)
    for a boolean query — the search-engine facet panel, computed over ALL
    matching docs, not just top-k. Plan: bucket-local unscored match
    (``SearchIndex.matching_docs``) -> equi-join to the corpus facet
    columns -> hash aggregate; AQE broadcasts the matched-ids side when the
    query is selective, and the aggregate is partial+final so each facet
    value costs one row per shuffle partition at any corpus size."""
    matched = index.matching_docs(query, mode)
    return (corpus.select(id_col, *facet_cols)
            .join(matched.withColumnRenamed("doc_id", id_col), id_col)
            .groupBy(*facet_cols).agg(F.count("*").alias("n_docs"))
            .orderBy(*facet_cols))


def facet_stats(index: "SearchIndex", corpus: DataFrame,
                query: str | list[str], value_col: str,
                facet_cols: list[str] | None = None, mode: str = "OR",
                id_col: str = "doc_id") -> DataFrame:
    """Numeric statistics of ``value_col`` over ALL matching documents,
    optionally per facet value — the stats aggregation of a search
    dashboard ("avg page length per language for this query"). Returns
    (``facet_cols``..., n_docs, min_v, max_v, sum_v, avg_v).

    ``value_col`` must be integral: the sum is then an exact int64 and
    ``avg_v = sum/n`` a single division — order-independent and
    bit-reproducible by the SQL oracle, where a float-column sum would
    depend on aggregation order. Plan shape is ``facet_counts``': unscored
    bucket-local match -> equi-join to the corpus columns -> one
    partial+final hash aggregate; no extra scan, no window.
    """
    matched = index.matching_docs(query, mode)
    j = (corpus.select(id_col, value_col, *(facet_cols or []))
         .join(matched.withColumnRenamed("doc_id", id_col), id_col))
    g = j.groupBy(*facet_cols) if facet_cols else j.groupBy()
    out = g.agg(F.count("*").alias("n_docs"),
                F.min(value_col).alias("min_v"),
                F.max(value_col).alias("max_v"),
                F.sum(value_col).alias("sum_v"))
    out = out.withColumn(
        "avg_v", F.col("sum_v").cast("double") / F.col("n_docs"))
    return out.orderBy(*facet_cols) if facet_cols else out


def significant_terms(index: "SearchIndex", corpus: DataFrame,
                      query: str | list[str], k: int = 20,
                      min_fg: int = 5, mode: str = "OR",
                      id_col: str = "doc_id", text_col: str = "text",
                      quantize: int = 4) -> DataFrame:
    """Terms overrepresented in the query's matching documents relative to
    the whole corpus — the Elasticsearch significant-terms aggregation
    ("what is this result set ABOUT"). Returns (term, fg_df, bg_df, lift)
    top-``k`` by lift = (fg_df/n_fg) / (bg_df/n_bg): document-frequency
    lift of term t in the foreground (matching) set vs the background
    corpus. ``min_fg`` suppresses the rare-term blow-up (same guard as the
    PMI collocations). All inputs to ``lift`` are exact integers, so the
    score is one float division — deterministic and oracle-replicable.

    Plan: unscored bucket-local match set -> semi-join the corpus ->
    ONE tokenize+explode of only the matching docs, distinct per (doc,
    term), hash agg to foreground df -> equi-join the background df from
    the index's terms table (vocab-sized; AQE broadcasts when the
    foreground vocabulary is small) -> top-k. The background never
    re-scans the corpus — bg_df is exactly the index's df statistic.
    """
    from .textops import LOWER, UPPER, tokens_col
    # materialize the match set ONCE: it feeds both n_fg and the corpus
    # join, and Catalyst does not share subplans across actions — without
    # truncated lineage the postings scan + match kernel would run twice
    matched = index.matching_docs(query, mode).localCheckpoint(eager=True)
    n_fg = matched.count()
    if n_fg == 0:
        return index.spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, lift double")
    fg_docs = (corpus.select(id_col, text_col)
               .join(matched.withColumnRenamed("doc_id", id_col), id_col))
    # foreground terms MUST come from the index's analyzer, or the bg_df
    # equi-join silently mismatches (porter index: foreground 'running'
    # vs dictionary 'run'). Whitespace stays on the JVM expression path;
    # other analyzers run the real tokenizer over the (match-set-sized)
    # foreground in one Arrow-batched pass.
    if index.analyzer == "whitespace":
        toks = F.transform(tokens_col(text_col),
                           lambda x: F.translate(x, UPPER, LOWER))
        pairs = fg_docs.select(id_col, F.explode(toks).alias("term"))
    else:
        from .analysis import analyze
        analyzer = index.analyzer

        def tok_fg(batches):
            for pdf in batches:
                ids: list[int] = []
                terms: list[str] = []
                for i, txt in zip(pdf[id_col], pdf[text_col]):
                    ts = analyze(txt or "", analyzer)
                    ids.extend([i] * len(ts))
                    terms.extend(ts)
                yield pd.DataFrame({id_col: pd.array(ids, dtype="int64"),
                                    "term": terms})

        pairs = fg_docs.mapInPandas(tok_fg, f"{id_col} long, term string")
    fg = (pairs.distinct()
          .groupBy("term").agg(F.count("*").alias("fg_df"))
          .filter(F.col("fg_df") >= min_fg))
    bg = (index.terms.groupBy("term")
          .agg(F.sum("df").alias("bg_df")))  # fields unioned
    n_bg = index.n_docs
    mul = float(10 ** quantize)
    lift = F.floor((F.col("fg_df").cast("double") * float(n_bg))
                   / (F.col("bg_df").cast("double") * float(n_fg))
                   * mul) / mul
    return (fg.join(bg, "term")
            .select("term", "fg_df", "bg_df", lift.alias("lift"))
            .orderBy(F.desc("lift"), F.asc("term"))
            .limit(k))


def term_vectors(corpus: DataFrame, doc_ids: list[int] | None = None,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document term vectors — (doc_id, term, tf, positions) with
    0-based token positions (same convention as ``find_all`` and the
    stored index positions), the Lucene ``TermVectors`` surface. Computed
    by re-analysis from the doc store with the index's whitespace+fold
    analyzer, exactly how Lucene serves term vectors when they are not
    stored: for the few-documents use (highlighters, more-like-this
    debugging) re-tokenizing beats carrying a doc-major copy of the
    postings, and the ``doc_ids`` filter pushes into the parquet scan.
    ``positions`` is a comma-joined string (deterministic, hashable).
    """
    from .textops import LOWER, UPPER, tokens_col
    base = corpus
    if doc_ids is not None:
        base = base.filter(F.col(id_col).isin([int(d) for d in doc_ids]))
    toks = F.transform(tokens_col(text_col),
                       lambda x: F.translate(x, UPPER, LOWER))
    ex = base.select(id_col, F.posexplode(toks).alias("pos", "term"))
    return (ex.groupBy(id_col, "term")
            .agg(F.count("*").alias("tf"),
                 F.array_join(F.sort_array(F.collect_list("pos")), ",")
                 .alias("positions"))
            .orderBy(id_col, "term"))


def _phrase_count_cap(analyzer: str, phrase: str, prefix: bool, live: bool,
                      max_expansions: int) -> int | None:
    """Expansion cap for count_phrase, shared by BOTH readers: None (no
    prefix expansion), the caller's cap, or 0 = UNCAPPED — a single-token
    prefix count on a live (tombstoned) index must expand exhaustively so
    the count stays exact (the clean-index path aggregates the terms table
    instead and never expands)."""
    cap = max_expansions if prefix else None
    if prefix and live:
        tok, _ = ANALYZERS[analyzer]
        if len(tok(ascii_fold(phrase))) == 1:
            cap = 0
    return cap


def _phrase_variants_for(analyzer: str, expand_fn, phrase: str,
                         max_expansions: int | None = None) -> list[list[str]]:
    """Token sequences to match: just the analyzed phrase
    (``max_expansions=None``), or — prefix mode — one variant per dictionary
    expansion of the LAST token (the reference's natural suffix semantics: a
    query is a byte prefix of the suffix from a token start, so earlier
    tokens are exact and the final token matches as a prefix —
    ``README.markdown:7-11``). ``max_expansions=0`` expands UNCAPPED (exact
    counts under pending tombstones). Shared by the distributed and local
    readers (``expand_fn`` is each reader's dictionary range scan)."""
    tok, _ = ANALYZERS[analyzer]
    terms = [ascii_fold(t) for t in tok(ascii_fold(phrase))]
    if not terms:
        return []
    if max_expansions is None:
        return [terms]
    cap = None if max_expansions == 0 else max_expansions
    return [terms[:-1] + [e] for e in expand_fn(terms[-1], cap)]


def _gather_doc_positions(data: dict, cand: np.ndarray,
                          shift: int) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated ``(doc_rank << 32) | (pos + shift)`` keys for the cand
    docs' positions, plus per-doc position counts. ``cand`` must be sorted
    and a subset of ``data['docs']``. Fully vectorized slice-gather."""
    idx = np.searchsorted(data["docs"], cand)
    lens = data["tfs"][idx]
    starts = data["tok_starts"][idx]
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64), lens
    gather = np.repeat(starts, lens) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(lens) - lens, lens))
    rank = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
    return (rank << np.int64(32)) | (data["poss"][gather] + shift), lens


def _variant_cand_docs(data: dict, v: list[str],
                       tombs: np.ndarray | None) -> np.ndarray | None:
    """Sorted candidate doc ids containing ALL terms of one variant,
    tombstones removed; None when empty."""
    vu = sorted(set(v))
    cand = data[vu[0]]["docs"]
    for t in vu[1:]:
        cand = np.intersect1d(cand, data[t]["docs"], assume_unique=True)
    if tombs is not None and cand.size:
        cand = cand[~np.isin(cand, tombs)]
    return cand if cand.size else None


def _variant_matched_keys(data: dict, v: list[str],
                          cand: np.ndarray) -> np.ndarray | None:
    """Sorted composite match keys ``(doc_rank << 32) | (start + L)`` of
    one token-sequence variant over ``cand`` (rank = index into cand) —
    the adjacency-intersection core shared by the phrase and span-
    enclosure kernels. The pos field is the EXCLUSIVE span end."""
    L = len(v)
    matched = None
    for i, t in enumerate(v):
        keys, _ = _gather_doc_positions(data[t], cand, L - i)
        matched = keys if matched is None else np.intersect1d(
            matched, keys, assume_unique=True)
        if matched.size == 0:
            return None
    return matched


def _match_variant_rows(data: dict, v: list[str],
                        tombs: np.ndarray | None,
                        max_end: int | None = None,
                        exclude: list[str] | None = None,
                        pre: int = 0, post: int = 0
                        ) -> pd.DataFrame | None:
    """All (doc, tf, dl) matches of ONE token-sequence variant within one
    (bucket, field)'s decoded postings — vectorized document-at-a-time-free
    adjacency: term i's positions shifted by -i are intersected as composite
    (doc_rank, pos) keys across the whole candidate set at once (no per-doc
    Python loop). Positions fit 32 bits (dl < 2^31), so keys are exact.

    Span constraints (both optional, composable):
    - ``max_end``: keep only spans whose EXCLUSIVE end position (Lucene
      SpanFirstQuery ``end``) is <= max_end;
    - ``exclude`` + ``pre``/``post``: drop spans that have an occurrence of
      any excluded term within [start - pre, end - 1 + post] (Lucene
      SpanNotQuery with pre/post slack), via two searchsorted range probes
      per span over the excluded terms' composite keys."""
    cand = _variant_cand_docs(data, v, tombs)
    if cand is None:
        return None
    L = len(v)
    matched = _variant_matched_keys(data, v, cand)
    if matched is None:
        return None
    # matched key = (doc_rank << 32) | (start + L): the pos field IS the
    # exclusive span end, which both constraints below are defined on
    if max_end is not None:
        matched = matched[(matched & np.int64(0xFFFFFFFF))
                          <= np.int64(max_end)]
        if matched.size == 0:
            return None
    if exclude:
        ex_keys = []
        for t in exclude:
            if t not in data:
                continue
            common = np.intersect1d(cand, data[t]["docs"],
                                    assume_unique=True)
            if common.size == 0:
                continue
            keys, _ = _gather_doc_positions(data[t], common, 0)
            # remap common-relative ranks into cand-relative ranks
            remap = np.searchsorted(cand, common)
            ex_keys.append((remap[keys >> np.int64(32)] << np.int64(32))
                           | (keys & np.int64(0xFFFFFFFF)))
        if ex_keys:
            ex = np.sort(np.concatenate(ex_keys))
            ends = matched & np.int64(0xFFFFFFFF)
            rank_hi = matched & ~np.int64(0xFFFFFFFF)
            lo = rank_hi | np.maximum(ends - L - pre, 0)
            hi = rank_hi | (ends + post)
            killed = (np.searchsorted(ex, hi, side="left")
                      > np.searchsorted(ex, lo, side="left"))
            matched = matched[~killed]
            if matched.size == 0:
                return None
    ranks = (matched >> np.int64(32))
    uniq_ranks, tf = np.unique(ranks, return_counts=True)
    docs = cand[uniq_ranks]
    idx0 = np.searchsorted(data[v[0]]["docs"], docs)
    dls = data[v[0]]["dls"][idx0]
    return pd.DataFrame({"doc_id": docs, "tf": tf.astype(np.int64),
                         "dl": dls.astype(np.int64)})


def _near_match_docs(data: dict, terms: list[str], slop: int,
                     tombs: np.ndarray | None) -> np.ndarray:
    """Sorted doc ids (one decoded bucket-field frame) containing ALL the
    distinct ``terms`` within some token window of span <= ``slop``
    (max position - min position, unordered) — reference proximity over a
    suffix array, re-expressed over position lists.

    Exact and fully vectorized: a qualifying window exists iff some
    occurrence position p (of any term) has, for EVERY term t, an
    occurrence at next_t(p) <= p + slop — the minimal covering window's
    leftmost element witnesses it. Each next_t is one ``searchsorted``
    over composite ``(doc_rank << 32) | pos`` keys, so the check is
    O(occurrences x terms x log) with no per-doc Python loop."""
    tu = sorted(set(terms))
    cand = data[tu[0]]["docs"]
    for t in tu[1:]:
        cand = np.intersect1d(cand, data[t]["docs"], assume_unique=True)
    if tombs is not None and cand.size:
        cand = cand[~np.isin(cand, tombs)]
    if cand.size == 0:
        return cand.astype(np.int64, copy=False)
    keys = {}
    for t in tu:
        kt, _ = _gather_doc_positions(data[t], cand, 0)
        keys[t] = kt                      # rank asc, pos asc => sorted
    starts = np.sort(np.concatenate(list(keys.values())))
    ok = np.ones(starts.size, dtype=bool)
    pos_mask = np.int64(0xFFFFFFFF)
    for t in tu:
        kt = keys[t]
        idx = np.searchsorted(kt, starts)
        nxt = kt[np.minimum(idx, kt.size - 1)] if kt.size else starts
        in_doc = (idx < kt.size) & \
            ((nxt >> np.int64(32)) == (starts >> np.int64(32)))
        gap = (nxt & pos_mask) - (starts & pos_mask)
        ok &= in_doc & (gap <= slop)
    if not ok.any():
        return np.zeros(0, dtype=np.int64)
    ranks = np.unique(starts[ok] >> np.int64(32))
    return cand[ranks].astype(np.int64, copy=False)


def _min_spans(data: dict, terms: list[str],
               tombs: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc ids containing ALL terms, per-doc MINIMAL covering
    span) over one decoded bucket-field frame. The minimal window
    covering all terms and starting at occurrence p has width
    ``max_t(next_t(p) - p)``; the doc's minimal span is the min over
    starts where every term has a next occurrence — the classic
    minimal-window sweep, vectorized with the same composite-key
    searchsorted as ``_near_match_docs``."""
    tu = sorted(set(terms))
    cand = data[tu[0]]["docs"]
    for t in tu[1:]:
        cand = np.intersect1d(cand, data[t]["docs"], assume_unique=True)
    if tombs is not None and cand.size:
        cand = cand[~np.isin(cand, tombs)]
    z = np.zeros(0, dtype=np.int64)
    if cand.size == 0:
        return z, z
    keys = {}
    for t in tu:
        kt, _ = _gather_doc_positions(data[t], cand, 0)
        keys[t] = kt
    starts = np.sort(np.concatenate(list(keys.values())))
    ok = np.ones(starts.size, dtype=bool)
    span = np.zeros(starts.size, dtype=np.int64)
    pos_mask = np.int64(0xFFFFFFFF)
    for t in tu:
        kt = keys[t]
        idx = np.searchsorted(kt, starts)
        nxt = kt[np.minimum(idx, kt.size - 1)] if kt.size else starts
        in_doc = (idx < kt.size) & \
            ((nxt >> np.int64(32)) == (starts >> np.int64(32)))
        ok &= in_doc
        np.maximum(span, (nxt & pos_mask) - (starts & pos_mask),
                   out=span)
    if not ok.any():
        return z, z
    s_ok, r_ok = span[ok], (starts[ok] >> np.int64(32))
    # starts are globally sorted, so ranks are contiguous runs
    run = np.flatnonzero(np.concatenate(([True], r_ok[1:] != r_ok[:-1])))
    mins = np.minimum.reduceat(s_ok, run)
    return cand[r_ok[run]].astype(np.int64, copy=False), mins


def _ordered_near_match_docs(data: dict, terms: list[str], slop: int,
                             tombs: np.ndarray | None) -> np.ndarray:
    """Sorted doc ids containing the (distinct) ``terms`` IN QUERY ORDER at
    strictly increasing positions with gap slack
    ``(p_last - p_first) - (len(terms) - 1) <= slop`` — Lucene's ordered
    SpanNearQuery contract (slop counts the intervening positions allowed;
    slop=0 is the consecutive phrase).

    Greedy minimal chain, fully vectorized: from every occurrence of the
    first term, each subsequent term takes its EARLIEST occurrence after
    the running position (one ``searchsorted(side='right')`` per term over
    composite (doc_rank << 32) | pos keys). Earliest-next minimizes the
    chain end monotonically, so a doc matches under the greedy chain iff
    ANY valid ordered chain exists — the SQL EXISTS twin is equivalent."""
    tu = sorted(set(terms))
    cand = data[tu[0]]["docs"]
    for t in tu[1:]:
        cand = np.intersect1d(cand, data[t]["docs"], assume_unique=True)
    if tombs is not None and cand.size:
        cand = cand[~np.isin(cand, tombs)]
    if cand.size == 0:
        return cand.astype(np.int64, copy=False)
    keys = {}
    for t in tu:
        kt, _ = _gather_doc_positions(data[t], cand, 0)
        keys[t] = kt                      # rank asc, pos asc => sorted
    pos_mask = np.int64(0xFFFFFFFF)
    starts = keys[terms[0]]
    ok = np.ones(starts.size, dtype=bool)
    cur = starts
    for t in terms[1:]:
        kt = keys[t]
        idx = np.searchsorted(kt, cur, side="right")   # strictly after
        valid = idx < kt.size
        nxt = kt[np.minimum(idx, kt.size - 1)] if kt.size else cur
        ok &= valid & ((nxt >> np.int64(32)) == (starts >> np.int64(32)))
        cur = nxt        # garbage where ~ok — masked, never re-enables
    slack = (cur & pos_mask) - (starts & pos_mask) - np.int64(
        len(terms) - 1)
    ok &= slack <= slop
    if not ok.any():
        return np.zeros(0, dtype=np.int64)
    ranks = np.unique(starts[ok] >> np.int64(32))
    return cand[ranks].astype(np.int64, copy=False)


def _variants_match_rows(data: dict, variants: list[list[str]],
                         tombs: np.ndarray | None,
                         max_end: int | None = None,
                         exclude: list[str] | None = None,
                         pre: int = 0, post: int = 0
                         ) -> pd.DataFrame | None:
    """(doc_id, tf, dl) of docs matching ANY variant, tf summed across
    variants (disjoint occurrences — one term per position). Span
    constraints pass through to ``_match_variant_rows``."""
    frames = []
    for v in variants:
        if any(t not in data for t in v):
            continue
        m = _match_variant_rows(data, v, tombs, max_end=max_end,
                                exclude=exclude, pre=pre, post=post)
        if m is not None:
            frames.append(m)
    if not frames:
        return None
    out = (pd.concat(frames, ignore_index=True)
           .groupby("doc_id", as_index=False)
           .agg(tf=("tf", "sum"), dl=("dl", "first"))
           .sort_values("doc_id", kind="mergesort"))
    return out


def _variants_enclosure_rows(data: dict, keeps: list[list[str]],
                             others: list[list[str]],
                             tombs: np.ndarray | None,
                             mode: str) -> pd.DataFrame | None:
    """(doc_id, tf, dl) of docs where a ``keeps`` span survives the
    enclosure test against ``others`` spans — the Lucene SpanWithinQuery
    (mode='within': keep spans enclosed by SOME other span) and
    SpanContainingQuery (mode='containing': keep spans enclosing SOME
    other span) kernels. Each side is a SpanOr of phrase clauses.

    Fully vectorized: keep spans are composite (rank << 32 | end) keys;
    other spans of clause length Lo reduce the enclosure test to an
    inclusive end-range probe in the SAME rank space —
      within:     other_end in [end, end - Lk + Lo]
      containing: other_end in [end - Lk + Lo, end]
    (empty interval when Lo < Lk / Lo > Lk respectively: a shorter span
    cannot contain a longer one). Two ``searchsorted`` per (keep clause,
    other length): O(spans x clauses x log), no per-doc Python loop."""
    mask = np.int64(0xFFFFFFFF)
    frames = []
    for v in keeps:
        if any(t not in data for t in v):
            continue
        cand = _variant_cand_docs(data, v, tombs)
        if cand is None:
            continue
        matched = _variant_matched_keys(data, v, cand)
        if matched is None:
            continue
        lk = len(v)
        by_len: dict[int, list[np.ndarray]] = {}
        for o in others:
            if any(t not in data for t in o):
                continue
            lo = len(o)
            if (lo < lk) if mode == "within" else (lo > lk):
                continue                      # provably empty interval
            common = _variant_cand_docs(data, o, None)
            if common is None:
                continue
            common = np.intersect1d(cand, common, assume_unique=True)
            if common.size == 0:
                continue
            keys = _variant_matched_keys(data, o, common)
            if keys is None:
                continue
            # remap common-relative ranks into cand-relative ranks
            remap = np.searchsorted(cand, common)
            by_len.setdefault(lo, []).append(
                (remap[keys >> np.int64(32)] << np.int64(32))
                | (keys & mask))
        ok = np.zeros(matched.size, dtype=bool)
        ends = matched & mask
        rank_hi = matched & ~mask
        for lo, key_lists in by_len.items():
            ot = np.sort(np.concatenate(key_lists))
            d = np.int64(lo - lk)
            if mode == "within":
                lo_k, hi_k = rank_hi | ends, rank_hi | (ends + d)
            else:
                lo_k, hi_k = rank_hi | (ends + d), rank_hi | ends
            ok |= (np.searchsorted(ot, hi_k, side="right")
                   > np.searchsorted(ot, lo_k, side="left"))
        if not ok.any():
            continue
        ranks = matched[ok] >> np.int64(32)
        uniq_ranks, tf = np.unique(ranks, return_counts=True)
        docs = cand[uniq_ranks]
        idx0 = np.searchsorted(data[v[0]]["docs"], docs)
        frames.append(pd.DataFrame({
            "doc_id": docs, "tf": tf.astype(np.int64),
            "dl": data[v[0]]["dls"][idx0].astype(np.int64)}))
    if not frames:
        return None
    return (pd.concat(frames, ignore_index=True)
            .groupby("doc_id", as_index=False)
            .agg(tf=("tf", "sum"), dl=("dl", "first"))
            .sort_values("doc_id", kind="mergesort"))


def _decode_with_positions(g: pd.DataFrame, codec: str = "varint") -> dict:
    """Decode all block rows of one (term, field) stream, positions
    included, into doc-sorted arrays. The rows may come from several
    buckets and build chunks, whose doc ranges interleave. Bulk path: one
    multi-buffer decode per column across every block, positions as one
    varint stream cut at doc starts. Positions are always varint;
    docs/tfs/dls use the index codec."""
    c = get_codec(codec)
    ns = np.asarray(g["n"], dtype=np.int64)
    total = int(ns.sum())
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    docs = _u64_to_i64_ordered(segmented_cumsum_u64(
        c.decode_concat(list(g["docs"]), ns, total), starts))
    tfs = c.decode_concat(list(g["tfs"]), ns, total).astype(np.int64)
    dls = c.decode_concat(list(g["dls"]), ns, total).astype(np.int64)
    tok_starts = np.zeros(docs.size + 1, dtype=np.int64)
    np.cumsum(tfs, out=tok_starts[1:])
    n_tok = int(tok_starts[-1])
    poss = segmented_cumsum_u64(
        varint_decode_concat(list(g["poss"]), n_tok or None),
        tok_starts[:-1]).astype(np.int64)
    # compare, don't np.diff: int64 differences overflow for xxhash ids
    if docs.size > 1 and np.any(docs[1:] <= docs[:-1]):
        order = np.argsort(docs, kind="mergesort")
        docs, tfs, dls = docs[order], tfs[order], dls[order]
        src = tok_starts[:-1][order]
        np.cumsum(tfs, out=tok_starts[1:])
        poss = poss[np.repeat(src - tok_starts[:-1], tfs)
                    + np.arange(n_tok, dtype=np.int64)]
    return {"docs": docs, "tfs": tfs, "dls": dls, "poss": poss,
            "tok_starts": tok_starts}


