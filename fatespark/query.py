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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import ANALYZERS, ascii_fold
from .codec import (_u64_to_i64_ordered, get_codec, not_in_sorted,
                    segmented_cumsum_u64, varint_decode_concat)
from .local import (Plan, SpanPlan, _empty_result, _fold_terms,
                    _phrase_variants, _spanor_variants, check_page, doc_set,
                    execute, match_spans, near_docs, plan_phrase_count,
                    plan_search, plan_spans, positions, require_positions,
                    restrict, score_streams, stream_docs)
from .oracle import idf as idf_fn
from .wand import B, K1

RESULT_SCHEMA = "doc_id long, score double"
SPAN_SCHEMA = "doc_id long, field int, tf int, dl int"  # local.match_spans

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
        require_positions(self, "find_all")
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
        stats = self.term_stats(_fold_terms(query, self.analyzer))
        empty_schema = ("doc_id long, term string, field int, tf long, "
                        "df long, dl long, idf double, contribution double")
        p = plan_search(self, query, k=k, mode=mode, weights=weights,
                        quantize=quantize, stats=stats)
        if p is None:
            return self.spark.createDataFrame([], empty_schema)
        top = self._score_buckets(p).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)
        ids = [int(r["doc_id"]) for r in top.select("doc_id").collect()]
        if not ids:
            return self.spark.createDataFrame([], empty_schema)
        idf_rows = [(t, f, int(stats[t][f]["df"]), float(v))
                    for (t, f), v in sorted(p.idfs.items())]
        idf_df = self.spark.createDataFrame(
            idf_rows, "term string, field int, df long, widf double")
        favg_df = self.spark.createDataFrame(
            [(int(f), float(a)) for f, a in sorted(self.field_avgdl.items())],
            "field int, avgdl double")
        hits = self.find_all(p.terms).filter(F.col("doc_id").isin(ids))
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

        The options compile once into a plan (``local.plan_search``, the
        planner ``LocalSearchIndex.search`` runs too), which raises
        ``ValueError`` on an invalid option, e.g. a ``mode`` other than
        AND/OR or a negative ``k``/``offset``. ``_score_buckets`` then runs
        the plan in every bucket with the shared executor.

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
        p = plan_search(self, query, k=k, mode=mode, offset=offset,
                        use_wand=use_wand, quantize=quantize,
                        weights=weights, exclude=exclude,
                        filter_terms=filter_terms, filter_field=filter_field,
                        boosts=boosts, search_after=search_after,
                        similarity=similarity, mu=mu, jm_lambda=jm_lambda,
                        delta=delta, min_should_match=min_should_match,
                        must_terms=must_terms, combine=combine,
                        tie_breaker=tie_breaker,
                        global_stats=self._rebase_stats if rebase_stats
                        else None)
        if p is None:
            return self._empty(with_url)
        out = self._score_buckets(p).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(p.k)
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
        shuffle. Each query is planned by the shared planner against one
        batched dictionary lookup and scored by the shared kernel choice
        (``local.score_streams``). Semantics per query are IDENTICAL to
        ``search(query, k, mode)`` (tested)."""
        from pyspark.sql import Window
        check_page(k, 0, mode)
        all_terms = sorted({t for qv in queries.values()
                            for t in _fold_terms(qv, self.analyzer)})
        out_schema = "query_id string, doc_id long, score double"
        stats = self.term_stats(all_terms) if all_terms else {}
        plans = sorted((qid, p) for qid, qv in queries.items()
                       if (p := plan_search(self, qv, k=k, mode=mode,
                                            quantize=quantize,
                                            use_wand=use_wand,
                                            stats=stats)) is not None)
        if not plans:
            return self.spark.createDataFrame([], out_schema + ", rank int")
        # one plan over the union of the batch's streams: each stream is
        # restricted (and decoded) once per bucket, then every query
        # scores its own subset
        scan = plans[0][1]._replace(
            terms=sorted({t for _, p in plans for t in p.terms}),
            idfs={kk: v for _, p in plans for kk, v in p.idfs.items()})
        tombs_ref = self._tombs_ref()

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            by_tf = restrict(_stream_rows(pdf), scan, tombs_ref.get())
            frames = []
            for qid, p in plans:
                docs, scores = score_streams(
                    {kk: tb for kk, tb in by_tf.items() if kk in p.idfs},
                    p, p.k)
                if len(docs):
                    frames.append(pd.DataFrame(
                        {"query_id": qid, "doc_id": docs, "score": scores}))
            if not frames:
                return pd.DataFrame({"query_id": pd.array([], dtype=str),
                                     "doc_id": pd.array([], dtype="int64"),
                                     "score": pd.array([], dtype="float64")})
            return pd.concat(frames, ignore_index=True)

        blocks = self.postings.filter(F.col("term").isin(scan.terms)).select(
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
        if not fterms:
            raise ValueError("rebase_stats=True requires filter_terms "
                             "that match the dictionary")
        codec = self.codec_name
        fset = frozenset(fterms)
        qset = frozenset(qterms)
        out_schema = "term string, field int, df long"

        def statser(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = _stream_rows(pdf)
            allowed = doc_set(rows, fset, codec, ffield)
            qrows = [] if allowed is None else \
                [(kk, g) for kk, g in rows.items() if kk[0] in qset]
            return pd.DataFrame({
                "term": pd.Series([t for (t, _), _ in qrows],
                                  dtype="object"),
                "field": pd.Series([f for (_, f), _ in qrows],
                                   dtype="int32"),
                "df": pd.Series([int(np.isin(stream_docs(g, codec),
                                             allowed).sum())
                                 for _, g in qrows], dtype="int64")})

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

        allowed_df = self._matching_docs_raw(fterms, ffield)
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

    def _score_buckets(self, plan: Plan) -> DataFrame:
        """(doc_id, score): each bucket's top ``plan.k`` for ``plan``
        (``local.plan_search``), from one pruned postings scan of the
        plan's query, exclude and filter streams. Each bucket's scorer
        groups its block rows by (term, field) and runs the shared
        executor (``local.execute``) with the reader's tombstones; buckets
        are doc-disjoint, so exclude and filter sets are bucket-local."""
        tombs_ref = self._tombs_ref()

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            docs, scores = execute(_stream_rows(pdf), plan, tombs_ref.get(),
                                   plan.k)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        # column-prune before the Arrow hop: the scorer never reads positions
        # (poss is the largest column in the index)
        blocks = self.postings.filter(
            F.col("term").isin(plan.scan_terms())).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc", "max_tf",
            "min_dl", "docs", "tfs", "dls")
        return blocks.groupBy("bucket").applyInPandas(scorer, RESULT_SCHEMA)

    # -- phrase and span: local.plan_spans -> _span_matches -> score ---------
    def _phrase_variants(self, phrase: str,
                         max_expansions: int | None = None) -> list[list[str]]:
        """The shared ``local._phrase_variants`` over this reader."""
        return _phrase_variants(self, phrase, max_expansions)

    def _span_matches(self, plan: SpanPlan) -> DataFrame:
        """(doc_id, field, tf, dl) of ``plan`` (``local.plan_spans``): one
        postings scan of the plan's terms, then ``local.match_spans`` over
        each bucket's ``local.positions``. Each (term, field) stream decodes
        once per bucket, however many variants share it."""
        tombs_ref, codec = self._tombs_ref(), self.codec_name

        def matcher(pdf: pd.DataFrame) -> pd.DataFrame:
            return match_spans(positions(_stream_rows(pdf), codec), plan,
                               tombs_ref.get())

        blocks = self.postings.filter(F.col("term").isin(plan.terms)).select(
            "bucket", "term", "field", "n", "docs", "tfs", "dls", "poss")
        return blocks.groupBy("bucket").applyInPandas(matcher, SPAN_SCHEMA)

    def _phrase_matches(self, variants: list[list[str]],
                        max_end: int | None = None,
                        exclude: list[str] | None = None,
                        pre: int = 0, post: int = 0) -> DataFrame | None:
        """(doc_id, field, tf, dl) for docs matching ANY variant, tf summed
        across variants — at a given token position exactly one variant can
        match (a position holds one term), so occurrences are disjoint and
        the sum is the exact total. ``max_end``/``exclude``/``pre``/``post``
        are the span constraints (see ``_match_variant_rows``); excluded
        terms ride the same postings fetch but never gate the match. None
        when nothing can match (``plan_spans`` + ``_span_matches``)."""
        p = plan_spans(self, variants, max_end=max_end, exclude=exclude,
                       pre=pre, post=post)
        return None if p is None else self._span_matches(p)

    def _enclosure_matches(self, keeps: list[list[str]],
                           others: list[list[str]],
                           mode: str) -> DataFrame | None:
        """(doc_id, field, tf, dl) for span-enclosure matches — the
        two-span-set analogue of ``_phrase_matches``; both sides ride ONE
        postings scan (shared terms decode once per bucket/field)."""
        p = plan_spans(self, keeps, others, mode)
        return None if p is None else self._span_matches(p)

    def _ranked_spans(self, plan: SpanPlan | None, k: int, offset: int,
                      with_url: bool, quantize: int | None,
                      weights: list[float] | None) -> DataFrame:
        if plan is None:
            return self._empty()
        return self._score_phrase_matches(self._span_matches(plan), k, offset,
                                          with_url, quantize, weights)

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
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

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
        p = plan_spans(self, _spanor_variants(self, phrases), k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

    def _phrase_sums(self, matches: DataFrame,
                     weights: list[float] | None = None) -> DataFrame | None:
        """(doc_id, s): each doc's BM25 of a (cached) phrase match table
        scored as one pseudo-term — per field f, idf from the field's
        phrase df (times ``weights[f]``) over the row's tf and dl, summed
        over fields. Rows of weight-0 fields drop before the sum. None when
        no field scores. The one expression ``_score_phrase_matches`` and
        ``_phrase_contrib`` share; same parenthesization as the oracle and
        the local scorer."""
        per_field = {int(r["field"]): int(r["n"]) for r in
                     matches.groupBy("field").agg(
                         F.count("*").alias("n")).collect()}
        if weights is not None:
            per_field = {f: n for f, n in per_field.items()
                         if f < len(weights) and weights[f] != 0.0}
        if not per_field:
            return None
        score = None
        for f, dfp in sorted(per_field.items()):
            iv = idf_fn(self.n_docs, dfp)
            if weights is not None:
                iv = weights[f] * iv
            ad = self.field_avgdl.get(f, self.avgdl)
            norm = (1.0 - B) + B * F.col("dl") / F.lit(ad) if ad > 0 \
                else F.lit(1.0 - B)
            s_f = F.lit(iv) * (F.col("tf") * F.lit(K1 + 1.0) / (
                F.col("tf") + F.lit(K1) * norm))
            s_f = F.when(F.col("field") == f, s_f)
            score = s_f if score is None else F.coalesce(s_f, score)
        # the when/coalesce chain is NULL for weight-excluded fields, and
        # groupBy.sum over an all-NULL group would emit (doc, NULL) rows
        return (matches.select("doc_id", score.alias("s"))
                .where(F.col("s").isNotNull())
                .groupBy("doc_id").agg(F.sum("s").alias("s")))

    def _phrase_contrib(self, matches: DataFrame) -> DataFrame | None:
        """(doc_id, s) unranked pseudo-term BM25 contributions for one
        clause-set match table — ``_phrase_sums`` without quantize/top-k,
        for callers that SUM several pseudo-terms (synonym graph), so
        per-position scores are bit-identical to a standalone
        ``search_phrases_any``."""
        matches = matches.cache()
        try:
            s = self._phrase_sums(matches)
            return None if s is None else s.localCheckpoint(eager=True)
        finally:
            matches.unpersist()

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
            m = self._phrase_matches(
                _spanor_variants(self, [t, *graph.get(t, ())]))
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
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset, max_end=max_end)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

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
        p = plan_spans(self, _phrase_variants(self, phrase), k=k,
                       offset=offset, exclude=exclude, pre=pre, post=post)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

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
        p = plan_spans(self, _spanor_variants(self, little),
                       _spanor_variants(self, big), "within", k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

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
        p = plan_spans(self, _spanor_variants(self, big),
                       _spanor_variants(self, little), "containing", k=k,
                       offset=offset)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

    def search_phrase_prefix(self, phrase: str, k: int = 10, offset: int = 0,
                             max_expansions: int = 16,
                             with_url: bool = False,
                             quantize: int | None = None,
                             weights: list[float] | None = None) -> DataFrame:
        """fates' natural phrase-prefix search: ``'big arr'`` matches
        ``'big array'`` (``README.markdown:7-11``) — last token expanded
        against the term dictionary, earlier tokens exact, all variants
        matched in one pass and scored as one pseudo-term."""
        p = plan_spans(self, _phrase_variants(self, phrase, max_expansions),
                       k=k, offset=offset)
        return self._ranked_spans(p, k, offset, with_url, quantize, weights)

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
        position lists (``local.near_docs``: exact minimal-covering-window
        semantics, vectorized searchsorted over composite doc/pos keys) and
        only window-matching docs enter scoring — one postings scan, no
        corpus access, no extra shuffle (buckets stay doc-disjoint)."""
        require_positions(self, "proximity search")
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
        p = plan_search(self, query, k=k, mode="AND", offset=offset,
                        quantize=quantize, weights=weights)
        if p is None:
            return self._empty()
        tombs_ref, codec, sl = self._tombs_ref(), self.codec_name, int(slop)

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = _stream_rows(pdf)
            keep = near_docs(positions(rows, codec), p.terms, sl,
                             tombs_ref.get(), oterms)
            if keep is None:
                return _empty_result()
            # window matches are live docs already: no tombstone pass
            docs, scores = execute(rows, p, None, p.k, keep=keep)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        blocks = self.postings.filter(F.col("term").isin(p.terms)).select(
            "bucket", "term", "field", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "docs", "tfs", "dls", "poss")
        scored = blocks.groupBy("bucket").applyInPandas(scorer, RESULT_SCHEMA)
        out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(p.k)
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
        require_positions(self, "proximity boost")
        if c < 0:
            raise ValueError("c must be >= 0")
        # unquantized plan: the boost is applied, then quantized, after
        # the conjunctive kernel
        p = plan_search(self, query, k=k, mode="AND")
        if p is None:
            return self._empty()
        tombs_ref, codec = self._tombs_ref(), self.codec_name
        qmul = float(10 ** quantize) if quantize else None
        cc, nm1 = float(c), float(len(p.terms) - 1)

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            from .wand import topk_select
            tombs = tombs_ref.get()
            rows = _stream_rows(pdf)
            span_ids: list[np.ndarray] = []
            span_vals: list[np.ndarray] = []
            for data in positions(rows, codec).values():
                if any(t not in data for t in p.terms):
                    continue
                ids, spans = _min_spans(data, p.terms, tombs)
                if ids.size:
                    span_ids.append(ids)
                    span_vals.append(spans)
            if not span_ids:
                return _empty_result()
            all_ids = np.concatenate(span_ids)
            all_spans = np.concatenate(span_vals)
            order = np.lexsort((all_spans, all_ids))
            keep = np.concatenate(
                ([True], all_ids[order][1:] != all_ids[order][:-1]))
            ids = all_ids[order][keep]          # sorted unique doc ids
            spans = all_spans[order][keep]      # min across fields
            docs, scores = execute(rows, p, None, int(ids.size), keep=ids)
            at = np.searchsorted(ids, docs)
            boost = 1.0 + cc / (1.0 + (spans[at].astype(np.float64)
                                       - nm1))
            boosted = scores * boost
            if qmul:
                boosted = np.floor(boosted * qmul) / qmul
            docs, boosted = topk_select(docs, boosted, p.k)
            return pd.DataFrame({"doc_id": docs, "score": boosted})

        blocks = self.postings.filter(F.col("term").isin(p.terms)).select(
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
        exhaustive counts over adversarial vocabularies). The shared
        ``local.plan_phrase_count`` picks the path."""
        p = plan_phrase_count(self, phrase, prefix, max_expansions)
        if not isinstance(p, SpanPlan):
            return p
        return int(self._span_matches(p).agg(F.sum("tf")).collect()[0][0]
                   or 0)

    def _score_phrase_matches(self, matches: DataFrame, k: int, offset: int,
                              with_url: bool,
                              quantize: int | None = None,
                              weights: list[float] | None = None) -> DataFrame:
        """Top ``k`` after ``offset`` of a phrase match table scored as one
        pseudo-term (``_phrase_sums``), in (score DESC, doc_id ASC)."""
        matches = matches.cache()
        try:
            agg = self._phrase_sums(matches, weights)
            if agg is None:
                return self._empty()
            agg = agg.select("doc_id", F.col("s").alias("score"))
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
        check_page(k)
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


def _stream_rows(pdf: pd.DataFrame) -> dict:
    """(term, field) -> block rows of each stream in one bucket's frame:
    the executor's input (``local.execute``)."""
    return {(t, int(f)): g for (t, f), g in pdf.groupby(["term", "field"])}


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
        keep = not_in_sorted(docs, tombs)
        if not keep.all():
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
    if tombs is not None:
        out = out[not_in_sorted(out, tombs)]
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


def _rerank(keys: np.ndarray, cand: np.ndarray,
            common: np.ndarray) -> np.ndarray:
    """Composite keys ranked in ``common`` (a sorted subset of ``cand``)
    re-ranked into ``cand``."""
    remap = np.searchsorted(cand, common)
    return (remap[keys >> np.int64(32)] << np.int64(32)) \
        | (keys & np.int64(0xFFFFFFFF))


def _span_rows(data: dict, v: list[str], cand: np.ndarray,
               matched: np.ndarray) -> pd.DataFrame:
    """(doc_id, tf, dl) of one variant's surviving span keys over
    ``cand``: tf = spans per doc."""
    uniq_ranks, tf = np.unique(matched >> np.int64(32), return_counts=True)
    docs = cand[uniq_ranks]
    idx0 = np.searchsorted(data[v[0]]["docs"], docs)
    return pd.DataFrame({"doc_id": docs, "tf": tf.astype(np.int64),
                         "dl": data[v[0]]["dls"][idx0].astype(np.int64)})


def _sum_spans(frames: list[pd.DataFrame]) -> pd.DataFrame | None:
    """(doc_id, tf, dl) with tf summed over variants (disjoint
    occurrences — one term per position), sorted by doc_id."""
    if not frames:
        return None
    return (pd.concat(frames, ignore_index=True)
            .groupby("doc_id", as_index=False)
            .agg(tf=("tf", "sum"), dl=("dl", "first"))
            .sort_values("doc_id", kind="mergesort"))


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
            ex_keys.append(_rerank(keys, cand, common))
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
    return _span_rows(data, v, cand, matched)


def _term_keys(data: dict, terms: list[str],
               tombs: np.ndarray | None) -> tuple[np.ndarray, dict] | None:
    """(cand, term -> sorted composite ``(doc_rank << 32) | pos`` keys
    over cand) for the live docs holding every distinct term of one
    decoded bucket-field frame; None when there is none."""
    cand = _variant_cand_docs(data, terms, tombs)
    if cand is None:
        return None
    return cand, {t: _gather_doc_positions(data[t], cand, 0)[0]
                  for t in sorted(set(terms))}


def _near_match_docs(data: dict, terms: list[str], slop: int,
                     tombs: np.ndarray | None) -> np.ndarray:
    """Sorted doc ids (one decoded bucket-field frame) containing ALL the
    distinct ``terms`` within some token window of span <= ``slop``
    (max position - min position, unordered) — reference proximity over a
    suffix array, re-expressed over position lists.

    Exact and fully vectorized: a qualifying window exists iff the doc's
    minimal covering span (``_min_spans``) is <= slop."""
    ids, spans = _min_spans(data, terms, tombs)
    return ids[spans <= slop]


def _min_spans(data: dict, terms: list[str],
               tombs: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc ids containing ALL terms, per-doc MINIMAL covering
    span) over one decoded bucket-field frame. The minimal window
    covering all terms and starting at occurrence p has width
    ``max_t(next_t(p) - p)``; the doc's minimal span is the min over
    starts where every term has a next occurrence — the classic
    minimal-window sweep, vectorized: each next_t is one ``searchsorted``
    over composite ``(doc_rank << 32) | pos`` keys, so the sweep is
    O(occurrences x terms x log) with no per-doc Python loop."""
    z = np.zeros(0, dtype=np.int64)
    got = _term_keys(data, terms, tombs)
    if got is None:
        return z, z
    cand, keys = got
    starts = np.sort(np.concatenate(list(keys.values())))
    ok = np.ones(starts.size, dtype=bool)
    span = np.zeros(starts.size, dtype=np.int64)
    pos_mask = np.int64(0xFFFFFFFF)
    for kt in keys.values():
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
    got = _term_keys(data, terms, tombs)
    if got is None:
        return np.zeros(0, dtype=np.int64)
    cand, keys = got
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
    variants (``_sum_spans``). Span constraints pass through to
    ``_match_variant_rows``."""
    frames = []
    for v in variants:
        if any(t not in data for t in v):
            continue
        m = _match_variant_rows(data, v, tombs, max_end=max_end,
                                exclude=exclude, pre=pre, post=post)
        if m is not None:
            frames.append(m)
    return _sum_spans(frames)


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
            by_len.setdefault(lo, []).append(_rerank(keys, cand, common))
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
        if ok.any():
            frames.append(_span_rows(data, v, cand, matched[ok]))
    return _sum_spans(frames)


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


