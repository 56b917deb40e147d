"""Index sorting + early-terminated sorted retrieval (the Lucene
``IndexSorting`` + early-termination serving design).

Lucene can sort the whole index by a static field (recency, static rank,
length) so that a query sorted by THAT field stops scanning as soon as k
competitive hits are collected — the standard serving trick for "newest
matching pages" / "highest-ranked matching pages" over corpora where the
match set is millions of docs but the client wants 10.  fates itself
returns hits in suffix-array (i.e. index) order (`lib/fates.rb:73-81`), so
"index order == the order you want" is literally the reference's own
retrieval contract; this module makes that order a chosen static field and
keeps the early exit at 10^12-doc scale.

How it maps onto this engine:

- **Build**: ``rank_assign`` gives every doc a 1-based GLOBAL rank in
  ``(sort_col asc|desc, tiebreak asc)`` order — the classic two-phase
  distributed rank (ONE ``repartitionByRange`` shuffle on the sort key, a
  P-row per-partition count collect, then a narrow Arrow fold adding each
  partition's exclusive offset; no global window, no single-partition
  stage).  ``build_sorted`` then builds an ordinary index with
  ``doc_id = rank``: posting lists are doc-id-ordered by construction, so
  the WHOLE index is physically sorted by the field — Lucene's index
  sorting, paid as one extra corpus shuffle at build, exactly like
  Lucene pays it at segment merge.

- **Query**: ``search_sorted_early`` answers "top-k matches by the sort
  field" by scanning only a PREFIX of every posting list.  Posting blocks
  carry ``first_doc`` (the block-max skip structure, ``merge.py``), so a
  range probe pushes ``first_doc < T`` into the parquet scan
  (PushedFilters — blocks past the horizon are never read, not merely
  never decoded) and keeps the smallest ``k`` doc ids per doc-disjoint
  bucket.  Any match with ``doc_id < T`` necessarily lives in a block
  with ``first_doc <= doc_id < T``, so the probe sees EVERY match below
  the horizon: if >= k global matches surface, the k smallest are exact
  and the scan is over.  Otherwise the horizon doubles (geometric
  galloping — total work <= 2x the final probe) and falls back to the
  full posting scan only when the match set itself is smaller than k.
  The initial horizon comes from the term-dictionary df stats
  (``est = min df`` for AND / capped ``sum df`` for OR): a uniform match
  spread puts the k-th match near ``k * n_docs / est``, and
  ``probe_factor`` pads that estimate.

Cost at 10^12 docs: a selective sorted query reads
``O(probe_factor * k * n_docs / est / block_size)`` blocks per term per
bucket instead of ``df / block_size`` — for "top 10 longest pages
mentioning X" with a million-doc match set that is thousands of times
less IO than the ``search_sorted_by`` full-match-set path (which stays
the right tool for arbitrary UNSORTED stored fields).

Results are exact and order-deterministic (rank is unique), so a DuckDB
``row_number() OVER (ORDER BY ...)`` twin reproduces them hash-exactly.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import BuildConfig, IndexBuilder
from .codec import get_codec, not_in_sorted
from .query import SearchIndex, _fold_terms

__all__ = ["rank_assign", "build_sorted", "search_sorted_early"]


def rank_assign(df: DataFrame, sort_col: str, *, ascending: bool = False,
                tiebreak: str = "doc_id", rank_col: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """Add a 1-based global dense row rank in ``(sort_col asc|desc,
    tiebreak asc)`` order — two-phase scan (module docstring), never a
    global window. ``sort_col`` must be numeric (the partition-order key
    negates it for descending). ``tiebreak`` must be unique."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    skey = F.col(sort_col) if ascending else (-F.col(sort_col))
    part = (df.withColumn("_skey", skey)
            .repartitionByRange(num_partitions, F.col("_skey"),
                                F.col(tiebreak))
            .sortWithinPartitions("_skey", tiebreak)
            .withColumn("_pid", F.spark_partition_id()))
    part = part.persist()
    try:
        totals = (part.groupBy("_pid")
                  .agg(F.count(F.lit(1)).alias("cnt"),
                       F.min(F.struct("_skey", tiebreak)).alias("lo"))
                  .collect())
    except Exception:
        part.unpersist()
        raise
    # range partitions are disjoint in (_skey, tiebreak) order, so sorting
    # them by their first row IS the global order
    totals.sort(key=lambda r: (r["lo"][0], r["lo"][1]))
    offsets: dict[int, int] = {}
    run = 0
    for r in totals:
        offsets[int(r["_pid"])] = run
        run += int(r["cnt"])

    from pyspark.sql.types import LongType, StructField, StructType
    cols = [c for c in df.columns]
    out_schema = StructType(
        list(part.select(*cols).schema.fields)
        + [StructField(rank_col, LongType())])

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in batches:
            if not len(pdf):
                continue
            if carry is None:
                carry = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            n = len(pdf)
            out = pdf[cols].copy()
            out[rank_col] = np.arange(carry + 1, carry + n + 1,
                                      dtype=np.int64)
            carry += n
            yield out

    return part.mapInPandas(fold, out_schema)


def build_sorted(spark: SparkSession, corpus: DataFrame, index_dir: str,
                 sort_col: str, *, ascending: bool = False,
                 id_col: str = "doc_id", text_col: str = "text",
                 config: BuildConfig | None = None,
                 build_id: str = "sorted",
                 num_partitions: int | None = None) -> SearchIndex:
    """Build an index whose doc ids ARE the global rank by ``sort_col``
    (Lucene index sorting). The original id survives as the stored
    ``url`` (string), so results map back. Returns the opened reader."""
    ranked = rank_assign(corpus, sort_col, ascending=ascending,
                         tiebreak=id_col, num_partitions=num_partitions)
    base = ranked.select(
        F.col("rank"),
        F.col(id_col).cast("string").alias("_orig"),
        F.col(text_col).alias("_text"),
        F.col(sort_col))
    cfg = config or BuildConfig()
    # the sort field rides in the docs table (store_cols doc values), so
    # results carry their sort value without the original corpus
    IndexBuilder(index_dir, cfg).build(
        spark, base, id_col="rank", url_col="_orig", text_col="_text",
        build_id=build_id, store_cols=[sort_col])
    return SearchIndex(spark, index_dir)


def _prefix_match(pdf: pd.DataFrame, codec: str, tombs,
                  need_all: frozenset | None, horizon: int,
                  k: int, lo: int = 0) -> np.ndarray:
    """Smallest <= k live doc ids in (``lo``, ``horizon``) matching the
    boolean query within one doc-disjoint posting frame (streams truncated
    at the block level by the pushed ``first_doc < horizon`` /
    ``last_doc > lo`` scan filters)."""
    c = get_codec(codec)
    per_term: dict[str, np.ndarray] = {}
    for t, g in pdf.groupby("term"):
        docs = np.concatenate(
            [c.decode_ids(bb, int(n)) for bb, n in zip(g["docs"], g["n"])])
        # edge blocks may cross either bound
        docs = docs[(docs < horizon) & (docs > lo)]
        per_term[t] = np.unique(docs)
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
    return out[:k].astype(np.int64, copy=False)


def search_sorted_early(index: SearchIndex, query, k: int = 10,
                        mode: str = "AND", *, probe_factor: int = 8,
                        with_url: bool = False, after: int | None = None,
                        _probes_out: list | None = None) -> DataFrame:
    """Exact top-k matches of a rank-sorted index in index (= sort-field)
    order, early-terminated: only posting blocks below a galloping
    ``first_doc < horizon`` range filter are ever read (module
    docstring). Returns (doc_id[, url]) ordered by doc_id — doc_id IS the
    global sort rank.

    ``after`` is cursor pagination in rank order (the search_after
    contract): only matches with ``doc_id > after`` qualify, and the
    probe horizon starts PAST the cursor — page p+1 costs the same
    O(k)-shaped prefix-beyond-cursor scan as page 1, so deep scrolls
    stay flat at 10^12 docs (``offset`` pagination re-reads every
    earlier page's prefix). ``_probes_out`` (testing) collects the
    horizons probed."""
    if k <= 0:
        raise ValueError("k must be positive")
    lo = int(after) if after is not None else 0
    if lo < 0:
        raise ValueError("after must be >= 0")
    spark = index.spark
    qterms = sorted(set(_fold_terms(query, index.analyzer)))
    empty = spark.createDataFrame([], "doc_id long")
    if not qterms:
        return empty
    stats = index.term_stats(qterms)
    present = [t for t in qterms if t in stats]
    if not present or (mode == "AND" and len(present) < len(qterms)):
        return empty
    dfs = [sum(f["df"] for f in stats[t].values()) for t in present]
    est = (min(dfs) if mode == "AND"
           else min(index.n_docs, sum(dfs))) or 1
    horizon = min(index.n_docs,
                  lo + max(4 * k,
                           math.ceil(k * index.n_docs / est)
                           * probe_factor))
    codec = index.codec_name
    tombs_ref = index._tombs_ref()
    need_all = frozenset(present) if mode == "AND" else None

    while True:
        final = horizon >= index.n_docs
        h = index.n_docs + 1 if final else horizon
        if _probes_out is not None:
            _probes_out.append(h)
        pred = F.col("term").isin(present) & (F.col("first_doc") < F.lit(h))
        if lo:
            # blocks wholly at-or-below the cursor are skipped too (the
            # lower bound is pushed just like the horizon)
            pred = pred & (F.col("last_doc") > F.lit(lo))
        blocks = index.postings.filter(pred).select(
            "bucket", "term", "n", "docs")

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"doc_id": _prefix_match(pdf, codec, tombs_ref.get(),
                                         need_all, h, k, lo)})

        rows = (blocks.groupBy("bucket").applyInPandas(probe, "doc_id long")
                .orderBy("doc_id").limit(k).collect())
        if len(rows) >= k or final:
            break
        horizon = lo + (horizon - lo) * 8

    pdf = pd.DataFrame({"doc_id":
                        np.asarray([r["doc_id"] for r in rows], np.int64)})
    out = spark.createDataFrame(pdf, "doc_id long") if len(pdf) else empty
    if with_url:
        # k-row result side broadcasts; the docs table is never shuffled
        out = index.docs.select("doc_id", "url").join(
            F.broadcast(out), "doc_id")
    return out.orderBy("doc_id")
