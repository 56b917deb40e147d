"""Impact-ordered quantized serving index (Anh & Moffat, SIGIR 2006).

Precomputes every posting's BM25 contribution ``s = idf(term) *
bm25_part(tf, dl)`` at BUILD time, quantizes it to an integer impact
``q = floor((s / M) * (2^bits - 1))`` against the single global maximum
contribution ``M``, and stores per-(bucket, term, impact) doc-id lists.
Query-time scoring is then pure integer addition over the query terms'
lists — no df/dl/avgdl lookups, no float math, no length norm — which is
the classic serving-tier trade: a coarser (quantized) score scale for a
drastically cheaper and early-terminable scorer.

Scale/plan shape (the same discipline as ``pruning.py``):

- pass 1 (M): posting blocks join the vocab-sized terms table (broadcast
  under ``broadcast_terms``) for df, then ONE narrow ``mapInPandas``
  emits a single partial-max row per Arrow batch; the global max is a
  1-row agg.  No corpus-side shuffle.
- pass 2 (quantize): the same join, then ONE narrow decode -> quantize ->
  regroup-within-block pass.  Each input block emits one output row per
  distinct impact level it contains (<= 2^bits), so the rewrite never
  re-shuffles postings; a (term, q) list split across input blocks is
  simply concatenated by the reader.
- the output is written partitioned by nothing but kept sorted
  (term, q DESC) within files so a served cutoff (``qmin``) prunes at
  the parquet row-group level, and the ``q >= qmin`` predicate lands in
  PushedFilters.
- query: term IN-list pushdown + optional ``qmin`` cutoff, one
  ``applyInPandas`` per bucket (buckets are doc-complete: ``ids.
  bucket_of`` hashes the DOC id, so one doc's postings never straddle
  buckets) summing int impacts per doc and taking a local top-k; the
  global top-k orders n_buckets x k rows.

The reference engine always scores floats at query time
(``lib/fates.rb:65``); this is the published impact-sorted alternative
over the same corpus, kept oracle-exact because quantization is a
deterministic float64 expression the SQL twin replays.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import get_codec, segmented_cumsum_u64, segmented_delta
from .oracle import idf as idf_fn
from .pruning import _part_vec, _row_starts
from .codec import (_i64_to_u64_ordered, _u64_to_i64_ordered,
                    not_in_sorted)

IMPACT_SCHEMA = ("bucket int, term string, field int, q int, n int, "
                 "docs binary")


def _score_batches(codec_name: str, field_avgdl: dict, avgdl: float,
                   n_docs: int, tombs_u64: np.ndarray | None,
                   need_docs: bool):
    """Shared decode: yields (pdf, s, du, ns, starts, keep-applied arrays).
    ``s`` is the engine's exact contribution expression idf * part."""
    fa = dict(field_avgdl)

    def decode(pdf: pd.DataFrame):
        c = get_codec(codec_name)
        ns = pdf["n"].to_numpy(np.int64)
        total = int(ns.sum())
        starts = _row_starts(ns)
        tfs = c.decode_concat(list(pdf["tfs"]), ns, total).astype(np.int64)
        dls = c.decode_concat(list(pdf["dls"]), ns, total).astype(np.int64)
        du = None
        if need_docs or tombs_u64 is not None:
            d_gaps = c.decode_concat(list(pdf["docs"]), ns, total)
            du = segmented_cumsum_u64(d_gaps, starts)
        fl_row = pdf["field"].to_numpy(np.int64)
        av = np.fromiter((fa.get(int(f), avgdl) for f in fl_row),
                         np.float64, fl_row.size)
        part = _part_vec(tfs, dls, np.repeat(av, ns))
        # idf per row from the joined df column, repeated per posting —
        # the same math.log expression as oracle.idf, vectorized
        df_row = pdf["df"].to_numpy(np.float64)
        idf_row = np.log(1.0 + (n_docs - df_row + 0.5) / (df_row + 0.5))
        s = np.repeat(idf_row, ns) * part
        keep = None
        if tombs_u64 is not None:
            keep = not_in_sorted(du, tombs_u64)
        return ns, starts, s, du, keep

    return decode


def _with_df(idx, broadcast_terms: bool, cols: list[str]) -> DataFrame:
    terms = idx.terms.select("term", "df") if "field" not in \
        idx.terms.columns else idx.terms.select("term", "field", "df")
    keys = ["term"] if "field" not in idx.terms.columns else \
        ["term", "field"]
    t = F.broadcast(terms) if broadcast_terms else terms
    return idx.postings.select(*cols).join(t, keys)


def build_impact_index(spark: SparkSession, idx, out_dir: str, *,
                       bits: int = 8, broadcast_terms: bool = True) -> dict:
    """Write the impact-ordered twin of ``idx`` at ``out_dir``.  Returns
    {"max_score": M, "levels": 2^bits - 1, "rows": n}."""
    if not (1 <= bits <= 16):
        raise ValueError("bits must be in [1, 16]")
    levels = float((1 << bits) - 1)
    tombs_u64 = None
    if idx.tombstones is not None and idx.tombstones.size:
        tombs_u64 = np.sort(_i64_to_u64_ordered(idx.tombstones))

    base_cols = ["bucket", "term", "field", "block_id", "n", "docs",
                 "tfs", "dls"]
    dec_max = _score_batches(idx.codec_name, idx.field_avgdl, idx.avgdl,
                             idx.n_docs, tombs_u64, need_docs=False)

    def max_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns, starts, s, du, keep = dec_max(pdf)
            if keep is not None:
                s = s[keep]
            if s.size:
                yield pd.DataFrame({"m": [float(s.max())]})

    scored = _with_df(idx, broadcast_terms,
                      ["term", "field", "n", "tfs", "dls"]
                      + (["docs"] if tombs_u64 is not None else []))
    row = scored.mapInPandas(max_gen, schema="m double").agg(
        F.max("m")).collect()[0]
    m = float(row[0] or 0.0)
    if m <= 0.0:
        raise ValueError("empty index: no positive contribution")

    dec_q = _score_batches(idx.codec_name, idx.field_avgdl, idx.avgdl,
                           idx.n_docs, tombs_u64, need_docs=True)

    def quant_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns, starts, s, du, keep = dec_q(pdf)
            gid = np.repeat(np.arange(ns.size, dtype=np.int64), ns)
            if keep is not None:
                s, du, gid = s[keep], du[keep], gid[keep]
                if not s.size:
                    continue
            q = np.floor((s / m) * levels).astype(np.int64)
            # regroup WITHIN the block: stable sort by (row, q) keeps doc
            # order inside each (row, q) run (du is sorted per row)
            order = np.lexsort((du, q, gid))
            gid_s, q_s, du_s = gid[order], q[order], du[order]
            new_run = np.empty(du_s.size, dtype=bool)
            new_run[0] = True
            new_run[1:] = (gid_s[1:] != gid_s[:-1]) | (q_s[1:] != q_s[:-1])
            run_starts = np.flatnonzero(new_run)
            run_ns = np.diff(np.append(run_starts, du_s.size))
            docs_enc = get_codec("varint").encode_grouped(
                segmented_delta(du_s, run_starts), run_starts)
            rep = gid_s[run_starts]
            yield pd.DataFrame({
                "bucket": pdf["bucket"].to_numpy(np.int32)[rep],
                "term": pdf["term"].to_numpy(object)[rep],
                "field": pdf["field"].to_numpy(np.int32)[rep],
                "q": q_s[run_starts].astype(np.int32),
                "n": run_ns.astype(np.int32),
                "docs": docs_enc,
            })

    quant = _with_df(idx, broadcast_terms, base_cols).mapInPandas(
        quant_gen, schema=IMPACT_SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    quant.sortWithinPartitions("term", F.desc("q")).write.mode(
        "overwrite").parquet(f"{out_dir}/impacts")
    meta = pd.DataFrame({"max_score": [m], "bits": [bits],
                         "n_docs": [idx.n_docs],
                         "analyzer": [idx.analyzer]})
    spark.createDataFrame(meta).coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/meta")
    n = spark.read.parquet(f"{out_dir}/impacts").count()
    return {"max_score": m, "levels": int(levels), "rows": int(n)}


class ImpactIndex:
    """Reader over ``build_impact_index`` output: integer score-at-a-time
    top-k with an optional impact cutoff."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        mrow = spark.read.parquet(f"{index_dir}/meta").collect()[0]
        self.max_score = float(mrow["max_score"])
        self.bits = int(mrow["bits"])
        self.n_docs = int(mrow["n_docs"])
        self.analyzer = mrow["analyzer"]
        self.impacts = spark.read.parquet(f"{index_dir}/impacts")

    def search(self, query, k: int = 10, qmin: int = 0) -> DataFrame:
        """Top-k docs by summed integer impact over the query terms
        (impact DESC, doc_id ASC).  ``qmin`` drops impact levels below
        the cutoff BEFORE decode — the anytime-ranking knob: qmin=1
        skips the (typically huge) zero-impact tail for free, higher
        values trade fidelity for latency; the predicate reaches the
        parquet scan (PushedFilters on q)."""
        from .query import _fold_terms
        qterms = _fold_terms(query, self.analyzer)
        if not qterms:
            return self.spark.createDataFrame(
                [], "doc_id long, impact_score long")
        rows = self.impacts.filter(F.col("term").isin(qterms))
        if qmin > 0:
            rows = rows.filter(F.col("q") >= int(qmin))

        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            ns = pdf["n"].to_numpy(np.int64)
            total = int(ns.sum())
            starts = _row_starts(ns)
            c = get_codec("varint")
            gaps = c.decode_concat(list(pdf["docs"]), ns, total)
            du = segmented_cumsum_u64(gaps, starts)
            qv = np.repeat(pdf["q"].to_numpy(np.int64), ns)
            order = np.argsort(du, kind="mergesort")
            du_s, qv_s = du[order], qv[order]
            seg = np.flatnonzero(np.concatenate(
                ([True], du_s[1:] != du_s[:-1])))
            ids = _u64_to_i64_ordered(du_s[seg])
            tot = np.add.reduceat(qv_s, seg)
            # local top-k by (impact DESC, doc_id ASC)
            sel = np.lexsort((ids, -tot))[:k]
            return pd.DataFrame({"doc_id": ids[sel],
                                 "impact_score": tot[sel]})

        local = rows.select("bucket", "q", "n", "docs").groupBy(
            "bucket").applyInPandas(
            score, "doc_id long, impact_score long")
        return local.orderBy(F.desc("impact_score"),
                             F.asc("doc_id")).limit(k)
