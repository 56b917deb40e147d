"""Static index pruning (Carmel et al., SIGIR 2001) — term-centric.

Builds a smaller serving index that approximates the full index's ranked
top-k: for every (term, field) posting list, the k_prune-th best
tf/length score part ``z`` is found and only postings whose part is
STRICTLY greater than ``eps * z`` survive.  Because BM25's per-posting
contribution is ``idf * part`` with ``idf > 0`` a per-term constant, the
part-space threshold is order-identical to Carmel's score-space threshold
(a positive per-term scaling), and working in part space means neither
pass needs the term dictionary joined in.

Contract (what makes the result oracle-checkable bit-for-bit):

- corpus stats are FROZEN: the pruned index carries the source index's
  meta (n_docs, avgdl), terms table (df/cf/max_tf) and field_stats
  verbatim, so every surviving posting scores EXACTLY as it did in the
  full index — pruning only removes candidates, never perturbs scores
  (the Carmel guarantee).
- postings with ``part > eps * z`` survive, where ``z`` is the value at
  rank ``min(k_prune, df)`` of the list sorted by part descending.  With
  ``eps < 1`` every top-k_prune posting satisfies ``part >= z > eps*z``,
  so per-term recall at k_prune is total by construction.
- tombstoned docs are dropped during the rewrite (the pruned index is
  born clean, like a vacuum).

Spark shape (designed for a 10^12-doc index):

- pass A (thresholds): ONE narrow ``mapInPandas`` decode over the posting
  blocks emitting at most k_prune partial rows per (term, field) per
  Arrow batch — the classic partial-top-k trick, so the only shuffle is
  vocab-bounded (<= k_prune x n_batches rows per term, never
  corpus-posting-scale).
- pass B (rewrite): the threshold table joins back onto the block table
  (broadcast under ``broadcast_tau``, hash join above — the tombstone
  pattern), then ONE narrow vectorized decode -> mask -> re-encode pass
  that preserves the block layout (a block can only shrink; empty blocks
  drop).  No wide shuffle anywhere in pass B.

The reference has no pruning (its suffix-array fragments always serve the
full corpus, ``lib/fragment_writer.rb``); this is the standard
web-index serving-tier optimization grafted onto the same block format.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codec import (
    _i64_to_u64_ordered,
    _u64_to_i64_ordered,
    encode_grouped,
    get_codec,
    not_in_sorted,
    segmented_cumsum_u64,
    segmented_delta,
    varint_decode_concat,
)
from .merge import BLOCK_SCHEMA

# above this many distinct (term, field) rows the threshold table joins by
# hash instead of broadcast (mirrors build.TOMBSTONE_BROADCAST_ROWS)
TAU_BROADCAST_ROWS = 2_000_000


def _part_vec(tfs: np.ndarray, dls: np.ndarray, av: np.ndarray) -> np.ndarray:
    """Vectorized ``wand.bm25_part`` with a PER-POSTING avgdl vector: the
    exact same float64 expression shape (``tf * (K1+1) / (tf + K1 *
    ((1-B) + (B*dl)/avgdl))``), so values are bit-identical to the query
    kernel's and to the SQL twin's."""
    from .wand import B, K1
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B * dl) / av))


def _row_starts(ns: np.ndarray) -> np.ndarray:
    starts = np.zeros(ns.size, dtype=np.int64)
    if ns.size > 1:
        np.cumsum(ns[:-1], out=starts[1:])
    return starts


def _partials_fn(codec_name: str, k_prune: int, field_avgdl: dict,
                 avgdl: float, tombs_u64: np.ndarray | None):
    """Pass-A batch kernel: per (term, field) run in the batch, emit the
    local top-k_prune part values.  Union of local top-ks over all
    batches/partitions contains the global top-k, so the downstream rank
    pick is exact."""
    fa = dict(field_avgdl)

    def gen(batches):
        c = get_codec(codec_name)
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["term", "field"], kind="mergesort",
                                  ignore_index=True)
            ns = pdf["n"].to_numpy(np.int64)
            total = int(ns.sum())
            starts = _row_starts(ns)
            tfs = c.decode_concat(list(pdf["tfs"]), ns, total).astype(np.int64)
            dls = c.decode_concat(list(pdf["dls"]), ns, total).astype(np.int64)
            fl_row = pdf["field"].to_numpy(np.int64)
            t_row = pdf["term"].to_numpy(object)
            if tombs_u64 is not None and tombs_u64.size:
                d_gaps = c.decode_concat(list(pdf["docs"]), ns, total)
                du = segmented_cumsum_u64(d_gaps, starts)
                keep = not_in_sorted(du, tombs_u64)
            else:
                keep = None
            # per-field avgdl vector, then the engine's exact part kernel
            av = np.fromiter((fa.get(int(f), avgdl) for f in fl_row),
                             np.float64, fl_row.size)
            part = _part_vec(tfs, dls, np.repeat(av, ns))
            run_id_row = np.empty(ns.size, dtype=np.int64)
            run_id_row[0] = 0
            if ns.size > 1:
                new_run = (t_row[1:] != t_row[:-1]) | (fl_row[1:] != fl_row[:-1])
                run_id_row[1:] = np.cumsum(new_run)
            run_id = np.repeat(run_id_row, ns)
            if keep is not None:
                part, run_id = part[keep], run_id[keep]
                if not part.size:
                    continue
            # vectorized per-run top-k: sort by (run, -part), rank within run
            order = np.lexsort((-part, run_id))
            rid_s = run_id[order]
            part_s = part[order]
            run_starts = np.flatnonzero(
                np.concatenate(([True], rid_s[1:] != rid_s[:-1])))
            pos = np.arange(rid_s.size, dtype=np.int64) - np.repeat(
                run_starts, np.diff(np.append(run_starts, rid_s.size)))
            m = pos < k_prune
            first_row_of_run = np.flatnonzero(
                np.concatenate(([True], run_id_row[1:] != run_id_row[:-1])))
            rep = first_row_of_run[rid_s[m]]
            yield pd.DataFrame({
                "term": t_row[rep],
                "field": fl_row[rep].astype(np.int32),
                "p": part_s[m],
            })

    return gen


def _rewrite_fn(codec_name: str, field_avgdl: dict, avgdl: float,
                tombs_u64: np.ndarray | None):
    """Pass-B batch kernel: vectorized decode -> part>eps*z mask ->
    per-original-block re-encode.  Narrow: block boundaries never move
    across rows, so no grouping or carry is needed."""
    fa = dict(field_avgdl)

    def gen(batches):
        c = get_codec(codec_name)
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n"].to_numpy(np.int64)
            total = int(ns.sum())
            starts = _row_starts(ns)
            d_gaps = c.decode_concat(list(pdf["docs"]), ns, total)
            du = segmented_cumsum_u64(d_gaps, starts)
            tfs = c.decode_concat(list(pdf["tfs"]), ns, total).astype(np.int64)
            dls = c.decode_concat(list(pdf["dls"]), ns, total).astype(np.int64)
            fl_row = pdf["field"].to_numpy(np.int64)
            has_pos = bool(pdf["poss"].iloc[0])
            if has_pos:
                tok_total = int(tfs.sum())
                p_gaps = varint_decode_concat(list(pdf["poss"]), tok_total)
                doc_tok_starts = np.zeros(total, dtype=np.int64)
                if total > 1:
                    np.cumsum(tfs[:-1], out=doc_tok_starts[1:])
                src_pos = segmented_cumsum_u64(
                    p_gaps, doc_tok_starts).astype(np.int64)
            av = np.fromiter((fa.get(int(f), avgdl) for f in fl_row),
                             np.float64, fl_row.size)
            part = _part_vec(tfs, dls, np.repeat(av, ns))
            tau = np.repeat(pdf["tau"].to_numpy(np.float64), ns)
            keep = part > tau
            keep &= not_in_sorted(du, tombs_u64)
            if has_pos:
                tok_keep = np.repeat(keep, tfs)
            kept_per_row = np.add.reduceat(keep.astype(np.int64), starts) \
                if total else np.zeros(0, np.int64)
            du_k, tfs_k, dls_k = du[keep], tfs[keep], dls[keep]
            nz = kept_per_row > 0
            if not nz.any():
                continue
            out_ns = kept_per_row[nz]
            out_starts = _row_starts(out_ns)
            docs_i64 = _u64_to_i64_ordered(du_k)
            out_ends = out_starts + out_ns
            docs_enc = c.encode_grouped(
                segmented_delta(du_k, out_starts), out_starts)
            tfs_enc = c.encode_grouped(tfs_k.astype(np.uint64), out_starts)
            dls_enc = c.encode_grouped(dls_k.astype(np.uint64), out_starts)
            if has_pos:
                pos_k = src_pos[tok_keep]
                dts_k = np.zeros(du_k.size, dtype=np.int64)
                if du_k.size > 1:
                    np.cumsum(tfs_k[:-1], out=dts_k[1:])
                pos_gaps = segmented_delta(pos_k.astype(np.uint64), dts_k)
                poss_enc = encode_grouped(pos_gaps, dts_k[out_starts])
            else:
                poss_enc = [b""] * int(nz.sum())
            nblk = int(nz.sum())
            nbytes = (np.fromiter(map(len, docs_enc), np.int64, nblk)
                      + np.fromiter(map(len, tfs_enc), np.int64, nblk)
                      + np.fromiter(map(len, dls_enc), np.int64, nblk)
                      + np.fromiter(map(len, poss_enc), np.int64, nblk))
            yield pd.DataFrame({
                "bucket": pdf["bucket"].to_numpy(np.int32)[nz],
                "term": pdf["term"].to_numpy(object)[nz],
                "field": pdf["field"].to_numpy(np.int32)[nz],
                "block_id": pdf["block_id"].to_numpy(np.int32)[nz],
                "n": out_ns.astype(np.int32),
                "first_doc": docs_i64[out_starts],
                "last_doc": docs_i64[out_ends - 1],
                "sum_tf": np.add.reduceat(tfs_k, out_starts).astype(np.int64),
                "max_tf": np.maximum.reduceat(tfs_k, out_starts).astype(np.int32),
                "min_dl": np.minimum.reduceat(dls_k, out_starts).astype(np.int32),
                "nbytes": nbytes,
                "docs": docs_enc,
                "tfs": tfs_enc,
                "dls": dls_enc,
                "poss": poss_enc,
            })

    return gen


def prune_thresholds(idx, k_prune: int = 10) -> DataFrame:
    """(term, field, z) — the rank-min(k_prune, df) part value per posting
    list, via the partial-top-k pass (the only shuffle of the prune)."""
    cols = ["term", "field", "n", "tfs", "dls"]
    tombs_u64 = None
    if idx.tombstones is not None and idx.tombstones.size:
        cols.append("docs")
        tombs_u64 = np.sort(_i64_to_u64_ordered(idx.tombstones))
    partial = idx.postings.select(*cols).mapInPandas(
        _partials_fn(idx.codec_name, k_prune, idx.field_avgdl, idx.avgdl,
                     tombs_u64),
        schema="term string, field int, p double")
    w = Window.partitionBy("term", "field")
    wo = w.orderBy(F.desc("p"))
    return (partial
            .withColumn("rn", F.row_number().over(wo))
            .withColumn("cnt", F.count(F.lit(1)).over(w))
            .filter(F.col("rn") == F.least(F.lit(k_prune), F.col("cnt")))
            .select("term", "field", F.col("p").alias("z")))


def prune_index(spark: SparkSession, idx, out_dir: str, *,
                k_prune: int = 10, eps: float = 0.75,
                broadcast_tau: bool = True):
    """Write the statically pruned twin of ``idx`` at ``out_dir`` and
    return a ``SearchIndex`` over it.  ``eps`` must be in [0, 1): with
    eps < 1 the per-term top-k_prune postings always survive, so ranked
    queries of up to one term lose nothing at k <= k_prune."""
    if not (0.0 <= eps < 1.0):
        raise ValueError("eps must be in [0, 1) — eps >= 1 would drop "
                         "the per-term top-k itself")
    tau = prune_thresholds(idx, k_prune).select(
        "term", "field", (F.lit(float(eps)) * F.col("z")).alias("tau"))
    if broadcast_tau:
        tau = F.broadcast(tau)
    tombs_u64 = None
    if idx.tombstones is not None and idx.tombstones.size:
        tombs_u64 = np.sort(_i64_to_u64_ordered(idx.tombstones))
    block_cols = ["bucket", "term", "field", "block_id", "n", "sum_tf",
                  "max_tf", "min_dl", "docs", "tfs", "dls", "poss"]
    joined = idx.postings.select(*block_cols).join(tau, ["term", "field"])
    pruned = joined.mapInPandas(
        _rewrite_fn(idx.codec_name, idx.field_avgdl, idx.avgdl, tombs_u64),
        schema=BLOCK_SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    pruned.write.mode("overwrite").parquet(f"{out_dir}/postings")
    # frozen stats: meta/terms/field_stats copied verbatim (see module doc)
    for name in ("meta", "terms", "field_stats"):
        try:
            spark.read.parquet(f"{idx.index_dir}/{name}").write.mode(
                "overwrite").parquet(f"{out_dir}/{name}")
        except Exception:
            if name != "field_stats":
                raise
    docs = spark.read.parquet(f"{idx.index_dir}/docs")
    if tombs_u64 is not None:
        ids = pd.DataFrame({"doc_id": idx.tombstones.astype(np.int64)})
        docs = docs.join(F.broadcast(spark.createDataFrame(ids)),
                         "doc_id", "left_anti")
    docs.select([c for c in docs.columns if c != "chunk"]).write.mode(
        "overwrite").parquet(f"{out_dir}/docs")
    from .query import SearchIndex
    return SearchIndex(spark, out_dir)
