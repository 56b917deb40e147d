"""Build-side layer measurements taken from outside the program: Spark-free
timings of the analyzer, segment, merge and codec layers on a fixed seeded
sample, the Arrow/Python-worker floor of a no-op ``mapInPandas``, and byte
counts read from the parquet footers the build wrote."""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from fatespark.analysis import ANALYZERS, ascii_fold
from fatespark.build import BuildConfig
from fatespark.codec import get_codec
from fatespark.corpus import pages_pandas
from fatespark.merge import merge_rows_vectorized
from fatespark.segments import segment_rows_pandas

SAMPLE_SEED = 20260101
SAMPLE_DOCS = 1000
SAMPLE_BATCHES = 4
REPS = 3
CODECS = ("varint", "pfor", "ef")
# every Nth merged block feeds the codec timings: pfor decodes frame by
# frame in Python, and the whole sample would take seconds per rep
CODEC_BLOCK_STRIDE = 8
BYTE_COLUMNS = ("docs", "tfs", "dls", "poss")


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_layers(reps: int = REPS) -> dict[str, float]:
    """Throughput of each Spark-free build layer on the same fixed sample,
    with the default ``BuildConfig``; each figure is the median of ``reps``.
    """
    cfg = BuildConfig()
    pdf = pages_pandas(np.arange(SAMPLE_DOCS, dtype=np.uint64), SAMPLE_SEED)
    ids = np.arange(SAMPLE_DOCS, dtype=np.int64) * 7919 + 1
    texts = list(pdf["text"])
    tok = ANALYZERS[cfg.analyzer][0]
    n_tokens = sum(len(tok(ascii_fold(t))) for t in texts)
    out = {"analysis.tokens_per_s": n_tokens / _median_s(
        lambda: [tok(ascii_fold(t)) for t in texts], reps)}

    batches = np.array_split(np.arange(SAMPLE_DOCS), SAMPLE_BATCHES)

    def segment():
        return [segment_rows_pandas(ids[b], [texts[i] for i in b],
                                    n_buckets=cfg.n_buckets,
                                    salt_bits=cfg.salt_bits,
                                    analyzer=cfg.analyzer,
                                    store_positions=cfg.store_positions)
                for b in batches]

    segs = pd.concat(segment(), ignore_index=True)
    n_post = int(segs["n"].sum())
    out["segments.postings_per_s"] = n_post / _median_s(segment, reps)

    # the merge's input order: Spark sorts each shuffle partition by key
    segs = segs.sort_values(["bucket", "term", "field", "salt"],
                            kind="mergesort").reset_index(drop=True)
    merged = merge_rows_vectorized(segs, cfg.block_size)
    if int(merged["n"].sum()) != n_post:
        raise RuntimeError("merge lost or duplicated postings")
    out["merge.postings_per_s"] = n_post / _median_s(
        lambda: merge_rows_vectorized(segs, cfg.block_size), reps)

    out.update(codec_layers(merged.iloc[::CODEC_BLOCK_STRIDE], reps))
    return out


def codec_layers(merged: pd.DataFrame, reps: int = REPS) -> dict[str, float]:
    """ns per posting to encode and decode the given merged blocks' docs,
    tfs and dls streams with every posting codec; each must round-trip
    exactly."""
    base = get_codec("varint")  # merge_rows_vectorized's default output
    ns = merged["n"].to_numpy(np.int64)
    total = int(ns.sum())
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    streams = [base.decode_concat(list(merged[c]), ns, total)
               for c in ("docs", "tfs", "dls")]
    out = {}
    for name in CODECS:
        c = get_codec(name)

        def encode():
            return [c.encode_grouped(v, starts) for v in streams]

        bufs = encode()
        back = [c.decode_concat(b, ns, total) for b in bufs]
        if not all(np.array_equal(np.asarray(a, np.uint64), s)
                   for a, s in zip(back, streams)):
            raise RuntimeError(f"{name} codec does not round-trip")
        out[f"codec.{name}.encode_ns_per_posting"] = (
            _median_s(encode, reps) * 1e9 / total)
        out[f"codec.{name}.decode_ns_per_posting"] = _median_s(
            lambda: [c.decode_concat(b, ns, total) for b in bufs],
            reps) * 1e9 / total
    return out


def udf_floor_s(spark, corpus, reps: int = 2) -> float:
    """Seconds a pass-through ``mapInPandas`` over the corpus's
    (doc_id, text) adds to the same scan without it: the Arrow transfer and
    Python-worker cost that every pandas UDF layer of the build pays."""
    from pyspark.sql import functions as F
    base = corpus.select(F.xxhash64("url").alias("doc_id"), "text")

    def identity(batches):
        yield from batches

    plain = base
    udf = base.mapInPandas(identity, schema=base.schema)

    def run(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t_plain, t_udf = [], []
    for _ in range(reps):  # alternate, so drift hits both sides alike
        t_plain.append(run(plain))
        t_udf.append(run(udf))
    return statistics.median(t_udf) - statistics.median(t_plain)


def postings_bytes(index_dir: str) -> dict[str, int]:
    """On-disk bytes of the parquet files under ``postings/``, and the
    compressed column-chunk bytes of each binary posting column, from the
    footers. ``other`` is the rest: block metadata, page headers, footers."""
    files = glob.glob(os.path.join(index_dir, "postings", "**", "*.parquet"),
                      recursive=True)
    out = dict.fromkeys(BYTE_COLUMNS, 0)
    disk = 0
    for f in files:
        disk += os.path.getsize(f)
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema in out:
                    out[col.path_in_schema] += col.total_compressed_size
    out["other"] = disk - sum(out.values())
    out["disk"] = disk
    return out


def manifest_phases(index_dir: str) -> dict[str, float]:
    """Phase seconds the build recorded for its chunks, summed."""
    files = glob.glob(os.path.join(index_dir, "manifest", "*.parquet"))
    m = pd.concat([pq.read_table(f).to_pandas() for f in files])
    return {k: float(m[k].sum())
            for k in ("docs_secs", "postings_secs", "metrics_secs", "secs")}
