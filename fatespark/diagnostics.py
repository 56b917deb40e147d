"""Operator tooling: summarize an index directory without Spark.

``index_stats`` reads footers/metadata only (pyarrow) — cheap even on large
indexes — and reports the numbers an operator needs to sanity-check a build
or plan capacity (CLUSTER.md): corpus stats, codec, chunk lineage, posting
and block counts, encoded bytes/posting, head terms, per-bucket skew, and
the local reader's serving copy (blocks, postings, bytes/posting).
"""

from __future__ import annotations

import glob
import os

import pandas as pd


def _du(path: str) -> int:
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*.parquet"),
                         recursive=True))


def index_stats(index_dir: str, top_terms: int = 10) -> dict:
    """Summary dict for a published index directory. Raises
    FileNotFoundError when no ``meta`` is present (unpublished build)."""
    import pyarrow.parquet as pq
    metas = sorted(glob.glob(os.path.join(index_dir, "meta", "*.parquet")))
    if not metas:
        raise FileNotFoundError(f"no published index at {index_dir}")
    meta = pq.read_table(metas[-1]).to_pandas().iloc[0].to_dict()

    out: dict = {
        "index_dir": index_dir,
        "n_docs": int(meta["n_docs"]),
        "avgdl": float(meta["avgdl"]),
        "n_fields": int(meta.get("n_fields", 1) or 1),
        "analyzer": meta.get("analyzer"),
        "codec": str(meta.get("codec") or "varint"),
        "n_buckets": int(meta["n_buckets"]),
        "salt_bits": int(meta["salt_bits"]),
        "block_size": int(meta["block_size"]),
        "store_positions": bool(meta.get("store_positions", True)),
        "build_id": meta.get("build_id"),
        "disk_bytes": {
            name: _du(os.path.join(index_dir, name))
            for name in ("postings", "docs", "terms")
        },
    }

    # the local reader's serving copy (fatespark.serving), reported apart
    # from postings/: one stream per (term, field) in one Arrow IPC file
    from . import serving
    from . import snapshots as _snap
    sv = serving.stats(index_dir)
    if sv is not None:
        sv["current"] = sv["snapshot_id"] == _snap.current_id(index_dir)
    out["serving"] = sv
    out["disk_bytes"]["postings_local"] = sv["bytes"] if sv else 0

    # terms table: vocabulary size + head terms (columnar read, two columns)
    tf = sorted(glob.glob(os.path.join(index_dir, "terms", "**",
                                       "*.parquet"), recursive=True))
    if tf:
        terms = pd.concat([pq.read_table(f, columns=["term", "df", "cf"])
                           .to_pandas() for f in tf], ignore_index=True)
        agg = terms.groupby("term", as_index=False).agg(
            df=("df", "sum"), cf=("cf", "sum"))
        out["n_terms"] = int(len(agg))
        head = agg.nlargest(top_terms, "df")
        out["head_terms"] = [
            {"term": r.term, "df": int(r.df), "cf": int(r.cf)}
            for r in head.itertuples()]

    # posting blocks: counts + encoded bytes from row-group STATISTICS and
    # int columns only (never reads the binary block columns)
    pf = sorted(glob.glob(os.path.join(index_dir, "postings", "**",
                                       "*.parquet"), recursive=True))
    if pf:
        n_blocks = 0
        cols = []
        for f in pf:
            p = pq.ParquetFile(f)
            n_blocks += p.metadata.num_rows
            cols.append(p.read(columns=["bucket", "n", "nbytes"]).to_pandas())
        blocks = pd.concat(cols, ignore_index=True)
        postings = int(blocks["n"].sum())
        enc = int(blocks["nbytes"].sum())
        out["n_blocks"] = int(n_blocks)
        out["n_postings"] = postings
        out["encoded_bytes"] = enc
        out["encoded_bytes_per_posting"] = round(enc / postings, 3) \
            if postings else 0.0
        by_bucket = blocks.groupby("bucket")["n"].sum()
        out["bucket_skew"] = {
            "min": int(by_bucket.min()), "max": int(by_bucket.max()),
            "max_over_mean": round(float(by_bucket.max()
                                         / by_bucket.mean()), 3)
            if len(by_bucket) else 0.0}

    # chunk lineage (manifest)
    mf = sorted(glob.glob(os.path.join(index_dir, "manifest", "*.parquet")))
    if mf:
        m = pd.concat([pq.read_table(f).to_pandas() for f in mf],
                      ignore_index=True)
        done = m[m["status"] == "done"]
        out["chunks"] = {
            "done": int(done["chunk_id"].nunique()),
            "builds": sorted(set(done["build_id"].astype(str))),
            "docs_per_sec_last": float(done.iloc[-1]["docs_per_sec"])
            if len(done) else None,
        }

    # pending tombstones
    tombs = sorted(glob.glob(os.path.join(index_dir, "tombstones",
                                          "*.parquet")))
    out["pending_tombstones"] = sum(
        pq.ParquetFile(f).metadata.num_rows for f in tombs)

    # snapshot history (snapshots.py): what time travel can reach, and how
    # much retired data the archive holds until snapshots.expire
    from . import snapshots as _snap
    log = _snap.read_log(index_dir)
    if log is not None:
        out["snapshots"] = {
            "current_id": int(log["snapshot_id"].max()),
            "n": int(len(log)),
            "operations": [
                {"id": int(r.snapshot_id), "op": str(r.operation),
                 "ts": float(r.ts)} for r in log.itertuples()],
            "archive_bytes": _du(os.path.join(index_dir, _snap.ARCHIVE)),
        }
    return out


if __name__ == "__main__":  # python -m fatespark.diagnostics <index_dir>
    import json
    import sys
    print(json.dumps(index_stats(sys.argv[1]), indent=2, default=str))
