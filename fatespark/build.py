"""Index build orchestration: docs table, stats, chunked checkpoint/resume,
lineage + per-partition metrics.

Layout of an index directory (parquet today; each table maps 1:1 onto an
Iceberg table on a real cluster — the seam is `_read`/`_write` below):

    {dir}/docs/chunk={c}/           (doc_id, url, dl) — the doc store
    {dir}/postings/chunk={c}/       posting blocks (merge.BLOCK_SCHEMA),
                                    streamed straight out of the merge in
                                    (bucket, term, first_doc) order
    {dir}/terms/                    (term, df, cf, max_tf, n_blocks)
    {dir}/meta/                     single row: corpus stats + build params
    {dir}/manifest/                 per-chunk lineage: status, phase secs,
                                    docs/sec, postings/sec
    {dir}/bucket_metrics/           per (chunk, bucket): postings, bytes

Checkpoint/resume (north_rule): each chunk is an idempotent unit — its
docs/postings land under chunk-suffixed paths, then a 'done' manifest row is
appended. A restarted build with ``resume=True`` skips chunks already 'done';
a chunk that crashed mid-write is simply overwritten. ``meta`` is written
last and is the publish marker readers require (the atomic-rename analogue of
the reference's tmpdir + ``File.rename`` publish, ``lib/fragment_writer.rb:
22-26,45-52``; on Iceberg this is the snapshot commit).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .merge import merge_segments
from .segments import build_segments

# ASCII whitespace for the JVM-side doc-length expression; must match
# analysis.WS_TOKEN_RE exactly (\x0B spelled out — Java's \v differs).
WS_SPLIT_RE = "[ \\t\\n\\r\\f\\x0B]+"
WS_TOKEN_RE_SQL = "[^ \\t\\n\\r\\f\\x0B]+"
# per-analyzer token-count regex (token COUNT only; the postings' dls come
# from the real tokenizer in the segment build and must agree)
_DOCLEN_RE = {
    "whitespace": WS_TOKEN_RE_SQL,
    "porter": WS_TOKEN_RE_SQL,          # stemming never changes token count
    "identifier": "[A-Za-z_][A-Za-z0-9_]*",
}


def doclen_col(text_col: str, analyzer: str = "whitespace"):
    """JVM-side token count, byte-equal to analysis.doc_length (no UDF).
    ``regexp_count`` of token runs — counts without materializing a token
    array the way split()+filter would. The numeric-trie analyzer emits
    ``BITS/STEP`` tokens per in-domain integer, so its count is the
    in-domain-part count times that constant (rlike + try_cast bound
    mirrors the python analyzer's ascii-digit + range domain exactly)."""
    if analyzer == "numeric_trie":
        from .numeric import BITS, STEP
        parts = (f"size(filter(split(coalesce({text_col}, ''), "
                 f"'{WS_SPLIT_RE}'), x -> x rlike '^[0-9]+$' "
                 f"AND try_cast(x AS BIGINT) IS NOT NULL "
                 f"AND try_cast(x AS BIGINT) < {1 << BITS}))")
        return (F.expr(parts) * (BITS // STEP)).cast("int")
    return F.regexp_count(F.coalesce(F.col(text_col), F.lit("")),
                          F.lit(_DOCLEN_RE[analyzer]))


def _write_local_parquet(pdf: pd.DataFrame, dir_path: str,
                         mode: str = "append") -> None:
    """Driver-side parquet write of tiny metadata tables (manifest, meta,
    bucket_metrics) — no Spark job. On a real cluster these become Iceberg
    table commits; this and ``_read_local_parquet`` are that seam."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(dir_path, exist_ok=True)
    if mode == "overwrite":
        for f in glob.glob(os.path.join(dir_path, "*.parquet")):
            os.remove(f)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(dir_path, f"part-{uuid.uuid4().hex}.parquet"))


def _read_local_parquet(dir_path: str) -> pd.DataFrame | None:
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(dir_path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


@dataclass
class BuildConfig:
    n_buckets: int = 8
    salt_bits: int = 2
    block_size: int = 128
    analyzer: str = "whitespace"
    # multi-field: one analyzer per field, parallel to build()'s text_cols
    # (reference: analyzers array parallel to fields,
    # lib/fulltext_writer.rb:51-55); None = config.analyzer for every field
    analyzers: list[str] | None = None
    store_positions: bool = True
    on_duplicate: str = "error"
    # posting-block codec for the merged index (north rule names both):
    # "varint" (delta+LEB128 streams), "pfor" (NewPFD frames with varint
    # fallback, ~15-60% smaller blocks; codec.get_codec / pfor.py), or
    # "ef" (quasi-succinct Elias-Fano frames, Vigna WSDM 2013; ef.py)
    codec: str = "varint"

    def field_analyzers(self, n_fields: int) -> list[str]:
        if self.analyzers is not None:
            if len(self.analyzers) != n_fields:
                raise ValueError("analyzers must parallel text_cols")
            return list(self.analyzers)
        return [self.analyzer] * n_fields


@dataclass
class IndexBuilder:
    index_dir: str
    config: BuildConfig = field(default_factory=BuildConfig)

    # -- paths -------------------------------------------------------------
    def _p(self, name: str) -> str:
        return os.path.join(self.index_dir, name)

    # -- lineage -----------------------------------------------------------
    def _manifest(self, spark: SparkSession) -> pd.DataFrame | None:
        return _read_local_parquet(self._p("manifest"))

    def _append_manifest(self, spark: SparkSession, row: dict) -> None:
        _write_local_parquet(pd.DataFrame([row]), self._p("manifest"))

    def done_chunks(self, spark: SparkSession, build_id: str) -> set[int]:
        m = self._manifest(spark)
        if m is None or m.empty:
            return set()
        m = m[(m["build_id"] == build_id) & (m["status"] == "done")]
        return set(m["chunk_id"].astype(int))

    # -- build -------------------------------------------------------------
    def build(self, spark: SparkSession, df: DataFrame, *,
              url_col: str = "url", id_col: str | None = None,
              text_col: str = "text", text_cols: list[str] | None = None,
              build_id: str = "b0001",
              resume: bool = False, n_chunks: int = 1,
              chunk_col: str | None = None,
              store_cols: list[str] | None = None) -> dict:
        """Build (or resume) the index from a corpus DataFrame.

        doc_id: ``xxhash64(url)`` (deterministic, collision-checked at merge)
        unless ``id_col`` names an existing unique bigint column.
        ``text_cols`` indexes several fields in one pass (field_id =
        position; per-field weights are a QUERY-time choice — the reference's
        weighted-field ranking, ``lib/fates.rb:65``, upgraded to weighted
        per-field BM25).
        Chunking: rows are split by ``pmod(xxhash64(doc_id), n_chunks)`` (or a
        caller-provided ``chunk_col``) and each chunk is built + committed
        independently for checkpoint/resume.
        ``store_cols`` stores extra corpus columns in the docs table
        (Lucene doc values): sorted retrieval, top_hits grouping and
        facet projections then run off ``SearchIndex.docs`` without the
        original corpus. Purely additive to the doc-store write — the
        postings path never sees them. Use the same list on every chunk
        of a resumed build (schema consistency, like ``codec``).
        """
        cfg = self.config
        fields = text_cols if text_cols is not None else [text_col]
        if id_col is None:
            df = df.withColumn("doc_id", F.xxhash64(F.col(url_col)))
            id_col = "doc_id"
        keep_url = url_col if url_col in df.columns else id_col
        sc_cols = list(store_cols or [])
        reserved = {"doc_id", "url", "dl", "dls"}
        if set(sc_cols) & reserved:
            raise ValueError(f"store_cols may not shadow {sorted(reserved)}")
        base = df.select(
            F.col(id_col).alias("doc_id"),
            F.col(keep_url).cast("string").alias("url"),
            *[F.col(c).alias(f"_f{i}") for i, c in enumerate(fields)],
            *[F.col(c) for c in sc_cols],
            # a caller-provided chunk column must survive the projection
            *([F.col(chunk_col).cast("int").alias("_chunk")]
              if chunk_col and n_chunks > 1 else []),
        )
        field_cols = [f"_f{i}" for i in range(len(fields))]
        if n_chunks > 1 and not chunk_col:
            base = base.withColumn("_chunk", F.pmod(
                F.xxhash64(F.col("doc_id")), F.lit(n_chunks)).cast("int"))

        done = self.done_chunks(spark, build_id) if resume else set()
        if done:
            # a config change between resume runs would silently mix codecs
            # inside one index (readers decode every block with the single
            # meta codec) — refuse instead
            m = self._manifest(spark)
            if m is not None and "codec" in m.columns:
                prior = set(m[(m["build_id"] == build_id)
                              & (m["status"] == "done")]["codec"]
                            .dropna().astype(str))
                if prior and prior != {cfg.codec}:
                    raise ValueError(
                        f"resume with codec={cfg.codec!r} but committed "
                        f"chunks used {sorted(prior)}; keep the original "
                        f"BuildConfig.codec or rebuild from scratch")
        totals = {"docs": 0, "postings": 0, "bytes": 0, "sum_dl": 0,
                  "secs": 0.0, "chunks_skipped": len(done)}
        for c in range(n_chunks):
            if c in done:
                continue
            chunk_df = base.filter(F.col("_chunk") == c) if n_chunks > 1 else base
            stats = self._build_chunk(spark, chunk_df, chunk_id=c,
                                      build_id=build_id,
                                      field_cols=field_cols,
                                      store_cols=sc_cols)
            for k in ("docs", "postings", "bytes", "sum_dl"):
                totals[k] += stats[k]
            totals["secs"] += stats["secs"]

        self._finalize(spark, build_id=build_id, n_chunks=n_chunks,
                       n_fields=len(fields))
        return totals

    def _build_chunk(self, spark: SparkSession, chunk_df: DataFrame, *,
                     chunk_id: int, build_id: str,
                     field_cols: list[str] | None = None,
                     store_cols: list[str] | None = None) -> dict:
        cfg = self.config
        fcols = field_cols if field_cols is not None else ["text"]
        anas = cfg.field_analyzers(len(fcols))
        t0 = time.time()
        # all-JVM docs pipeline (regexp_count doc length per field, no Python
        # round trip); corpus stats ride along on the write job via
        # Observation. docs.dls[i] = token count of field i.
        # committed snapshots are immutable: a chunk about to be rebuilt is
        # archived (same-fs rename), not clobbered, so older snapshots stay
        # readable until snapshots.expire
        from . import snapshots as _snap
        _snap.archive(self.index_dir, [f"docs/chunk={chunk_id}",
                                       f"postings/chunk={chunk_id}"])
        obs = Observation(f"docs_{build_id}_{chunk_id}")
        per_field = [doclen_col(c, a) for c, a in zip(fcols, anas)]
        docs = (chunk_df
                .withColumn("dls", F.array(*per_field))
                .withColumn("dl", sum(F.col("dls")[i]
                                      for i in range(len(fcols)))
                            if len(fcols) > 1 else F.col("dls")[0])
                .select("doc_id", "url", "dl", "dls", *(store_cols or []))
                .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                         F.sum("dl").alias("sum_dl"),
                         *[F.sum(F.col("dls")[i]).alias(f"sum_dl_{i}")
                           for i in range(len(fcols))]))
        docs.write.mode("overwrite").parquet(
            self._p(f"docs/chunk={chunk_id}"))
        got = obs.get
        n_docs = int(got["n_docs"])
        sum_dl = int(got["sum_dl"] or 0)
        sum_dls = [int(got[f"sum_dl_{i}"] or 0) for i in range(len(fcols))]
        t_docs = time.time() - t0

        # segments -> one shuffle -> streaming merge -> direct write: the
        # merge input is sorted by (bucket, term, field, salt) and the salt
        # is a doc-range split, so the emitted blocks already stream out in
        # (bucket, term, field, first_doc) order — no extra repartition/sort
        t1 = time.time()
        segments = build_segments(
            chunk_df, n_buckets=cfg.n_buckets, salt_bits=cfg.salt_bits,
            store_positions=cfg.store_positions,
            text_cols=fcols, analyzers=anas)
        blocks = merge_segments(segments, block_size=cfg.block_size,
                                on_duplicate=cfg.on_duplicate,
                                out_codec=cfg.codec)
        blocks.write.mode("overwrite").parquet(
            self._p(f"postings/chunk={chunk_id}"))
        t_post = time.time() - t1

        # per-partition (bucket) metrics from the written block metadata —
        # ints only (nbytes is precomputed at merge), binaries never re-read
        t2 = time.time()
        written = spark.read.parquet(self._p(f"postings/chunk={chunk_id}"))
        bm = (written.groupBy("bucket")
              .agg(F.sum("n").alias("postings"), F.count("*").alias("blocks"),
                   F.sum("nbytes").alias("bytes"))
              .orderBy("bucket").toPandas())
        bm["chunk_id"] = chunk_id
        bm["build_id"] = build_id
        _write_local_parquet(bm, self._p("bucket_metrics"))
        n_post = int(bm["postings"].sum())
        n_bytes = int(bm["bytes"].sum())
        t_metrics = time.time() - t2

        secs = time.time() - t0
        import json as _json
        row = {
            "ts": float(time.time()),
            "build_id": build_id, "chunk_id": chunk_id, "status": "done",
            "codec": cfg.codec,
            "docs": n_docs, "sum_dl": sum_dl,
            "sum_dls_json": _json.dumps(sum_dls), "postings": n_post,
            "bytes": n_bytes, "secs": float(secs),
            "docs_secs": float(t_docs), "postings_secs": float(t_post),
            "metrics_secs": float(t_metrics),
            "docs_per_sec": float(n_docs / secs) if secs > 0 else 0.0,
            "postings_per_sec": float(n_post / secs) if secs > 0 else 0.0,
        }
        self._append_manifest(spark, row)
        return row

    def _corpus_stats(self, spark: SparkSession,
                      n_fields: int) -> tuple[int, int, list[int]]:
        """(n_docs, sum_dl, per-field sum_dl) over every chunk present in the
        index: from the manifest when it covers all chunk dirs (no data
        scan), else a column-pruned dl/dls scan."""
        import json as _json
        present = set()
        for d in glob.glob(self._p("docs/chunk=*")):
            try:
                present.add(int(os.path.basename(d).split("=", 1)[1]))
            except ValueError:
                pass
        m = self._manifest(spark)
        if (m is not None and not m.empty and "sum_dl" in m.columns
                and "sum_dls_json" in m.columns):
            m = m[m["status"] == "done"]
            last = m.sort_values("ts").groupby("chunk_id").tail(1) \
                if "ts" in m.columns else m.groupby("chunk_id").tail(1)
            if present and set(last["chunk_id"].astype(int)) >= present:
                last = last[last["chunk_id"].astype(int).isin(present)]
                sums = [_json.loads(j) for j in last["sum_dls_json"]]
                if all(len(s) == n_fields for s in sums):
                    per_field = [sum(s[i] for s in sums)
                                 for i in range(n_fields)]
                    return (int(last["docs"].sum()),
                            int(last["sum_dl"].sum()), per_field)
        docs = spark.read.parquet(self._p("docs"))
        aggs = [F.count("*").alias("n"), F.sum("dl").alias("s")]
        if "dls" in docs.columns:
            aggs += [F.sum(F.col("dls")[i]).alias(f"s{i}")
                     for i in range(n_fields)]
        agg = docs.agg(*aggs).collect()[0]
        n, s = int(agg["n"]), int(agg["s"] or 0)
        per_field = [int(agg[f"s{i}"] or 0) for i in range(n_fields)] \
            if "dls" in docs.columns else [s]
        return n, s, per_field

    def _finalize(self, spark: SparkSession, *, build_id: str,
                  n_chunks: int, n_fields: int = 1,
                  codec: str | None = None,
                  operation: str = "build") -> None:
        cfg = self.config
        codec = codec or cfg.codec
        from . import snapshots as _snap
        # prior published terms/meta/stats belong to the previous snapshot
        _snap.archive(self.index_dir, ["terms", "meta", "field_stats"])
        blocks = spark.read.parquet(self._p("postings"))
        terms = (blocks.groupBy("term", "field")
                 .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"),
                      F.max("max_tf").alias("max_tf"),
                      F.count("*").alias("n_blocks")))
        # hash-partition + per-file term sort: no range-sampling recompute of
        # the agg; lookups still prune via per-row-group min/max term stats
        (terms.repartition(max(1, cfg.n_buckets // 4), "term")
         .sortWithinPartitions("term", "field")
         .write.mode("overwrite").parquet(self._p("terms")))

        n_docs, sum_dl, sum_dls = self._corpus_stats(spark, n_fields)
        anas = cfg.field_analyzers(n_fields)
        fs = pd.DataFrame({
            "field": list(range(n_fields)),
            "analyzer": anas,
            "sum_dl": sum_dls,
            "avgdl": [(s / n_docs) if n_docs else 0.0 for s in sum_dls],
        })
        _write_local_parquet(fs, self._p("field_stats"), mode="overwrite")
        meta = pd.DataFrame([{
            "n_docs": n_docs, "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
            "n_fields": n_fields,
            "n_buckets": cfg.n_buckets, "salt_bits": cfg.salt_bits,
            "block_size": cfg.block_size, "analyzer": cfg.analyzer,
            "store_positions": cfg.store_positions, "codec": codec,
            "build_id": build_id, "n_chunks": n_chunks,
        }])
        # publish marker: written last, required by SearchIndex.load; the
        # snapshot commit (Iceberg-commit analogue) follows it and pins the
        # exact physical paths of this published state for time travel.
        # The local serving copy describes the replaced postings: drop it
        # (re-create via compact_local).
        _write_local_parquet(meta, self._p("meta"), mode="overwrite")
        _snap.commit(self.index_dir, operation, build_id)
        shutil.rmtree(self._p("postings_local"), ignore_errors=True)

    # -- deletes + vacuum ---------------------------------------------------
    def delete_docs(self, spark: SparkSession, doc_ids) -> None:
        """Tombstone docs (the delta capability the reference declares
        unsupported — ``README.markdown:95-96``). Queries exclude tombstoned
        docs immediately; corpus/term stats stay stale until ``vacuum``
        (standard search-engine semantics). ``doc_ids``: iterable of ids or
        a DataFrame with a doc_id column."""
        import numpy as np
        if isinstance(doc_ids, DataFrame):
            ids = [r["doc_id"] for r in doc_ids.select("doc_id").collect()]
        else:
            ids = [int(x) for x in doc_ids]
        pdf = pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                            "ts": float(time.time())})
        _write_local_parquet(pdf, self._p("tombstones"))
        # a delete is a commit: same data paths as the parent snapshot plus
        # the enlarged tombstone set (time travel to the parent un-deletes)
        from . import snapshots as _snap
        _snap.commit(self.index_dir, "delete")

    def tombstones(self) -> "pd.Series | None":
        t = _read_local_parquet(self._p("tombstones"))
        return None if t is None or t.empty else t["doc_id"]

    def vacuum(self, spark: SparkSession, build_id: str = "vacuum") -> dict:
        """Physically drop tombstoned docs and consolidate every chunk into
        one: existing posting BLOCKS re-enter the merge as pseudo-segments
        (block_id plays the salt — like salts, blocks of one (bucket, term,
        field) are doc-range-disjoint and ordered), with the tombstone set
        filtered out during the vectorized rewrite. Docs table is rewritten,
        stats re-finalized, tombstones cleared. The Lucene-forceMerge-style
        compaction the reference's fragment model never got."""
        import numpy as np
        cfg = self.config
        ts = self.tombstones()
        drop = np.sort(ts.to_numpy(np.int64)) if ts is not None else \
            np.zeros(0, dtype=np.int64)

        blocks = spark.read.parquet(self._p("postings"))
        pseudo = blocks.select(
            "bucket", "term", "field", F.col("block_id").alias("salt"),
            F.col("n").cast("long").alias("n"), "sum_tf", "max_tf", "min_dl",
            "docs", "tfs", "dls", "poss")
        mc = self.meta_codec(spark)  # blocks carry the BUILT codec, not cfg's
        merged = merge_segments(pseudo, block_size=cfg.block_size,
                                on_duplicate=cfg.on_duplicate,
                                drop_docs=drop, in_codec=mc, out_codec=mc)
        # consolidated output lives under the RESERVED chunk id -1: the
        # layout stays uniformly partitioned, so post-vacuum incremental
        # builds (streaming epochs are always >= 0) append cleanly without
        # colliding with or mixing into the consolidated segment
        merged.write.mode("overwrite").parquet(
            self._p("postings_new/chunk=-1"))

        docs = spark.read.parquet(self._p("docs"))
        keep_docs = docs
        if drop.size:
            ids_df = spark.createDataFrame(pd.DataFrame({"doc_id": drop}))
            keep_docs = docs.join(F.broadcast(ids_df), "doc_id", "left_anti")
        out_cols = [c for c in docs.columns if c != "chunk"]
        keep_docs.select(out_cols).write.mode("overwrite").parquet(
            self._p("docs_new/chunk=-1"))

        nf = self.meta_n_fields(spark)
        # swap in the rewritten chunkless dirs; the replaced state is
        # ARCHIVED, not deleted — older snapshots (including the pre-vacuum
        # tombstoned view and its chunk lineage) stay time-travel-readable
        # until snapshots.expire. _finalize drops the derived serving copy
        # postings_local (re-creatable via compact_local).
        from . import snapshots as _snap
        _snap.archive(self.index_dir, ["postings", "docs", "tombstones",
                                       "manifest", "bucket_metrics"])
        for name in ("postings", "docs"):
            os.rename(self._p(f"{name}_new"), self._p(name))

        self._finalize(spark, build_id=build_id, n_chunks=1, n_fields=nf,
                       codec=mc, operation="vacuum")
        agg = spark.read.parquet(self._p("postings")).agg(
            F.sum("n"), F.count("*")).collect()[0]
        return {"dropped": int(drop.size), "postings": int(agg[0] or 0),
                "blocks": int(agg[1] or 0)}

    def compact_chunks(self, spark: SparkSession, *, max_chunks: int = 8,
                       build_id: str = "compact") -> dict:
        """Tiered partial compaction — the Lucene TieredMergePolicy
        analogue for continuous ingest. Streaming epochs accrete one
        build chunk each (``streaming.StreamingIndexer``); after many
        epochs a query fans over many small chunk dirs. ``vacuum`` is the
        full forceMerge: O(index) rewrite plus tombstone surgery plus
        stats refinalize. This is the cheap maintenance step between
        vacuums: fold the SMALLEST chunks into one new chunk until at
        most ``max_chunks`` remain, never touching the large ones —
        O(merged bytes), not O(index), which is the only merge policy
        that survives at 10^12 docs (a petabyte-scale consolidated chunk
        must not be rewritten because an epoch added 0.01% of postings).

        Pure physical re-layout: meta/stats/tombstones unchanged, query
        results bit-identical (tested). Merged chunks are archived (time
        travel to the pre-compaction snapshot still works); the new chunk
        gets a reserved id <= -2 (streaming epochs are >= 0 and vacuum
        output is -1), so later epochs append cleanly. Blocks from
        different chunks interleave doc ranges (chunks split by doc-id
        hash), which ``merge_segments`` handles — the same pseudo-segment
        path vacuum uses, one hash shuffle over only the merged chunks'
        blocks."""
        cfg = self.config
        blocks_root = self._p("postings")
        chunk_dirs = sorted(glob.glob(os.path.join(blocks_root, "chunk=*")))
        if len(chunk_dirs) <= max_chunks:
            return {"compacted": 0, "chunks_before": len(chunk_dirs),
                    "chunks_after": len(chunk_dirs)}
        blocks = spark.read.parquet(blocks_root)
        sizes = {int(r["chunk"]): int(r["b"] or 0) for r in
                 blocks.groupBy("chunk")
                       .agg(F.sum(F.octet_length("docs")
                                  + F.octet_length("tfs")
                                  + F.octet_length("dls")).alias("b"))
                       .collect()}
        ids = sorted(sizes, key=lambda c: (sizes[c], c))
        n_merge = len(ids) - max_chunks + 1
        merge_ids = ids[:n_merge]
        new_id = min(-1, min(sizes)) - 1
        mc = self.meta_codec(spark)

        sel = blocks.filter(F.col("chunk").isin(merge_ids))
        pseudo = sel.select(
            "bucket", "term", "field", F.col("block_id").alias("salt"),
            F.col("n").cast("long").alias("n"), "sum_tf", "max_tf",
            "min_dl", "docs", "tfs", "dls", "poss")
        merged = merge_segments(pseudo, block_size=cfg.block_size,
                                on_duplicate=cfg.on_duplicate,
                                in_codec=mc, out_codec=mc)
        merged.write.mode("overwrite").parquet(
            self._p(f"postings_new/chunk={new_id}"))

        docs = spark.read.parquet(self._p("docs"))
        keep_cols = [c for c in docs.columns if c != "chunk"]
        (docs.filter(F.col("chunk").isin(merge_ids)).select(keep_cols)
             .write.mode("overwrite")
             .parquet(self._p(f"docs_new/chunk={new_id}")))

        from . import snapshots as _snap
        _snap.archive(self.index_dir,
                      [f"postings/chunk={c}" for c in merge_ids]
                      + [f"docs/chunk={c}" for c in merge_ids])
        os.rename(self._p(f"postings_new/chunk={new_id}"),
                  os.path.join(blocks_root, f"chunk={new_id}"))
        os.rename(self._p(f"docs_new/chunk={new_id}"),
                  os.path.join(self._p("docs"), f"chunk={new_id}"))
        shutil.rmtree(self._p("postings_new"), ignore_errors=True)
        shutil.rmtree(self._p("docs_new"), ignore_errors=True)
        # derived serving copy is stale; re-create via compact_local
        shutil.rmtree(self._p("postings_local"), ignore_errors=True)
        _snap.commit(self.index_dir, "compact", build_id)
        return {"compacted": len(merge_ids), "new_chunk": new_id,
                "chunks_before": len(chunk_dirs),
                "chunks_after": len(chunk_dirs) - len(merge_ids) + 1,
                "merged_bytes": sum(sizes[c] for c in merge_ids)}

    def meta_n_fields(self, spark: SparkSession) -> int:
        m = _read_local_parquet(self._p("meta"))
        if m is None or m.empty or "n_fields" not in m.columns:
            return 1
        return int(m.iloc[0]["n_fields"] or 1)

    def meta_codec(self, spark: SparkSession) -> str:
        m = _read_local_parquet(self._p("meta"))
        if m is None or m.empty or "codec" not in m.columns:
            return "varint"
        return str(m.iloc[0]["codec"] or "varint")

    def compact_local(self, spark: SparkSession) -> None:
        """Write the local reader's serving copy ``postings_local/`` (see
        ``fatespark.serving``): one doc-ordered stream per (term, field)
        across every bucket and chunk, re-blocked at 128 postings, in one
        uncompressed Arrow IPC file sorted by (term, field, first_doc) and
        stamped with the current snapshot id. One Spark job range-partitions
        the blocks by term and merges each stream in the Python workers
        (``serving.serving_runs``) into temporary uncompressed parquet; the
        driver streams that into the IPC file batch by batch and publishes
        it atomically. The BUILD keeps hash partitioning (head-term skew
        stays bounded by bucket×salt); this is the analogue of the
        reference's read-optimized index file + sampled inline suffix index
        (``lib/suffix_array_writer.rb:88-92``)."""
        import pyarrow.parquet as pq
        from . import serving
        from . import snapshots as _snap
        sid = _snap.current_id(self.index_dir)
        codec = self.meta_codec(spark)
        blocks = spark.read.parquet(self._p("postings")) \
            .select(*serving.IN_COLS)
        merged = (blocks.repartitionByRange(max(1, self.config.n_buckets),
                                            "term")
                  .sortWithinPartitions(*serving.IN_SORT)
                  .mapInPandas(partial(serving.serving_runs, codec=codec),
                               schema=serving.SERVING_SCHEMA))
        tmp = self._p(f"{serving.DIRNAME}_tmp-{uuid.uuid4().hex}")
        try:
            merged.write.option("compression", "uncompressed").parquet(tmp)
            # part files are named by partition id: file order is term order.
            # Small single-threaded reads without pre-buffering keep the
            # driver's peak memory to about one batch.
            parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
            serving.write(
                self.index_dir,
                (rb for f in parts
                 for rb in pq.ParquetFile(f, pre_buffer=False,
                                          buffer_size=1 << 16)
                 .iter_batches(batch_size=512, use_threads=False)),
                sid)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        from .sidecars import stamp
        stamp(self.index_dir, serving.DIRNAME)
