"""The local reader's serving copy: one doc-ordered posting stream per
(term, field), read by row slices.

The build output (``postings/``) is hash-partitioned by bucket × salt for
merge skew, so one (term, field) stream is split into many small blocks
whose doc ranges interleave across buckets and chunks. The serving copy
merges every stream across buckets and chunks into doc order, re-blocks it
at ``SERVE_BLOCK`` postings with fresh block-max metadata, and stores the
blocks sorted by (term, field, first_doc) in ONE uncompressed Arrow IPC
file, ``postings_local/postings.arrow``. A reader memory-maps it at open,
finds each stream's row range from the sorted ``term`` column and reads a
query's postings as row slices — the analogue of the reference reader
loading its sampled inline-suffix index once and then reading by offset
(``lib/suffix_array_reader.rb:176-191``).

The file's schema metadata records the snapshot id it was built at; a
reader uses it only for that snapshot and otherwise builds the same layout
in memory at open (``build``). Both paths run the same merge
(``serving_runs`` over ``merge.merge_runs``). ``IndexBuilder.compact_local``
writes the file; ``write`` publishes it atomically (temporary name, then
``os.replace``), so a reader never opens a half-written copy.
"""

from __future__ import annotations

import glob
import os
import uuid
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from .merge import merge_runs

DIRNAME = "postings_local"
FILENAME = "postings.arrow"
SERVE_BLOCK = 128
SERVING_SCHEMA = (
    "term string, field int, n int, first_doc long, last_doc long, "
    "max_tf int, min_dl int, docs binary, tfs binary, dls binary, "
    "poss binary"
)
SERVING_COLS = [c.split()[0] for c in SERVING_SCHEMA.split(", ")]
# posting-block columns the merge reads, and the order that makes them
# contiguous per (term, field) with each stream's blocks by first_doc
IN_COLS = ["term", "field", "first_doc", "bucket", "block_id", "n", "docs",
           "tfs", "dls", "poss"]
IN_SORT = ["term", "field", "first_doc", "bucket", "block_id"]
_SNAPSHOT_KEY = b"fatespark.snapshot_id"
_BATCH_ROWS = 20000  # block rows per pandas batch of the at-open build


def arrow_schema(snapshot_id: int | None = None):
    import pyarrow as pa
    types = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
             "binary": pa.binary()}
    fields = [pa.field(n, types[t]) for n, t in
              (c.split() for c in SERVING_SCHEMA.split(", "))]
    meta = None if snapshot_id is None else \
        {_SNAPSHOT_KEY: str(int(snapshot_id)).encode()}
    return pa.schema(fields, metadata=meta)


def path(index_dir: str) -> str:
    return os.path.join(index_dir, DIRNAME, FILENAME)


def serving_runs(batches: Iterator[pd.DataFrame],
                 codec: str) -> Iterator[pd.DataFrame]:
    """Posting-block batches sorted by ``IN_SORT`` -> serving-copy blocks
    (``SERVING_COLS``): each (term, field) stream merged across buckets
    and chunks into doc order and re-blocked at ``SERVE_BLOCK``. A doc id
    present in two chunks keeps both postings, as ``TermBlocks.decode_all``
    does when it sorts a stream read from ``postings/``."""
    runs = (pdf.assign(bucket=0, salt=0) for pdf in batches)
    for out in merge_runs(runs, ["term", "field"], SERVE_BLOCK, "keep",
                          None, codec, codec):
        yield out[SERVING_COLS]


def write(index_dir: str, batches: Iterable, snapshot_id: int) -> None:
    """Stream record batches (in (term, field, first_doc) order) into the
    serving file and publish it atomically. Raises, leaving any previous
    copy in place, if the batches arrive out of term order."""
    import pyarrow as pa
    schema = arrow_schema(snapshot_id)
    final = path(index_dir)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = os.path.join(os.path.dirname(final),
                       f".{FILENAME}.{uuid.uuid4().hex}.tmp")
    try:
        with pa.OSFile(tmp, "wb") as sink, \
                pa.ipc.new_file(sink, schema) as w:
            last = None
            for rb in batches:
                if not rb.num_rows:
                    continue
                rb = pa.RecordBatch.from_arrays(
                    [rb.column(c) for c in SERVING_COLS], schema=schema)
                first = rb.column(0)[0].as_py()
                if last is not None and first < last:
                    raise ValueError(
                        f"serving copy out of term order: {first!r} after "
                        f"{last!r}")
                last = rb.column(0)[rb.num_rows - 1].as_py()
                w.write_batch(rb)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def load(index_dir: str, snapshot_id: int):
    """The memory-mapped serving table if a copy stamped at
    ``snapshot_id`` exists, else None. The table's buffers keep the
    mapping alive."""
    import pyarrow as pa
    p = path(index_dir)
    if not os.path.exists(p):
        return None
    src = pa.memory_map(p)
    rd = pa.ipc.open_file(src)
    if (rd.schema.metadata or {}).get(_SNAPSHOT_KEY) != \
            str(int(snapshot_id)).encode():
        src.close()
        return None
    return rd.read_all()


def build(roots: list[str], codec: str):
    """The serving table built in memory from raw posting-block dirs —
    what a reader uses when no current copy exists (a pinned snapshot, an
    index never compacted, a stale copy). Arrow sorts the raw blocks;
    pandas sees one batch at a time."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = arrow_schema()
    files = sorted(f for r in roots for f in glob.glob(
        os.path.join(r, "**", "*.parquet"), recursive=True))
    if not files:
        return schema.empty_table()
    raw = pa.concat_tables([pq.ParquetFile(f).read(columns=IN_COLS)
                            for f in files])
    raw = raw.sort_by([(c, "ascending") for c in IN_SORT])
    outs = [pa.Table.from_pandas(o, schema=schema, preserve_index=False)
            for o in serving_runs(
                (b.to_pandas() for b in raw.to_batches(_BATCH_ROWS)),
                codec)]
    return pa.concat_tables(outs) if outs else schema.empty_table()


def key_range(sorted_keys: np.ndarray, key: str) -> range:
    """Indices of ``key`` in a sorted key array."""
    return range(int(np.searchsorted(sorted_keys, key, "left")),
                 int(np.searchsorted(sorted_keys, key, "right")))


class Streams:
    """Row range of every (term, field) stream in a serving table, found
    once from its sorted ``term`` column, plus the integer block columns a
    query reads as arrays; the binary columns stay in the (memory-mapped)
    table until a query slices them."""

    def __init__(self, table):
        self.table = table
        self.ints = {c: np.asarray(table.column(c), dtype=np.int64)
                     for c in ("n", "first_doc")}
        term = table.column("term").to_numpy()
        field = np.asarray(table.column("field"), dtype=np.int64)
        new = np.ones(term.size, dtype=bool)
        new[1:] = (term[1:] != term[:-1]) | (field[1:] != field[:-1])
        starts = np.flatnonzero(new)
        self.term, self.field = term[starts], field[starts]
        self.rows = np.append(starts, term.size)

    def streams(self, terms) -> dict[tuple[str, int], "Rows"]:
        """(term, field) -> that stream's block rows, in ascending
        (term, field) order. Every doc lives in exactly one bucket and
        scores use global idf/avgdl, so one stream over all buckets answers
        exactly what a per-bucket pass would."""
        out = {}
        for t in sorted(set(terms)):
            for i in key_range(self.term, t):
                f = int(self.field[i])
                out[(t, f)] = Rows(self, t, f, int(self.rows[i]),
                                   int(self.rows[i + 1]))
        return out

    def frame(self, terms, columns: list[str]) -> pd.DataFrame:
        """The block rows of ``terms`` as one pandas frame."""
        import pyarrow as pa
        parts = [self.table.slice(g.a, len(g)).select(columns)
                 for g in self.streams(terms).values()]
        if not parts:
            return pd.DataFrame({c: pd.Series(dtype=object)
                                 for c in columns})
        return pa.concat_tables(parts).to_pandas()


class Rows:
    """Block rows [a, b) of one (term, field) stream, as the column mapping
    ``local._term_blocks_from_pdf`` and ``query._decode_with_positions``
    read: integer columns as array views, binary columns as lists of bytes;
    ``len`` is the block count."""

    __slots__ = ("src", "term", "field", "a", "b")

    def __init__(self, src: Streams, term: str, field: int, a: int, b: int):
        self.src, self.term, self.field, self.a, self.b = \
            src, term, field, a, b

    def __len__(self) -> int:
        return self.b - self.a

    def __getitem__(self, col: str):
        if col == "term":
            return np.full(len(self), self.term, dtype=object)
        if col == "field":
            return np.full(len(self), self.field, dtype=np.int64)
        got = self.src.ints.get(col)
        if got is not None:
            return got[self.a:self.b]
        return self.src.table.column(col).slice(self.a, len(self)) \
            .to_pylist()


def stats(index_dir: str) -> dict | None:
    """(blocks, postings, bytes, bytes/posting, snapshot id) of the copy
    on disk, or None when there is none."""
    import pyarrow as pa
    p = path(index_dir)
    if not os.path.exists(p):
        return None
    with pa.memory_map(p) as src:
        rd = pa.ipc.open_file(src)
        ns = np.asarray(rd.read_all().column("n"), dtype=np.int64)
        meta = rd.schema.metadata or {}
    size = os.path.getsize(p)
    postings = int(ns.sum())
    return {"n_blocks": int(ns.size), "n_postings": postings,
            "bytes": int(size),
            "bytes_per_posting": round(size / postings, 3)
            if postings else 0.0,
            "snapshot_id": int(meta.get(_SNAPSHOT_KEY, b"-1"))}
