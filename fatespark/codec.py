"""Posting-list compression: delta + varint (LEB128), vectorized in numpy.

The reference stores raw uint32 suffix triples (``lib/suffix_array_writer.rb:
96-99``); the north rule upgrades this to delta-encoded, varint-compressed
posting lists. All encode/decode paths are numpy-vectorized (no per-element
Python loops over postings) so they run fast inside Arrow-batched pandas UDFs.

Doc ids are int64 (xxhash64 of the natural key → full signed range). For gap
encoding we map them order-preservingly to uint64 by flipping the sign bit
(``x XOR 2^63``), delta-encode in that domain, and varint the gaps. tfs / dls
are small positive ints → plain varint. Positions are per-doc
delta+varint, concatenated; per-doc boundaries are recovered from tf counts.
"""

from __future__ import annotations

import numpy as np

_SIGN = np.uint64(1 << 63)
_LOW7 = np.uint64(0x7F)
_CONT = np.uint64(0x80)


def _i64_to_u64_ordered(x: np.ndarray) -> np.ndarray:
    """Order-preserving int64 -> uint64 (flip sign bit)."""
    return x.astype(np.int64).view(np.uint64) ^ _SIGN


def _u64_to_i64_ordered(x: np.ndarray) -> np.ndarray:
    return (x ^ _SIGN).view(np.int64)


def not_in_sorted(values: np.ndarray,
                  sorted_ids: np.ndarray | None) -> np.ndarray:
    """Mask of the ``values`` absent from the sorted array ``sorted_ids``
    (all True when it is None or empty): the tombstone and doc-set test
    both readers, the merges and the kernels share."""
    keep = np.ones(values.size, dtype=bool)
    if sorted_ids is None or not sorted_ids.size or not values.size:
        return keep
    j = np.searchsorted(sorted_ids, values)
    hit = j < sorted_ids.size
    hit[hit] = sorted_ids[j[hit]] == values[hit]
    return ~hit


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    # bytes needed per value: ceil(bitlen/7), min 1
    nbits = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    nbytes = np.ones(n, dtype=np.int64)
    tmp >>= np.uint64(7)
    while tmp.any():
        nbytes += (tmp != 0)
        tmp >>= np.uint64(7)
    del nbits
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        chunk = (v[mask] >> np.uint64(7 * j)) & _LOW7
        more = (nbytes[mask] > j + 1)
        out[starts[mask] + j] = (chunk | np.where(more, _CONT, np.uint64(0))).astype(np.uint8)
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Vectorized LEB128 decode -> uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    # value index for every byte: number of terminators strictly before it
    vidx = np.zeros(raw.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=vidx[1:])
    n = int(is_last.sum())
    if count is not None and count != n:
        raise ValueError(f"varint_decode: expected {count} values, got {n}")
    # byte offset within its value
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    boff = np.arange(raw.size, dtype=np.int64) - starts[vidx]
    vals = np.zeros(n, dtype=np.uint64)
    payload = (raw & 0x7F).astype(np.uint64) << (7 * boff).astype(np.uint64)
    np.add.at(vals, vidx, payload)
    return vals


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 encoded length (int64), vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp != 0)
        tmp >>= np.uint64(7)
    return nbytes


def segmented_delta(values: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Gap-encode a uint64 stream with the delta chain reset at each segment
    start (segment starts carry absolute values). ``seg_starts`` must start
    with 0. Vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    gaps = np.empty_like(v)
    if v.size == 0:
        return gaps
    gaps[0:1] = v[0:1]
    gaps[1:] = v[1:] - v[:-1]
    gaps[seg_starts] = v[seg_starts]
    return gaps


def encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Varint-encode a flat uint64 stream once, then slice per-group byte
    ranges — one vectorized pass regardless of group count (the per-group
    Python work is a single buffer slice)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    buf = np.frombuffer(varint_encode(v), dtype=np.uint8)
    ends_b = np.cumsum(varint_byte_lengths(v))
    gstart_b = np.empty(group_starts.size, dtype=np.int64)
    gstart_b[0] = 0
    gstart_b[1:] = ends_b[group_starts[1:] - 1]
    gend_b = np.empty(group_starts.size, dtype=np.int64)
    gend_b[:-1] = gstart_b[1:]
    gend_b[-1] = ends_b[-1]
    return [buf[a:b].tobytes() for a, b in zip(gstart_b, gend_b)]


def varint_decode_concat(bufs: list[bytes], total: int | None = None) -> np.ndarray:
    """Decode MANY varint buffers in one vectorized pass (LEB128 streams are
    self-delimiting, so concatenation is safe). Returns the flat uint64
    stream; per-buffer boundaries are the caller's counts."""
    if not bufs:
        return np.zeros(0, dtype=np.uint64)
    return varint_decode(b"".join(bufs), total)


def segmented_cumsum_u64(gaps: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Inverse of ``segmented_delta``: cumulative sum with the chain reset at
    each segment start. Vectorized (no per-segment loop)."""
    if gaps.size == 0:
        return gaps.astype(np.uint64)
    with np.errstate(over="ignore"):
        # csum may wrap (many segments × large absolute first values); the
        # per-segment difference csum - base stays exact mod 2^64 because the
        # true in-segment sums are < 2^64
        csum = np.cumsum(gaps, dtype=np.uint64)
        base = np.zeros(seg_starts.size, dtype=np.uint64)
        base[1:] = csum[seg_starts[1:] - 1]
        seg_lens = np.diff(np.append(seg_starts, gaps.size))
        return csum - np.repeat(base, seg_lens)


def delta_encode_ids(doc_ids: np.ndarray) -> bytes:
    """Encode a strictly-increasing int64 doc-id array as varint gaps."""
    u = _i64_to_u64_ordered(np.asarray(doc_ids, dtype=np.int64))
    gaps = np.empty_like(u)
    gaps[0:1] = u[0:1]
    gaps[1:] = u[1:] - u[:-1]
    return varint_encode(gaps)


def delta_decode_ids(buf: bytes, count: int | None = None) -> np.ndarray:
    gaps = varint_decode(buf, count)
    if gaps.size == 0:
        return np.zeros(0, dtype=np.int64)
    return _u64_to_i64_ordered(np.cumsum(gaps, dtype=np.uint64))


def encode_u32s(values: np.ndarray) -> bytes:
    """Plain varint for small positive ints (tfs, doc lengths)."""
    return varint_encode(np.asarray(values, dtype=np.uint64))


def decode_u32s(buf: bytes, count: int | None = None) -> np.ndarray:
    return varint_decode(buf, count).astype(np.int64)


def encode_positions(positions_concat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode concatenated per-doc position lists (lengths given by ``tfs``).

    Positions are delta-encoded within each doc (first position absolute),
    then varinted as one stream. Vectorized: a grouped diff via segment
    starts, no per-doc loop."""
    pos = np.asarray(positions_concat, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if pos.size == 0:
        return b""
    gaps = np.empty_like(pos)
    gaps[0:1] = pos[0:1]
    gaps[1:] = pos[1:] - pos[:-1]
    starts = np.cumsum(tfs)[:-1]  # first index of docs 1..n-1
    gaps[starts] = pos[starts]  # reset delta chain at each doc boundary
    return varint_encode(gaps)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of ``encode_positions`` -> concatenated absolute positions."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    gaps = varint_decode(buf, total if total else None)
    if gaps.size == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    return segmented_cumsum_u64(gaps, starts).astype(np.int64)


# ---------------------------------------------------------------------------
# Pluggable posting-block codec (north rule: "varint/PForDelta compression").
# The MERGED index's docs/tfs/dls blocks encode through one of these;
# positions are always varint (per-doc runs are too short for PFor frames).
# The codec name is recorded in the index ``meta`` table and resolved by
# every reader, so indexes built with either codec are self-describing.
# ---------------------------------------------------------------------------

class PostingCodec:
    """Base: per-group frame encode + count-aware decode. Subclasses are
    stateless (all staticmethods/classmethods) so closures can capture the
    NAME and re-resolve with ``get_codec`` inside executors."""

    name = "varint"
    encode_grouped = staticmethod(encode_grouped)

    @staticmethod
    def decode(buf: bytes, n: int) -> np.ndarray:
        return varint_decode(buf, n)

    @staticmethod
    def decode_concat(bufs: list[bytes], ns, total: int | None = None
                      ) -> np.ndarray:
        return varint_decode_concat(list(bufs), total)

    @classmethod
    def decode_ids(cls, buf: bytes, n: int) -> np.ndarray:
        gaps = cls.decode(buf, n)
        if gaps.size == 0:
            return np.zeros(0, dtype=np.int64)
        return _u64_to_i64_ordered(np.cumsum(gaps, dtype=np.uint64))

    @classmethod
    def decode_u32s(cls, buf: bytes, n: int) -> np.ndarray:
        return cls.decode(buf, n).astype(np.int64)


def get_codec(name) -> type[PostingCodec]:
    """Resolve a codec by name (None/'' -> varint). Accepts a codec class
    and returns it unchanged, so call sites can take either."""
    if isinstance(name, type) and issubclass(name, PostingCodec):
        return name
    if not name or name == "varint":
        return PostingCodec
    if name == "pfor":
        from .pfor import PForPostingCodec
        return PForPostingCodec
    if name == "ef":
        from .ef import EliasFanoPostingCodec
        return EliasFanoPostingCodec
    raise ValueError(f"unknown posting codec: {name!r}")
