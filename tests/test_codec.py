"""Posting codec: golden encodings + seeded round-trip properties (FIXTURES F4)."""

import numpy as np
import pandas as pd
import pytest

from fatespark.codec import (
    _i64_to_u64_ordered,
    decode_positions,
    decode_u32s,
    delta_decode_ids,
    delta_encode_ids,
    encode_positions,
    encode_u32s,
    get_codec,
    segmented_delta,
    varint_decode,
    varint_encode,
)


class TestVarintGolden:
    def test_empty(self):
        assert varint_encode(np.array([], dtype=np.uint64)) == b""
        assert varint_decode(b"").size == 0

    def test_single_byte_values(self):
        assert varint_encode(np.array([0, 1, 127], dtype=np.uint64)) == b"\x00\x01\x7f"

    def test_two_byte_boundary(self):
        # 128 -> 0x80 0x01 ; 300 -> 0xAC 0x02 (classic LEB128 goldens)
        assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
        assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"

    def test_max_u64(self):
        v = np.array([2**64 - 1], dtype=np.uint64)
        enc = varint_encode(v)
        assert len(enc) == 10
        assert varint_decode(enc)[0] == 2**64 - 1

    def test_decode_count_check(self):
        with pytest.raises(ValueError):
            varint_decode(b"\x00\x01", count=3)


class TestRoundTrip:
    @pytest.mark.parametrize("seed", [0, 1, 7])
    def test_varint_roundtrip(self, seed):
        rng = np.random.default_rng(seed)
        v = rng.integers(0, 2**63, size=5000, dtype=np.uint64)
        # mix in small values and boundaries
        v[::7] = rng.integers(0, 128, size=v[::7].size, dtype=np.uint64)
        v[::11] = 2**31 - 1
        assert np.array_equal(varint_decode(varint_encode(v), v.size), v)

    @pytest.mark.parametrize("seed", [0, 3])
    def test_doc_ids_roundtrip_full_signed_range(self, seed):
        rng = np.random.default_rng(seed)
        ids = np.unique(rng.integers(-2**63, 2**63 - 1, size=4000, dtype=np.int64))
        enc = delta_encode_ids(ids)
        assert np.array_equal(delta_decode_ids(enc, ids.size), ids)

    def test_doc_ids_single(self):
        ids = np.array([-42], dtype=np.int64)
        assert np.array_equal(delta_decode_ids(delta_encode_ids(ids), 1), ids)

    def test_max_gap(self):
        ids = np.array([-2**63, 2**63 - 1], dtype=np.int64)
        assert np.array_equal(delta_decode_ids(delta_encode_ids(ids), 2), ids)

    def test_zipf_clustered_gaps(self):
        rng = np.random.default_rng(42)
        gaps = rng.zipf(1.3, size=3000).astype(np.int64)
        ids = np.cumsum(gaps)
        assert np.array_equal(delta_decode_ids(delta_encode_ids(ids), ids.size), ids)

    def test_u32s(self):
        tfs = np.array([1, 1, 2, 200, 1, 70000], dtype=np.int64)
        assert np.array_equal(decode_u32s(encode_u32s(tfs), tfs.size), tfs)


class TestPositions:
    def test_positions_roundtrip(self):
        # doc0: [0, 5, 9], doc1: [2], doc2: [1, 3]
        pos = np.array([0, 5, 9, 2, 1, 3], dtype=np.int64)
        tfs = np.array([3, 1, 2], dtype=np.int64)
        enc = encode_positions(pos, tfs)
        assert np.array_equal(decode_positions(enc, tfs), pos)

    def test_positions_single_doc(self):
        pos = np.array([7, 8, 100], dtype=np.int64)
        tfs = np.array([3], dtype=np.int64)
        assert np.array_equal(decode_positions(encode_positions(pos, tfs), tfs), pos)

    def test_positions_seeded_property(self):
        rng = np.random.default_rng(11)
        tfs = rng.integers(1, 9, size=500, dtype=np.int64)
        pos = np.concatenate([
            np.sort(rng.choice(5000, size=t, replace=False)) for t in tfs
        ]).astype(np.int64)
        assert np.array_equal(decode_positions(encode_positions(pos, tfs), tfs), pos)

    @pytest.mark.parametrize("codec", ["varint", "pfor", "ef"])
    def test_stream_decode_interleaved_chunks(self, codec):
        """One (term, field) stream whose blocks come from two build chunks
        with interleaved doc ranges: the bulk decode returns doc-sorted
        postings, each doc with its own positions."""
        from fatespark.query import _decode_with_positions
        rng = np.random.default_rng(5)
        ids = np.unique(rng.integers(-2**63, 2**63 - 1, size=300,
                                     dtype=np.int64))
        tfs = rng.integers(1, 6, size=ids.size).astype(np.int64)
        dls = tfs + rng.integers(0, 50, size=ids.size)
        pos = [np.sort(rng.choice(int(d), size=int(t), replace=False))
               for t, d in zip(tfs, dls)]
        c, one = get_codec(codec), np.zeros(1, dtype=np.int64)
        rows = []
        for chunk in (np.arange(0, ids.size, 2), np.arange(1, ids.size, 2)):
            for blk in np.array_split(chunk, range(16, chunk.size, 16)):
                u = _i64_to_u64_ordered(ids[blk])
                rows.append({
                    "n": blk.size,
                    "docs": c.encode_grouped(segmented_delta(u, one), one)[0],
                    "tfs": c.encode_grouped(tfs[blk].astype(np.uint64),
                                            one)[0],
                    "dls": c.encode_grouped(dls[blk].astype(np.uint64),
                                            one)[0],
                    "poss": encode_positions(
                        np.concatenate([pos[i] for i in blk]), tfs[blk])})
        got = _decode_with_positions(pd.DataFrame(rows), codec)
        assert np.array_equal(got["docs"], ids)
        assert np.array_equal(got["tfs"], tfs)
        assert np.array_equal(got["dls"], dls)
        assert np.array_equal(got["poss"], np.concatenate(pos))
        assert np.array_equal(got["tok_starts"],
                              np.concatenate(([0], np.cumsum(tfs))))

    def test_empty(self):
        tfs = np.array([], dtype=np.int64)
        assert encode_positions(np.array([], dtype=np.int64), tfs) == b""
        assert decode_positions(b"", tfs).size == 0

    def test_compression_wins_on_dense_lists(self):
        ids = np.arange(0, 100_000, 3, dtype=np.int64)
        enc = delta_encode_ids(ids)
        assert len(enc) < ids.size * 1.2  # ~1 byte/gap vs 8 raw
