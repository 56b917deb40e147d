"""Driver-local query path: the same index, read via pyarrow with predicate
pushdown and scored by the SAME numpy kernels — no Spark jobs, so query
latency is milliseconds instead of the ~0.3 s Spark scheduling floor.

This is the Spark-era analogue of the reference's in-memory readers
(``lib/suffix_array_reader.rb:97-113`` loads header + inline suffixes once,
then answers in µs): open once, then ``count``/``search``/``search_prefix``
answer from local reads. Use it for interactive lookups against small/medium
indexes or a hot shard; the distributed ``SearchIndex`` path is the one that
scales to the full corpus (both produce IDENTICAL results — tested).

Run ``IndexBuilder.compact_local(spark)`` once after the build to lay down
the term-range-clustered serving copy (``postings_local/``) — the raw build
output is hash-partitioned for merge skew, so without the serving copy every
query scans all row groups. ``use_wand=True`` uses the same interval-at-a-
time block-vectorized BMW kernel as the distributed scorer; it pays off once
the posting lists are long enough that whole blocks prune (head-term ORs).

Reads are row-group pruned via footer min/max statistics collected once at
open (``_RGIndex``); on the serving copy a point-term lookup touches only
the ~1 MB row groups whose term range covers it."""

from __future__ import annotations

import math

import glob
import os

import numpy as np
import pandas as pd

from .analysis import ANALYZERS, ascii_fold
from .oracle import idf as idf_fn
from .query import _fold_terms, _sq, _term_blocks_from_pdf
from .wand import (score_and, score_bmw_or, score_exhaustive_or,
                   score_maxscore_or)


class _RGIndex:
    """Row-group skip index over a parquet directory, keyed by a string
    column's min/max statistics. Footers are read ONCE at open; a lookup
    touches only the row groups whose [min, max] range covers a key — the
    Spark-free analogue of the reference's sampled inline-suffix index
    loaded by its reader at open (``lib/suffix_array_reader.rb:176-191``)."""

    def __init__(self, path: str | list[str], key: str):
        import pyarrow.parquet as pq
        self.key = key
        self.files: list = []
        self.spans: list[tuple[int, int, str, str]] = []  # file, rg, lo, hi
        roots = [path] if isinstance(path, str) else list(path)
        for f in sorted(f for r in roots
                        for f in glob.glob(os.path.join(r, "**", "*.parquet"),
                                           recursive=True)):
            pf = pq.ParquetFile(f)
            fi = len(self.files)
            self.files.append(pf)
            md = pf.metadata
            ki = md.schema.names.index(key)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ki).statistics
                if st is None or not st.has_min_max:
                    self.spans.append((fi, rg, "", "\U0010ffff"))
                else:
                    self.spans.append((fi, rg, st.min, st.max))

    def read(self, keys: list[str], columns: list[str]) -> pd.DataFrame:
        """Rows of the matching row groups, filtered to key in keys."""
        import pyarrow as pa
        import pyarrow.compute as pc
        want: dict[int, list[int]] = {}
        for fi, rg, lo, hi in self.spans:
            if any(lo <= t <= hi for t in keys):
                want.setdefault(fi, []).append(rg)
        tables = []
        kset = pa.array(keys, type=pa.string())
        for fi, rgs in want.items():
            t = self.files[fi].read_row_groups(rgs, columns=columns)
            t = t.filter(pc.is_in(t[self.key], value_set=kset))
            if t.num_rows:
                tables.append(t)
        if not tables:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in columns})
        return pa.concat_tables(tables).to_pandas()

    def read_range(self, lo: str, hi: str, columns: list[str]) -> pd.DataFrame:
        """Rows with lo <= key < hi (prefix expansion)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        tables = []
        for fi, rg, mn, mx in self.spans:
            if mx >= lo and mn < hi:
                t = self.files[fi].read_row_groups([rg], columns=columns)
                m = pc.and_(pc.greater_equal(t[self.key], lo),
                            pc.less(t[self.key], hi))
                t = t.filter(m)
                if t.num_rows:
                    tables.append(t)
        if not tables:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in columns})
        return pa.concat_tables(tables).to_pandas()


class LocalSearchIndex:
    """Spark-free reader over an ``IndexBuilder`` directory.

    Time travel mirrors the distributed reader: ``snapshot_id=`` /
    ``as_of=`` resolve physical paths through the same snapshot log
    (``snapshots.resolve`` — pure local parquet, still no Spark jobs)."""

    def __init__(self, index_dir: str, *, snapshot_id: int | None = None,
                 as_of: float | None = None):
        import pyarrow.parquet as pq
        self._paths: dict[str, list[str]] | None = None
        self.snapshot_id: int | None = None
        if snapshot_id is not None or as_of is not None:
            from . import snapshots as _snap
            self.snapshot_id, self._paths = _snap.resolve(
                index_dir, snapshot_id=snapshot_id, as_of=as_of)

        def src(name: str) -> list[str]:
            if self._paths is not None:
                return self._paths.get(name, [])
            return [os.path.join(index_dir, name)]

        metas = sorted(f for d in src("meta")
                       for f in glob.glob(os.path.join(d, "*.parquet")))
        if not metas:
            raise FileNotFoundError(f"no published index at {index_dir}")
        m = pq.read_table(metas[-1]).to_pandas().iloc[0].to_dict()
        self.n_docs = int(m["n_docs"])
        self.avgdl = float(m["avgdl"])
        self.n_fields = int(m.get("n_fields", 1) or 1)
        self.analyzer = m["analyzer"]
        self.codec_name = str(m.get("codec") or "varint")
        self.meta = m
        fsp = sorted(f for d in src("field_stats")
                     for f in glob.glob(os.path.join(d, "*.parquet")))
        if fsp:
            fs = pq.read_table(fsp[-1]).to_pandas()
            self.field_avgdl = {int(r.field): float(r.avgdl)
                                for r in fs.itertuples()}
            self.field_sumdl = {int(r.field): float(r.sum_dl)
                                for r in fs.itertuples()}
        else:
            self.field_avgdl = {0: self.avgdl}
            self.field_sumdl = {0: float(self.avgdl * self.n_docs)}
        if self._paths is not None:  # snapshot pins the tombstone FILE set
            tombs = self._paths.get("tombstones", [])
        else:
            tombs = sorted(glob.glob(os.path.join(index_dir, "tombstones",
                                                  "*.parquet")))
        if tombs:
            import pyarrow.parquet as _pq
            ids = np.concatenate([
                _pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
                for f in tombs])
            self.tombstones = np.sort(ids.astype(np.int64))
        else:
            self.tombstones = None
        self.index_dir = index_dir
        self._fuzzy_local: tuple | None = None  # lazy (_RGIndex, depth)
        self._terms_ix = _RGIndex(src("terms"), "term")
        # prefer the term-range-clustered serving copy (IndexBuilder.
        # compact_local): the raw build output is hash-partitioned for merge
        # skew, so its per-file term min/max spans ~everything and the skip
        # index cannot prune. Snapshot reads pin the committed postings
        # paths directly (the serving copy tracks only the current state).
        post: str | list[str] = os.path.join(index_dir, "postings_local")
        if self._paths is not None:
            post = self._paths.get("postings", [])
        elif not glob.glob(os.path.join(post, "**", "*.parquet"),
                           recursive=True):
            post = os.path.join(index_dir, "postings")
        self._post_ix = _RGIndex(post, "term")
        # the docs file list is resolved once, like the skip indexes above
        self._docs_files = sorted(
            f for d in src("docs")
            for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                               recursive=True))
        self._docs_ds = None  # pyarrow dataset, built on first urls_of

    # -- stats --------------------------------------------------------------
    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        t = self._terms_ix.read(list(terms),
                                ["term", "field", "df", "cf", "max_tf"])
        out: dict[str, dict] = {}
        for r in t.itertuples():
            out.setdefault(r.term, {})[int(r.field)] = {
                "df": int(r.df), "cf": int(r.cf), "max_tf": int(r.max_tf)}
        return out

    def count(self, term: str, field: int | None = None) -> int:
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("df", 0)
        return sum(v["df"] for v in by_field.values())

    def count_occurrences(self, term: str, field: int | None = None) -> int:
        st = self.term_stats(_fold_terms(term, self.analyzer))
        if not st:
            return 0
        by_field = next(iter(st.values()))
        if field is not None:
            return by_field.get(field, {}).get("cf", 0)
        return sum(v["cf"] for v in by_field.values())

    def find_all(self, query: str | list[str]) -> pd.DataFrame:
        """Every hit location (doc_id, field, term, position), 0-based token
        positions, sorted by (doc_id, field, position, term) — local twin of
        ``SearchIndex.find_all`` (reference ``Hits`` enumeration,
        ``lib/suffix_array_reader.rb:45-72``)."""
        from .query import _hit_frames
        if not bool(self.meta.get("store_positions", True)):
            raise ValueError("index built without positions; find_all "
                             "disabled")
        qterms = _fold_terms(query, self.analyzer)
        present = sorted(set(qterms) & set(self.term_stats(qterms)))
        frames = _hit_frames(pd.DataFrame(
            {"term": pd.array([], dtype="string"),
             "field": pd.array([], dtype="int64")}), self.codec_name, None)
        if present:
            pdf = self._post_ix.read(
                present, ["bucket", "term", "field", "n", "docs", "tfs",
                          "dls", "poss"])
            frames = _hit_frames(pdf, self.codec_name, self.tombstones)
        out = pd.concat(frames, ignore_index=True)
        return out.sort_values(["doc_id", "field", "position", "term"],
                               kind="mergesort").reset_index(drop=True)

    def matching_docs(self, query: str | list[str],
                      mode: str = "OR") -> pd.DataFrame:
        """Sorted (doc_id) frame of every live doc matching the boolean
        query — local twin of ``SearchIndex.matching_docs``, same shared
        kernel (``query._matched_ids``), doc-id streams only."""
        from .query import _matched_ids
        qterms = sorted(set(_fold_terms(query, self.analyzer)))
        empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64")})
        if not qterms:
            return empty
        present = sorted(set(qterms) & set(self.term_stats(qterms)))
        if not present or (mode == "AND" and len(present) < len(qterms)):
            return empty
        pdf = self._post_ix.read(present, ["bucket", "term", "n", "docs"])
        need_all = frozenset(present) if mode == "AND" else None
        out = _matched_ids(pdf, self.codec_name, self.tombstones, need_all)
        return pd.DataFrame({"doc_id": np.sort(out)})

    # -- search -------------------------------------------------------------
    def _blocks(self, terms: list[str]) -> pd.DataFrame:
        return self._post_ix.read(list(terms), _BLOCK_COLS)

    def urls_of(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id -> url from the docs table (pyarrow dataset filter with
        row-group statistics pushdown; result sets are top-k sized)."""
        import pyarrow.dataset as ds
        import pyarrow.compute as pc
        if not doc_ids:
            return {}
        if self._docs_ds is None:
            self._docs_ds = ds.dataset(self._docs_files, format="parquet")
        t = self._docs_ds.to_table(
            columns=["doc_id", "url"],
            filter=pc.field("doc_id").isin(list(doc_ids)))
        return dict(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))

    def search(self, query: str | list[str], k: int = 10, mode: str = "AND",
               offset: int = 0, use_wand: bool = False,
               with_url: bool = False, quantize: int | None = None,
               weights: list[float] | None = None,
               exclude: str | list[str] | None = None,
               filter_terms: str | list[str] | None = None,
               filter_field: int | None = None,
               boosts: dict[str, float] | None = None,
               search_after: tuple[float, int] | None = None,
               similarity: str = "bm25", mu: float = 2000.0,
               jm_lambda: float = 0.7,
               delta: float = 1.0) -> pd.DataFrame:
        """Identical semantics and results to ``SearchIndex.search`` (same
        kernels, same (score DESC, doc_id ASC) total order); returns a
        pandas DataFrame (doc_id, score[, url]). One pass over all buckets:
        one stream per (term, field) and one kernel call, whose top-k is
        the answer — bit-identical to the distributed per-bucket top-k
        merge, since every doc lives in one bucket and sums its streams
        with global idf/avgdl in ascending (term, field) order.
        ``exclude`` mirrors the distributed reader: NOT-terms whose docs
        are dropped before top-k selection. ``filter_terms`` /
        ``filter_field`` mirror the index-side metadata filter (IN-list
        restriction before top-k, no score contribution); ``search_after``
        the O(k)-per-page cursor pagination (see SearchIndex.search)."""
        if search_after is not None and offset:
            raise ValueError("search_after and offset are mutually "
                             "exclusive (cursor pages replace offsets)")
        if similarity not in ("bm25", "classic", "lmd", "lmjm",
                              "bm25plus"):
            raise ValueError(
                "similarity must be bm25|classic|lmd|lmjm|bm25plus")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        present = [t for t in qterms if t in stats]
        if not present or (mode == "AND" and len(present) < len(qterms)):
            return _empty_result(with_url)
        xterms = _fold_terms(exclude, self.analyzer) if exclude else []
        xstats = self.term_stats(xterms) if xterms else {}
        xpresent = sorted({t for t in xterms if t in xstats})
        fterms = _fold_terms(filter_terms, self.analyzer) if filter_terms \
            else []
        fstats = self.term_stats(fterms) if fterms else {}
        fpresent = sorted({t for t in fterms if t in fstats})
        if fterms and not fpresent:
            return _empty_result(with_url)
        w = list(weights) if weights is not None else [1.0] * self.n_fields
        # boost keys run through the index analyzer, same as query terms
        # (reader parity with SearchIndex.search)
        bmap = {t: float(bv) for bt, bv in (boosts or {}).items()
                for t in _fold_terms(bt, self.analyzer)}
        if similarity == "classic":
            # explicit c*c, not **2: the SQL twin multiplies the two
            # factors, and pow(x, 2.0) is not guaranteed bit-equal to x*x
            idfs = {(t, f): w[f]
                    * _sq(1.0 + math.log(self.n_docs / (st["df"] + 1.0)))
                    * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        elif similarity in ("lmd", "lmjm"):
            idfs = {(t, f): w[f] * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        else:
            idfs = {(t, f): w[f] * idf_fn(self.n_docs, st["df"])
                    * bmap.get(t, 1.0)
                    for t in present for f, st in stats[t].items()
                    if f < len(w) and w[f] != 0.0}
        if similarity == "classic":
            sims = {tf_key: ("classic",) for tf_key in idfs}
        elif similarity == "bm25plus":
            sims = {tf_key: ("bm25plus", float(delta)) for tf_key in idfs}
        elif similarity == "lmd":
            sims = {(t, f): ("lmd", float(mu),
                             stats[t][f]["cf"]
                             / max(self.field_sumdl.get(f, 0.0), 1.0))
                    for (t, f) in idfs}
        elif similarity == "lmjm":
            sims = {(t, f): ("lmjm", float(jm_lambda),
                             stats[t][f]["cf"]
                             / max(self.field_sumdl.get(f, 0.0), 1.0))
                    for (t, f) in idfs}
        else:
            sims = None
        streams = _streams(self._blocks(
            sorted(set(present + xpresent + fpresent))))
        xset, fset = frozenset(xpresent), frozenset(fpresent)
        allowed = None
        if fset:
            fparts = [self._stream_docs(g) for (t, f), g in streams.items()
                      if t in fset
                      and (filter_field is None or f == filter_field)]
            if not fparts:
                return _empty_result(with_url)
            allowed = np.unique(np.concatenate(fparts))
        drop = self.tombstones
        xparts = [self._stream_docs(g) for (t, _), g in streams.items()
                  if t in xset]
        if xparts:
            excl = np.unique(np.concatenate(xparts))
            drop = excl if drop is None else np.union1d(drop, excl)
        by_tf = {}
        for tf_key, g in streams.items():
            if tf_key[0] in xset or tf_key not in idfs:
                continue
            tb = _term_blocks_from_pdf(
                g, idfs[tf_key], self.field_avgdl.get(tf_key[1], self.avgdl),
                self.codec_name, sim=None if sims is None else sims[tf_key])
            if drop is not None:
                tb = tb.without_docs(drop)
            if allowed is not None:
                tb = tb.keep_docs(allowed)
            if tb.total:
                by_tf[tf_key] = tb
        keys = sorted(by_tf)
        terms_here = sorted({t for t, _ in keys})
        if not keys or (mode == "AND" and len(terms_here) < len(present)):
            return _empty_result(with_url)
        qmul = float(10 ** quantize) if quantize else None
        cursor = (float(search_after[0]), int(search_after[1])) \
            if search_after is not None else None
        if mode == "AND":
            groups = [[by_tf[kk] for kk in keys if kk[0] == t]
                      for t in terms_here]
            docs, scores = score_and(groups, self.avgdl, k + offset, qmul,
                                     after=cursor)
        else:
            kernel = (score_maxscore_or if use_wand == "maxscore"
                      else score_bmw_or if use_wand
                      else score_exhaustive_or)
            docs, scores = kernel([by_tf[kk] for kk in keys], self.avgdl,
                                  k + offset, qmul, after=cursor)
        out = pd.DataFrame({"doc_id": docs[offset:],
                            "score": scores[offset:]})
        if with_url:
            u = self.urls_of([int(d) for d in out["doc_id"]])
            out = out.assign(url=np.array(
                [u.get(int(d)) for d in out["doc_id"]], dtype=object))
        return out

    def _stream_docs(self, g: pd.DataFrame) -> np.ndarray:
        """Sorted doc ids of one (term, field) stream."""
        return _term_blocks_from_pdf(g, 0.0, self.avgdl,
                                     self.codec_name).decode_all()[0]

    def _positions(self, streams: dict) -> dict[int, dict[str, dict]]:
        """field -> term -> decoded postings with positions: one bulk
        decode per (field, term) over every bucket's and chunk's blocks."""
        from .query import _decode_with_positions
        out: dict[int, dict[str, dict]] = {}
        for (t, f), g in streams.items():
            out.setdefault(f, {})[t] = _decode_with_positions(
                g, self.codec_name)
        return out

    def _phrase_variants(self, phrase: str,
                         max_expansions: int | None = None) -> list[list[str]]:
        from .query import _phrase_variants_for
        return _phrase_variants_for(self.analyzer, self.expand_prefix,
                                    phrase, max_expansions)

    def count_prefix(self, prefix: str) -> int:
        """Exact, uncapped occurrence count of tokens starting with
        ``prefix`` — sums cf over the terms-table row groups in range
        (local twin of ``SearchIndex.count_prefix``)."""
        p = ascii_fold(prefix)
        if not p:
            return 0
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        t = self._terms_ix.read_range(p, hi, ["term", "cf"])
        if not len(t):
            return 0
        keep = t["term"].astype(str).str.startswith(p)
        return int(t.loc[keep, "cf"].sum())

    def _phrase_match_rows(self, variants: list[list[str]],
                           max_end: int | None = None,
                           exclude: list[str] | None = None,
                           pre: int = 0, post: int = 0
                           ) -> pd.DataFrame | None:
        """(doc_id, field, tf, dl) matches of ANY variant, tf summed — the
        local twin of ``SearchIndex._phrase_matches`` (span constraints
        included: same shared kernel)."""
        from .query import _variants_match_rows
        if not bool(self.meta.get("store_positions", True)):
            raise ValueError("index built without positions; phrase disabled")
        variants = [v for v in variants if v]
        stats = self.term_stats(sorted({t for v in variants for t in v}))
        variants = [v for v in variants if all(t in stats for t in v)]
        if not variants:
            return None
        uniq = sorted({t for v in variants for t in v}
                      | set(exclude or []))
        return self._field_rows(uniq, lambda data: _variants_match_rows(
            data, variants, self.tombstones, max_end=max_end,
            exclude=exclude, pre=pre, post=post))

    def _field_rows(self, terms: list[str], match) -> pd.DataFrame | None:
        """(doc_id, field, tf, dl): ``match`` applied to each field's
        decoded positions of ``terms``, over all buckets at once."""
        by_field = self._positions(_streams(
            self._post_ix.read(terms, _POS_COLS)))
        frames = [m.assign(field=np.int32(fid)) for fid in sorted(by_field)
                  if (m := match(by_field[fid])) is not None]
        if not frames:
            return None
        return pd.concat(frames, ignore_index=True)[
            ["doc_id", "field", "tf", "dl"]]

    def count_phrase(self, phrase: str, prefix: bool = False,
                     max_expansions: int = 256) -> int:
        """Local twin of ``SearchIndex.count_phrase`` (reference count_hits
        suffix semantics; tombstone-consistent, single-token prefix counts
        always exact and uncapped — see the distributed docstring)."""
        live = self.tombstones is not None
        from .query import _phrase_count_cap
        cap = _phrase_count_cap(self.analyzer, phrase, prefix, live,
                                max_expansions)
        variants = self._phrase_variants(phrase, cap)
        if variants and all(len(v) == 1 for v in variants) and not live:
            if prefix:
                tok, _ = ANALYZERS[self.analyzer]
                last = [ascii_fold(t) for t in tok(ascii_fold(phrase))][-1]
                return self.count_prefix(last)
            st = self.term_stats([v[0] for v in variants])
            return sum(f["cf"] for d in st.values() for f in d.values())
        m = self._phrase_match_rows(variants)
        return 0 if m is None else int(m["tf"].sum())

    def search_phrase(self, phrase: str, k: int = 10, offset: int = 0,
                      quantize: int | None = None,
                      weights: list[float] | None = None) -> pd.DataFrame:
        """Consecutive-token phrase over positions — identical semantics to
        ``SearchIndex.search_phrase`` (phrase scored as a pseudo-term with
        per-field df/idf; a phrase never crosses a field boundary), answered
        from local row-group-pruned reads."""
        m = self._phrase_match_rows(self._phrase_variants(phrase))
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_phrase_prefix(self, phrase: str, k: int = 10, offset: int = 0,
                             max_expansions: int = 16,
                             quantize: int | None = None,
                             weights: list[float] | None = None
                             ) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_phrase_prefix``."""
        m = self._phrase_match_rows(
            self._phrase_variants(phrase, max_expansions))
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_phrases_any(self, phrases: list[str], k: int = 10,
                           offset: int = 0, quantize: int | None = None,
                           weights: list[float] | None = None
                           ) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_phrases_any`` (SpanOr over
        phrase clauses)."""
        variants = []
        for p in phrases:
            variants.extend(self._phrase_variants(p))
        if not variants:
            return _empty_result()
        m = self._phrase_match_rows(variants)
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_span_first(self, phrase: str, max_end: int, k: int = 10,
                          offset: int = 0, quantize: int | None = None,
                          weights: list[float] | None = None
                          ) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_span_first`` (same span
        kernel, identical results)."""
        if max_end <= 0:
            raise ValueError("max_end must be positive")
        m = self._phrase_match_rows(self._phrase_variants(phrase),
                                    max_end=int(max_end))
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_span_not(self, phrase: str, exclude: str | list[str],
                        k: int = 10, pre: int = 0, post: int = 0,
                        offset: int = 0, quantize: int | None = None,
                        weights: list[float] | None = None) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_span_not``."""
        from .analysis import ANALYZERS, ascii_fold
        if pre < 0 or post < 0:
            raise ValueError("pre/post must be >= 0")
        tok, _ = ANALYZERS[self.analyzer]
        parts = [exclude] if isinstance(exclude, str) else list(exclude)
        ex = sorted({ascii_fold(t) for p in parts for t in tok(p)})
        if not ex:
            raise ValueError("empty exclude terms")
        m = self._phrase_match_rows(self._phrase_variants(phrase),
                                    exclude=ex, pre=int(pre),
                                    post=int(post))
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def _spanor_variants(self, q) -> list[list[str]]:
        parts = [q] if isinstance(q, str) else [p for p in q if p]
        out: list[list[str]] = []
        for p in parts:
            out.extend(self._phrase_variants(p))
        return out

    def _enclosure_match_rows(self, keeps: list[list[str]],
                              others: list[list[str]],
                              mode: str) -> pd.DataFrame | None:
        """Local twin of ``SearchIndex._enclosure_matches`` (same shared
        ``_variants_enclosure_rows`` kernel, identical results)."""
        from .query import _variants_enclosure_rows
        if not bool(self.meta.get("store_positions", True)):
            raise ValueError("index built without positions; span "
                             "queries disabled")
        keeps = [v for v in keeps if v]
        others = [v for v in others if v]
        stats = self.term_stats(sorted({t for v in keeps + others
                                        for t in v}))
        keeps = [v for v in keeps if all(t in stats for t in v)]
        others = [v for v in others if all(t in stats for t in v)]
        if not keeps or not others:
            return None
        uniq = sorted({t for v in keeps + others for t in v})
        return self._field_rows(uniq, lambda data: _variants_enclosure_rows(
            data, keeps, others, self.tombstones, mode))

    def search_span_within(self, little, big, k: int = 10,
                           offset: int = 0, quantize: int | None = None,
                           weights: list[float] | None = None
                           ) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_span_within``."""
        m = self._enclosure_match_rows(self._spanor_variants(little),
                                       self._spanor_variants(big),
                                       "within")
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_span_containing(self, big, little, k: int = 10,
                               offset: int = 0, quantize: int | None = None,
                               weights: list[float] | None = None
                               ) -> pd.DataFrame:
        """Local twin of ``SearchIndex.search_span_containing``."""
        m = self._enclosure_match_rows(self._spanor_variants(big),
                                       self._spanor_variants(little),
                                       "containing")
        if m is None:
            return _empty_result()
        return self._score_phrase_rows(m, k, offset, quantize, weights)

    def search_near(self, query: str | list[str], slop: int, k: int = 10,
                    offset: int = 0, quantize: int | None = None,
                    weights: list[float] | None = None) -> pd.DataFrame:
        """Proximity (SLOP) search — local twin of
        ``SearchIndex.search_near``: same shared window kernel
        (``query._near_match_docs``), same restricted conjunctive BM25
        (``TermBlocks.keep_docs`` + ``score_and``), identical results."""
        from .query import _near_match_docs
        if not bool(self.meta.get("store_positions", True)):
            raise ValueError("index built without positions; proximity "
                             "search disabled")
        qterms = _fold_terms(query, self.analyzer)
        stats = self.term_stats(qterms)
        if not qterms or any(t not in stats for t in qterms):
            return _empty_result()
        uniq = list(qterms)
        w = list(weights) if weights is not None else [1.0] * self.n_fields
        idfs = {(t, f): w[f] * idf_fn(self.n_docs, st["df"])
                for t in uniq for f, st in stats[t].items()
                if f < len(w) and w[f] != 0.0}
        streams = _streams(self._post_ix.read(uniq, _BLOCK_COLS + ["poss"]))
        allowed = []
        for data in self._positions(streams).values():
            if all(t in data for t in uniq):
                m = _near_match_docs(data, uniq, int(slop), self.tombstones)
                if m.size:
                    allowed.append(m)
        if not allowed:
            return _empty_result()
        keep = np.unique(np.concatenate(allowed))
        by_tf = {kk: _term_blocks_from_pdf(
                    g, idfs[kk], self.field_avgdl.get(kk[1], self.avgdl),
                    self.codec_name).keep_docs(keep)
                 for kk, g in streams.items() if kk in idfs}
        keys = sorted(kk for kk, tb in by_tf.items() if tb.total)
        terms_here = sorted({t for t, _ in keys})
        if len(terms_here) < len(uniq):
            return _empty_result()
        qmul = float(10 ** quantize) if quantize else None
        docs, scores = score_and(
            [[by_tf[kk] for kk in keys if kk[0] == t] for t in terms_here],
            self.avgdl, k + offset, qmul)
        return pd.DataFrame({"doc_id": docs[offset:],
                             "score": scores[offset:]})

    def _score_phrase_rows(self, m: pd.DataFrame, k: int, offset: int,
                           quantize: int | None = None,
                           weights: list[float] | None = None) -> pd.DataFrame:
        w = list(weights) if weights is not None else None
        if w is not None:
            keep = m["field"].map(
                lambda f: int(f) < len(w) and w[int(f)] != 0.0)
            m = m[keep.to_numpy()]
            if not len(m):
                return _empty_result()
        m = m.sort_values(["doc_id", "field"], kind="mergesort")
        k1, b = 1.2, 0.75
        score = np.zeros(len(m), dtype=np.float64)
        tf = m["tf"].to_numpy(np.float64)
        dl = m["dl"].to_numpy(np.float64)
        for f, g in m.groupby("field"):
            dfp = int(len(g))
            iv = idf_fn(self.n_docs, dfp)
            if w is not None:
                iv = w[int(f)] * iv
            ad = self.field_avgdl.get(int(f), self.avgdl)
            sel = (m["field"] == f).to_numpy()
            norm = (1.0 - b) + (b * dl[sel] / ad if ad > 0 else 0.0)
            # same parenthesization as the Spark path and the oracle
            score[sel] = iv * (tf[sel] * (k1 + 1.0) / (tf[sel] + k1 * norm))
        m = m.assign(score=score)
        out = m.groupby("doc_id", as_index=False)["score"].sum()
        if quantize:
            qm = float(10 ** quantize)
            out = out.assign(score=np.floor(out["score"].to_numpy() * qm) / qm)
        out = out.sort_values(["score", "doc_id"], ascending=[False, True],
                              kind="mergesort").head(k + offset)
        return out.iloc[offset:][["doc_id", "score"]].reset_index(drop=True)

    def expand_prefix(self, prefix: str,
                      max_terms: int | None = 256) -> list[str]:
        p = ascii_fold(prefix)
        if not p:
            return []
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        t = self._terms_ix.read_range(p, hi, ["term"])
        terms = sorted({x for x in t["term"] if x.startswith(p)})
        return terms if max_terms is None else terms[:max_terms]

    def search_prefix(self, prefix: str, k: int = 10, max_terms: int = 256,
                      quantize: int | None = None) -> pd.DataFrame:
        terms = self.expand_prefix(prefix, max_terms)
        if not terms:
            return _empty_result()
        return self.search(terms, k=k, mode="OR", quantize=quantize)

    def expand_fuzzy(self, term: str, max_edit: int = 1,
                     max_terms: int = 256) -> list[str]:
        """Dictionary terms within Levenshtein distance ``max_edit`` (1 or
        2) of ``term`` — reader-parity twin of ``suggest.expand_fuzzy``.
        An edit anywhere in the term defeats the sorted-term skip index (a
        substitution at position 0 lands anywhere in the dictionary), so
        this reads the term column of the compact serving copy once —
        driver-local by design, same budget class as the reader's other
        dictionary scans — then length-window prunes and exact-verifies
        the sliver. Same ``max_terms`` cap order as the distributed path
        (distance ASC, df DESC, term ASC)."""
        if max_edit not in (1, 2):
            raise ValueError("expand_fuzzy supports max_edit in (1, 2)")
        q = ascii_fold(term)
        if not q:
            return []
        best = self._fuzzy_probe(q, max_edit)
        if best is None:
            # no persisted banded dictionary: scan the term column once,
            # length-window prune, exact-verify the sliver
            t = self._terms_ix.read_range("", "\U0010ffff", ["term", "df"])
            best = {}
            for s, df in zip(t["term"], t["df"]):
                if abs(len(s) - len(q)) > max_edit:
                    continue
                d = _lev_banded(q, s, max_edit)
                if d > max_edit:
                    continue
                cur = best.get(s)
                if cur is None or int(df) > cur[1]:
                    best[s] = (d, int(df))
        ordered = sorted(best.items(),
                         key=lambda x: (x[1][0], -x[1][1], x[0]))
        return sorted(s for s, _ in ordered[:max_terms])

    def _fuzzy_probe(self, q: str,
                     max_edit: int) -> dict[str, tuple[int, int]] | None:
        """term -> (dist, df) via the persisted banded dictionary
        (``suggest.write_fuzzy_variants``), or None when absent / built too
        shallow / reading a pinned snapshot (the variants table tracks the
        CURRENT dictionary). Touches only the row groups covering the
        query's own deletion variants (``_RGIndex`` min/max pruning over
        the variant-sorted files) — O(query variants), not O(vocab)."""
        if self._paths is not None:
            return None
        if self._fuzzy_local is None:
            import pyarrow.parquet as pq
            metas = sorted(glob.glob(os.path.join(
                self.index_dir, "fuzzy_meta", "*.parquet")))
            vdir = os.path.join(self.index_dir, "fuzzy_variants")
            if metas and glob.glob(os.path.join(vdir, "**", "*.parquet"),
                                   recursive=True):
                m = pq.read_table(metas[-1]).to_pandas().iloc[0]
                self._fuzzy_local = (_RGIndex(vdir, "variant"),
                                     int(m["depth"]))
            else:
                self._fuzzy_local = (None, 0)
        ix, depth = self._fuzzy_local
        # dictionary side banded at >= max_edit + query side banded at
        # exactly max_edit => complete for distance <= max_edit (SymSpell);
        # a shallower table cannot serve this request
        if ix is None or depth < max_edit:
            return None
        from .suggest import deletion_variants
        qvars = deletion_variants(q, depth=max_edit)
        t = ix.read(qvars, ["variant", "term", "df"])
        best: dict[str, tuple[int, int]] = {}
        for s, df in zip(t["term"], t["df"]):
            if abs(len(s) - len(q)) > max_edit:
                continue
            if s in best:       # stored rows are unique per (variant, term)
                continue        # with max-df dedup already applied
            d = _lev_banded(q, s, max_edit)
            if d <= max_edit:
                best[s] = (d, int(df))
        return best


def _within_edit1(a: str, b: str) -> bool:
    """Exact Levenshtein(a, b) <= 1 without the full DP (equal, one
    substitution, or one insert/delete)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la = b, a, lb
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def _lev_banded(a: str, b: str, d: int) -> int:
    """Levenshtein(a, b), exact up to ``d`` (returns d+1 beyond): banded
    DP — only the 2d+1 diagonal band is computed, O(len * d)."""
    if a == b:
        return 0
    if d == 1:
        return 1 if _within_edit1(a, b) else 2
    la, lb = len(a), len(b)
    if abs(la - lb) > d:
        return d + 1
    big = d + 1
    prev = [j if j <= d else big for j in range(lb + 1)]
    for i in range(1, la + 1):
        jlo, jhi = max(1, i - d), min(lb, i + d)
        cur = [big] * (lb + 1)
        if i - d <= 0:
            cur[jlo - 1] = i if i <= d else big
        for j in range(jlo, jhi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
        if min(prev[jlo - 1:jhi + 1]) > d:
            return big
    return prev[lb] if prev[lb] <= d else big


_BLOCK_COLS = ["term", "field", "n", "first_doc", "last_doc", "max_tf",
               "min_dl", "docs", "tfs", "dls"]
_POS_COLS = ["term", "field", "n", "docs", "tfs", "dls", "poss"]


def _streams(pdf: pd.DataFrame) -> dict[tuple[str, int], pd.DataFrame]:
    """(term, field) -> that stream's block rows from every bucket and
    chunk, in ascending (term, field) order. Every doc lives in exactly one
    bucket and scores use global idf/avgdl, so one stream over all buckets
    answers exactly what a per-bucket pass would."""
    return {(t, int(f)): g
            for (t, f), g in pdf.groupby(["term", "field"], sort=True)}


def _empty_result(with_url: bool = False) -> pd.DataFrame:
    out = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                        "score": pd.array([], dtype="float64")})
    return out.assign(url=np.array([], dtype=object)) if with_url else out
