"""Seeded query generator for the benchmark workloads.

Queries come from the Zipf rank bands of the corpus vocabulary
(``fatespark.corpus.build_vocab``), never from program output, so both sides
of a comparison run the same inputs. Each workload draws many distinct ops
with fixed class proportions and stratified ranks inside each band: a seed
changes which terms are asked, not how the latency distribution is shaped,
so the median does not sit on a boundary between a few query classes.
"""

from __future__ import annotations

import hashlib
import json
from typing import NamedTuple

import numpy as np

from fatespark.corpus import VOCAB_SIZE, build_vocab

# [lo, hi) indices into the rank-ordered vocabulary (index 0 = rank 1).
# Document frequencies quoted for a 12k-page corpus.
HEAD = (0, 50)           # df ~2.4k .. all docs
MID = (50, 1000)         # df ~110 .. 2.4k
MID_TAIL = (1000, 3000)  # df ~35 .. 110
TAIL = (3000, VOCAB_SIZE)  # df ~10 .. 35

_TERMS = build_vocab()[0]
# search mode -> (LocalSearchIndex.search mode, use_wand)
MODES = {"or": ("OR", False), "and": ("AND", False), "wand": ("OR", True),
         "maxscore": ("OR", "maxscore")}


class Op(NamedTuple):
    """One serving call. ``kind`` is search | phrase | prefix | count;
    ``mode`` is one of ``MODES``' keys for searches."""
    kind: str
    terms: tuple
    mode: str = "or"
    with_url: bool = False


def _ranks(rng: np.random.Generator, band: tuple[int, int], n: int,
           log: bool) -> np.ndarray:
    """``n`` vocabulary indices in ``band``, one per stratum of equal width
    (in log-rank if ``log``), in seeded order."""
    lo, hi = band
    u = (rng.permutation(n) + rng.random(n)) / n
    if log:
        r = np.floor(np.exp(np.log(lo + 1) + u * np.log((hi + 1) / (lo + 1))))
    else:
        r = np.floor(lo + 1 + u * (hi - lo))
    return np.clip(r.astype(np.int64) - 1, lo, hi - 1)


def _terms(rng, band, n, log=False) -> list[str]:
    return [str(_TERMS[i]) for i in _ranks(rng, band, n, log)]


def _zero_hit(rng, n) -> list[str]:
    # never in the vocabulary: the corpus cannot contain them
    return [f"zq{int(x):08x}" for x in rng.integers(0, 2**32, n)]


def _distinct(ops: list[Op]) -> list[Op]:
    seen, out = set(), []
    for op in ops:
        key = (op.kind, tuple(sorted(t.lower() for t in op.terms)), op.mode,
               op.with_url)
        if key not in seen:
            seen.add(key)
            out.append(op)
    return out


def head_ops(seed: int, per_class: int = 10) -> list[Op]:
    """Top-10 searches of one head-band term plus up to two mid-band terms,
    in every mode (exhaustive OR, AND, block-max WAND, MaxScore), and a
    minority of 2-term mid-band phrases."""
    rng = np.random.default_rng([seed, 1])
    ops = []
    for mode in MODES:
        for arity in (1, 2, 3):
            heads = _terms(rng, HEAD, per_class)
            mids = [_terms(rng, MID, per_class, log=True)
                    for _ in range(arity - 1)]
            for i in range(per_class):
                ops.append(Op("search", (heads[i], *(m[i] for m in mids)),
                              mode))
    a, b = (_terms(rng, MID, 2 * per_class, log=True) for _ in range(2))
    ops += [Op("phrase", (x, y)) for x, y in zip(a, b)]
    return _distinct(ops)


def tail_ops(seed: int, per_class: int = 10) -> list[Op]:
    """Counts, 1-2-term top-10 searches (a third fetching urls) and prefix
    searches over mid-tail, tail and zero-hit terms. Prefixes are a term's
    first eight characters, so each expands to at most 10 vocabulary terms.
    """
    rng = np.random.default_rng([seed, 2])
    ops = []
    for band in (MID_TAIL, TAIL):
        ops += [Op("count", (t,)) for t in _terms(rng, band, per_class)]
        for i, t in enumerate(_terms(rng, band, 2 * per_class)):
            ops.append(Op("search", (t,), "or", with_url=i % 3 == 0))
        pairs = zip(_terms(rng, band, 2 * per_class),
                    _terms(rng, (MID_TAIL[0], TAIL[1]), 2 * per_class))
        for i, (x, y) in enumerate(pairs):
            ops.append(Op("search", (x, y), "and" if i % 2 else "or",
                          with_url=i % 3 == 0))
        ops += [Op("prefix", (t[:8],))
                for t in _terms(rng, band, per_class)
                if t.startswith("term")]
    ops += [Op("count", (t,)) for t in _zero_hit(rng, per_class)]
    ops += [Op("search", (t,)) for t in _zero_hit(rng, per_class)]
    return _distinct(ops)


def schedule(ops: list[Op], seed: int) -> np.ndarray:
    """Seeded order in which the timed loop visits the distinct ops."""
    return np.random.default_rng([seed, 3]).permutation(len(ops))


def digest(ops: list[Op]) -> str:
    """sha256 of the distinct-op list: equal digests mean equal inputs."""
    blob = json.dumps([list(op) for op in ops], ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()
