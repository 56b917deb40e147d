"""The seeded query generator: same seed, same ops; another seed, other
terms in the same proportions."""

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import queries  # noqa: E402

GENERATORS = (queries.head_ops, queries.tail_ops)


def _shape(ops):
    return Counter((op.kind, len(op.terms), op.mode, op.with_url)
                   for op in ops)


def test_same_seed_same_ops_and_order():
    for gen in GENERATORS:
        a, b = gen(7), gen(7)
        assert a == b
        assert queries.digest(a) == queries.digest(b)
        assert list(queries.schedule(a, 7)) == list(queries.schedule(b, 7))


def test_other_seed_other_terms_same_mix():
    for gen in GENERATORS:
        a, b = gen(1), gen(2)
        assert queries.digest(a) != queries.digest(b)
        sa, sb = _shape(a), _shape(b)
        # distinct-op dedup may drop a colliding draw or two
        assert sum((sa - sb).values()) <= 3, (sa, sb)


def test_ops_are_distinct():
    for gen in GENERATORS:
        for seed in range(5):
            ops = gen(seed)
            keys = [(op.kind, tuple(sorted(t.lower() for t in op.terms)),
                     op.mode, op.with_url) for op in ops]
            assert len(keys) == len(set(keys))


def test_head_ops_carry_a_head_term_and_mid_terms():
    head = {str(t) for t in queries._TERMS[slice(*queries.HEAD)]}
    mid = {str(t) for t in queries._TERMS[slice(*queries.MID)]}
    for op in queries.head_ops(3):
        if op.kind == "search":
            assert op.terms[0] in head
            assert all(t in mid for t in op.terms[1:])
        else:
            assert op.kind == "phrase" and all(t in mid for t in op.terms)


def test_tail_prefixes_expand_to_a_bounded_vocabulary_slice():
    vocab = [str(t) for t in queries._TERMS]
    for op in queries.tail_ops(4):
        if op.kind == "prefix":
            n = sum(t.startswith(op.terms[0]) for t in vocab)
            assert 2 <= n <= 16, (op, n)


def test_stratified_ranks_cover_the_band():
    import numpy as np
    rng = np.random.default_rng(0)
    r = queries._ranks(rng, (100, 1100), 10, log=False)
    # one draw per stratum of 100 ranks
    assert sorted(r // 100) == list(range(1, 11))
