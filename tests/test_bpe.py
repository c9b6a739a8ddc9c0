"""BPE merge learning: the Arrow kernel and the fold expression vs a
pure-Python reference, greedy-overlap laws on the flat kernel, merge-chain
application."""

import random
from collections import Counter

import numpy as np
import pytest

from fs2_data_spark.operators.bpe import (
    _merge_flat,
    apply_merges_arrow,
    bpe_learn,
    pair_counts,
)

# --- pure-Python reference (scan-with-skip greedy, the textbook rule) ------


def _ref_pair_counts(rows):
    c = Counter()
    for t in rows:
        for x, y in zip(t, t[1:]):
            c[(x, y)] += 1
    return c


def _ref_merge(t, a, b, z):
    out, i = [], 0
    while i < len(t):
        if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
            out.append(z)
            i += 2
        else:
            out.append(t[i])
            i += 1
    return out


def _ref_learn(rows, n_merges, base):
    rows = [list(t) for t in rows]
    table = []
    for r in range(n_merges):
        c = _ref_pair_counts(rows)
        if not c:
            break
        (a, b), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        z = base + r
        table.append((r, a, b, z, cnt))
        rows = [_ref_merge(t, a, b, z) for t in rows]
    return table, rows


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, list(t)) for i, t in enumerate(rows)],
        "doc_id int, tokens array<int>")


# --- flat kernel laws ------------------------------------------------------


def _flat(rows):
    lens = [len(t) for t in rows]
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    vals = np.array([x for t in rows for x in t], dtype=np.int64)
    return vals, offs


def _unflat(vals, lens):
    out, p = [], 0
    for n in lens:
        out.append(list(vals[p:p + n]))
        p += n
    return out


@pytest.mark.parametrize("rows,a,b,exp", [
    ([[7, 7, 7]], 7, 7, [[9, 7]]),            # greedy: leftmost wins the run
    ([[7, 7, 7, 7]], 7, 7, [[9, 9]]),         # even run: two merges
    ([[1, 2, 1, 2]], 1, 2, [[9, 9]]),         # a != b adjacent matches
    ([[1, 2, 2]], 1, 2, [[9, 2]]),
    ([[1], [2]], 1, 2, [[1], [2]]),           # pair must not straddle rows
    ([[], [1, 2], []], 1, 2, [[], [9], []]),  # empties preserved
    ([[3, 4]], 1, 2, [[3, 4]]),               # no match: identity
])
def test_merge_flat_cases(rows, a, b, exp):
    vals, offs = _flat(rows)
    nv, nl = _merge_flat(vals, offs, a, b, 9)
    assert _unflat(nv, nl) == exp


def test_merge_flat_matches_reference_randomized():
    rng = random.Random(3)
    for trial in range(200):
        rows = [[rng.randrange(4) for _ in range(rng.randrange(0, 15))]
                for _ in range(rng.randrange(1, 6))]
        a, b = rng.randrange(4), rng.randrange(4)
        vals, offs = _flat(rows)
        nv, nl = _merge_flat(vals, offs, a, b, 99)
        assert _unflat(nv, nl) == [_ref_merge(t, a, b, 99) for t in rows], \
            (trial, rows, a, b)


# --- Spark paths vs reference ----------------------------------------------


def _rand_corpus(seed, nrows=25, vocab=4, maxlen=14):
    rng = random.Random(seed)
    return [[rng.randrange(vocab) for _ in range(rng.randrange(0, maxlen))]
            for _ in range(nrows)]


def test_pair_counts_matches_reference(spark):
    rows = _rand_corpus(5)
    got = {(r.a, r.b): r.cnt
           for r in pair_counts(_mk(spark, rows)).collect()}
    assert got == dict(_ref_pair_counts(rows))


def test_apply_merges_arrow_chain(spark):
    """A merge chain applies in order — later merges see earlier new ids."""
    rows = _rand_corpus(7)
    merges = [(1, 2, 50), (50, 3, 51), (0, 0, 52)]
    out = apply_merges_arrow(_mk(spark, rows), merges)
    got = {r.doc_id: list(r.tokens) for r in out.collect()}
    exp = {}
    for i, t in enumerate(rows):
        for a, b, z in merges:
            t = _ref_merge(t, a, b, z)
        exp[i] = t
    assert got == exp


def test_bpe_learn_matches_reference(spark):
    rows = _rand_corpus(8, nrows=30, vocab=3)
    base = max((max(t) for t in rows if t), default=0) + 1
    exp_table, exp_rows = _ref_learn(rows, 5, base)
    table, final = bpe_learn(_mk(spark, rows), n_merges=5)
    assert table == exp_table
    got = {r.doc_id: list(r.tokens) for r in final.collect()}
    assert got == {i: t for i, t in enumerate(exp_rows)}


def test_bpe_learn_early_stop(spark):
    """Corpus with no adjacent pairs: zero merges, corpus unchanged."""
    rows = [[1], [], [2]]
    table, final = bpe_learn(_mk(spark, rows), n_merges=3)
    assert table == []
    assert {r.doc_id: list(r.tokens) for r in final.collect()} == \
        {0: [1], 1: [], 2: [2]}

