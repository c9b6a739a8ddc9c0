"""Winnowing fingerprints (functions/text.py, and the registry's
``winnow_fp_kernel``) + shared-fingerprint pair candidates: pure-Python
reference parity and the MOSS coverage guarantee (any shared w+k-1-word run
=> a shared fingerprint)."""

import random

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions.text import winnow_fingerprints
from fs2_data_spark.functions.textkernels import winnow_fp_kernel

K, W = 3, 4


def _word_hash(w):
    h = 0
    for c in w:
        h = (h * 31 + ord(c)) % 1_000_003
    return h


def _ref_fp(text, k=K, w=W):
    wh = [_word_hash(x) for x in text.split(" ") if x != ""]
    if len(wh) < k:
        return []
    sh = []
    for i in range(len(wh) - k + 1):
        acc = 0
        for j in range(k):
            acc = acc * 1_000_003 + wh[i + j]
        sh.append(acc)
    if len(sh) < w:
        return sorted({min(sh)}) if sh else []
    return sorted({min(sh[i:i + w]) for i in range(len(sh) - w + 1)})


def _words(rng, n, vocab=50):
    return " ".join(f"w{rng.randrange(vocab)}" for _ in range(n))


def test_winnow_matches_reference(spark):
    rng = random.Random(17)
    rows = [(i, _words(rng, rng.randrange(0, 25))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: list(r.fp) for r in df.select(
        "doc_id", winnow_fingerprints("text", K, W).alias("fp")).collect()}
    assert got == {i: _ref_fp(t) for i, t in rows}


def test_winnow_coverage_guarantee(spark):
    """Plant the same (w + k - 1)-word run inside two otherwise unrelated
    documents: they MUST share at least one fingerprint — the paper's
    detection guarantee, which MinHash banding does not give."""
    rng = random.Random(23)
    run = _words(rng, W + K - 1, vocab=7)  # 6 shared words
    for trial in range(20):
        a = _words(rng, rng.randrange(0, 30)) + " " + run + " " + \
            _words(rng, rng.randrange(0, 30))
        b = _words(rng, rng.randrange(0, 30)) + " " + run + " " + \
            _words(rng, rng.randrange(0, 30))
        fa, fb = set(_ref_fp(a.strip())), set(_ref_fp(b.strip()))
        assert fa & fb, (trial, a, b)


def test_winnow_edges(spark):
    rows = [(0, ""), (1, "a b"), (2, "a b c"), (3, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: list(r.fp) for r in df.select(
        "doc_id", winnow_fingerprints("text", K, W).alias("fp")).collect()}
    assert got[0] == [] and got[1] == []          # fewer than k words
    assert got[2] == _ref_fp("a b c")             # 1 shingle < w: its min
    assert got[3] == _ref_fp("a b c d e")         # 3 shingles < w window
    assert len(got[2]) == 1 and len(got[3]) == 1


def _shared_pairs(spark, rows, min_shared):
    """``{(id1, id2): n_shared}`` for the document pairs whose
    ``winnow_fp_kernel`` fingerprints share at least ``min_shared``."""
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = {r.doc_id: set(r.fp)
          for r in winnow_fp_kernel(df, "doc_id", "text", K, W).collect()}
    shared = {(a, b): len(fp[a] & fp[b]) for a in fp for b in fp if a < b}
    return {p: n for p, n in shared.items() if n >= min_shared}


def test_winnow_pairs_detects_planted_overlap(spark):
    rng = random.Random(29)
    run = _words(rng, 12, vocab=9)
    rows = [(0, (_words(rng, 20) + " " + run).strip()),
            (1, (run + " " + _words(rng, 20)).strip())] + \
           [(i, _words(rng, 25, vocab=200)) for i in range(2, 30)]
    pairs = _shared_pairs(spark, rows, min_shared=2)
    assert (0, 1) in pairs
    # unrelated docs over a 200-word vocab shouldn't flood the candidates
    assert len(pairs) < 30


def test_winnow_pairs_min_shared_filter(spark):
    rows = [(0, "p q r s t u"), (1, "p q r s t u"), (2, "x y z x y z x")]
    got = _shared_pairs(spark, rows, min_shared=1)
    assert (0, 1) in got and got[(0, 1)] >= 1
    assert all(2 not in p for p in got)
