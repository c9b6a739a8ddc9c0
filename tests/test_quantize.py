"""Int8 quantization + integer-exact quantized ANN (operators/quantize.py).

Load-bearing properties pinned here:

- codes reproduce a pure-Python reference exactly (same IEEE expression);
- constant dimensions map to code 0 instead of dividing by zero (the
  Spark 4 ANSI abort class the adversarial embeddings sweep hunts);
- integer squared-L2 equals the Python integer computation exactly — no
  tolerance anywhere;
- top-k equals brute force in the quantized space and is invariant under
  repartitioning;
- reconstruction error is bounded by half a quantization step.
"""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from fs2_data_spark.operators.quantize import (
    corpus_dim_stats,
    quantize,
    quantized_topk,
)

DIM = 8


def _vecs(n, seed=3):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        v = [round(rng.uniform(-2, 2), 3) for _ in range(DIM)]
        v[5] = 0.25  # constant dimension across the corpus
        out.append((i, v))
    return out


def _py_quantize(rows):
    mn = [min(r[1][j] for r in rows) for j in range(DIM)]
    mx = [max(r[1][j] for r in rows) for j in range(DIM)]

    def code(x, lo, hi):
        if hi <= lo:
            return 0
        t = (x - lo) * 255.0 / (hi - lo)
        f = math.floor(t)
        return int(f + 1) if t - f >= 0.5 else int(f)  # half away from zero

    return {r[0]: [code(r[1][j], mn[j], mx[j]) for j in range(DIM)]
            for r in rows}


@pytest.fixture(scope="module")
def coded(spark):
    rows = _vecs(40)
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    return rows, quantize(df, "v", DIM)


def test_codes_match_python_reference(coded):
    rows, qdf = coded
    got = {r.id: list(r.q) for r in qdf.collect()}
    assert got == _py_quantize(rows)


def test_codes_in_range_constant_dim_zero(coded):
    _, qdf = coded
    for r in qdf.collect():
        assert all(0 <= c <= 255 for c in r.q)
        assert r.q[5] == 0  # constant dimension


def test_int_l2_sq_exact(spark, coded):
    """Every pair's squared L2 from the top-k kernel (k = all neighbours)
    equals the Python integer computation over the reference codes."""
    rows, _ = coded
    codes = _py_quantize(rows)
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    pairs = quantized_topk(df, F.lit(True), id_col="id", vec_col="v",
                           dim=DIM, k=len(rows)).collect()
    assert len(pairs) == len(rows) * (len(rows) - 1)
    for r in pairs:
        ref = sum((x - y) ** 2
                  for x, y in zip(codes[r.q_vec_id], codes[r.n_vec_id]))
        assert r.dist_sq == ref


@pytest.mark.parametrize("query_id", [0, 3], ids=["corpus", "query"])
def test_null_vector_raises(spark, query_id):
    """Row 3's NULL vector has NULL codes and no distance: it raises on
    either side instead of ranking as the all-minimum vector."""
    rows = [(i, None if i == 3 else v) for i, v in _vecs(12)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    with pytest.raises(Exception, match="NULL vector"):
        quantized_topk(df, F.col("id") == query_id, id_col="id", vec_col="v",
                       dim=DIM, k=len(rows)).collect()


def test_topk_matches_bruteforce_and_partition_invariant(spark):
    rows = _vecs(60, seed=9)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id bigint, embedding array<float>, label int")
    codes = _py_quantize(
        [(i, [float(F2) for F2 in v]) for i, v in rows])

    def brute(qid, k=3):
        ds = sorted((sum((a - b) ** 2 for a, b in zip(codes[qid], codes[j])),
                     j) for j in codes if j != qid)
        return [(qid, j, d) for d, j in ds[:k]]

    expect = sorted(sum((brute(q) for q in codes if q % 20 == 0), []))
    for nparts in (1, 7):
        got = sorted(
            (r.q_vec_id, r.n_vec_id, r.dist_sq)
            for r in quantized_topk(df.repartition(nparts),
                                    F.col("vec_id") % 20 == 0,
                                    dim=DIM, k=3).collect())
        assert got == expect


def test_dequantize_error_bounded(spark, coded):
    rows, qdf = coded
    mn = [min(r[1][j] for r in rows) for j in range(DIM)]
    mx = [max(r[1][j] for r in rows) for j in range(DIM)]
    steps = [(hi - lo) / 255.0 for lo, hi in zip(mn, mx)]
    bound = max(s / 2 for s in steps) + 1e-12
    got = qdf.collect()
    v = np.array([r.v for r in got])
    q = np.array([r.q for r in got], dtype=np.float64)
    lo, hi = np.array(mn), np.array(mx)
    assert float(np.abs(lo + q * (hi - lo) / 255.0 - v).max()) <= bound
