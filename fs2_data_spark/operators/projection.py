"""Johnson-Lindenstrauss random-sign projection for embedding columns.

The dimensionality-reduction tier of the similarity stack: project
``array<float>`` embeddings from ``dim`` to ``out_dim`` with a fixed
±1 sign matrix (Achlioptas 2003: database-friendly random projections —
sign entries, no Gaussians), shrinking every downstream shuffle/scan of
the vector column by ``dim/out_dim`` while preserving pairwise distances
in expectation (``E[||Rx||^2] = ||x||^2`` after ``1/sqrt(out_dim)``
scaling, JL lemma).  At 100 TB the projection is the cheap move BEFORE
the expensive ones: LSH banding, IVF assignment, and near-dup verify all
get ``dim/out_dim``-times lighter inputs.

Engine-portable by construction (the canonical-oracle discipline):

- The sign matrix is a pure integer function of ``(i, j, seed)`` — a
  splitmix64 finalizer (Steele et al. 2014, public constants) over the
  index triple, expanded at PLAN time into literal +/- terms; no RNG
  anywhere, and any engine reproduces the matrix from the formula.
- Each output component is one left-associated +/- chain over
  ``CAST(vec[i] AS DOUBLE)`` terms: float32 -> double widening is exact,
  ±1 multiplication is a sign flip, and both Spark and DuckDB evaluate
  the identical chain in the identical order — bit-identical doubles,
  surfaced through one ``ROUND(x * 1/sqrt(out_dim), round_dp)``.
- Spark evaluates that chain as one per-row numpy Arrow kernel (no
  shuffle) that replicates it bit for bit; the SQL chain
  (:func:`jl_chain_sql`) is what the DuckDB oracle runs.

Reference parity: fs2-data has no vector module; this extends the
SURVEY §2 "beyond the reference" similarity-search scale path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

_M64 = (1 << 64) - 1
_SM1 = 0x9E3779B97F4A7C15
_SM2 = 0xBF58476D1CE4E5B9
_SM3 = 0x94D049BB133111EB


def jl_sign(i: int, j: int, seed: int = 42) -> int:
    """±1 sign for input dim ``i``, output dim ``j`` — splitmix64
    finalizer over the (i, j, seed) triple, exact integer arithmetic.

    The affine-mod-P mix used elsewhere for SINGLE-index hashing is not
    enough here: rows j and j' differ by an additive constant, so their
    low bits stay correlated across i (the operators/mixing.py
    multiplicative-coupling lesson); the measured symptom was duplicate
    sign rows and a 1.36x distance-ratio bias. splitmix64's
    shift-xor-multiply cascade decorrelates the rows (distinctness and
    the JL expectation are pinned in tests)."""
    x = (i * _SM1 + j * _SM2 + seed * _SM3) & _M64
    x ^= x >> 30
    x = (x * _SM2) & _M64
    x ^= x >> 27
    x = (x * _SM3) & _M64
    x ^= x >> 31
    return 1 if x & 1 else -1


def jl_signs(dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """The full sign matrix, ``out_dim`` rows of ``dim`` entries."""
    return [[jl_sign(i, j, seed) for i in range(dim)]
            for j in range(out_dim)]


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 42,
    round_dp: int = 6,
    prefix: str = "jl",
) -> DataFrame:
    """Adds ``{prefix}_0 .. {prefix}_{out_dim-1}`` double columns: the
    scaled sign-projection of ``vec_col``, rounded to ``round_dp``.

    A NULL vector, or one holding a NULL element, projects to NULL in every
    component — what the ±CAST chain (:func:`jl_chain_sql`) gives.  A
    non-NULL vector whose length is not ``dim`` raises
    ``ValueError("ragged vector ...")``: the chain itself fails on short
    rows (ANSI ``element_at``) and would silently drop the tail of long
    ones."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_kernel
    from fs2_data_spark.functions.veckernels import list_to_mat

    # r6: the out_dim x dim ±-chains run as a numpy Arrow kernel.
    # Bit-exactness: the left-associated ± chain equals
    # ``acc = s_0*x_0; acc += s_i*x_i`` elementwise (x - y is exactly
    # x + (-y), and ±1.0 multiplication is an exact sign flip), and the
    # final ``* scale`` is the same single multiply; JVM F.round produces
    # the output.  Beyond the per-row win, this removes the
    # ~dim*out_dim-node expression tree whose generated code measured 5x
    # slower inside the full bench batch than standalone (JIT code-cache
    # pressure after ~100 plans, BASELINE.md r5).
    smat = np.asarray(jl_signs(dim, out_dim, seed), dtype=np.float64)
    scale = 1.0 / math.sqrt(out_dim)

    def fn(vec):
        valid = np.asarray(vec.is_valid())
        sizes = np.diff(vec.offsets.to_numpy())
        bad = valid & (sizes != dim)
        if bad.any():
            raise ValueError(f"ragged vector rows (len != {dim}) in "
                             f"{vec_col!r}: {np.unique(sizes[bad])}")
        # NULL rows and rows holding a NULL element project to NULL
        null = ~valid
        elem_null = np.asarray(vec.flatten().is_null())
        if elem_null.any():
            rows = np.repeat(np.arange(len(vec)), np.where(valid, sizes, 0))
            null[rows[elem_null]] = True
        x = list_to_mat(vec, dim)
        outs = []
        for j in range(out_dim):
            acc = x[:, 0] * smat[j, 0]
            for i in range(1, dim):
                acc += x[:, i] * smat[j, i]
            outs.append(pa.array(acc * scale, mask=null))
        return outs

    out = run_kernel(df, fn, [vec_col],
                     ", ".join(f"__jlraw_{j} double" for j in range(out_dim)),
                     keys=df.columns)
    return out.select(*df.columns, *[
        F.round(F.col(f"__jlraw_{j}"), round_dp).alias(f"{prefix}_{j}")
        for j in range(out_dim)])


def jl_chain_sql(vec_expr: str, signs: list[int]) -> str:
    """The identical ±CAST chain as ANSI SQL (for the DuckDB oracle)."""
    parts = []
    for i, s in enumerate(signs):
        term = f"CAST({vec_expr}[{i + 1}] AS DOUBLE)"
        if not parts:
            parts.append(term if s == 1 else f"(- {term})")
        else:
            parts.append(f"{'+' if s == 1 else '-'} {term}")
    return " ".join(parts)


def jl_distance_audit(
    projected: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    prefix: str = "jl",
    round_dp: int = 6,
) -> DataFrame:
    """Distance-preservation audit on consecutive-id pairs: the ratio of
    projected to original squared L2 distance (JL: mean ~ 1, variance
    ~ 2/out_dim).  Consecutive ids make the pair set deterministic and
    the join an equi-join (never all-pairs); the projected side uses the
    ROUNDED components, so the ratio is reproducible through the join.

    Adds ``d2_orig``, ``d2_proj``, ``d2_ratio`` (round ``round_dp``;
    NULL when there is no ``id+1`` row or the original distance is 0).
    """
    b = projected.select(
        (F.col(id_col) - 1).alias("_nid"),
        F.col(vec_col).alias("_bvec"),
        *[F.col(f"{prefix}_{j}").alias(f"_b{j}") for j in range(out_dim)])
    pair = projected.join(b, on=F.col(id_col) == F.col("_nid"), how="left")
    d2o: Column | None = None
    for i in range(dim):
        d = (F.element_at(F.col(vec_col), i + 1).cast("double")
             - F.element_at(F.col("_bvec"), i + 1).cast("double"))
        d2o = d * d if d2o is None else d2o + d * d
    d2p: Column | None = None
    for j in range(out_dim):
        d = F.col(f"{prefix}_{j}") - F.col(f"_b{j}")
        d2p = d * d if d2p is None else d2p + d * d
    assert d2o is not None and d2p is not None
    return (pair.select(
        *[F.col(c) for c in projected.columns],
        F.round(d2o, round_dp).alias("d2_orig"),
        F.round(d2p, round_dp).alias("d2_proj"),
        F.when(d2o > 0, F.round(d2p / d2o, round_dp)).alias("d2_ratio")))
