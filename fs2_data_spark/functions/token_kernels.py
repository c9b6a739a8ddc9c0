"""Arrow-vectorized token-feature kernels.

The expression-level token ops (``functions/tokens.py``) are exact and
oracle-checkable but evaluate higher-order-function lambdas interpreted
(~2M tokens/s/core). These kernels compute the same features directly on the
Arrow ``ListArray`` buffers — one flat int32 values vector + offsets — via
``numpy.*.reduceat`` (C speed, ~100M tokens/s/core, no per-row Python), the
"vectorized pandas/Arrow UDFs" execution tier the north-star prescribes.

Equality with the expression versions is pinned by tests (tok_fp exact,
tok_mean allclose) — the optimized-vs-reference-implementation pattern of
``finite-state/shared/src/test/scala/fs2/data/mft/QuerySpec.scala:32-34``.

The kernel runs inside the scan stage (mapInArrow before any shuffle), so
token pages never cross an exchange: the output is the narrow feature table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

FINGERPRINT_MOD = 1_000_000_007


def token_features_arrow(df: DataFrame, tokens_col: str = "tokens",
                         drop_tokens: bool = True) -> DataFrame:
    """Adds per-row token features computed on Arrow buffers:

    - ``tok_fp``   : positional fingerprint ``sum((i+1)*t_i) mod p`` (exactly
      :func:`fs2_data_spark.functions.tokens.tok_fingerprint`)
    - ``tok_sum``, ``tok_mean``, ``tok_min``, ``tok_max``

    ``drop_tokens=True`` (default) removes the payload column so downstream
    shuffles stay narrow.
    """
    import numpy as np  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_kernel

    def kernel(tok):
        # flat values + offsets: the zero-copy list layout
        offs = tok.offsets.to_numpy().astype(np.int64)
        vals = tok.values.to_numpy(zero_copy_only=False).astype(np.int64)
        starts, ends = offs[:-1], offs[1:]
        lens = ends - starts
        nonempty = lens > 0
        # positions within each list: global index - repeated start
        pos = np.arange(len(vals), dtype=np.int64) - np.repeat(starts, lens)
        weighted = (pos + 1) * vals
        # reduceat boundaries: only non-empty segment starts. An empty
        # segment's start equals its neighbor's boundary, and clamping a
        # trailing empty's start (== len(vals)) into range would shift the
        # preceding segment's end and silently truncate it. Consecutive
        # non-empty starts delimit exactly one segment because empty
        # segments contribute a zero-width interval between them.
        ne_starts = starts[nonempty]

        def seg(op, src, fill):
            out = np.full(len(lens), fill, dtype=np.int64)
            if len(ne_starts):
                out[nonempty] = op.reduceat(src, ne_starts)
            return out

        # mod once at the end: values < 2^17, pos < 2^31 -> no overflow
        fp = seg(np.add, weighted, 0) % FINGERPRINT_MOD
        tsum = seg(np.add, vals, 0)
        mean = np.where(nonempty, tsum / np.maximum(lens, 1), np.nan)
        # null (not NaN) for empty docs — matches the SQL CASE WHEN
        # len > 0 mean and the tok_stats tier
        return [fp, tsum, np.where(nonempty, mean, None),
                np.where(nonempty, seg(np.minimum, vals, 0), None),
                np.where(nonempty, seg(np.maximum, vals, 0), None)]

    # no exchange: the kernel rides the scan stage
    return run_kernel(
        df, kernel, [tokens_col],
        "tok_fp bigint, tok_sum bigint, tok_mean double, tok_min int, "
        "tok_max int",
        keys=[c for c in df.columns if not (drop_tokens and c == tokens_col)],
        exchange=False)
