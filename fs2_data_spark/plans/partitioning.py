"""Explicit partitioning / shuffle / skew planning (north_rule requirement).

The engine does not leave skew purely to AQE: shuffle-heavy stages get an
explicit ``repartitionByRange`` (co-locating each entity's timeline while
range-balancing across entities), heavy-hitter keys get salted two-phase
aggregation, and ``key_skew_stats`` probes a sample so jobs can pick the
strategy at plan time.

Order-sensitive operators (windows, as-of) must keep whole key groups —
salting is only valid for algebraic aggregations and equi-joins (SURVEY §7.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def repartition_for_timeline(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition by (key, ts) and sort within partitions — the physical
    layout every order-sensitive stage wants (one exchange reused by
    subsequent window stages over the same key). Keeps each key's timeline
    contiguous because the range boundaries are on (key, ts) with key major.
    """
    key = [key] if isinstance(key, str) else list(key)
    cols = [*key, ts]
    out = (df.repartitionByRange(num_partitions, *cols) if num_partitions
           else df.repartitionByRange(*cols))
    return out.sortWithinPartitions(*cols)


def key_skew_stats(df: DataFrame, key: str | Sequence[str], sample_fraction: float = 0.01,
                   top_n: int = 10) -> list[tuple]:
    """Sample-based heavy-hitter probe: returns [(key..., est_rows)] for the
    ``top_n`` hottest keys (estimated from an uncorrelated sample)."""
    key = [key] if isinstance(key, str) else list(key)
    rows = (
        df.sample(fraction=sample_fraction, seed=42)
        .groupBy(*key).count()
        .orderBy(F.desc("count")).limit(top_n).collect()
    )
    return [(*[r[k] for k in key], int(r["count"] / sample_fraction)) for r in rows]


def add_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): derived from a stable row hash, not
    ``rand()``, so retries/recomputation see the same salt (required for
    resumable/idempotent jobs)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    key: str | Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs``: {out_col: (fn, in_col)} with fn in {sum,count,min,max} (the
    algebraic aggregations where partial+final composes). Phase 1 aggregates
    (key, salt) — spreading a hot key over ``n_salts`` reducers — phase 2
    merges. Example::

        salted_agg(df, "doc_id", {"total": ("sum", "n_tok"), "n": ("count", "*")})
    """
    key = [key] if isinstance(key, str) else list(key)
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    part_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}

    salted = add_salt(df, n_salts)
    partial = salted.groupBy(*key, "__salt").agg(*[
        part_fn[fn](F.lit(1) if col == "*" else col).alias(out)
        for out, (fn, col) in aggs.items()
    ])
    return partial.groupBy(*key).agg(*[
        merge_fn[fn](out).alias(out) for out, (fn, _) in aggs.items()
    ])


def key_skew_audit(
    df: DataFrame,
    key: str | Sequence[str] = "user_id",
    group: str | Sequence[str] | None = None,
) -> DataFrame:
    """Exact, fully-distributed skew diagnosis of a prospective shuffle
    key: per ``group`` (or globally), the row total, distinct-key count,
    hottest-key row count, the hottest key's share, the skew factor
    (hottest / average — 1.0 means perfectly uniform), and the salt
    count that would level the hottest key down to the average
    (``ceil(max * n_keys / total)``, exact bigint arithmetic — what
    :func:`add_salt`/:func:`salted_agg` should be called with).

    Two map-side-combined aggregations (key counts, then the per-group
    rollup of those counts) — the audit itself never materializes more
    than one row per key, so it is safe to run against the full 100 TB
    input before committing to a partitioning strategy.  Complements the
    sample-based :func:`key_skew_stats` probe (fast, approximate,
    driver-side) with the exact, plan-shaped answer.
    """
    key = [key] if isinstance(key, str) else list(key)
    group = ([group] if isinstance(group, str) else list(group or []))
    counts = df.groupBy(*group, *key).agg(F.count(F.lit(1)).alias("__c"))
    agg = counts.groupBy(*group).agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_key_rows"))
    return agg.select(
        *group, "n_rows", "n_keys", "max_key_rows",
        F.round(F.col("max_key_rows").cast("double")
                / F.col("n_rows").cast("double"), 6).alias("top1_share"),
        F.round(F.col("max_key_rows").cast("double") * F.col("n_keys")
                / F.col("n_rows").cast("double"), 4).alias("skew_factor"),
        F.expr("(max_key_rows * n_keys + n_rows - 1) div n_rows")
        .alias("recommended_salts"))
