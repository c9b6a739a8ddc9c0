"""Heavy-hitter detection for the skew-aware pipeline.

``Window.partitionBy(key).orderBy(ts)`` serializes each key into ONE task, so
a heavy-hitter key (10% of rows on one doc_id) caps whole-job scaling at
~1/frac regardless of cluster size. Salting is unsound for order-sensitive
operators (SURVEY §7.3); the sound alternative is a **segmented scan** (the
classic parallel-prefix decomposition), implemented once, fused with the
lag/lead and sessionization features, in ``pipeline.fused_pit_features`` —
on the same tagged union and running frame as every as-of operator
(``operators/asof.py _asof_union_plan``):

    1. split each hot key's timeline into time buckets; every other key
       keeps the NULL bucket, its whole timeline;
    2. compute the operator within (key, bucket) partitions — parallel even
       for a single hot key — in the one window stage every key runs;
    3. aggregate ONE summary row per (key, bucket) over the bucketed rows
       — the last right payload, the first and last left row and the
       in-bucket session flags in a single conditional aggregate;
       thousands of rows, not billions;
    4. resolve cross-bucket carries on that summary with a cheap per-key
       window (LOCF / neighbours / prefix sums over buckets);
    5. join the carries back once, on ``struct(key, bucket)`` (NULL-safe
       for NULL keys and the NULL bucket), and combine; unbucketed rows
       find no carry and keep their in-stage values.

This module keeps the sampled detection that decides which keys get
buckets.  Results equal the single-window plan (pinned by
tests/test_fused_pipeline.py and tests/test_segmented.py), mirroring how
fs2-data proves its optimized and non-optimized compilers equivalent
(reference ``finite-state/shared/src/test/scala/fs2/data/mft/
QuerySpec.scala:32-34``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def detect_hot_keys(df: DataFrame, key: str, threshold_frac: float = 0.01,
                    sample_fraction: float = 0.01, min_rows: int = 0) -> list:
    """Sampled heavy-hitter detection: keys whose estimated row share exceeds
    ``threshold_frac`` AND whose estimated absolute row count exceeds
    ``min_rows``. The absolute floor matters: the segmented path only pays
    off when one key's serial window task would otherwise dominate a stage
    (millions of rows), not merely when the distribution is relatively
    skewed. One cheap sampled pass; at production scale this is a sketch on
    a fraction of the input."""
    s = df.sample(fraction=sample_fraction, seed=42).groupBy(key).count()
    total = s.agg(F.sum("count")).first()[0] or 0
    if not total:
        return []
    rows = s.filter(F.col("count") >= threshold_frac * total).collect()
    return [r[key] for r in rows if r["count"] / sample_fraction >= min_rows]
