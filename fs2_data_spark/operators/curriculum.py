"""Curriculum bucketing: exact-quantile difficulty tiers with zero corpus
shuffle.

Curriculum learning orders training data easy-to-hard; the pipeline primitive
is "assign every document to one of k difficulty buckets by the quantile of
its score" (length, LM score, loss, ...).  ``ntile`` does this with a global
sort — a full shuffle of the corpus plus a near-sequential window, exactly
what dies first at 100 TB.  This operator gets the *same* assignment from a
value histogram instead:

1. ``groupBy(score).count()`` — one aggregation whose output is
   value-cardinality-sized (map-side combined; for discrete scores like
   token counts this is thousands of rows, not billions);
2. a cumulative sum over the tiny histogram (single-partition window over
   ``|distinct values|`` rows — a planning-sized dataset, not the corpus);
3. a **broadcast** join back on the score value — the corpus side never
   shuffles, never sorts.

Bucket rule: ``bucket(v) = min(k-1, k * rows_below(v) // n)`` where
``rows_below(v)`` counts rows with score strictly less than ``v``.  All ties
share a bucket (deterministic, unlike ``ntile``'s arbitrary tie splitting),
buckets are ascending in score, and every bucket holds ~n/k rows up to tie
granularity.  Pure integer arithmetic end-to-end — any ANSI engine
reproduces the assignment exactly.

For *continuous* scores whose distinct-value count approaches the corpus
size, quantize first (``F.round(score, p)``) or fall back to
``approxQuantile`` cut points; the histogram path is the exact tier for
discrete/bounded-cardinality scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def quantile_bucket_map(
    df: DataFrame,
    score_col: str,
    k: int = 4,
) -> DataFrame:
    """The histogram with bucket assignments: ``(score_col, bucket)``.

    Cumulative row counts run through ``dedup.global_cumsum`` (range
    partition + per-partition run + broadcast offsets), so no single task
    ever sorts the whole histogram — raw continuous scores make
    ``|distinct scores| ~ N`` and the old ``Window.orderBy`` (no partition)
    serialized exactly that through one task (VERDICT r05 #5).  Counts are
    bigint, so the re-associated sums are value-identical.
    """
    from fs2_data_spark.operators.dedup import global_cumsum

    hist = df.groupBy(score_col).agg(F.count(F.lit(1)).alias("_cnt"))
    d = global_cumsum(hist, [score_col], ["_cnt"])
    n1 = hist.agg(F.sum("_cnt").alias("__n"))
    below = F.col("cum__cnt") - F.col("_cnt")
    bucket = F.least(F.lit(k - 1),
                     F.floor(F.lit(k) * below / F.col("__n")).cast("bigint"))
    return (d.crossJoin(F.broadcast(n1))
            .select(score_col, bucket.alias("bucket")))


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    k: int = 4,
    out_col: str = "bucket",
) -> DataFrame:
    """Add ``out_col`` (0..k-1 ascending difficulty) to every row of ``df``
    by exact value-quantile of ``score_col`` — the corpus side only sees a
    broadcast hash join, no shuffle, no sort.
    """
    m = quantile_bucket_map(df, score_col, k)
    if out_col != "bucket":
        m = m.withColumnRenamed("bucket", out_col)
    return df.join(F.broadcast(m), score_col)


def quantile_buckets_sql(
    table: str,
    score_col: str,
    k: int = 4,
    select_cols: str = "*",
) -> str:
    """ANSI-SQL mirror of :func:`quantile_buckets` (for DuckDB oracles)."""
    return f"""
WITH hist AS (
  SELECT {score_col}, COUNT(*) AS _cnt FROM {table} GROUP BY {score_col}),
cum AS (
  SELECT {score_col},
         SUM(_cnt) OVER (ORDER BY {score_col}
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - _cnt AS below,
         SUM(_cnt) OVER () AS n
  FROM hist),
bmap AS (
  SELECT {score_col},
         LEAST({k - 1}, CAST(FLOOR({k} * below / n) AS BIGINT)) AS bucket
  FROM cum)
SELECT {select_cols} FROM {table} t JOIN bmap USING ({score_col})
"""
