"""The flagship point-in-time feature pipeline, skew-aware.

``pit_feature_pipeline`` composes the engine's core: as-of join (strict
point-in-time feature attachment) + lag/lead window features + gap
sessionization, with **hybrid skew routing**: sampled heavy-hitter detection
splits keys into a normal path (single-window operators — cheapest when every
key is small) and a hot path (segmented-scan operators whose parallelism is
independent of key size). Both paths produce identical semantics
(tests/test_segmented.py pins hot == normal output row-for-row), so the split
is purely a physical-plan decision — the engine's own little AQE. The hot
path settles its cross-bucket carries on one summary aggregate and one join;
the router's settings are the module constants below, not options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fs2_data_spark.functions.timeutil import epoch_us
from fs2_data_spark.operators.asof import _SIDE, _TS, _asof_union_plan, _order, _running
from fs2_data_spark.operators.segmented import detect_hot_keys

# hot-key router settings of pit_feature_pipeline
HOT_THRESHOLD = 0.01  # share of sampled rows that makes a key hot
HOT_MIN_ROWS = 2_000_000  # estimated rows a hot key must also hold
N_BUCKETS_TARGET = 256  # time buckets per hot key when bucket_us is unset
FEATURE_DIM = 8  # length of the zero vector for rows without an as-of match
DROP_PAYLOAD_COLS = ("tokens",)


def fused_pit_features(
    seqs: DataFrame,
    obs: DataFrame,
    key: str = "doc_id",
    left_ts: str = "event_time",
    right_ts: str = "obs_time",
    tiebreak: str = "seq_no",
    right_cols: list[str] | None = None,
    lag_cols: tuple[str, ...] = ("n_tok",),
    gap_s: int = 3600,
    allow_exact: bool = True,
    bucket_us: int | None = None,
) -> DataFrame:
    """The whole PIT feature stack in ONE exchange + ONE sort.

    Trick: on the as-of union (``operators/asof.py _asof_union_plan``,
    the same tagged left ∪ right stream :func:`asof_join` runs on) ordered
    by (ts, side, tie), every feature is a running aggregate over the same
    window spec:

    - as-of match   = last(right payload, ignorenulls) over (-inf, 0]
    - lag/lead/session flags via O(n) offset functions on the left rows

    Catalyst plans a single WindowExec chain (one hash exchange on the key,
    one sort). Semantics identical to asof_join + with_lag_lead + sessionize
    (pinned by tests).

    ``bucket_us`` switches to the **segmented** physical plan for skewed
    keys: windows partition by (key, time-bucket) — so a hot key's timeline
    is processed by many parallel tasks — and cross-bucket state (as-of
    carry, bucket-boundary lag/lead, session counts) is resolved on ONE
    per-(key, bucket) summary aggregate joined back once (NULL keys
    included). The join carries no hint: AQE broadcasts the summary when
    it is small (hot keys x buckets under the hybrid router) and shuffles
    it when it is not (a full table), so a direct ``bucket_us=...`` call on
    any table is safe. Output is exactly equal to the unsegmented plan for
    every bucket size (pinned by tests).
    """
    if right_cols is None:
        right_cols = [c for c in obs.columns if c not in {key, right_ts}]
    u, is_left, (r,) = _asof_union_plan(
        seqs, [(obs, right_ts, right_cols)], [key], left_ts, allow_exact)
    lcols = list(seqs.columns)

    if bucket_us is not None:
        return _fused_segmented(u, r, key, tiebreak, lcols, right_cols,
                                lag_cols, gap_s, is_left, bucket_us)

    # pass 1 (union rows): the as-of match — incremental O(n) running frame
    run = _running([key], tiebreak)
    out = u.withColumn("__m", F.last(r, ignorenulls=True).over(run)).filter(is_left)

    # pass 2 (left rows only): lag/lead/session via O(n) offset functions.
    # Same partitioning and order as pass 1 (side is constant on left rows),
    # so Catalyst reuses the exchange and the sort
    w2 = Window.partitionBy(key).orderBy(*_order(tiebreak))
    for c in lag_cols:
        out = out.withColumn(f"lag1_{c}", F.lag(c).over(w2))
        out = out.withColumn(f"lead1_{c}", F.lead(c).over(w2))
    if gap_s is not None:
        prev_ts = F.lag(_TS).over(w2)
        flag = F.when(prev_ts.isNull()
                      | ((epoch_us(F.col(_TS)) - epoch_us(prev_ts))
                         > F.lit(int(gap_s) * 1_000_000)), 1).otherwise(0)
        out = out.withColumn("session_seq", F.sum(flag).over(run).cast("bigint"))
    return _select_features(out, lcols, right_cols, lag_cols, gap_s)


def _select_features(out, lcols, right_cols, lag_cols, gap_s):
    return out.select(
        *lcols,
        *[F.col(f"__m.{c}").alias(c) for c in right_cols],
        *[f"lag1_{c}" for c in lag_cols],
        *[f"lead1_{c}" for c in lag_cols],
        *(["session_seq"] if gap_s is not None else []))


def _fused_segmented(u, r, key, tiebreak, lcols, right_cols,
                     lag_cols, gap_s, is_left, bucket_us):
    """Segmented physical plan of :func:`fused_pit_features` (see its
    docstring). One (key, bucket) exchange over the big data feeds every
    window and the one summary aggregate; the summary and its carries are
    per-(key, bucket) rows — thousands, not billions — joined back once.

    Left-row windows partition by (key, bucket, side), which the (key,
    bucket) exchange already satisfies, so no right row sits between two
    left rows and a NULL ``lag``/``lead`` marks the bucket edge.

    Everything partitions and joins on ``struct(key)``: it is never NULL
    and equal for two NULL keys, so the carry join is NULL-safe while it
    stays a plain equi-join on the window exchange's own columns (an
    ``eqNullSafe`` join would re-shuffle the big side)."""
    _k, _b = "__f_k", "__f_b"
    u = (u.withColumn(_k, F.struct(key))
         .withColumn(_b, F.floor(epoch_us(F.col(_TS)) / F.lit(bucket_us)).cast("bigint")))
    wl = Window.partitionBy(_k, _b, _SIDE).orderBy(*_order(tiebreak))
    w_s = Window.partitionBy(_k).orderBy(_b)
    w_s_prev = w_s.rowsBetween(Window.unboundedPreceding, -1)
    gap_us = F.lit(int(gap_s or 0) * 1_000_000)

    # within-bucket as-of match (union rows); left-row neighbours as structs
    # whose field order IS the timeline order: ts, tiebreak, then values
    d = u.withColumns({
        "__m_in": F.last(r, ignorenulls=True).over(_running([_k, _b], tiebreak)),
        "__row": F.struct(F.col(_TS).alias("__t"), F.col(tiebreak).alias("__tb"),
                          *[F.col(c).alias(c) for c in lag_cols])})
    d = d.withColumns({"__prev": F.lag("__row").over(wl),
                       "__next": F.lead("__row").over(wl)})
    if gap_s is not None:
        d = d.withColumn("__flag", F.when(
            (epoch_us(F.col(_TS)) - epoch_us(F.col("__prev.__t"))) > gap_us,
            1).otherwise(0))
        d = d.withColumn("__cum", F.sum("__flag").over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    # the one summary: last right payload, first/last left row, left flags
    aggs = [F.max(F.when(F.col(r).isNotNull(),
                         F.struct(F.col(_TS).alias("t"), F.col(r).alias("r"))))
            .alias("__lr"),
            F.min(F.when(is_left, F.col("__row"))).alias("__first"),
            F.max(F.when(is_left, F.col("__row"))).alias("__last")]
    if gap_s is not None:
        aggs.append(F.sum(F.when(is_left, F.col("__flag"))).alias("__flags"))
    s = (d.groupBy(_k, _b).agg(*aggs)
         .withColumn("__cr", F.last("__lr", ignorenulls=True).over(w_s_prev).getField("r"))
         .filter(F.col("__first").isNotNull())
         .withColumn("__prev_last", F.lag("__last").over(w_s))
         .withColumn("__next_first", F.lead("__first").over(w_s)))
    if gap_s is not None:
        s = s.withColumn("__ff", F.when(
            F.col("__prev_last").isNull()
            | ((epoch_us(F.col("__first.__t")) - epoch_us(F.col("__prev_last.__t")))
               > gap_us), 1).otherwise(0))
        s = s.withColumn("__carry_n", F.coalesce(
            F.sum(F.col("__ff") + F.col("__flags")).over(w_s_prev), F.lit(0)))

    out = d.filter(is_left).join(s, [_k, _b], "left")
    out = out.withColumn("__m", F.coalesce("__m_in", "__cr"))
    for c in lag_cols:
        out = out.withColumn(f"lag1_{c}", F.coalesce("__prev", "__prev_last").getField(c))
        out = out.withColumn(f"lead1_{c}", F.coalesce("__next", "__next_first").getField(c))
    if gap_s is not None:
        out = out.withColumn(
            "session_seq", (F.col("__carry_n") + F.col("__ff") + F.col("__cum")).cast("bigint"))
    return _select_features(out, lcols, right_cols, lag_cols, gap_s)


def pit_feature_pipeline(
    seqs: DataFrame,
    obs: DataFrame,
    key: str = "doc_id",
    left_ts: str = "event_time",
    right_ts: str = "obs_time",
    tiebreak: str = "seq_no",
    right_cols: list[str] | None = None,
    lag_cols: tuple[str, ...] = ("n_tok",),
    gap_s: int = 3600,
    hot_keys: list | None = None,
    bucket_us: int | None = None,
) -> DataFrame:
    """As-of features + lag/lead + sessions + derived feature vector.

    ``DROP_PAYLOAD_COLS`` are heavy payload columns excluded from the
    feature table. The point-in-time feature job never *reads* token
    arrays — only ``n_tok`` — so dropping them lets Catalyst prune the
    parquet scan (``ReadSchema`` excludes the array pages entirely) and
    keeps the shuffle narrow: measured 10x on the 1M-row bench. Consumers
    that need payloads join them back by ``(doc_id, seq_no)`` from the
    source table, which is a co-partitioned join at rest (bucketed Iceberg
    layout).

    ``hot_keys=None`` samples them (``HOT_THRESHOLD`` of the rows and an
    estimated ``HOT_MIN_ROWS`` per key — below that a single window task
    handles the key faster than the segmented machinery). ``bucket_us=None``
    sizes hot-path time buckets from the hot subset's actual time span
    (span / ``N_BUCKETS_TARGET``), so a hot key's timeline is spread over
    about that many parallel tasks.
    """
    seqs = seqs.drop(*[c for c in DROP_PAYLOAD_COLS if c in seqs.columns])
    if right_cols is None:
        right_cols = [c for c in obs.columns if c not in {key, right_ts}]
    if hot_keys is None:
        hot_keys = detect_hot_keys(seqs, key, threshold_frac=HOT_THRESHOLD,
                                   min_rows=HOT_MIN_ROWS)

    kw = dict(key=key, left_ts=left_ts, right_ts=right_ts, tiebreak=tiebreak,
              right_cols=right_cols, lag_cols=lag_cols, gap_s=gap_s)
    # NULL keys always take the single-window plan
    hot_keys = [k for k in hot_keys if k is not None]
    if hot_keys:
        hot_lit = F.array(*[F.lit(k) for k in hot_keys])
        is_hot = F.coalesce(F.array_contains(hot_lit, F.col(key)), F.lit(False))
        seqs_hot = seqs.filter(is_hot)
        if bucket_us is None:
            lo, hi = seqs_hot.agg(epoch_us(F.min(left_ts)),
                                  epoch_us(F.max(left_ts))).first()
            span = max((hi or 0) - (lo or 0), 1)
            bucket_us = max(span // N_BUCKETS_TARGET, 1)
        norm = fused_pit_features(seqs.filter(~is_hot), obs.filter(~is_hot), **kw)
        hot = fused_pit_features(seqs_hot, obs.filter(is_hot),
                                 bucket_us=bucket_us, **kw)
        out = norm.union(hot.select(*norm.columns))
    else:
        out = fused_pit_features(seqs, obs, **kw)

    return out.withColumn(
        "feature_out",
        F.transform(
            F.coalesce("feature_vec", F.array(*[F.lit(0.0)] * FEATURE_DIM)),
            lambda x: x * F.col(lag_cols[0]).cast("double"),
        ),
    )
