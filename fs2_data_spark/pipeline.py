"""The flagship point-in-time feature pipeline, skew-aware.

``pit_feature_pipeline`` composes the engine's core: as-of join (strict
point-in-time feature attachment) + lag/lead window features + gap
sessionization, all in the one plan of :func:`fused_pit_features`. That
plan's windows partition by ``(key, time bucket)``, and **hybrid skew
routing** is only the bucket column: sampled heavy-hitter detection gives
the hot keys a bucket width, so their timelines spread over many parallel
window tasks, while every other key keeps the NULL bucket (its whole
timeline in one task, cheapest when a key is small). Every bucket width
gives the same rows (tests/test_fused_pipeline.py and
tests/test_segmented.py pin it row-for-row), so the routing is purely a
physical-plan decision — the engine's own little AQE. The router's
settings are the module constants below, not options.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fs2_data_spark.functions.timeutil import epoch_us
from fs2_data_spark.operators.asof import _SIDE, _TS, _asof_union_plan, _order, _running
from fs2_data_spark.operators.segmented import detect_hot_keys

# hot-key router settings of pit_feature_pipeline
HOT_THRESHOLD = 0.01  # share of sampled rows that makes a key hot
HOT_MIN_ROWS = 2_000_000  # estimated rows a hot key must also hold
N_BUCKETS_TARGET = 256  # time buckets per hot key when bucket_us is unset
FEATURE_DIM = 8  # length of the zero vector for rows without an as-of match
DROP_PAYLOAD_COLS = ("tokens",)
_KB = "__f_kb"  # the window partition: struct(k = key, b = time bucket)


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
    bucket_us: int | Column | None = None,
) -> DataFrame:
    """The whole PIT feature stack as one window stage.

    Trick: on the as-of union (``operators/asof.py _asof_union_plan``,
    the same tagged left ∪ right stream :func:`asof_join` runs on) ordered
    by (ts, side, tie), every feature is a running aggregate or an offset
    function over the same window partition:

    - as-of match   = last(right payload, ignorenulls) over (-inf, 0]
    - lag/lead      = lag/lead of the left row, on the left rows only
    - session_seq   = running sum of the session-start flags

    Windows partition by ``struct(key, bucket)``. ``bucket`` is
    ``floor(epoch_us(ts) / bucket_us)``; ``bucket_us`` is an int (every
    key bucketed) or a per-row Column that reads only the key, so it is
    constant per key. A NULL width (``bucket_us=None``, or a NULL Column
    value) gives the NULL bucket: the key's whole timeline in one window
    partition. Rows with a NULL timestamp form a bucketed key's first
    (NULL) bucket. With every bucket NULL this is the single-window plan:
    two hash exchanges (the right-side dedup and the window partition) and
    three sorts, no join.

    Bucketed keys — skewed ones, whose timeline would otherwise be one
    task — settle their cross-bucket state (as-of carry, bucket-boundary
    lag/lead, session counts) on ONE per-(key, bucket) summary of the
    bucketed rows (:func:`_carries`), joined back once on the struct, so
    NULL keys and NULL buckets match too. The join carries no hint: AQE
    broadcasts the summary when it is small (hot keys x buckets under the
    hybrid router) and shuffles it when it is not (a full table), so a
    direct ``bucket_us=...`` call on any table is safe. Output is exactly
    equal to the single-window plan for every bucket width (pinned by
    tests).
    """
    if right_cols is None:
        right_cols = [c for c in obs.columns if c not in {key, right_ts}]
    u, is_left, (r,) = _asof_union_plan(
        seqs, [(obs, right_ts, right_cols)], [key], left_ts, allow_exact)
    bucket = (F.lit(None) if bucket_us is None
              else F.floor(epoch_us(F.col(_TS)) / F.lit(bucket_us)))
    # a left row as a struct whose field order IS the timeline order:
    # ts, tiebreak, then the lag/lead values
    u = u.withColumns({
        _KB: F.struct(F.col(key).alias("k"), bucket.cast("bigint").alias("b")),
        "__row": F.struct(F.col(_TS).alias("__t"), F.col(tiebreak).alias("__tb"),
                          *[F.col(c) for c in lag_cols])})

    # the union rows give the as-of match; the left rows, over the same
    # partition and order (side is constant on them, so Catalyst reuses
    # the exchange and the sort), their neighbours and session count
    run = _running([_KB], tiebreak)
    wl = Window.partitionBy(_KB).orderBy(*_order(tiebreak))
    out = (u.withColumn("__m", F.last(r, ignorenulls=True).over(run)).filter(is_left)
           .withColumns({"__prev": F.lag("__row").over(wl),
                         "__next": F.lead("__row").over(wl)}))
    m, prev, nxt, session = F.col("__m"), F.col("__prev"), F.col("__next"), F.col("__cum")
    if gap_s is not None:
        flag = _new_session(prev, F.col("__row"), gap_s)
        out = out.withColumn("__cum", F.sum(flag).over(run))

    if bucket_us is not None:
        # unbucketed rows find no summary row: the in-stage values stand
        out = out.join(_carries(u.filter(F.lit(bucket_us).isNotNull()), r, is_left,
                                tiebreak, gap_s), _KB, "left")
        m = F.coalesce(m, "__cr")
        prev, nxt = F.coalesce(prev, "__prev_last"), F.coalesce(nxt, "__next_first")
        session = session + F.coalesce("__carry", F.lit(0))
    return out.select(
        *seqs.columns,
        *[m.getField(c).alias(c) for c in right_cols],
        *[prev.getField(c).alias(f"lag1_{c}") for c in lag_cols],
        *[nxt.getField(c).alias(f"lead1_{c}") for c in lag_cols],
        *([session.cast("bigint").alias("session_seq")] if gap_s is not None else []))


def _new_session(prev: Column, cur: Column, gap_s: int) -> Column:
    """1 when row struct ``cur`` starts a session after row struct
    ``prev``: there is no previous timestamp, or the gap exceeds
    ``gap_s``; else 0."""
    prev_t, cur_t = prev.getField("__t"), cur.getField("__t")
    return F.when(prev_t.isNull() | ((epoch_us(cur_t) - epoch_us(prev_t))
                                     > F.lit(int(gap_s) * 1_000_000)), 1).otherwise(0)


def _carries(u, r, is_left, tiebreak, gap_s):
    """Cross-bucket state of the bucketed rows of :func:`fused_pit_features`.

    ONE summary row per (key, bucket) — thousands, not billions: the last
    right payload ``__lr``, the first and last left row and ``__flags``,
    the in-bucket session flags (the bucket's first left row counts 1, as
    in the window stage). A per-key window over the buckets then gives the
    as-of carry ``__cr`` (taken before the buckets without left rows go),
    the neighbouring buckets' edge rows ``__prev_last``/``__next_first``
    and ``__carry``: the flags of the earlier buckets plus one ``adj`` per
    bucket, ``_new_session(__prev_last, __first) - 1``, which puts the
    true flag on each bucket's first left row."""
    aggs = [F.max(F.when(F.col(r).isNotNull(),
                         F.struct(F.col(_TS).alias("t"), F.col(r).alias("r"))))
            .alias("__lr"),
            F.min(F.when(is_left, F.col("__row"))).alias("__first"),
            F.max(F.when(is_left, F.col("__row"))).alias("__last")]
    if gap_s is not None:
        # (key, bucket, side) partitions: the previous row is a left row
        wl = Window.partitionBy(_KB, _SIDE).orderBy(*_order(tiebreak))
        u = u.withColumn("__flag", _new_session(F.lag("__row").over(wl), F.col("__row"),
                                                gap_s))
        aggs.append(F.sum(F.when(is_left, F.col("__flag"))).alias("__flags"))
    # the per-key window partitions on plain columns: on the struct's
    # fields Spark adds three exchanges
    s = (u.groupBy(_KB).agg(*aggs)
         .withColumns({"__k": F.col(f"{_KB}.k"), "__b": F.col(f"{_KB}.b")}))
    w = Window.partitionBy("__k").orderBy("__b")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    s = (s.withColumn("__cr", F.last("__lr", ignorenulls=True).over(before).getField("r"))
         .filter(F.col("__first").isNotNull())
         .withColumns({"__prev_last": F.lag("__last").over(w),
                       "__next_first": F.lead("__first").over(w)}))
    cols = [_KB, "__cr", "__prev_last", "__next_first"]
    if gap_s is not None:
        s = s.withColumn(
            "__adj", _new_session(F.col("__prev_last"), F.col("__first"), gap_s) - 1)
        s = s.withColumn("__carry", F.coalesce(
            F.sum(F.col("__flags") + F.col("__adj")).over(before), F.lit(0)) + F.col("__adj"))
        cols.append("__carry")
    return s.select(*cols)


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
    handles the key faster than the bucketed windows). Hot keys take time
    buckets of ``bucket_us``; ``bucket_us=None`` sizes them from the hot
    subset's actual time span (span / ``N_BUCKETS_TARGET``), so a hot key's
    timeline is spread over about that many parallel tasks. Other keys keep
    one window partition each; all of it is one :func:`fused_pit_features`
    plan.
    """
    seqs = seqs.drop(*[c for c in DROP_PAYLOAD_COLS if c in seqs.columns])
    if hot_keys is None:
        hot_keys = detect_hot_keys(seqs, key, threshold_frac=HOT_THRESHOLD,
                                   min_rows=HOT_MIN_ROWS)

    # hot keys get a bucket width, every other key (NULL keys included:
    # ``isin`` is NULL there) the NULL bucket of the single-window plan
    width = None
    hot_keys = [k for k in hot_keys if k is not None]
    if hot_keys:
        is_hot = F.col(key).isin(hot_keys)
        if bucket_us is None:
            lo, hi = seqs.filter(is_hot).agg(epoch_us(F.min(left_ts)),
                                             epoch_us(F.max(left_ts))).first()
            span = max((hi or 0) - (lo or 0), 1)
            bucket_us = max(span // N_BUCKETS_TARGET, 1)
        width = F.when(is_hot, F.lit(bucket_us))
    out = fused_pit_features(seqs, obs, key=key, left_ts=left_ts, right_ts=right_ts,
                             tiebreak=tiebreak, right_cols=right_cols,
                             lag_cols=lag_cols, gap_s=gap_s, bucket_us=width)

    return out.withColumn(
        "feature_out",
        F.transform(
            F.coalesce("feature_vec", F.array(*[F.lit(0.0)] * FEATURE_DIM)),
            lambda x: x * F.col(lag_cols[0]).cast("double"),
        ),
    )
