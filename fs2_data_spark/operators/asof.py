"""Point-in-time (as-of) join and LOCF backfill.

Semantics contract (BASELINE.json north_rule): for each left row
``(key, t)`` attach the payload of the latest right row ``(key, t')`` with
``t' <= t`` (``allow_exact=True``) or ``t' < t`` (strict) — zero temporal
leakage: no right row with ``t' > t`` may influence the output. A left key
with no qualifying right row gets nulls, mirroring fs2-data's
``Rhs.Default`` / jq missing-field -> null semantics (reference
``finite-state/shared/src/main/scala/fs2/data/esp/ESP.scala:89-95,154-157``,
``json/src/main/scala/fs2/data/json/jq/internal/ESPJqCompiler.scala:316-320``).

Two physical strategies:

``strategy="union"`` (default, recommended at scale)
    Pure DataFrame: tag both sides, union, and run one
    ``last(payload, ignorenulls=True)`` window over ``(key)`` ordered by
    ``(ts, side)``. Exactly ONE shuffle (hash on the key), no join node, no
    Python — the whole operator stays in Tungsten. At 100 TB this is a single
    exchange + per-partition sort; AQE handles stragglers. Tie-breaking is
    encoded in the ``side`` ordinal: with ``allow_exact`` right rows sort
    before left rows at equal ts (visible), strict mode sorts them after
    (invisible). Forward is the same running frame over the descending ts
    order, nearest runs both orders over the one exchange. One builder
    (``_asof_union_plan``) makes that union for :func:`asof_join`,
    :func:`asof_join_multi` and ``pipeline.fused_pit_features``, and every
    carry uses the one frame ``(unboundedPreceding, currentRow)``
    (``_running``) — never a following frame, which Spark re-scans per row.

``strategy="pandas"``
    Cogrouped ``applyInPandas`` running ``pandas.merge_asof`` per key group —
    Arrow-vectorized, useful when the right payload is very wide (windows over
    many columns get expensive) or when per-group imperative logic is needed.

Both strategies produce identical results (pinned by tests), across the full
``pandas.merge_asof`` direction matrix (backward / forward / nearest — see
``asof_join``'s docstring; the one union-strategy gap, strict nearest, raises
with a pointer to the pandas strategy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_TS, _SIDE, _MTS = "__asof_ts", "__asof_side", "__asof_mts"


def _right_payload_cols(right: DataFrame, on, right_ts: str,
                        right_cols: list[str] | None) -> list[str]:
    if right_cols is None:
        keys = set(on) | {right_ts}
        right_cols = [c for c in right.columns if c not in keys]
    return right_cols


def _asof_union_plan(left: DataFrame, rights, on: list[str], left_ts: str,
                     allow_exact: bool, dedup: bool = True):
    """The one tagged union every union-strategy operator runs on
    (:func:`asof_join`, :func:`asof_join_multi` and
    ``pipeline.fused_pit_features``).

    ``rights`` is a list of ``(df, ts, cols)``. Returns ``(u, is_left,
    payloads)``: left columns stay flat (right rows carry only the key),
    ``_TS`` holds either side's timestamp, and right ``i`` is the struct
    column ``payloads[i]`` (null on every other row), deduplicated to the
    max struct per ``(key, ts)`` when ``dedup``. One side ordinal orders
    equal timestamps: right rows that are visible at equal ts
    (``allow_exact``) sort before the left rows, invisible ones after.
    Every carry is ``last(payload, ignorenulls=True)`` over
    :func:`_running`; a forward carry is that same frame over the
    descending ts order, so no operator needs a following frame.
    """
    n = len(rights)
    l_side = n if allow_exact else 0
    payloads = [f"__asof_r{i}" for i in range(n)]
    u = left.select("*", F.col(left_ts).alias(_TS), F.lit(l_side).alias(_SIDE))
    for i, (rdf, rts, cols) in enumerate(rights):
        p = payloads[i]
        r = rdf.select(*on, F.col(rts).alias(_TS), F.struct(*cols).alias(p))
        if dedup:
            # deterministic winner among (key, ts) duplicates: max struct
            r = r.groupBy(*on, _TS).agg(F.max(p).alias(p))
        side = i if allow_exact else i + 1
        u = u.unionByName(r.withColumn(_SIDE, F.lit(side)),
                          allowMissingColumns=True)
    return u, F.col(_SIDE) == l_side, payloads


def _order(tiebreak: str | None = None, descending: bool = False) -> list:
    """Window order over the tagged union: ``(ts, side[, tiebreak])``;
    ``descending`` reverses ts only, so equal-ts visibility is unchanged."""
    ts = F.col(_TS).desc() if descending else F.col(_TS)
    return [ts, F.col(_SIDE), *([F.col(tiebreak)] if tiebreak else [])]


def _running(partition: list[str], tiebreak: str | None = None,
             descending: bool = False):
    """The one running frame ``(unboundedPreceding, currentRow)`` — Spark
    evaluates it incrementally, O(n) per partition."""
    return (Window.partitionBy(*partition).orderBy(*_order(tiebreak, descending))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))


def _carry(payload: str, w):
    """Latest payload and its timestamp over frame ``w``."""
    ts = F.when(F.col(payload).isNotNull(), F.col(_TS))
    return (F.last(payload, ignorenulls=True).over(w),
            F.last(ts, ignorenulls=True).over(w))


def _distance(ts_col: str):
    """|t - t'| in microseconds between the row and a matched timestamp."""
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return F.abs(us(_TS) - us(ts_col))


def _project(u: DataFrame, is_left, lcols: list[str], picks) -> DataFrame:
    """Left rows only: the left columns plus each ``(payload, cols,
    suffix)`` pick's fields."""
    return u.filter(is_left).select(
        *lcols,
        *[F.col(f"{p}.{c}").alias(c + suf) for p, cols, suf in picks for c in cols])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "doc_id",
    left_ts: str = "event_time",
    right_ts: str = "obs_time",
    right_cols: list[str] | None = None,
    allow_exact: bool = True,
    tolerance_us: int | None = None,
    suffix: str = "",
    strategy: str = "union",
    dedup_right: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join; returns left columns + right payload columns (null when
    no right row qualifies).

    ``direction`` (the full ``pandas.merge_asof`` matrix):
      * ``"backward"`` — latest right row with ``t' <= t`` (point-in-time;
        the north-rule default, zero temporal leakage).
      * ``"forward"`` — earliest right row with ``t' >= t`` (label/outcome
        attachment: "next purchase after this click"). The union strategy
        runs it as the backward carry over the descending ts order — the
        same linear running frame, never a following frame.
      * ``"nearest"`` — whichever of the two is closer in absolute time;
        ties go backward (pandas semantics, pinned by test). The union
        strategy supports nearest only with ``allow_exact=True`` — both
        candidates see equal-ts rows, and a strict-nearest would need a
        second tagging; use ``strategy="pandas"`` for that corner.

    ``tolerance_us``: max allowed ``|t - t'|`` in microseconds (farther
    matches are nulled out, like ``pandas.merge_asof(tolerance=...)``).
    ``dedup_right``: when several right rows share ``(key, ts)``, keep the
    lexicographically greatest payload — a *deterministic* choice (plain
    ``last()`` over an underspecified sort order is not) applied uniformly
    across directions and strategies.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    if direction == "nearest" and not allow_exact and strategy == "union":
        raise ValueError(
            "direction='nearest' with allow_exact=False needs "
            "strategy='pandas' (one tagging cannot exclude equal-ts rows "
            "from both the backward and the forward candidate)")
    on = [on] if isinstance(on, str) else list(on)
    right_cols = _right_payload_cols(right, on, right_ts, right_cols)
    if strategy == "union":
        return _asof_union(left, right, on, left_ts, right_ts, right_cols,
                           allow_exact, tolerance_us, suffix, dedup_right,
                           direction)
    if strategy == "pandas":
        return _asof_pandas(left, right, on, left_ts, right_ts, right_cols,
                            allow_exact, tolerance_us, suffix, dedup_right,
                            direction)
    raise ValueError(f"unknown asof strategy: {strategy!r}")


def _asof_union(left, right, on, left_ts, right_ts, right_cols,
                allow_exact, tolerance_us, suffix, dedup_right,
                direction="backward"):
    u, is_left, (r,) = _asof_union_plan(
        left, [(right, right_ts, right_cols)], on, left_ts, allow_exact,
        dedup_right)
    if direction == "nearest":
        u = _asof_union_nearest(u, r, on, tolerance_us)
    else:
        matched, mts = _carry(r, _running(on, descending=direction == "forward"))
        if tolerance_us is None:
            # no second window aggregate on the default path (the matched-ts
            # carry measurably slows the plan; only tolerance needs it)
            u = u.withColumn(r, matched)
        else:
            u = u.withColumn(_MTS, mts).withColumn(r, matched)
            u = u.withColumn(r, F.when(_distance(_MTS) <= F.lit(tolerance_us),
                                       F.col(r)))
    return _project(u, is_left, left.columns, [(r, right_cols, suffix)])


def _asof_union_nearest(u, r, on, tolerance_us):
    """Nearest = min(|t - t'|) over the backward and the forward
    candidate, tie to backward (pandas semantics).

    Both candidates are the same running frame, over the ascending and
    the descending ts order. Both see an exact match (distance 0), and
    backward then always wins the tie. Two Sorts over ONE Exchange, two
    WindowExec nodes (plan-pinned by test_plans.py).
    """
    b_r, b_ts = _carry(r, _running(on))
    f_r, f_ts = _carry(r, _running(on, descending=True))
    u = (u.withColumn("__b_ts", b_ts).withColumn("__b_r", b_r)
          .withColumn("__f_ts", f_ts).withColumn("__f_r", f_r))
    b_gap, f_gap = _distance("__b_ts"), _distance("__f_ts")
    # pandas applies tolerance per CANDIDATE before choosing (an
    # out-of-tolerance backward row does not block an in-tolerance forward
    # one) — pinned by test_direction_adversarial_sweep
    b_ok = F.col("__b_ts").isNotNull()
    f_ok = F.col("__f_ts").isNotNull()
    if tolerance_us is not None:
        b_ok = b_ok & (b_gap <= F.lit(tolerance_us))
        f_ok = f_ok & (f_gap <= F.lit(tolerance_us))
    use_f = f_ok & (~b_ok | (f_gap < b_gap))
    return u.withColumn(r, F.when(use_f, F.col("__f_r"))
                        .when(b_ok, F.col("__b_r")))


def _asof_pandas(left, right, on, left_ts, right_ts, right_cols,
                 allow_exact, tolerance_us, suffix, dedup_right=True,
                 direction="backward"):
    import pandas as pd  # noqa: PLC0415 — executor-side import

    out_fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema.fields]
    rschema = {f.name: f for f in right.schema.fields}
    out_fields += [f"`{c}{suffix}` {rschema[c].dataType.simpleString()}" for c in right_cols]
    out_schema = ", ".join(out_fields)
    # cogrouped applyInPandas silently drops right-side columns whose names
    # collide with the left side — rename to reserved names first
    right = right.select(
        *on, F.col(right_ts).alias("__r_ts"),
        *[F.col(c).alias(f"__r_{i}") for i, c in enumerate(right_cols)],
    )
    internal = [f"__r_{i}" for i in range(len(right_cols))]
    out_names = [c + suffix for c in right_cols]
    lcols, ltsc, rtsc = list(left.columns), left_ts, "__r_ts"
    tol = pd.Timedelta(microseconds=tolerance_us) if tolerance_us is not None else None

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0:
            return pd.DataFrame(columns=lcols + out_names)
        lpdf = lpdf.sort_values(ltsc, kind="mergesort")
        if len(rpdf.columns) == 0 or len(rpdf) == 0:
            # key absent on the right: cogroup hands over an empty (even
            # column-less) frame -> null payload for every left row
            out = lpdf[lcols].copy()
            for c in out_names:
                out[c] = None
            return out
        rp = rpdf[[rtsc, *internal]]
        if dedup_right and internal and rp[rtsc].duplicated().any():
            # same deterministic winner as the union strategy's max-struct:
            # lexicographically greatest payload per duplicate ts, null/NaN
            # smallest (Spark struct ordering, which the old Python-key path
            # also used). Vectorized (VERDICT r03 #9): stable-sort by
            # (ts, payload...) with na_position='first', then keep the last
            # row per ts. Array-typed cells can't feed sort_values directly,
            # so only those columns are mapped to tuples (Python compare
            # inside the sort); scalar columns sort fully vectorized.
            import numpy as np  # noqa: PLC0415

            keyed = rp.copy()
            sk_cols = []
            for i, c in enumerate(internal):
                s = rp[c]
                if s.dtype == object:
                    nn = s.dropna()
                    if len(nn) and isinstance(nn.iloc[0], (list, tuple, np.ndarray)):
                        s = s.map(lambda v: np.nan
                                  if v is None or (isinstance(v, float) and pd.isna(v))
                                  else tuple(v))
                sk = f"__sk_{i}"
                keyed[sk] = s
                sk_cols.append(sk)
            keyed = keyed.sort_values([rtsc, *sk_cols], kind="mergesort",
                                      na_position="first")
            rp = keyed.drop_duplicates(rtsc, keep="last")[[rtsc, *internal]]
        else:
            rp = rp.sort_values(rtsc, kind="mergesort")
        merged = pd.merge_asof(
            lpdf, rp, left_on=ltsc, right_on=rtsc,
            direction=direction, allow_exact_matches=allow_exact, tolerance=tol,
        )
        merged = merged[lcols + internal]
        merged.columns = lcols + out_names
        # no-match rows: merge_asof fills scalar NaN even into array-typed
        # columns — normalize to None so Arrow conversion accepts them
        for c in out_names:
            merged[c] = merged[c].map(
                lambda v: None if (v is None or (isinstance(v, float) and pd.isna(v))) else v
            )
        return merged

    return left.groupBy(*on).cogroup(right.groupBy(*on)).applyInPandas(kernel, out_schema)


def asof_join_multi(
    left: DataFrame,
    rights: list[dict],
    on: str | list[str] = "user_id",
    left_ts: str = "ts",
    allow_exact: bool = True,
    dedup_right: bool = True,
) -> DataFrame:
    """N point-in-time joins fused into ONE shuffle + ONE sort.

    A feature pipeline rarely attaches a single dimension stream: a
    training row typically needs the latest state from several feature
    tables at once (last purchase, last profile update, last device
    event, ...).  Running N separate :func:`asof_join` calls costs N
    exchanges and N sorts over the (large) left side.  This operator
    instead tags ALL sides into one union and computes every backward
    LOCF carry in the SAME window frame — Spark fuses window expressions
    that share a (partition, order, frame) spec into a single
    ``WindowExec``, so the physical plan is one hash Exchange on the key
    plus one Sort, regardless of N (plan-pinned by tests).  At 100 TB the
    left side is shuffled exactly once instead of N times; each right
    side adds only its own (small) union input.

    ``rights``: each entry ``{"df": DataFrame, "ts": str,
    "cols": list[str] | None, "suffix": str}``.  Payload columns come
    back null when no right row with ``t' <= t`` exists (``t' < t`` when
    ``allow_exact=False``) — the same zero-temporal-leakage contract as
    :func:`asof_join` (reference ``esp/ESP.scala:89-95,154-157``: default
    until a later value arrives, never a future one).  ``dedup_right``
    keeps the lexicographically greatest payload among (key, ts)
    duplicates, matching the single-table operator.
    """
    on = [on] if isinstance(on, str) else list(on)
    if not rights:
        raise ValueError("asof_join_multi needs at least one right table")
    specs = [(spec["df"], spec["ts"],
              _right_payload_cols(spec["df"], on, spec["ts"], spec.get("cols")))
             for spec in rights]
    u, is_left, payloads = _asof_union_plan(left, specs, on, left_ts,
                                            allow_exact, dedup_right)
    w = _running(on)
    for p in payloads:
        u = u.withColumn(p, F.last(p, ignorenulls=True).over(w))
    suffixes = [spec.get("suffix", f"_{i}") for i, spec in enumerate(rights)]
    return _project(u, is_left, left.columns,
                    [(p, cols, suf) for p, (_df, _ts, cols), suf
                     in zip(payloads, specs, suffixes)])


def backfill_locf(
    df: DataFrame,
    cols: list[str],
    key: str | list[str] = "doc_id",
    ts: str | list[str] = "event_time",
    suffix: str = "_ff",
) -> DataFrame:
    """Last-observation-carried-forward over an ordered per-key timeline.

    The direct Spark transliteration of ``Rhs.Default`` ("emit default unless
    a later value arrives", reference ``esp/ESP.scala:150-167``): each null is
    replaced by the latest preceding non-null of the same key.
    """
    key = [key] if isinstance(key, str) else list(key)
    ts = [ts] if isinstance(ts, str) else list(ts)
    w = (Window.partitionBy(*key).orderBy(*ts)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w))
    return out


def scd2_intervals(
    df: DataFrame,
    key: str | list[str] = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """Compact an event stream into an SCD-type-2 validity-interval table:
    one row per observation with ``[valid_from_us, valid_to_us)`` —
    ``valid_to_us`` is the NEXT observation's time for the same key (NULL
    for the current row, flagged ``is_current``) — the offline
    feature-store layout where a point-in-time lookup becomes the range
    predicate ``valid_from <= t AND (t < valid_to OR valid_to IS NULL)``,
    exactly equivalent to the as-of join (parity pinned in tests, the
    same ``t' <= t`` zero-leakage contract as :func:`asof_join`).

    One Exchange + one Sort on the key (``lead`` over the per-key
    timeline); ties on ``ts`` are ordered by ``tiebreak``, so an earlier
    duplicate gets a zero-length interval (``valid_from == valid_to``)
    and can never be selected by the half-open lookup — duplicate
    observations resolve to the last writer, matching the as-of join's
    tie rule.
    """
    from fs2_data_spark.functions.timeutil import epoch_us

    key = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*key).orderBy("_eus", tiebreak)
    out = (df.withColumn("_eus", epoch_us(F.col(ts)))
           .withColumn("valid_from_us", F.col("_eus").cast("bigint"))
           .withColumn("valid_to_us",
                       F.lead("_eus").over(w).cast("bigint"))
           .withColumn("is_current", F.col("valid_to_us").isNull())
           .drop("_eus"))
    cols = key + ([payload_c for payload_c in payload] if payload else
                  [c for c in df.columns if c not in key])
    keep = list(dict.fromkeys(
        cols + ["valid_from_us", "valid_to_us", "is_current"]))
    return out.select(*keep)


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key: str | list[str] = "user_id",
    ts: str = "ts",
    how: str = "left",
) -> DataFrame:
    """Point-in-time DIMENSION LOOKUP against an SCD-type-2 validity
    table (the output of :func:`scd2_intervals`): each fact row picks
    the dimension version whose half-open interval covers its event
    time — ``valid_from <= t AND (t < valid_to OR valid_to IS NULL)``.
    This is the feature-store SERVING form of the as-of join: identical
    zero-leakage semantics (parity with :func:`asof_join` pinned by
    test), but the dimension is materialized once and every consumer
    pays only an equi-join, which is how offline stores actually ship
    features to training jobs.

    Correctness: a key's intervals are disjoint and half-open by
    construction (ties collapse to zero-length intervals that can never
    match), so AT MOST ONE dimension row joins per fact — no
    dedup/argmax needed after the join, and the result is
    deterministic.  ``how='left'`` keeps facts that precede the first
    dimension version (NULL attributes — honest "no knowledge yet",
    never a future leak).

    Scale shape: an equi-join ON THE KEY with the range predicate as a
    residual filter — one shuffle of each side, fan-out bounded by the
    key's version count (never a range/theta join against the whole
    dimension).  At extreme per-key version counts, bucket both sides
    on the key (``plans/partitioning.py``) and the shuffle disappears.
    """
    key = [key] if isinstance(key, str) else list(key)
    from fs2_data_spark.functions.timeutil import epoch_us

    f = facts.withColumn("__t", epoch_us(F.col(ts)))
    # rename the dimension's key columns before joining: dropping an
    # aliased duplicate after an outer join is ambiguous across Spark
    # versions, a rename is not
    d = dim
    for k in key:
        d = d.withColumnRenamed(k, f"__dk_{k}")
    cond = None
    for k in key:
        c = F.col(k) == F.col(f"__dk_{k}")
        cond = c if cond is None else cond & c
    cond = (cond
            & (F.col("valid_from_us") <= F.col("__t"))
            & ((F.col("__t") < F.col("valid_to_us"))
               | F.col("valid_to_us").isNull()))
    out = f.join(d, cond, how)
    return out.drop("__t", *[f"__dk_{k}" for k in key])
