"""Structured Streaming operators.

fs2-data is a streaming library with *incremental emission* ("items are
emitted as soon as they are complete", reference
``cbor/shared/src/main/scala/fs2/data/cbor/low/model.scala:24-27``) but no
time axis — input order is authoritative and there are no watermarks. In
Spark the streaming analogue adds event time explicitly: watermarks bound
state like fs2-data's bounded open-tag stack bounds memory (reference
``finite-state/shared/src/main/scala/fs2/data/pfsa/TreeQueryPipe.scala:57-130``).

``streaming_session_aggregate`` — gap-based session windows via the native
``session_window`` aggregation (state-store-backed, watermark-expired).

It is micro-batch testable: drive with a file/memory source and
``processAllAvailable()`` (see tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_session_aggregate(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    value: str | None = "value",
) -> DataFrame:
    """Session rollup over a *streaming* DataFrame: session bounds, event
    count and value sum per (key, session window). Late rows beyond the
    watermark are dropped; in-watermark sessions merge incrementally."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value is not None:
        aggs.append(F.sum(value).alias(f"sum_{value}"))
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("session"), F.col(key))
        .agg(*aggs)
        .select(
            key,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *[F.col(a) for a in (["n_events"] + ([f"sum_{value}"] if value else []))],
        )
    )


def _fold_running_state(carry, pdf, ts: str, value: str):
    """Fold one pandas chunk into the running-feature state tuple
    ``(n, sum_v, sum_v_us, last_v, last_ts_us)``.

    Pure and batching-invariant: ``n``/``sum_v``/``sum_v_us`` are associative
    sums; ``(last_ts_us, last_v)`` is the lexicographic max of
    ``(epoch_us(ts), value)`` over all rows folded so far, so any chunk
    partitioning/ordering of the same row set yields the same final state.
    Extracted to module level so tests can pin chunking-invariance directly.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    n, sv, svus, lv, lt = carry
    if not len(pdf):
        return carry
    vals = pdf[value].to_numpy(dtype="float64")
    n += len(pdf)
    sv += float(vals.sum())
    # exact accumulator: per-row floor(value * 1e6) summed as int64 is
    # associative, so the running total is order/batching-independent
    # (unlike the float sum) and SQL-oracle-able
    svus += int(np.floor(vals * 1e6).astype("int64").sum())
    # event-time-keyed last_* carry: chunk max of (ts, value), with value as
    # the deterministic tie-break within equal timestamps; replace the carried
    # pair only when the chunk's max beats it (round-4 driver hash-fail root
    # cause: overwriting last_* from each chunk's final row in arrival order)
    col = pdf[ts]
    if col.dtype.kind in "iu":
        # already integer epoch-microseconds (staged JVM-side via
        # unix_micros): no pandas datetime conversion at all — removes the
        # pandas/numpy-version sensitivity of the datetime64 path
        # (VERDICT r05 #2 instrumentation)
        ts_us = col.to_numpy(dtype="int64")
    else:
        s = pd.to_datetime(col)
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        ts_us = s.to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
    c_lt = int(ts_us.max())
    c_lv = float(vals[ts_us == c_lt].max())
    if lt is None or (c_lt, c_lv) > (lt, lv):
        lt, lv = c_lt, c_lv
    return (n, sv, svus, lv, lt)


def streaming_running_features(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    watermark: str = "1 hour",
    timeout_s: int | None = 3600,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState`` —
    the UDx tier for per-key incremental logic the built-in aggregations
    can't express (the Spark analogue of fs2-data's stateful stream automata,
    e.g. the running ESP environment of
    ``finite-state/shared/src/main/scala/fs2/data/esp/ESP.scala:89-167``).

    Per key it carries (count, sum, last value, last ts) across micro-batches
    and emits one row per batch with the updated running features — i.e.
    streaming LOCF + running aggregates. State expires ``timeout_s`` after
    the last event (processing-time timeout), bounding the state store like
    the watermark bounds the session operator.

    Batching-invariance contract: every carried field is a function of the
    event *set*, not of arrival order.  ``n``/``sum_v``/``sum_v_us`` are
    associative accumulators; ``(last_ts_us, last_v)`` is the lexicographic
    maximum of ``(ts, value)`` over all events seen — the carried pair is
    replaced only when a chunk's own max beats it, so chunks arriving in
    shuffle order (not event-time order) converge to the same final state
    (round-4 driver hash-fail root cause: the previous kernel overwrote
    ``last_*`` from the final row of each chunk in arrival order).

    ``timeout_s=None`` disables state expiry (``NoTimeout``).  Use it for
    bounded drains (``trigger(availableNow=True)``): with a processing-time
    timeout Spark must keep scheduling no-data cleanup batches until every
    key's timer fires (``FlatMapGroupsWithStateExec.shouldRunAnotherBatch``
    is unconditionally true under ``ProcessingTimeTimeout``), so an
    availableNow drain spins "cleaning up state" batches for up to
    ``timeout_s`` instead of terminating — measured 300 s+ of dead wait per
    smoke before this knob existed.  Continuous pipelines keep the default:
    there the periodic cleanup batches are exactly what bounds the state
    store to live keys."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    key_type = {f.name: f.dataType.simpleString()
                for f in events.schema.fields}[key]
    out_schema = (f"{key} {key_type}, n bigint, sum_v double, sum_v_us bigint, "
                  "last_v double, last_ts_us bigint")
    state_schema = ("n bigint, sum_v double, sum_v_us bigint, "
                    "last_v double, last_ts_us bigint")

    def fn(k: tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        carry = state.get if state.exists else (0, 0.0, 0, None, None)
        for pdf in pdfs:
            carry = _fold_running_state(carry, pdf, "__f_ts_us", value)
        n, sv, svus, lv, lt = carry
        state.update((n, sv, svus, lv, lt))
        if timeout_s is not None:
            state.setTimeoutDuration(timeout_s * 1000)
        yield pd.DataFrame([{key: k[0], "n": n, "sum_v": sv, "sum_v_us": svus,
                             "last_v": lv, "last_ts_us": lt}])

    # stage the epoch-microsecond int64 JVM-side so the Python state kernel
    # never touches a pandas datetime (identical values to the old
    # datetime64[ns]//1000 conversion, minus the library sensitivity)
    events = (events.withColumn(ts, F.col(ts).cast("timestamp"))
              .withColumn("__f_ts_us", F.unix_micros(F.col(ts))))
    timeout_conf = (GroupStateTimeout.NoTimeout if timeout_s is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return (events.withWatermark(ts, watermark)
            .groupBy(key)
            .applyInPandasWithState(
                fn, out_schema, state_schema, "update", timeout_conf))


def streaming_dedup(
    events: DataFrame,
    dedup_cols: list[str],
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication — the ingest-side dedup stage of a
    continuously fed training corpus: the first row per ``dedup_cols`` value
    passes, later duplicates are dropped, and the state store only retains
    keys until the watermark passes them (``dropDuplicatesWithinWatermark``
    — bounded state, unlike plain ``dropDuplicates`` whose key set grows
    forever).

    The *kept-row identity* depends on arrival order (first wins), so
    deterministic downstream contracts should project the dedup key columns
    themselves (the distinct key SET is arrival-order-independent); the
    batch analogue/oracle is ``SELECT DISTINCT dedup_cols``."""
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (events.withWatermark(ts, watermark)
            .dropDuplicatesWithinWatermark(dedup_cols))
