"""Window feature stack + sessionization vs pandas oracles."""

import datetime as dt

import numpy as np

from fs2_data_spark.operators.sessionize import session_aggregate, sessionize
from fs2_data_spark.operators.windows import with_lag_lead, with_ranks, with_rolling

T0 = dt.datetime(2024, 1, 1)


def ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def test_lag_lead_matches_pandas(spark):
    df = spark.createDataFrame(
        [("a", ts(i), float(i)) for i in range(6)] + [("b", ts(i), 10.0 + i) for i in range(3)],
        "doc_id string, event_time timestamp, v double",
    )
    got = with_lag_lead(df, ["v"], key="doc_id", ts="event_time", offsets=(1, 2)).toPandas()
    got = got.sort_values(["doc_id", "event_time"]).reset_index(drop=True)
    pdf = df.toPandas().sort_values(["doc_id", "event_time"]).reset_index(drop=True)
    for k in (1, 2):
        exp_lag = pdf.groupby("doc_id")["v"].shift(k)
        exp_lead = pdf.groupby("doc_id")["v"].shift(-k)
        assert np.allclose(got[f"lag{k}_v"].fillna(-9), exp_lag.fillna(-9))
        assert np.allclose(got[f"lead{k}_v"].fillna(-9), exp_lead.fillna(-9))


def test_rolling_matches_pandas(spark, events):
    got = with_rolling(events, "value", key="user_id", ts="ts", n_rows=5,
                       aggs=("sum", "avg", "min", "max")).toPandas()
    got = got.sort_values(["user_id", "ts"]).reset_index(drop=True)
    pdf = events.toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)
    g = pdf.groupby("user_id")["value"]
    assert np.allclose(got["roll5_sum_value"], g.rolling(5, min_periods=1).sum().reset_index(drop=True))
    assert np.allclose(got["roll5_avg_value"], g.rolling(5, min_periods=1).mean().reset_index(drop=True))
    assert np.allclose(got["roll5_max_value"], g.rolling(5, min_periods=1).max().reset_index(drop=True))


def test_ranks_and_topk(spark, events):
    ranked = with_ranks(events, key="user_id", order="value", desc=True)
    pdf = events.toPandas()
    exp_top3 = pdf.sort_values("value", ascending=False).groupby("user_id").head(3)
    assert ranked.filter("row_number <= 3").count() == len(exp_top3)
    r1 = {r.user_id: r.value for r in ranked.filter("row_number = 1").collect()}
    exp_max = pdf.groupby("user_id")["value"].max()
    for uid, v in r1.items():
        assert np.isclose(v, exp_max[uid])


def test_sessionize_gap_semantics(spark):
    rows = [
        ("u", ts(0),), ("u", ts(10),), ("u", ts(50),),   # gap 40 > 30 -> new session
        ("u", ts(60),), ("u", ts(200),),                 # gap 140 -> new session
        ("v", ts(0),),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {(r.user_id, r.ts): r.session_seq
           for r in sessionize(df, key="user_id", ts="ts", gap_s=1800).collect()}
    assert got[("u", ts(0))] == 1
    assert got[("u", ts(10))] == 1
    assert got[("u", ts(50))] == 2
    assert got[("u", ts(60))] == 2
    assert got[("u", ts(200))] == 3
    assert got[("v", ts(0))] == 1


def test_session_aggregate(spark, events):
    agg = session_aggregate(events, key="user_id", ts="ts", gap_s=1800, value="value")
    # every event belongs to exactly one session
    assert agg.selectExpr("sum(n_events) s").first().s == events.count()
    # sessions are disjoint, ordered intervals per user
    pdf = agg.toPandas().sort_values(["user_id", "session_seq"])
    for _, g in pdf.groupby("user_id"):
        starts, ends = list(g.session_start), list(g.session_end)
        assert all(s <= e for s, e in zip(starts, ends))
        assert all(ends[i] < starts[i + 1] for i in range(len(g) - 1))


def test_ewma_matches_closed_form(spark):
    from fs2_data_spark.operators.windows import with_ewma
    vs = [10.0, 20.0, 5.0, 40.0, 0.0]
    df = spark.createDataFrame([(1, i, v) for i, v in enumerate(vs)],
                               "k int, t int, value double")
    got = {r.t: r.ewma for r in with_ewma(df, key="k", ts="t",
                                          alpha=0.3).collect()}
    for t in range(len(vs)):
        num = sum((1 - 0.3) ** (t - j) * vs[j] for j in range(t + 1))
        den = sum((1 - 0.3) ** (t - j) for j in range(t + 1))
        assert abs(got[t] - num / den) < 1e-12


def test_ewma_partitioning_invariant_and_tiebreak(spark, events):
    """EWMA is order-sensitive: with (ts, event_id) tie-break the result
    must not depend on input partitioning."""
    from pyspark.sql import functions as F
    from fs2_data_spark.operators.windows import with_ewma
    sub = events.filter(F.col("user_id") < 20).select(
        "event_id", "user_id", "ts", "value")
    a = {r.event_id: r.ewma for r in
         with_ewma(sub, key="user_id", ts=["ts", "event_id"]).collect()}
    b = {r.event_id: r.ewma for r in
         with_ewma(sub.repartition(13), key="user_id",
                   ts=["ts", "event_id"]).collect()}
    assert a == b
    assert len(a) == sub.count()


def test_grouped_median_exact(spark):
    """GROUPED_AGG pandas-UDF median (the Python-UDAF tier):
    interpolating on even counts, matching numpy/DuckDB exactly."""
    from fs2_data_spark.operators.windows import grouped_median
    rows = [(1, 1.0), (1, 3.0), (1, 100.0),            # odd: middle value
            (2, 1.0), (2, 2.0), (2, 3.0), (2, 10.0),   # even: mean of mid 2
            (3, 7.5)]
    df = spark.createDataFrame(rows, "user_id int, value double")
    got = {r.user_id: r.median_v for r in grouped_median(df).collect()}
    assert got == {1: 3.0, 2: 2.5, 3: 7.5}


def test_multi_horizon_hand_computed(spark):
    """Trailing multi-horizon features vs hand computation, including the
    inclusive-boundary case (a row exactly horizon-old still counts)."""
    import datetime as dt
    from fs2_data_spark.operators.windows import multi_horizon_features
    t0 = dt.datetime(2024, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [  # one user; values chosen to make each horizon distinct
        (1, "u", m(0), 1.0),
        (2, "u", m(9), 2.0),    # 9min later
        (3, "u", m(19), 4.0),   # 10min after row 2 (inclusive boundary)
        (4, "u", m(100), 8.0),  # only itself in 10m; rows 1-3 in 6h
        (5, "v", m(5), 16.0),   # other key: never mixed in
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id string, ts timestamp, value double")
    got = {r.event_id: r for r in multi_horizon_features(
        df, value="value", key="user_id", ts="ts",
        horizons_us={"10m": 600_000_000, "6h": 21_600_000_000}).collect()}
    assert (got[1].h10m_cnt, got[1].h10m_sum) == (1, 1.0)
    assert (got[2].h10m_cnt, got[2].h10m_sum) == (2, 3.0)
    # row 3: row 2 is 10min old == horizon -> INCLUDED; row 1 is 19min old
    assert (got[3].h10m_cnt, got[3].h10m_sum) == (2, 6.0)
    assert (got[4].h10m_cnt, got[4].h10m_sum) == (1, 8.0)
    assert (got[4].h6h_cnt, got[4].h6h_sum) == (4, 15.0)
    assert got[4].h6h_mean == 15.0 / 4
    assert (got[5].h10m_cnt, got[5].h10m_sum) == (1, 16.0)


def test_multi_horizon_null_values_and_invariance(spark, events):
    """Null values: count skips them, sum ignores them, mean of an
    all-null window is null; results partition-invariant."""
    from pyspark.sql import functions as F
    from fs2_data_spark.operators.windows import multi_horizon_features
    ev = events.withColumn(
        "value", F.when(F.col("event_id") % 7 != 0, F.col("value")))
    a = {r.event_id: (r.h10m_cnt, r.h10m_sum, r.h10m_mean)
         for r in multi_horizon_features(
             ev.coalesce(1), horizons_us={"10m": 600_000_000}).collect()}
    b = {r.event_id: (r.h10m_cnt, r.h10m_sum, r.h10m_mean)
         for r in multi_horizon_features(
             ev.repartition(11), horizons_us={"10m": 600_000_000}).collect()}
    assert a == b
    # count counts only non-null values; sum/mean are null exactly when
    # the window holds none
    assert all((s is None) == (cnt == 0) and (mn is None) == (cnt == 0)
               for cnt, s, mn in a.values())


def test_cascade_rollup_monoid_law(spark, events):
    """Each cascaded level must equal aggregating that level directly from
    raw — count/decimal-sum/min/max re-aggregation is lossless."""
    from pyspark.sql import functions as F
    from fs2_data_spark.functions.timeutil import epoch_us
    from fs2_data_spark.operators.windows import cascade_rollup
    levels = cascade_rollup(events, ts="ts", value="value",
                            keys=("user_id",),
                            levels_us=(600_000_000, 3_600_000_000))
    for w, df in levels.items():
        direct = (events.groupBy(
            "user_id",
            (F.floor(epoch_us(F.col("ts")) / F.lit(w)) * F.lit(w))
            .cast("bigint").alias("bucket_us"))
            .agg(F.count("value").alias("n"),
                 F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_v"),
                 F.min("value").alias("min_v"),
                 F.max("value").alias("max_v")))
        got = sorted(map(str, df.select(
            "user_id", "bucket_us", "n",
            F.col("sum_v").cast("double"), "min_v", "max_v").collect()))
        exp = sorted(map(str, direct.select(
            "user_id", "bucket_us", "n",
            F.col("sum_v").cast("double"), "min_v", "max_v").collect()))
        assert got == exp, w


def test_cascade_rollup_validates_multiples(spark, events):
    from fs2_data_spark.operators.windows import cascade_rollup
    import pytest as _pt
    with _pt.raises(ValueError, match="multiple"):
        cascade_rollup(events, levels_us=(300_000_000, 700_000_000))


def test_ohlc_hand_computed(spark):
    import datetime as dt
    from fs2_data_spark.operators.windows import ohlc_candles
    T0 = dt.datetime(2024, 1, 5)
    rows = [("u", T0 + dt.timedelta(hours=h), v)
            for h, v in [(1, 5.0), (3, 9.0), (7, 2.0), (20, 6.0),
                         (25, 100.0)]]  # last lands in the next day
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    out = {r.bucket_us: r for r in ohlc_candles(df).collect()}
    day = 86_400_000_000
    d0 = int(T0.timestamp() * 1_000_000) // day * day
    c = out[d0]
    assert (c.open, c.high, c.low, c.close, c.n) == (5.0, 9.0, 2.0, 6.0, 4)
    assert c.mean4 == round((5 + 9 + 2 + 6) / 4, 4)
    assert out[d0 + day].open == 100.0 and out[d0 + day].n == 1


def test_rank_normalize_ties_and_range(spark):
    import pytest
    from fs2_data_spark.operators.encoding import rank_normalize
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 20.0), ("g", 4, 40.0),
         ("h", 5, 7.0)],
        "event_type string, event_id bigint, value double")
    got = {r.event_id: r.pct_rank
           for r in rank_normalize(df, group="event_type").collect()}
    assert got[1] == 0.0 and got[4] == 1.0
    assert got[2] == got[3] == pytest.approx(1 / 3)  # ties share a rank
    assert got[5] == 0.0  # singleton group


def test_exact_split_proportions_and_determinism(spark):
    from fs2_data_spark.operators.mixing import exact_stratified_split
    rows = [(i, "s%d" % (i % 3)) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = exact_stratified_split(df, strata="source", id_col="doc_id")
    counts = {(r.source, r.split): r["count"]
              for r in out.groupBy("source", "split").count().collect()}
    for s in ("s0", "s1", "s2"):  # 200 per stratum -> exactly 160/20/20
        assert counts[(s, "train")] == 160
        assert counts[(s, "val")] == 20
        assert counts[(s, "test")] == 20
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, exact_stratified_split(
        df.repartition(13), strata="source", id_col="doc_id").collect()))
    assert a == b  # partitioning-invariant assignment


def test_trailing_distinct_exact(spark):
    import datetime as dt
    from fs2_data_spark.operators.windows import trailing_distinct
    T = dt.datetime(2024, 3, 1)
    rows = [("g", T + dt.timedelta(minutes=m), u, i)
            for i, (m, u) in enumerate(
                [(0, 1), (10, 2), (30, 1), (70, 3), (200, 9)])]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, user_id bigint, event_id bigint")
    got = {r.event_id: r.trailing_distinct
           for r in trailing_distinct(df, horizon_us=3_600_000_000).collect()}
    assert got[0] == 1          # {1}
    assert got[1] == 2          # {1,2}
    assert got[2] == 2          # {1,2} (dup user)
    assert got[3] == 3          # 70m: 10,30,70 in window -> {2,1,3}
    assert got[4] == 1          # everything else expired
