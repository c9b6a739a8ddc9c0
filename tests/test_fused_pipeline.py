"""fused_pit_features (one window stage) and the Arrow token kernel must
exactly equal their composed / expression-level references."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions.token_kernels import token_features_arrow
from fs2_data_spark.functions.tokens import tok_fingerprint, tok_stats
from fs2_data_spark.operators.asof import asof_join
from fs2_data_spark.operators.sessionize import sessionize
from fs2_data_spark.operators.windows import with_lag_lead
from fs2_data_spark.pipeline import fused_pit_features
from fs2_data_spark.tables import observations, token_sequences


@pytest.fixture(scope="module")
def payload(spark):
    seqs = token_sequences(spark, 600, n_docs=30).drop("tokens").cache()
    obs = observations(spark, 200, n_docs=30).cache()
    seqs.count(), obs.count()
    return seqs, obs


def _rows(df, cols):
    return sorted(str(tuple(r)) for r in df.select(cols).collect())


def test_fused_equals_composed(spark, payload):
    seqs, obs = payload
    a = asof_join(seqs, obs, on="doc_id", left_ts="event_time", right_ts="obs_time",
                  right_cols=["feature_vec", "obs_source"], strategy="union")
    a = with_lag_lead(a, ["n_tok"], key="doc_id", ts=["event_time", "seq_no"])
    a = sessionize(a, key="doc_id", ts="event_time", gap_s=1800,
                   order_by=["event_time", "seq_no"])
    b = fused_pit_features(seqs, obs, gap_s=1800)
    cols = sorted(set(a.columns) & set(b.columns))
    assert _rows(a, cols) == _rows(b, cols)


def test_fused_strict_mode(spark, payload):
    seqs, obs = payload
    a = asof_join(seqs, obs, on="doc_id", left_ts="event_time", right_ts="obs_time",
                  right_cols=["feature_vec"], strategy="union", allow_exact=False)
    b = fused_pit_features(seqs, obs, right_cols=["feature_vec"], gap_s=None,
                           allow_exact=False)
    cols = sorted(set(a.columns) & set(b.columns))
    assert _rows(a, cols) == _rows(b, cols)


def test_fused_plan_shape(spark, payload):
    """The whole feature stack must plan as window passes over ONE hash
    exchange per input branch — no join node, no extra exchange after the
    union (the scale-defining property)."""
    seqs, obs = payload
    b = fused_pit_features(seqs, obs, gap_s=1800)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan or "SortMergeJoin" not in plan
    # exchanges: one per union branch (same partitioning) + obs dedup agg
    assert plan.count("Exchange hashpartitioning") <= 3


def _null_keys(df):
    """doc_1 and doc_2 merged into one NULL key."""
    return df.withColumn(
        "doc_id", F.when(~F.col("doc_id").isin("doc_1", "doc_2"), F.col("doc_id")))


def _null_ts(seqs, obs):
    """NULL ``event_time`` on every 17th sequence, NULL ``obs_time`` on
    about a seventh of the observations."""
    return (seqs.withColumn("event_time", F.when(F.col("seq_no") % 17 != 0,
                                                 F.col("event_time"))),
            obs.withColumn("obs_time", F.when(
                F.pmod(F.xxhash64("doc_id", "obs_time"), F.lit(7)) != 0,
                F.col("obs_time"))))


_BUCKETS = [60_000_000, 45 * 60 * 1_000_000, 10**13]


@pytest.mark.parametrize(
    "bucket_us,nulls",
    [pytest.param(b, None, id=str(b)) for b in _BUCKETS]
    + [pytest.param(b, "keys", id=f"null_keys-{b}") for b in _BUCKETS]
    + [pytest.param(b, "ts", id=f"null_ts-{b}") for b in _BUCKETS])
def test_fused_segmented_equals_fused(spark, payload, bucket_us, nulls):
    """The segmented physical plan (skew-proof (key, time-bucket) windows +
    summary carries) must be value-identical to the single-window plan for
    every bucket size, incl. the degenerate one-bucket case — and for NULL
    keys, whose carries join back NULL-safe, and NULL timestamps, which
    form each key's first (NULL) bucket."""
    seqs, obs = payload
    if nulls == "keys":
        seqs, obs = _null_keys(seqs), _null_keys(obs)
    elif nulls == "ts":
        seqs, obs = _null_ts(seqs, obs)
    a = fused_pit_features(seqs, obs, gap_s=1800)
    b = fused_pit_features(seqs, obs, gap_s=1800, bucket_us=bucket_us)
    cols = sorted(a.columns)
    assert _rows(a, cols) == _rows(b, cols)


def test_fused_segmented_strict_no_session(spark, payload):
    seqs, obs = payload
    a = fused_pit_features(seqs, obs, right_cols=["feature_vec"], gap_s=None,
                           allow_exact=False)
    b = fused_pit_features(seqs, obs, right_cols=["feature_vec"], gap_s=None,
                           allow_exact=False, bucket_us=45 * 60 * 1_000_000)
    cols = sorted(a.columns)
    assert _rows(a, cols) == _rows(b, cols)


def test_token_kernel_equals_expressions(spark):
    seqs = token_sequences(spark, 300, n_docs=20).cache()
    a = token_features_arrow(seqs).toPandas().sort_values("seq_no").reset_index(drop=True)
    b = (tok_stats(seqs).withColumn("fp", tok_fingerprint("tokens"))
         .toPandas().sort_values("seq_no").reset_index(drop=True))
    assert (a.tok_fp == b.fp).all()
    assert (a.tok_sum == b.tok_sum).all()
    assert (a.tok_min == b.tok_min).all() and (a.tok_max == b.tok_max).all()
    assert np.allclose(a.tok_mean, b.tok_mean)
    assert "tokens" not in a.columns  # payload pruned from the feature table


def test_token_kernel_partitioning_invariance(spark):
    seqs = token_sequences(spark, 300, n_docs=20)
    a = sorted(str(tuple(r)) for r in token_features_arrow(seqs.repartition(1)).collect())
    b = sorted(str(tuple(r)) for r in token_features_arrow(seqs.repartition(13)).collect())
    assert a == b


def test_fused_zero_temporal_leakage(spark, payload):
    """north_rule invariant, pinned directly on the flagship plan: adding
    right-side observations strictly AFTER every sequence timestamp must not
    change a single output row (t' <= t, no future influence)."""
    seqs, obs = payload
    base = fused_pit_features(seqs, obs, gap_s=1800)
    max_t = seqs.agg(F.max("event_time")).first()[0]
    future = obs.limit(40).withColumn(
        "obs_time", F.lit(max_t) + F.expr("INTERVAL 1 HOUR")).withColumn(
        "feature_vec", F.transform("feature_vec", lambda x: x * 0 + 9999.0))
    poisoned = fused_pit_features(seqs, obs.unionByName(future), gap_s=1800)
    cols = base.columns
    assert _rows(base, cols) == _rows(poisoned, cols)
