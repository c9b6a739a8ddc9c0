"""Hot-key routing: sampled heavy-hitter detection, and the hybrid pipeline
(hot keys through the segmented-scan plan) equal to the single-window plan
— the optimized-vs-unoptimized equivalence pattern of the reference
(``finite-state/shared/src/test/scala/fs2/data/mft/QuerySpec.scala:32-34``).
The segmented plan itself is pinned against the single-window plan for
several bucket sizes, strict as-of and NULL keys in
tests/test_fused_pipeline.py."""

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.operators.segmented import detect_hot_keys
from fs2_data_spark.pipeline import pit_feature_pipeline
from fs2_data_spark.tables import observations, token_sequences


@pytest.fixture(scope="module")
def payload(spark):
    # heavy skew: ~10% of rows on doc_0; tiny buckets force many carries
    seqs = token_sequences(spark, 600, n_docs=30).cache()
    obs = observations(spark, 200, n_docs=30).cache()
    seqs.count(), obs.count()
    return seqs, obs


def _sorted(df, cols=("doc_id", "event_time", "seq_no")):
    return [tuple(map(str, r)) for r in
            df.orderBy(*cols).collect()]


BUCKET_US = 45 * 60 * 1_000_000  # 45 min: rows are 60s apart, many per bucket


def test_detect_hot_keys(spark, payload):
    seqs, _ = payload
    hot = detect_hot_keys(seqs, "doc_id", threshold_frac=0.05, sample_fraction=1.0)
    assert "doc_0" in hot
    assert len(hot) <= 3


# None sizes the buckets from the hot subset's span, as the benchmarks run it
@pytest.mark.parametrize("bucket_us", [BUCKET_US, None], ids=["fixed", "auto"])
def test_pipeline_hybrid_equals_normal(spark, payload, bucket_us):
    seqs, obs = payload
    hybrid = pit_feature_pipeline(seqs, obs, gap_s=1800, bucket_us=bucket_us,
                                  hot_keys=["doc_0"])
    plain = pit_feature_pipeline(seqs, obs, gap_s=1800, hot_keys=[])
    cols = sorted(set(hybrid.columns) & set(plain.columns))
    assert _sorted(hybrid.select(cols)) == _sorted(plain.select(cols))

    # NULL keys take the single-window plan, also when the sampled hot list
    # holds None (array_contains would be NULL for every other key)
    n_seqs, n_obs = (df.withColumn("doc_id", F.when(
        ~F.col("doc_id").isin("doc_1", "doc_2"), F.col("doc_id"))) for df in payload)
    plain = pit_feature_pipeline(n_seqs, n_obs, gap_s=1800, hot_keys=[])
    assert plain.count() == seqs.count()
    for hot in (["doc_0"], ["doc_0", None]):
        hybrid = pit_feature_pipeline(n_seqs, n_obs, gap_s=1800,
                                      bucket_us=bucket_us, hot_keys=hot)
        assert _sorted(hybrid.select(cols)) == _sorted(plain.select(cols)), hot

    # NULL timestamps on both sides: a hot key's NULL-ts rows form its
    # first (NULL) bucket
    t_seqs = seqs.withColumn("event_time", F.when(F.col("seq_no") % 17 != 0,
                                                  F.col("event_time")))
    t_obs = obs.withColumn("obs_time", F.when(
        F.pmod(F.xxhash64("doc_id", "obs_time"), F.lit(7)) != 0, F.col("obs_time")))
    hybrid = pit_feature_pipeline(t_seqs, t_obs, gap_s=1800, bucket_us=bucket_us,
                                  hot_keys=["doc_0"])
    plain = pit_feature_pipeline(t_seqs, t_obs, gap_s=1800, hot_keys=[])
    assert _sorted(hybrid.select(cols)) == _sorted(plain.select(cols))
