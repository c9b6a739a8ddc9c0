"""Resumable writes: lineage manifests, idempotent re-runs, crash resume,
stale-input invalidation."""

import os

from pyspark.sql import functions as F

from fs2_data_spark.checkpoint import (
    completed_partitions,
    input_snapshot_id,
    read_resumable,
    resume_plan,
    run_resumable,
    verify_manifests,
    with_bucket,
)


def _data(spark, n=200):
    return spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % 37).cast("string")).alias("doc_id"),
        F.col("id").alias("v"),
    )


def test_full_run_then_noop_resume(spark, tmp_path):
    df = _data(spark)
    path = str(tmp_path / "out")
    r1 = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert sorted(r1["computed"]) == list(range(8))
    assert r1["rows_written"] == 200
    # second run: same input snapshot -> nothing recomputed
    r2 = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert r2["computed"] == [] and len(r2["skipped"]) == 8
    # read-back completeness
    assert read_resumable(spark, path).count() == 200
    assert verify_manifests(spark, path) == []


def test_each_run_evaluates_input_once(spark, tmp_path):
    """The snapshot job fills the cache the bucket writes read: a fresh run
    and a no-op resume each pull every input row through ``df`` once."""
    acc = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    base = _data(spark)
    df = base.mapInArrow(count, base.schema)
    path = str(tmp_path / "out")
    r1 = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert acc.value == 200 and r1["rows_written"] == 200
    r2 = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert acc.value == 400 and r2["computed"] == []
    assert r2["input_snapshot"] == r1["input_snapshot"] == input_snapshot_id(base)


def test_crash_resume_completes_missing_buckets(spark, tmp_path):
    df = _data(spark)
    path = str(tmp_path / "out")
    snap = input_snapshot_id(df)
    # simulate a crash: only buckets 0..2 completed
    from fs2_data_spark.checkpoint import write_partition
    b = with_bucket(df, "doc_id", 8).persist()
    for i in range(3):
        write_partition(b, path, i, snap)
    b.unpersist()
    assert sorted(resume_plan(path, 8, snap)) == list(range(3, 8))
    r = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert sorted(r["computed"]) == list(range(3, 8))
    assert read_resumable(spark, path).count() == 200


def test_stale_input_invalidates(spark, tmp_path):
    path = str(tmp_path / "out")
    run_resumable(_data(spark, 100), path, key="doc_id", n_buckets=4)
    # changed input -> different snapshot -> full recompute
    r = run_resumable(_data(spark, 150), path, key="doc_id", n_buckets=4)
    assert sorted(r["computed"]) == list(range(4))
    assert read_resumable(spark, path).count() == 150


def test_bucketing_is_deterministic(spark):
    df = _data(spark)
    a = with_bucket(df, "doc_id", 8).groupBy("__bucket").count().collect()
    b = with_bucket(df.repartition(7), "doc_id", 8).groupBy("__bucket").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_manifest_contents(spark, tmp_path):
    path = str(tmp_path / "out")
    run_resumable(_data(spark, 50), path, key="doc_id", n_buckets=2)
    ms = completed_partitions(path)
    assert set(ms) == {0, 1}
    assert sum(m.row_count for m in ms.values()) == 50
    assert all(len(m.checksum) == 16 for m in ms.values())
    assert all(os.path.isdir(os.path.join(path, f"bucket={i}")) for i in (0, 1))
