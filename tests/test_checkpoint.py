"""Resumable writes: lineage manifests, idempotent re-runs, crash resume,
stale-input invalidation."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fs2_data_spark import checkpoint
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


def _failing_publish(monkeypatch, nth):
    """Make the ``nth`` manifest publish (``os.replace``) raise, as a crash
    would."""
    calls = []
    real = checkpoint.os.replace

    def replace(src, dst):
        calls.append(dst)
        if len(calls) == nth:
            raise OSError("simulated crash")
        return real(src, dst)

    monkeypatch.setattr(checkpoint.os, "replace", replace)


def test_crash_resume_completes_missing_buckets(spark, tmp_path, monkeypatch):
    df = _data(spark)
    path = str(tmp_path / "out")
    snap = input_snapshot_id(df)
    # simulate a crash: the 4th manifest publish fails, so only buckets
    # 0..2 completed
    with monkeypatch.context() as m:
        _failing_publish(m, 4)
        with pytest.raises(OSError, match="simulated crash"):
            run_resumable(df, path, key="doc_id", n_buckets=8)
    assert sorted(resume_plan(path, 8, snap)) == list(range(3, 8))
    r = run_resumable(df, path, key="doc_id", n_buckets=8)
    assert sorted(r["computed"]) == list(range(3, 8))
    assert read_resumable(spark, path).count() == 200


def test_crash_leaves_no_manifest_over_new_data(spark, tmp_path, monkeypatch):
    """A run over a changed input that crashes before publishing any
    manifest must not leave the old manifests vouching for the new data:
    re-running the old input recomputes and restores it."""
    a, path = _data(spark), str(tmp_path / "out")
    run_resumable(a, path, key="doc_id", n_buckets=4)
    with monkeypatch.context() as m:
        _failing_publish(m, 1)
        with pytest.raises(OSError, match="simulated crash"):
            run_resumable(_data(spark, 150), path, key="doc_id", n_buckets=4)
    r = run_resumable(a, path, key="doc_id", n_buckets=4)
    assert sorted(r["computed"]) == list(range(4))
    assert read_resumable(spark, path).count() == 200
    assert verify_manifests(spark, path) == []


def test_stale_input_invalidates(spark, tmp_path):
    path = str(tmp_path / "out")
    run_resumable(_data(spark, 100), path, key="doc_id", n_buckets=4)
    # changed input -> different snapshot -> full recompute; a bucket left
    # empty by the new input must not keep its old rows, and an empty input
    # reads back empty
    shrunk = with_bucket(_data(spark, 120), "doc_id", 4).filter("__bucket != 0")
    for df in (_data(spark, 150), shrunk.drop("__bucket"), _data(spark, 0)):
        r = run_resumable(df, path, key="doc_id", n_buckets=4)
        assert sorted(r["computed"]) == list(range(4))
        got = read_resumable(spark, path).groupBy("bucket").count().collect()
        want = with_bucket(df, "doc_id", 4).groupBy("__bucket").count().collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert verify_manifests(spark, path) == []


@pytest.mark.parametrize("first,second", [((200, 8), (150, 4)),
                                          ((200, 4), (200, 8)),
                                          ((200, 8), (200, 4))],
                         ids=["shrink-new-input", "grow", "shrink"])
def test_bucket_count_change_rewrites_layout(spark, tmp_path, first, second):
    """A re-run into the same path with another bucket count recomputes
    every bucket and leaves no bucket of the old layout behind."""
    path = str(tmp_path / "out")
    run_resumable(_data(spark, first[0]), path, key="doc_id", n_buckets=first[1])
    df, n = _data(spark, second[0]), second[1]
    r = run_resumable(df, path, key="doc_id", n_buckets=n)
    assert sorted(r["computed"]) == list(range(n))
    got = read_resumable(spark, path).select(*df.columns).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, df.collect()))
    assert sorted(completed_partitions(path)) == list(range(n))
    assert verify_manifests(spark, path) == []


def test_manifest_without_bucket_count_is_recomputed_once(spark, tmp_path):
    df, path = _data(spark), str(tmp_path / "out")
    run_resumable(df, path, key="doc_id", n_buckets=4)
    for f in glob.glob(os.path.join(path, "_manifests", "part-*.json")):
        with open(f) as fh:
            m = json.load(fh)
        del m["n_buckets"]
        with open(f, "w") as fh:
            json.dump(m, fh)
    assert sorted(run_resumable(df, path, key="doc_id", n_buckets=4)["computed"]) \
        == list(range(4))
    assert run_resumable(df, path, key="doc_id", n_buckets=4)["computed"] == []
    assert read_resumable(spark, path).count() == 200


def test_bucketing_is_deterministic(spark):
    df = _data(spark)
    a = with_bucket(df, "doc_id", 8).groupBy("__bucket").count().collect()
    b = with_bucket(df.repartition(7), "doc_id", 8).groupBy("__bucket").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_manifest_contents(spark, tmp_path):
    df, path = _data(spark, 50), str(tmp_path / "out")
    r = run_resumable(df, path, key="doc_id", n_buckets=2)
    ms = completed_partitions(path)
    assert set(ms) == {0, 1}
    assert sum(m.row_count for m in ms.values()) == 50
    assert all(len(m.checksum) == 16 for m in ms.values())
    assert all(os.path.isdir(os.path.join(path, f"bucket={i}")) for i in (0, 1))
    # the snapshot id is the manifests' summed counts and xored checksums
    s = 0
    for m in ms.values():
        s ^= int(m.checksum, 16)
    assert r["input_snapshot"] == input_snapshot_id(df) == f"50-{s:016x}"


def test_verify_flags_missing_bucket_directory(spark, tmp_path):
    path = str(tmp_path / "out")
    run_resumable(_data(spark), path, key="doc_id", n_buckets=8)
    assert completed_partitions(path)[2].row_count > 0
    shutil.rmtree(os.path.join(path, "bucket=2"))
    assert verify_manifests(spark, path) == [2]


def _jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_independent_of_bucket_count(spark, tmp_path):
    """Run, verify and no-op resume each take a fixed number of jobs,
    however many buckets there are: one checksum rollup each, and one write
    job for a run."""
    df = _data(spark)
    counts = {}
    for n in (2, 16):
        path = str(tmp_path / f"out{n}")
        counts[n] = tuple(_jobs(spark, f"ckpt-{step}-{n}", fn) for step, fn in (
            ("run", lambda: run_resumable(df, path, key="doc_id", n_buckets=n)),
            ("verify", lambda: verify_manifests(spark, path)),
            ("resume", lambda: run_resumable(df, path, key="doc_id", n_buckets=n))))
    assert counts[2] == counts[16] == (4, 3, 3)
