"""Resumable partitioned writes with per-partition lineage manifests.

north_rule requirement: jobs "resume from per-partition checkpoints with
lineage manifests (partition id, input snapshot, row counts, feature
checksums)". The reference's analogue is chunk-boundary restartability of its
pull-based parsers (every accumulator is complete at chunk boundaries, e.g.
``json/src/main/scala/fs2/data/json/internal/JsonTokenParser.scala:38-47``).

Design (no Iceberg jars in-sandbox, so snapshot ids are content hashes):

- the output is partitioned by a bucket column (``pmod(xxhash64(key), n)``)
  into ``bucket=<i>/`` directories — deterministic, so a re-run reproduces
  the same partition contents;
- each completed bucket gets ``_manifests/part-<i>.json`` recording partition
  id, input snapshot id, row count, an order-insensitive xor checksum of
  row hashes (cheap, distributed, and permutation-safe) and the bucket
  count of its layout. One rollup gives every bucket's count and checksum
  and their total, the input snapshot id: run, verify and resume take a
  fixed number of jobs;
- ``resume_plan`` diffs manifests against the requested buckets so a restart
  recomputes only missing/invalid buckets, dropping their manifests first; a
  run with another bucket count recomputes every bucket and drops the ids
  beyond its count.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

BUCKET_COL = "__bucket"
_EMPTY = (0, f"{0:016x}")


@dataclass
class PartitionManifest:
    partition_id: int
    input_snapshot: str
    row_count: int
    checksum: str
    written_at: float
    n_buckets: int | None = None  # absent in older manifests: reads as stale


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def _checksums(df: DataFrame, by: str | None = None) -> dict:
    """``{group: (row count, checksum)}`` from one aggregate: the count and
    the ``%016x`` xor of ``xxhash64(struct(row))`` over the columns but
    ``by``, per ``by`` value and, keyed ``None``, for the whole frame.
    Groups without rows are absent: their stats are ``_EMPTY``."""
    h = F.xxhash64(F.struct(*[F.col(c) for c in df.columns if c != by]))
    rows = df.rollup(*[by] if by else []).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("s")).collect()
    return {r[by] if by else None: (r.n, f"{(r.s or 0) & 0xFFFFFFFFFFFFFFFF:016x}")
            for r in rows}


def _snapshot_of(stats: dict) -> str:
    return "%d-%s" % stats.get(None, _EMPTY)


def input_snapshot_id(df: DataFrame) -> str:
    """Content-hash snapshot id of an input (stands in for an Iceberg
    snapshot): xor of row hashes — order- and partitioning-insensitive."""
    return _snapshot_of(_checksums(df))


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _manifest_path(path: str, pid: int) -> str:
    return os.path.join(_manifest_dir(path), f"part-{pid}.json")


def completed_partitions(path: str) -> dict[int, PartitionManifest]:
    out: dict[int, PartitionManifest] = {}
    for f in glob.glob(os.path.join(_manifest_dir(path), "part-*.json")):
        with open(f) as fh:
            m = PartitionManifest(**json.load(fh))
        out[m.partition_id] = m
    return out


def resume_plan(path: str, n_buckets: int, input_snapshot: str) -> list[int]:
    """Buckets still to compute: missing manifests, plus manifests written
    from a different input snapshot or bucket count (stale lineage ->
    recompute)."""
    done = completed_partitions(path)
    return [b for b in range(n_buckets)
            if b not in done or (done[b].input_snapshot, done[b].n_buckets)
            != (input_snapshot, n_buckets)]


def _drop(path: str, buckets) -> None:
    """Remove the manifests and ``bucket=<i>/`` directories of ``buckets``."""
    for b in buckets:
        if os.path.exists(_manifest_path(path, b)):
            os.remove(_manifest_path(path, b))
        shutil.rmtree(os.path.join(path, f"bucket={b}"), ignore_errors=True)


def _drop_beyond(path: str, n_buckets: int) -> None:
    """Drop every bucket id ``>= n_buckets`` left by a layout with more
    buckets: its directory or its manifest."""
    ids = {int(d.rsplit("=", 1)[1])
           for d in glob.glob(os.path.join(path, "bucket=*"))}
    _drop(path, [b for b in ids | set(completed_partitions(path)) if b >= n_buckets])


def write_partition(df_bucketed: DataFrame, path: str, buckets: list[int],
                    input_snapshot: str, stats: dict,
                    n_buckets: int) -> list[PartitionManifest]:
    """(Over)write ``buckets`` of an ``n_buckets`` layout and their
    manifests, ``stats`` being ``_checksums`` by bucket. Their manifests and
    directories are dropped, all of them are written in one ``partitionBy``
    append job, and only then are the manifests published: a crash leaves
    buckets without a manifest, never a manifest over other data."""
    _drop(path, buckets)
    rows = df_bucketed.filter(F.col(BUCKET_COL).isin(buckets))
    rows.withColumnRenamed(BUCKET_COL, "bucket").write.mode("append") \
        .partitionBy("bucket").parquet(path)
    if not glob.glob(os.path.join(path, "bucket=*")):  # no rows: keep the schema
        rows.drop(BUCKET_COL).write.parquet(os.path.join(path, f"bucket={buckets[0]}"))
    os.makedirs(_manifest_dir(path), exist_ok=True)
    written = []
    for b in buckets:
        m = PartitionManifest(b, input_snapshot, *stats.get(b, _EMPTY),
                              time.time(), n_buckets)
        tmp = _manifest_path(path, b) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(asdict(m), fh)
        os.replace(tmp, _manifest_path(path, b))  # atomic publish
        written.append(m)
    return written


def run_resumable(
    df: DataFrame,
    path: str,
    key: str,
    n_buckets: int = 16,
    input_snapshot: str | None = None,
) -> dict:
    """Compute/refresh all stale buckets; returns a summary. A re-invocation
    after a crash (or with unchanged input) only touches missing buckets.

    ``df`` is evaluated once per call: the bucketed frame is persisted, one
    grouped ``_checksums`` job fills the cache and gives the snapshot id and
    every manifest's stats, and the one write job reads the cache."""
    bucketed = with_bucket(df, key, n_buckets).persist()
    try:
        stats = _checksums(bucketed, BUCKET_COL)
        snap = input_snapshot or _snapshot_of(stats)
        todo = resume_plan(path, n_buckets, snap)
        _drop_beyond(path, n_buckets)
        written = (write_partition(bucketed, path, todo, snap, stats, n_buckets)
                   if todo else [])
    finally:
        bucketed.unpersist()
    return {
        "input_snapshot": snap,
        "n_buckets": n_buckets,
        "computed": [m.partition_id for m in written],
        "skipped": [b for b in range(n_buckets) if b not in todo],
        "rows_written": sum(m.row_count for m in written),
    }


def read_resumable(spark: SparkSession, path: str) -> DataFrame:
    """Read back a resumable dataset (bucket partition pruning applies)."""
    return spark.read.option("basePath", path).parquet(os.path.join(path, "bucket=*"))


def verify_manifests(spark: SparkSession, path: str) -> list[int]:
    """Re-checksum every bucket against its manifest in one grouped
    aggregate over ``read_resumable``; returns the corrupt ids, sorted. A
    missing bucket directory reads as an empty bucket."""
    found = (_checksums(read_resumable(spark, path), "bucket")
             if glob.glob(os.path.join(path, "bucket=*")) else {})
    return sorted(pid for pid, m in completed_partitions(path).items()
                  if found.get(pid, _EMPTY) != (m.row_count, m.checksum))
