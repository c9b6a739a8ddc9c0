"""SparkSession construction tuned for the engine.

Local mode is a single JVM; on a real cluster the same conf applies per
executor. AQE stays on for runtime skew-join splitting and partition
coalescing (the engine additionally handles skew explicitly — see
``fs2_data_spark.plans.partitioning``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "fs2_data_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    ``shuffle_partitions`` defaults to the core count — on a 1000-executor
    cluster you would instead size this to ~2-3x total cores.
    """
    # Arrow workers rapidly alloc/free large buffers; on microVM kernels the
    # resulting munmap/TLB-shootdown storm serializes ALL vCPUs (measured:
    # 70-94% system time, 3-4x slowdown at 32 threads). Keep big allocations
    # on the glibc heap and use Arrow's system pool. Must be set before the
    # JVM (and its python workers) spawn.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if inner in ("*", "") else max(int(inner), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE on coalescing: parallelism-first (the default, kept here)
        # targets ~cores post-shuffle partitions, which quantizes LARGE
        # window-heavy stages into one full wave + a near-empty straggler
        # wave (measured 24% of wall at local[32] on 30M rows). Large batch
        # jobs should override with parallelismFirst=false +
        # advisoryPartitionSizeInBytes sized for 3-4 waves (see
        # jobs/bench_scaling.py); the default stays parallelism-first because
        # a fixed small advisory collapses SMALL jobs to 1-2 partitions.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
