"""Streaming tumbling/sliding window aggregation vs batch equivalence."""

import datetime as dt

from pyspark.sql import functions as F

from fs2_data_spark.streaming.windows import streaming_windowed_agg

T0 = dt.datetime(2024, 1, 1)


def _drain(spark, out, name):
    for q in spark.streams.active:
        if q.name and q.name.startswith(name):
            q.stop()
    q = (out.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _events(spark, tmp_path, n=500):
    import random
    rng = random.Random(5)
    rows = [(rng.randint(0, 9),
             T0 + dt.timedelta(seconds=rng.randint(0, 3600)),
             round(rng.random() * 10, 3)) for _ in range(n)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    src = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(src)
    return df, spark.readStream.schema(df.schema).parquet(src)


def test_tumbling_equals_batch(spark, tmp_path):
    df, stream = _events(spark, tmp_path)
    got = _drain(spark, streaming_windowed_agg(
        stream, width="5 minutes"), "t_tumble")
    exp = (df.groupBy(
        "user_id",
        (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 300_000_000)
         * 300_000_000).cast("bigint").alias("win_start_us"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint"))
             .alias("sum_v_us")))
    g = sorted(map(str, got.select("user_id", "win_start_us", "n",
                                   "sum_v_us").collect()))
    e = sorted(map(str, exp.collect()))
    assert g == e and len(g) > 10


def test_sliding_each_event_in_two_windows(spark, tmp_path):
    df, stream = _events(spark, tmp_path, n=300)
    got = _drain(spark, streaming_windowed_agg(
        stream, width="10 minutes", slide="5 minutes"), "t_slide")
    rows = got.collect()
    n_events = df.count()
    # every event lands in exactly width/slide = 2 windows
    assert sum(r.n for r in rows) == 2 * n_events
    for r in rows:
        assert r.win_end_us - r.win_start_us == 600_000_000
        assert r.win_start_us % 300_000_000 == 0


def test_candles_equal_batch_operator_across_batch_sizes(spark, tmp_path):
    """Finalized streaming candles must equal the batch ohlc_candles
    (parity) REGARDLESS of micro-batch slicing — the struct-min/max
    accumulators are associative, so maxFilesPerTrigger=1 over many part
    files (forced multi-batch, arbitrary file order) cannot change them."""
    from fs2_data_spark.operators.windows import ohlc_candles
    from fs2_data_spark.streaming.windows import streaming_candles

    df, _ = _events(spark, tmp_path, n=400)
    src = str(tmp_path / "ev_many")
    df.repartition(7).write.mode("overwrite").parquet(src)  # 7 part files

    batch = {(r.user_id, r.bucket_us): (r.open, r.high, r.low, r.close, r.n)
             for r in ohlc_candles(df, key="user_id", ts="ts",
                                   value="value",
                                   bucket_us=300_000_000).collect()}
    for trigger_files in (None, 1):
        reader = spark.readStream.schema(df.schema)
        if trigger_files:
            reader = reader.option("maxFilesPerTrigger", trigger_files)
        stream = reader.parquet(src)
        got = _drain(spark, streaming_candles(
            stream, width="5 minutes"), f"t_candle_{trigger_files}")
        s = {(r.user_id, r.win_start_us): (r.open, r.high, r.low, r.close,
                                           r.n) for r in got.collect()}
        assert s == batch, f"parity broke at maxFilesPerTrigger={trigger_files}"


def test_stream_source_staging_path_is_per_process(spark):
    """The streaming smokes' staged file source lives under a per-process
    path: the same for every call in one process (staged once), different
    in another process, so two processes running the same smoke at once
    never overwrite each other's files."""
    import subprocess
    import sys
    from pathlib import Path

    from fs2_data_spark.queries import _stage_stream_source, _stream_source_path

    here = _stream_source_path("/data/sf0.01", "ij")
    assert here == _stream_source_path("/data/sf0.01", "ij")
    assert here != _stream_source_path("/data/sf0.01", "sess")
    other = subprocess.run(
        [sys.executable, "-c",
         "from fs2_data_spark.queries import _stream_source_path; "
         "print(_stream_source_path('/data/sf0.01', 'ij'))"],
        capture_output=True, text=True, check=True, timeout=120,
        cwd=Path(__file__).resolve().parent.parent).stdout.strip()
    assert other and other != here

    df = spark.createDataFrame([(1, 2.0)], "user_id int, value double")
    src = _stage_stream_source(df, "/data/test-staging", "t")
    assert src == _stage_stream_source(df, "/data/test-staging", "t")
    assert spark.read.parquet(src).count() == 1
