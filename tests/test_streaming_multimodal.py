"""Streaming tests and media codec tests.

Streaming queries are driven to completion with the memory sink over the
bounded events parquet; results must agree with the batch mirrors (q25/q26
semantics), which are themselves oracle-checked.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from pandaspark.queries import REGISTRY
from pandaspark.streaming import (
    dedup_stream,
    interval_join,
    run_to_memory,
    session_windows,
    windowed_counts,
)

from .conftest import SF_DIR, paced_stream

# the events table's columns, for hand-built event batches
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory, spark):
    """Events re-encoded to micro-precision parquet (the streaming source
    schema uses TimestampType; the raw file is TIMESTAMP(NANOS))."""
    from pandaspark.queries import load

    d = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_windowed_counts_matches_batch(spark, events_dir):
    got = run_to_memory(windowed_counts(paced_stream(spark, events_dir)), "win_counts")
    want = REGISTRY["q25_tumbling_window"].fn(spark, SF_DIR)
    g = {(str(r.bucket), r.event_type): (r.n, r.total_value) for r in got.collect()}
    w = {(str(r.bucket), r.event_type): (r.n, r.total_value) for r in want.collect()}
    assert g == w and len(g) > 0


def test_session_windows_agree_with_batch_sessionization(spark, events_dir):
    got = run_to_memory(session_windows(paced_stream(spark, events_dir)), "sessions")
    per_user = (
        got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_sessions")).collect()
    )
    batch = {r.user_id: r.n_sessions for r in REGISTRY["q26_sessionize"].fn(spark, SF_DIR).collect()}
    assert {r.user_id: r.n_sessions for r in per_user} == batch


def test_dedup_stream_drops_redelivered_events(spark, events_dir, tmp_path):
    # simulate at-least-once delivery: the same events parquet written twice
    # into the watched dir as separate files, forced into separate
    # micro-batches — every event is re-delivered and must be dropped by
    # the state store, not by intra-batch distinct
    from pandaspark.queries import load

    d = str(tmp_path / "redelivered")
    base = load(spark, SF_DIR, "events")
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)
    got = run_to_memory(dedup_stream(paced_stream(spark, d)), "dedup_stream", mode="append")
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    # maxFilesPerTrigger=1 forces multi-micro-batch execution, so matching
    # click/view rows arrive in DIFFERENT batches and must meet via join
    # state — the actual stream-stream machinery under test
    got = run_to_memory(
        interval_join(paced_stream(spark, events_dir)), "ss_join", mode="append"
    )
    want = REGISTRY["q65_interval_join"].fn(spark, SF_DIR)
    g = {(r.user_id, r.click_event, r.view_event) for r in got.collect()}
    w = {(r.user_id, r.click_event, r.view_event) for r in want.collect()}
    assert g == w and len(g) > 0


def test_interval_join_hot_key_parity(spark, tmp_path):
    """A planted hot key (user 0 carries 60 clicks x 60 views inside one
    lookback window — the output-quadratic regime from docs/SCALING.md)
    must produce IDENTICAL pairs through the stream join and the batch
    mirror, across real micro-batch boundaries."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows, eid = [], 0
    for i in range(60):  # hot user: every view falls in every click's window
        rows.append((eid, t0 + dt.timedelta(seconds=10 * i), 0, "click", 1.0, "{}"))
        eid += 1
        rows.append((eid, t0 + dt.timedelta(seconds=10 * i + 5), 0, "view", 1.0, "{}"))
        eid += 1
    for u in range(1, 21):  # cold users: one pair each
        rows.append((eid, t0 + dt.timedelta(minutes=u), u, "click", 1.0, "{}"))
        eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=u) - dt.timedelta(seconds=30), u, "view", 1.0, "{}"))
        eid += 1
    batch = spark.createDataFrame(rows, EVENTS_DDL)
    d = str(tmp_path / "hot_events")
    # 4 files -> 4 micro-batches at maxFilesPerTrigger=1: matching pairs
    # arrive in different batches and must meet through join state
    batch.repartition(4).write.parquet(d)

    a = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event"), F.col("ts").alias("click_ts")
    )
    b = batch.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_event"), F.col("ts").alias("view_ts")
    )
    want = {
        (r.user_id, r.click_event, r.view_event)
        for r in a.join(
            b,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("view_ts") <= F.col("click_ts")),
        ).collect()
    }
    # the hot key really is output-quadratic: each click pairs with every
    # PRECEDING hot view -> n(n-1)/2 pairs, plus one per cold user
    assert len(want) == 60 * 59 // 2 + 20

    got_plain = {
        (r.user_id, r.click_event, r.view_event)
        for r in run_to_memory(
            interval_join(paced_stream(spark, d)), "ss_join_plain", mode="append"
        ).collect()
    }
    assert got_plain == want


def test_real_decode_rejects_absent_codecs():
    """The REAL decode path must fail loudly on truncated/fake bytes (a
    JPEG with no SOF, a bad PNG signature, a video container, an unknown
    blob), not fabricate metadata."""
    from pandaspark.multimodal import decode_bytes

    for payload in (
        b"\xff\xd8fakejpegbytes",
        b"\x89PNGfake",
        b"\x00\x00ftypisomfakevideo",
        b"unknownkind",
    ):
        with pytest.raises(NotImplementedError, match="no stdlib codec|SOF"):
            decode_bytes(payload)


def _real_media():
    """Real decodable media bytes, built by the module's own encoders plus
    hand-crafted PNG/GIF/JPEG headers."""
    import struct

    import numpy as np

    from pandaspark.multimodal import encode_bmp, encode_ppm, encode_wav

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(3, 5, 3)).astype(np.uint8)  # 5x3, stride padding
    samples = (rng.randint(-32768, 32768, size=300)).astype(np.int16)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + struct.pack(">IIBBBBB", 40, 30, 8, 2, 0, 0, 0)
        + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 6
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0 (len 16 = 2 + 14 payload)
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 77, 99)
        + b"\x03" + b"\x00" * 2
    )
    return {
        "img.bmp": encode_bmp(px),
        "img.ppm": encode_ppm(px),
        "tone.wav": encode_wav(samples, sample_rate=8000),
        "hdr.png": png,
        "hdr.gif": gif,
        "hdr.jpg": jpeg,
    }


def test_real_decode_kernels_end_to_end():
    """REAL stdlib decode: every format yields its true dimensions/audio
    metadata (no fakes anywhere in this path)."""
    from pandaspark.multimodal import decode_bytes

    rows = {name: decode_bytes(payload) for name, payload in _real_media().items()}
    assert rows["img.bmp"]["format"] == "bmp"
    assert (rows["img.bmp"]["width"], rows["img.bmp"]["height"]) == (5, 3)
    assert (rows["img.ppm"]["width"], rows["img.ppm"]["height"]) == (5, 3)
    w = rows["tone.wav"]
    assert (
        w["format"], w["sample_rate"], w["n_channels"], w["sample_width"], w["n_frames"]
    ) == ("wav", 8000, 1, 2, 300)
    assert (rows["hdr.png"]["width"], rows["hdr.png"]["height"]) == (40, 30)
    assert (rows["hdr.gif"]["width"], rows["hdr.gif"]["height"]) == (12, 34)
    assert (rows["hdr.jpg"]["width"], rows["hdr.jpg"]["height"]) == (99, 77)


def test_codec_round_trips_are_exact():
    """encode -> decode is the identity on pixels and samples (driver-side
    kernel test, no Spark needed)."""
    import numpy as np

    from pandaspark.multimodal import (
        decode_bmp_pixels,
        decode_ppm_pixels,
        decode_wav_samples,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(4, 7, 3)).astype(np.uint8)  # 7px rows: pad=3
    assert np.array_equal(decode_bmp_pixels(encode_bmp(px)), px)
    assert np.array_equal(decode_ppm_pixels(encode_ppm(px)), px)
    # PPM with comments in the header
    commented = b"P6\n# a comment\n7 4\n# another\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm_pixels(commented), px)
    s = rng.randint(-32768, 32768, size=997).astype(np.int16)
    meta, back = decode_wav_samples(encode_wav(s, sample_rate=44100))
    assert meta == {"n_channels": 1, "sample_width": 2, "sample_rate": 44100, "n_frames": 997}
    assert np.array_equal(back, s)


def test_watermark_drops_late_data_and_finalizes_windows(spark, tmp_path):
    """Append-mode windowed agg with its 2-hour watermark: a row arriving
    after the watermark passed its window must be DROPPED, and a window is
    emitted exactly once, when the watermark crosses its end."""
    import datetime as dt

    src = tmp_path / "stream_src"
    src.mkdir()
    ck = str(tmp_path / "ck")

    def write_file(name, rows):
        df = spark.createDataFrame(
            [(i, ts, 1, et, v, None) for i, (ts, et, v) in enumerate(rows)],
            EVENTS_DDL,
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t = lambda h, m: dt.datetime(2024, 3, 1, h, m)
    # batch 1: one event each in the 10:00 and 11:00 windows, one at 13:10
    # (advances the watermark to 11:10 > 11:00 → the 10:00 window becomes
    # finalizable)
    write_file(
        "f1",
        [(t(10, 5), "click", 1.0), (t(11, 40), "click", 1.0), (t(13, 10), "click", 1.0)],
    )

    agg = windowed_counts(paced_stream(spark, str(src) + "/*"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-finalized 10:00 window (must
        # be dropped) plus a fresh row to trigger emission
        write_file("f2", [(t(10, 20), "click", 99.0), (t(14, 30), "click", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.bucket: (r.event_type, r.n, r.total_value) for r in spark.sql(
        "SELECT * FROM wm_test").collect()}
    # the 10:00 window was emitted with ONLY the on-time event — the late
    # 99.0-value row did not leak in. The 11:00 window finalized via the
    # no-data batch after the watermark advanced to 12:30. The 13:00 and
    # 14:00 windows are still open → absent from the append sink.
    assert rows == {t(10, 0): ("click", 1, 1.0), t(11, 0): ("click", 1, 1.0)}


def test_streaming_registry_entries_handle_nanos_fixtures(spark, tmp_path):
    """q165/q166 must work on BOTH event fixture generations. Build an
    int64-nanos parquet (TIMESTAMP(NANOS), readable only via the
    nanosAsLong conf) and check the streaming tumbling agg equals the
    batch q25 plan on the same data — read_event_stream's dispatch mirrors
    queries.load()'s."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandaspark.queries import load as qload

    rows = qload(spark, SF_DIR, "events").limit(200).collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r.event_id for r in rows], pa.int64()),
            "ts": pa.array([r.ts for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r.user_id for r in rows], pa.int64()),
            "event_type": pa.array([r.event_type for r in rows], pa.string()),
            "value": pa.array([r.value for r in rows], pa.float64()),
            "props": pa.array([r.props for r in rows], pa.string()),
        }
    )
    d = tmp_path / "nanos_sf"
    (d / "events.parquet").mkdir(parents=True)
    pq.write_table(tbl, str(d / "events.parquet" / "part-0.parquet"), version="2.6")
    # confirm the fixture really is the nanos generation for this Spark
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_ts = spark.read.parquet(str(d / "events.parquet")).schema["ts"].dataType
    assert isinstance(raw_ts, LongType), f"expected nanos int64 fixture, got {raw_ts}"

    got = REGISTRY["q165_stream_tumbling"].fn(spark, str(d)).collect()
    want = REGISTRY["q25_tumbling_window"].fn(spark, str(d)).collect()
    g = {(str(r.bucket), r.event_type): (r.n, r.total_value) for r in got}
    w = {(str(r.bucket), r.event_type): (r.n, r.total_value) for r in want}
    assert g == w and len(g) > 0


def test_new_streaming_entries_match_batch_on_nanos_fixture(spark, tmp_path):
    """q176/q177/q178 share read_event_stream's two-generation ts dispatch with
    q165 — assert each equals its batch mirror on an int64-nanos fixture
    (join against the static dim, interval pairs, DISTINCT keys)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandaspark.queries import load as qload

    # all 1000 sf0.001 events: the interval join's pairs are rare, and a
    # prefix slice could leave the q177 check vacuous
    rows = qload(spark, SF_DIR, "events").collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r.event_id for r in rows], pa.int64()),
            "ts": pa.array([r.ts for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r.user_id for r in rows], pa.int64()),
            "event_type": pa.array([r.event_type for r in rows], pa.string()),
            "value": pa.array([r.value for r in rows], pa.float64()),
            "props": pa.array([r.props for r in rows], pa.string()),
        }
    )
    d = tmp_path / "nanos_sf"
    (d / "events.parquet").mkdir(parents=True)
    pq.write_table(tbl, str(d / "events.parquet" / "part-0.parquet"), version="2.6")
    shutil.copy(f"{SF_DIR}/customer.parquet", d / "customer.parquet")

    ev = qload(spark, str(d), "events")

    got176 = REGISTRY["q176_stream_static_join"].fn(spark, str(d)).collect()
    cust = spark.read.parquet(f"{d}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    want176 = (
        ev.join(cust, "user_id")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias("tv"),
        )
        .collect()
    )
    g = {(str(r.day), r.segment): (r.n, r.total_value) for r in got176}
    w = {(str(r.day), r.segment): (r.n, r.tv) for r in want176}
    assert g == w and len(g) > 0

    got177 = {
        (r.user_id, r.click_event, r.view_event)
        for r in REGISTRY["q177_stream_stream_join"].fn(spark, str(d)).collect()
    }
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("ce"), F.col("ts").alias("cts")
    )
    b = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("ve"), F.col("ts").alias("vts")
    )
    want177 = {
        (r.user_id, r.ce, r.ve)
        for r in a.join(
            b,
            (F.col("user_id") == F.col("vu"))
            & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("vts") <= F.col("cts")),
        ).collect()
    }
    assert got177 == want177 and len(got177) > 0

    got178 = {
        (r.user_id, r.event_type)
        for r in REGISTRY["q178_stream_dedup"].fn(spark, str(d)).collect()
    }
    want178 = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got178 == want178 and len(got178) > 0


def test_png_round_trip_exercises_every_filter():
    """encode_png deliberately cycles scanline filters 0..4 (None/Sub/Up/
    Average/Paeth), so one >=5-row round trip proves every unfilter path;
    an RGBA variant proves the alpha-drop path; exotic variants must raise
    with the variant named."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from pandaspark.multimodal import decode_png_pixels, encode_png

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(9, 5, 3)).astype(np.uint8)
    blob = encode_png(px)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(decode_png_pixels(blob), px)
    # gradient image (Paeth/Average-friendly content, not just noise)
    grad = np.arange(9 * 5 * 3, dtype=np.uint8).reshape(9, 5, 3)
    assert np.array_equal(decode_png_pixels(encode_png(grad)), grad)

    # RGBA (color type 6): alpha dropped, RGB preserved — build by hand
    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    h, w = px.shape[:2]
    rgba = np.dstack([px, np.full((h, w), 200, np.uint8)])
    scan = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    blob4 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png_pixels(blob4), px)

    # 16-bit depth must raise and NAME the variant
    blob16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (h * (1 + w * 6))))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="bit_depth=16"):
        decode_png_pixels(blob16)
    # a damaged image raises, never decodes to silently wrong pixels
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    stream = zlib.compress(b"".join(b"\x00" + px[y].tobytes() for y in range(h)))
    cut = b"\x89PNG\r\n\x1a\n" + ihdr + chunk(b"IDAT", stream[: len(stream) // 2])
    with pytest.raises(zlib.error, match="-5"):  # stream ends mid-IDAT
        decode_png_pixels(cut + chunk(b"IEND", b""))
    flipped = stream[:10] + bytes([stream[10] ^ 0xFF]) + stream[11:]
    with pytest.raises(zlib.error, match="-3"):  # invalid deflate data
        decode_png_pixels(b"\x89PNG\r\n\x1a\n" + ihdr + chunk(b"IDAT", flipped))
    short = zlib.compress(b"\x00" * (h * (1 + w * 3) - 1))  # valid zlib, a byte short
    with pytest.raises(NotImplementedError, match="corrupt"):
        decode_png_pixels(b"\x89PNG\r\n\x1a\n" + ihdr + chunk(b"IDAT", short))
    with pytest.raises(NotImplementedError, match="without IHDR/IDAT"):
        decode_png_pixels(blob[:40])  # signature + IHDR + a cut IDAT header


def test_png_flows_through_decode_and_features():
    """PNG is a first-class image format: the metadata decode fully
    decodes an encoded PNG and reports its true dimensions."""
    import numpy as np

    from pandaspark.multimodal import decode_bytes, encode_png

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(12, 8, 3)).astype(np.uint8)
    dec = decode_bytes(encode_png(px))
    assert dec["format"] == "png"
    assert (dec["width"], dec["height"]) == (8, 12)


def test_q201_kernel_one_row_per_media_across_arrow_batches(spark):
    """The WAV kernel must emit ONE feature row per media group even when
    the group spans several Arrow batches (the iterator-form regression:
    one row per ~10k-row chunk, found by the 5x scaling sweep)."""
    from pyspark.sql import functions as F

    from pandaspark.queries import sha_int
    from pandaspark.queries.media import (
        _MEDIA_FEAT_SCHEMA,
        _N_MEDIA,
        _wav_roundtrip_features,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        ev = spark.range(2000).select(
            (F.col("id") % _N_MEDIA).alias("media_id"),
            F.col("id").alias("event_id"),
            ((sha_int(F.col("id").cast("string")) % 65536) - 32768).alias("sample"),
        )
        feats = ev.groupBy("media_id").applyInPandas(
            _wav_roundtrip_features, _MEDIA_FEAT_SCHEMA
        )
        rows = feats.collect()
        assert len(rows) == _N_MEDIA
        # every group carries all 2000/_N_MEDIA samples, not one chunk
        assert {r.n_frames for r in rows} == {2000 // _N_MEDIA}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
