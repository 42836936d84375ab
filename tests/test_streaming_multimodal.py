"""Streaming (readStream end-to-end) and multimodal plumbing tests."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Copy the events table into a directory so the file stream source
    can watch it (single-file parquet isn't a valid stream source root)."""
    d = tmp_path_factory.mktemp("events_stream")
    from graphlite_spark.datasets.tpch import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(d / "parquet")
    df.write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_tumbling_counts_stream_matches_batch(spark, events_stream_dir):
    from graphlite_spark.streaming.windows import run_stream_to_memory, tumbling_counts

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r.window_start, r.event_type): r.n
        for r in tumbling_counts(batch).collect()
    }

    stream = (
        spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    )
    assert stream.isStreaming
    run_stream_to_memory(tumbling_counts(stream), "tumbling_test")
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("tumbling_test").collect()
    }
    assert got == expected and len(got) > 10


def test_session_windows_batch(spark, events_stream_dir):
    from graphlite_spark.streaming.windows import session_windows

    batch = spark.read.parquet(events_stream_dir)
    got = session_windows(batch, gap="10 minutes").collect()
    assert len(got) > 0
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in got)


def test_stream_dedup_batch_path(spark):
    from graphlite_spark.streaming.windows import stream_dedup

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (1, "a", "2024-01-01 00:01:00"),
         (2, "b", "2024-01-01 00:02:00")],
        "id: long, k: string, ts_s: string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    assert stream_dedup(df, ["id"]).count() == 2


def test_streaming_rollup_cascade_matches_batch(spark, events_stream_dir):
    """Chained window aggregation (minute -> hour) on a real stream: in
    append mode only watermark-finalized windows emit, so the stream
    output must equal the batch cascade minus the unfinalized tail."""
    from graphlite_spark.streaming.windows import streaming_rollup

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        g: {
            (r.bucket, r.n_rows, round(r.sum_value, 4)): True
            for r in frames.collect()
        }
        for g, frames in streaming_rollup(
            batch, grains=("minute", "hour"), aggs={"value": "sum"}
        ).items()
    }
    max_ts = batch.agg(F.max("ts")).first()[0]

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    got = {}
    rolled = streaming_rollup(
        stream, grains=("minute", "hour"), aggs={"value": "sum"},
        watermark="0 seconds",
    )
    for g, frame in rolled.items():
        q = (
            frame.writeStream.format("memory")
            .queryName(f"roll_{g}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got[g] = {
            (r.bucket, r.n_rows, round(r.sum_value, 4)): True
            for r in spark.table(f"roll_{g}").collect()
        }
    for g, dur_s in (("minute", 60), ("hour", 3600)):
        # every emitted window must match batch exactly
        assert set(got[g]) <= set(expected[g]), g
        # and everything strictly before the last (unfinalized) window emits
        finalized = {
            k for k in expected[g]
            if k[0].timestamp() + dur_s <= max_ts.timestamp()
        }
        assert finalized <= set(got[g]), g
        assert len(got[g]) > 0, g


def test_streaming_rollup_batch_cascade_consistency(spark, events_stream_dir):
    """Coarser grains must re-aggregate finer ones exactly (sum of minute
    n_rows per hour == hour n_rows)."""
    from graphlite_spark.streaming.windows import streaming_rollup

    batch = spark.read.parquet(events_stream_dir)
    r = streaming_rollup(batch, grains=("minute", "hour"), aggs={"value": "sum"})
    per_hour = {
        row.b: (row.n, round(row.s, 4))
        for row in r["minute"]
        .groupBy(F.date_trunc("hour", "bucket").alias("b"))
        .agg(F.sum("n_rows").alias("n"), F.sum("sum_value").alias("s"))
        .collect()
    }
    hours = {row.bucket: (row.n_rows, round(row.sum_value, 4))
             for row in r["hour"].collect()}
    assert per_hour == hours and len(hours) > 0


# --- multimodal --------------------------------------------------------------


def test_image_features_fake_decode(spark):
    from graphlite_spark.operators.multimodal import image_features, make_fake_assets

    assets = make_fake_assets(spark, n=6)
    feats = image_features(assets, deterministic_fake=True).collect()
    assert len(feats) == 6
    by_id = {r.asset_id: r for r in feats}
    assert all(len(r.embedding) == 8 for r in feats)
    # deterministic: same content → same features on rerun
    again = {r.asset_id: r for r in
             image_features(make_fake_assets(spark, n=6),
                            deterministic_fake=True).collect()}
    assert by_id[0].embedding == again[0].embedding
    assert by_id[0].width == again[0].width


def test_image_decode_stub_raises(spark):
    from py4j.protocol import Py4JJavaError

    from graphlite_spark.operators.multimodal import image_features, make_fake_assets

    with pytest.raises(Exception) as ei:
        image_features(make_fake_assets(spark, n=1)).collect()
    assert "NotImplementedError" in str(ei.value) or "imaging library" in str(ei.value)


def test_sample_frames_expansion(spark):
    from graphlite_spark.operators.multimodal import make_fake_assets, sample_frames

    assets = make_fake_assets(spark, n=3, modality="video")
    frames = sample_frames(assets, every_ms=1000, deterministic_fake=True)
    got = frames.groupBy("asset_id").count().collect()
    by_id = {r.asset_id: r["count"] for r in got}
    # duration 5000+1000*i ms → 5, 6, 7 frames
    assert by_id == {0: 5, 1: 6, 2: 7}


def test_stateful_running_totals_stream_matches_batch(spark, events_stream_dir):
    from graphlite_spark.streaming.stateful import running_totals

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        r.key: (r.n_events, round(r.total_value, 4))
        for r in running_totals(batch).collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode: take the last emitted row per key
    rows = spark.sql(
        "SELECT * FROM running_test"
    ).collect()
    last = {}
    for r in rows:
        last[r.key] = (r.n_events, round(r.total_value, 4))
    assert last == expected and len(last) >= 3


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    from graphlite_spark.streaming.stateful import streaming_exact_dedup

    d = str(tmp_path / "docs_stream")
    # file 0: ids 0-3 with one in-batch dup (0/1 same text);
    # file 1: ids 10-12 — 10 duplicates text "a" from batch 0, 11/12 new
    spark.createDataFrame(
        [(0, "a a a"), (1, "A A A  "), (2, "b"), (3, "c")], "doc_id long, text string"
    ).coalesce(1).write.parquet(d + "/f0")
    spark.createDataFrame(
        [(10, "a a a"), (11, "d"), (12, "e")], "doc_id long, text string"
    ).coalesce(1).write.parquet(d + "/f1")
    batch = spark.read.option("recursiveFileLookup", "true").parquet(d)

    # batch fallback: min-id per content hash
    kept_b = sorted(r.doc_id for r in streaming_exact_dedup(batch).collect())
    assert kept_b == [0, 2, 3, 11, 12]

    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(d)
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_stream_test").collect()
    kept_s = sorted(r.doc_id for r in rows)
    # cross-batch dup (10) and in-batch dup (1) both dropped; ids arrive
    # in order, so first-arrival == min-id and stream matches batch
    assert kept_s == kept_b
    assert len({r.content_hash for r in rows}) == len(rows)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    from graphlite_spark.streaming.joins import interval_join
    from graphlite_spark.streaming.windows import run_stream_to_memory

    batch = spark.read.parquet(events_stream_dir)
    clicks_b = batch.filter(F.col("event_type") == "click")
    views_b = batch.filter(F.col("event_type") == "view")
    joined_b = interval_join(
        clicks_b.select("event_id", "user_id", "ts"),
        views_b.select("event_id", "user_id", "ts"),
        key="user_id", lookback="1 hour",
    )
    expected = {(r.event_id, r.r_event_id) for r in joined_b.collect()}
    assert expected, "fixture should produce at least one pair"

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    clicks_s = stream.filter(F.col("event_type") == "click")
    views_s = stream.filter(F.col("event_type") == "view")
    joined_s = interval_join(
        clicks_s.select("event_id", "user_id", "ts"),
        views_s.select("event_id", "user_id", "ts"),
        key="user_id", lookback="1 hour",
    )
    run_stream_to_memory(joined_s, "ssj_test", output_mode="append")
    got = {(r.event_id, r.r_event_id) for r in spark.table("ssj_test").collect()}
    assert got == expected


def test_stream_enrich_broadcasts_dim(spark, events_stream_dir):
    from graphlite_spark.streaming.joins import enrich
    from graphlite_spark.streaming.windows import run_stream_to_memory

    batch = spark.read.parquet(events_stream_dir)
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("error", "ops")],
        "event_type string, category string",
    )
    expected = (
        batch.join(dim, "event_type")
        .groupBy("category").count().rdd.map(tuple).collect()
    )
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    out = enrich(stream, dim, on="event_type", how="inner")
    run_stream_to_memory(out.groupBy("category").count(), "enrich_test")
    got = [tuple(r) for r in spark.table("enrich_test").collect()]
    assert sorted(got) == sorted(expected)


def test_audio_features_fake_decode(spark):
    from graphlite_spark.operators.multimodal import audio_features, make_fake_assets

    assets = make_fake_assets(spark, n=6, modality="audio")
    rows = audio_features(assets, deterministic_fake=True).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.sample_rate in (8000, 16000, 24000, 32000, 40000, 48000)
        assert len(r.mfcc) == 13
        assert all(-20.0 <= v <= 20.0 for v in r.mfcc)
    # content-derived determinism: same asset -> same features across runs
    again = audio_features(assets, deterministic_fake=True).collect()
    assert {r.asset_id: r.mfcc for r in rows} == {r.asset_id: r.mfcc for r in again}


def test_multimodal_to_similarity_pipeline(spark):
    """End-to-end composition: decode-stub embeddings feed the ANN
    operator unchanged — the multimodal output schema IS the similarity
    input schema (asset embeddings as array<double>)."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.multimodal import image_features, make_fake_assets
    from graphlite_spark.operators.similarity import cosine_topk

    assets = make_fake_assets(spark, n=10)
    emb = image_features(assets, deterministic_fake=True).select(
        F.col("asset_id").alias("vec_id"), "embedding"
    )
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    # 2 nearest neighbors per asset (self-matches excluded by the op)
    top = cosine_topk(emb, queries, k=2)
    rows = top.collect()
    assert len(rows) == 20  # 10 queries x k=2
    for r in rows:
        assert r.query_id != r.item_id
        assert -1.0 - 1e-9 <= r.score <= 1.0 + 1e-9


def test_idempotent_parquet_sink(spark, events_stream_dir, tmp_path):
    """foreachBatch exactly-once: draining the stream twice over the
    same checkpoint adds nothing; replaying one epoch by hand overwrites
    its partition instead of duplicating rows."""
    from graphlite_spark.streaming.sinks import (
        idempotent_parquet_sink,
        run_stream_to_parquet,
    )

    batch = spark.read.parquet(events_stream_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    run_stream_to_parquet(stream.select("event_id", "event_type"), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == batch.count()

    # same checkpoint -> no new epochs -> unchanged output
    stream2 = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    run_stream_to_parquet(stream2.select("event_id", "event_type"), out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # simulate an epoch replay: re-invoking the writer for batch 0
    # overwrites _batch_id=0 (dynamic partition overwrite), never appends
    writer = idempotent_parquet_sink(out)
    writer(batch.select("event_id", "event_type"), 0)
    assert spark.read.parquet(out).count() == n1


def test_real_bmp_png_decode(spark):
    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, image_features, synth_bmp, synth_png,
    )

    # left half black, right half white -> embedding ramps 0 -> 1
    def pixel(x, y):
        v = 255 if x >= 4 else 0
        return (v, v, v)

    rows = [
        (0, "image", bytearray(synth_bmp(8, 4, pixel)), None, (8, 4, None, "bmp")),
        (1, "image", bytearray(synth_png(8, 4, pixel)), None, (8, 4, None, "png")),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r.asset_id: r for r in image_features(assets).collect()}
    for aid in (0, 1):
        r = got[aid]
        assert (r.width, r.height) == (8, 4)
        assert len(r.embedding) == 8
        # flattened row-major chunks: each chunk is half a row, so the
        # black left / white right halves alternate exactly
        assert r.embedding == pytest.approx([0, 1, 0, 1, 0, 1, 0, 1], abs=0.01)
    # BMP and PNG decode to the SAME pixels -> identical embeddings
    assert got[0].embedding == pytest.approx(got[1].embedding)


def _png_with_filters(img, ftypes):
    """Hand-filtered 8-bit RGB PNG: row y uses filter ftypes[y % len]."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = img.shape
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int32)
        f = ftypes[y % len(ftypes)]
        raw.append(f)
        enc = line.copy()
        for i in range(len(line)):
            a = line[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            else:
                pred = 0
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes(int(v) for v in enc)
        prev = line

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_all_filter_types_and_adam7():
    # spec §9 filters None/Sub/Up/Average/Paeth all reconstruct the
    # same pixels; Adam7 interlacing (spec §8.2: seven independently
    # filtered sub-images) decodes identically to the sequential
    # encoding of the same image, including sizes with empty passes
    import numpy as np
    import pytest as _pytest

    from graphlite_spark.operators.multimodal import _decode_image, synth_png

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    _, _, base = _decode_image(synth_png(9, 12, img))
    for fts in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        _, _, emb = _decode_image(_png_with_filters(img, fts))
        assert emb == _pytest.approx(base, abs=1e-12), fts

    for (w, h) in [(9, 12), (1, 1), (3, 2), (8, 8), (33, 21)]:
        im = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        seq = _decode_image(synth_png(w, h, im))
        inter = _decode_image(synth_png(w, h, im, interlace=True))
        assert seq[:2] == inter[:2] == (w, h)
        assert inter[2] == _pytest.approx(seq[2], abs=0), (w, h)


def test_real_jpeg_decode(spark):
    # baseline JPEG through the Spark pipeline: 4:4:4 all-ones qtable is
    # bit-exact on gray-uniform content; 4:2:0 and a real luminance
    # qtable stay within lossy tolerance
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, image_features, synth_jpeg,
    )

    def pixel(x, y):
        return ((x * 3) % 256, (y * 5) % 256, (x + y) % 256)

    img = np.array([[pixel(x, y) for x in range(24)] for y in range(16)],
                   dtype=np.uint8)
    lum = (0.299 * img[..., 0] + 0.587 * img[..., 1]
           + 0.114 * img[..., 2]).ravel() / 255.0
    n = lum.size
    expected = [float(lum[(k * n) // 8:((k + 1) * n) // 8].mean())
                for k in range(8)]
    QL = [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
          14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
          18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
          49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99]
    rows = [
        (0, "image", bytearray(synth_jpeg(24, 16, img)), None,
         (24, 16, None, "jpeg")),
        (1, "image", bytearray(synth_jpeg(24, 16, img, subsample=True)), None,
         (24, 16, None, "jpeg420")),
        (2, "image", bytearray(synth_jpeg(24, 16, img, quality_qtable=QL)),
         None, (24, 16, None, "jpegq50")),
        (3, "image", bytearray(synth_jpeg(20, 12, lambda x, y: (130, 130, 130))),
         None, (20, 12, None, "uniform")),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r.asset_id: r for r in image_features(assets).collect()}
    assert (got[0].width, got[0].height) == (24, 16)
    assert got[0].embedding == pytest.approx(expected, abs=1e-12)  # lossless
    assert got[1].embedding == pytest.approx(expected, abs=0.02)   # 4:2:0
    assert got[2].embedding == pytest.approx(expected, abs=0.05)   # q50
    assert (got[3].width, got[3].height) == (20, 12)
    assert got[3].embedding == pytest.approx([130 / 255.0] * 8, abs=1e-9)


def test_real_gif_decode(spark):
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, image_features, synth_gif,
    )

    rng = np.random.default_rng(9)
    idx = rng.integers(0, 256, size=(30, 40), dtype=np.uint8)
    lum = (0.299 * idx + 0.587 * idx + 0.114 * idx).astype(float).ravel() / 255.0
    n = lum.size
    expected = [float(lum[(k * n) // 8:((k + 1) * n) // 8].mean())
                for k in range(8)]
    rows = [
        (0, "image", bytearray(synth_gif(40, 30, idx)), None,
         (40, 30, None, "gif")),
        (1, "image", bytearray(synth_gif(20, 12, lambda x, y: 130)), None,
         (20, 12, None, "gif")),
    ]
    got = {r.asset_id: r for r in
           image_features(spark.createDataFrame(rows, ASSET_SCHEMA)).collect()}
    assert (got[0].width, got[0].height) == (40, 30)
    assert got[0].embedding == pytest.approx(expected, abs=1e-12)
    v = (0.299 * 130 + 0.587 * 130 + 0.114 * 130) / 255.0
    assert got[1].embedding == pytest.approx([v] * 8, abs=1e-12)


def test_decode_on_error_modes(spark):
    # corpus-scale tolerance: one corrupt asset must not kill the job
    # when on_error='null'/'skip'; default 'fail' keeps strictness
    import pytest as _pytest

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, image_features, synth_bmp,
    )

    rows = [
        (0, "image", bytearray(synth_bmp(8, 4, lambda x, y: (10, 10, 10))),
         None, (8, 4, None, "bmp")),
        (1, "image", bytearray(b"\x00garbage"), None, (None, None, None, "?")),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    with _pytest.raises(Exception):
        image_features(assets).collect()  # default fail
    got = {r.asset_id: r for r in
           image_features(assets, on_error="null").collect()}
    assert got[0].width == 8 and got[1].width is None
    assert got[1].embedding is None
    kept = image_features(assets, on_error="skip").collect()
    assert [r.asset_id for r in kept] == [0]
    with _pytest.raises(ValueError, match="on_error"):
        image_features(assets, on_error="bogus")


def test_sample_frames_real_animated_gif(spark):
    # video-ish REAL path: animated GIF frames composited per the GCE
    # delay/disposal model, sampled on the every_ms grid, PNG-encoded
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, _decode_image, sample_frames, synth_animated_gif,
    )

    frames = [np.full((12, 20), v, dtype=np.uint8) for v in (50, 100, 150)]
    gif = synth_animated_gif(20, 12, frames, delay_ms=100)
    assets = spark.createDataFrame(
        [(7, "video", bytearray(gif), None, (20, 12, 300, "gif"))],
        ASSET_SCHEMA,
    )
    got = sorted(sample_frames(assets, every_ms=100).collect(),
                 key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.ts_ms) for r in got] == [(0, 0), (1, 100), (2, 200)]
    for r, v in zip(got, (50, 100, 150)):
        w, h, emb = _decode_image(bytes(r.frame))
        assert (w, h) == (20, 12)
        lum = (0.299 * v + 0.587 * v + 0.114 * v) / 255.0
        assert emb == pytest.approx([lum] * 8, abs=1e-12)


def test_sample_frames_real_mjpeg_avi(spark):
    # video REAL path #2: MJPEG-in-AVI — RIFF 'movi' chunk walk, frame
    # period from avih, sampled frames are the stream's own JPEGs
    # (no transcode) which the JPEG decoder then reads
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, _decode_image, sample_frames, synth_avi_mjpeg,
    )

    vals = (40, 90, 140, 190)
    frames = [np.full((12, 20, 3), v, dtype=np.uint8) for v in vals]
    avi = synth_avi_mjpeg(20, 12, frames, frame_ms=100)
    assets = spark.createDataFrame(
        [(9, "video", bytearray(avi), None, (20, 12, 400, "mjpeg"))],
        ASSET_SCHEMA,
    )
    got = sorted(sample_frames(assets, every_ms=150).collect(),
                 key=lambda r: r.frame_idx)
    # 400 ms total on a 150 ms grid -> ts 0/150/300 -> source frames 0/1/3
    assert [(r.frame_idx, r.ts_ms) for r in got] == [(0, 0), (1, 150), (2, 300)]
    for r, src in zip(got, (0, 1, 3)):
        w, h, emb = _decode_image(bytes(r.frame))
        assert (w, h) == (20, 12)
        v = vals[src]
        lum = (0.299 * v + 0.587 * v + 0.114 * v) / 255.0
        assert emb == pytest.approx([lum] * 8, abs=1e-12)


def test_streaming_mjpeg_avi_sampling_matches_batch(spark, tmp_path):
    # video ingestion as a STREAM: binaryFile -> sample_frames; the
    # operator is a plain transformation so stream == batch
    import numpy as np

    from pyspark.sql import functions as F

    from graphlite_spark.operators.multimodal import (
        sample_frames, synth_avi_mjpeg,
    )

    d = tmp_path / "vids"
    d.mkdir()
    for i in range(4):
        frames = [np.full((8, 8, 3), (i * 50 + k * 10) % 256, np.uint8)
                  for k in range(3)]
        (d / f"vid_{i:03d}.avi").write_bytes(
            synth_avi_mjpeg(8, 8, frames, frame_ms=40))

    def to_assets(df):
        return df.select(
            F.regexp_extract("path", r"vid_(\d+)\.avi", 1)
            .cast("long").alias("asset_id"),
            "content",
            F.lit(None).cast("long").alias("duration_ms"),
        ).withColumn("meta", F.struct(
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.col("duration_ms"),
            F.lit("mjpeg").alias("codec"),
        ))

    batch = sample_frames(
        to_assets(spark.read.format("binaryFile").load(str(d))), every_ms=40)
    expected = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
                for r in batch.collect()}
    assert len(expected) == 12  # 4 assets x 3 frames on a 40 ms grid

    static = spark.read.format("binaryFile").load(str(d))
    stream = (spark.readStream.format("binaryFile")
              .schema(static.schema).load(str(d)))
    q = (
        sample_frames(to_assets(stream), every_ms=40)
        .writeStream.format("memory").queryName("avi_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
           for r in spark.table("avi_stream").collect()}
    assert got == expected


def test_gif_lzw_dictionary_growth():
    # synth_gif emits literal-only codes; a REAL LZW compressor here
    # exercises the decoder's dictionary branches (multi-symbol
    # entries, the code==len(table) KwKwK case, code-width growth)
    import struct

    import numpy as np

    from graphlite_spark.operators.multimodal import _decode_image

    def lzw_compress(indexes, min_code=8):
        clear, end = 1 << min_code, (1 << min_code) + 1
        dict_ = {(i,): i for i in range(clear)}
        next_code = end + 1
        code_size = min_code + 1
        codes = [clear]
        w = ()
        for p in indexes:
            wk = w + (p,)
            if wk in dict_:
                w = wk
                continue
            codes.append(dict_[w])
            dict_[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
            if next_code >= 4096:
                codes.append(clear)
                dict_ = {(i,): i for i in range(clear)}
                next_code = end + 1
                code_size = min_code + 1
            w = (p,)
        if w:
            codes.append(dict_[w])
        codes.append(end)
        # pack with the same growing code width the decoder will use
        out = bytearray()
        val = nbits = 0
        size = min_code + 1
        next_c = end + 1
        for c in codes:
            val |= c << nbits
            nbits += size
            while nbits >= 8:
                out.append(val & 0xFF)
                val >>= 8
                nbits -= 8
            if c == clear:
                size = min_code + 1
                next_c = end + 1
            elif c != end:
                next_c += 1
                if next_c - 1 == (1 << size) and size < 12:
                    size += 1
        if nbits:
            out.append(val & 0xFF)
        return bytes(out)

    # repetitive content -> real dictionary reuse
    idx = np.tile(np.arange(16, dtype=np.uint8).repeat(4), 64)[:40 * 30]
    data = lzw_compress(idx.tolist())
    gif = bytearray()
    gif += b"GIF89a" + struct.pack("<HH", 40, 30) + bytes([0xF7, 0, 0])
    gif += bytes(v for i in range(256) for v in (i, i, i))
    gif += b"\x2C" + struct.pack("<HHHH", 0, 0, 40, 30) + b"\x00"
    gif.append(8)
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        gif.append(len(chunk))
        gif += chunk
    gif += b"\x00\x3B"
    assert len(data) < idx.size  # actually compressed
    w, h, emb = _decode_image(bytes(gif))
    lum = (0.299 * idx + 0.587 * idx + 0.114 * idx).astype(float) / 255.0
    n = lum.size
    expected = [float(lum[(k * n) // 8:((k + 1) * n) // 8].mean())
                for k in range(8)]
    assert (w, h) == (40, 30)
    assert emb == pytest.approx(expected, abs=1e-12)


def test_jpeg_progressive_matches_baseline():
    # SOF2 spectral-selection + successive-approximation scans must
    # reconstruct the identical coefficients as the baseline encoding
    # of the same image (the 10-scan script transmits every bit):
    # pixel-exact gray parity, all layouts, quantized and not
    import numpy as np

    from graphlite_spark.operators.multimodal import _decode_jpeg, synth_jpeg

    rng = np.random.default_rng(7)
    for (w, h) in [(8, 8), (17, 9), (33, 21)]:
        for sub in (False, True):
            img = rng.integers(0, 256, (h, w, 3), np.uint8)
            gb = _decode_jpeg(synth_jpeg(w, h, img, subsample=sub))
            gp = _decode_jpeg(
                synth_jpeg(w, h, img, subsample=sub, progressive=True))
            assert gb[:2] == gp[:2] == (w, h)
            assert np.array_equal(np.asarray(gb[2]), np.asarray(gp[2]))
    # non-trivial quant table: EOB runs + ZRL + refinement corrections
    qt = np.arange(1, 65).astype(float)
    img = rng.integers(0, 256, (24, 40, 3), np.uint8)
    gb = _decode_jpeg(synth_jpeg(40, 24, img, quality_qtable=qt))
    gp = _decode_jpeg(
        synth_jpeg(40, 24, img, quality_qtable=qt, progressive=True))
    assert np.array_equal(np.asarray(gb[2]), np.asarray(gp[2]))
    # gray-uniform closed form (the oracle gate's construction)
    for v in (0, 130, 255):
        uni = np.full((12, 20, 3), v, np.uint8)
        _, _, g = _decode_jpeg(synth_jpeg(20, 12, uni, progressive=True))
        assert np.allclose(g, v / 255.0, atol=1e-12)


def test_jpeg_progressive_truncation_fuzz():
    # truncated / bit-flipped progressive streams must fail cleanly or
    # decode a valid prefix of scans — never hang the worker
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, _decode_jpeg, synth_jpeg,
    )

    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (12, 20, 3), np.uint8)
    blob = synth_jpeg(20, 12, img, progressive=True)
    for cut in (4, 10, 50, len(blob) // 4, len(blob) // 2, len(blob) - 3):
        try:
            w, h, g = _decode_jpeg(blob[:cut])
            assert (w, h) == (20, 12)  # decoded a valid scan prefix
        except DECODE_ERRORS:
            pass
    for pos in range(10, min(len(blob), 400), 23):
        mutated = bytearray(blob)
        mutated[pos] ^= 0xFF
        try:
            _decode_jpeg(bytes(mutated))
        except DECODE_ERRORS:
            pass


def test_decoder_truncation_robustness():
    # corpus reality: truncated containers must fail CLEANLY (raise) or
    # decode the valid prefix — never hang or segfault the worker
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        _decode_audio, _decode_image, synth_bmp, synth_gif, synth_jpeg,
        synth_png, synth_wav,
    )

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (12, 20, 3), np.uint8)
    samples = {
        "bmp": synth_bmp(20, 12, lambda x, y: (1, 2, 3)),
        "png": synth_png(20, 12, img),
        "jpeg": synth_jpeg(20, 12, img),
        "gif": synth_gif(20, 12, img[:, :, 0]),
    }
    for name, blob in samples.items():
        for cut in (4, 10, 20, 50, len(blob) // 2):
            try:
                w, h, emb = _decode_image(blob[:cut])
                assert len(emb) == 8  # decoded a valid prefix
            except Exception:
                pass  # clean failure is the expected outcome
        for pos in range(10, min(len(blob), 200), 17):
            mutated = bytearray(blob)
            mutated[pos] ^= 0xFF
            try:
                _decode_image(bytes(mutated))
            except Exception:
                pass
    wav = synth_wav()
    for cut in (4, 12, 30, len(wav) // 2):
        try:
            _decode_audio(wav[:cut], 13)
        except Exception:
            pass


def test_png_decode_wall_time():
    # the decode kernels are numpy-vectorized — a 1024x1024 RGB PNG
    # (≈3.1M pixel-channels) must decode in well under a second of
    # kernel time; the old per-pixel Python loops took ~20s+
    import time

    import numpy as np

    from graphlite_spark.operators.multimodal import _decode_image, synth_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(1024, 1024, 3), dtype=np.uint8)
    content = synth_png(1024, 1024, img)
    t0 = time.monotonic()
    w, h, emb = _decode_image(content)
    dt = time.monotonic() - t0
    assert (w, h) == (1024, 1024) and len(emb) == 8
    # generous bound (loaded CI machines): the pre-vectorization
    # per-pixel Python path took >20s; the numpy path is ~0.3s idle
    assert dt < 10.0, f"vectorized PNG decode took {dt:.2f}s"


def test_real_wav_decode(spark):
    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, audio_features, synth_wav,
    )

    # 440 Hz sine at 16 kHz for 250 ms
    wav = synth_wav(rate=16000, freq=440.0, ms=250)
    assets = spark.createDataFrame(
        [(0, "audio", bytearray(wav), None, (None, None, None, "wav"))],
        ASSET_SCHEMA,
    )
    r = audio_features(assets, n_mfcc=13).collect()[0]
    assert r.sample_rate == 16000
    assert r.duration_ms == 250
    assert len(r.mfcc) == 13
    # true MFCC: c0 is the (scaled) total log-mel energy — the largest
    # coefficient for any real signal
    assert r.mfcc[0] == max(r.mfcc) and r.mfcc[0] > 0
    # MFCCs are discriminative and deterministic: a different pitch
    # yields a different vector, the same pitch an identical one
    assets2 = spark.createDataFrame(
        [(0, "audio", bytearray(synth_wav(rate=16000, freq=880.0, ms=250)),
          None, (None, None, None, "wav")),
         (1, "audio", bytearray(synth_wav(rate=16000, freq=440.0, ms=250)),
          None, (None, None, None, "wav"))],
        ASSET_SCHEMA,
    )
    got = {x.asset_id: x.mfcc for x in
           audio_features(assets2, n_mfcc=13).collect()}
    assert got[1] == pytest.approx(list(r.mfcc), abs=1e-12)
    assert max(abs(a - b) for a, b in zip(got[0], got[1])) > 0.01


def test_sample_frames_guards(spark):
    import numpy as np
    import pytest as _p

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, sample_frames, synth_animated_gif,
    )

    gif = synth_animated_gif(8, 6, [np.zeros((6, 8), np.uint8)] * 2, 100)
    assets = spark.createDataFrame(
        [(0, "video", bytearray(gif), None, (8, 6, 200, "gif"))], ASSET_SCHEMA)
    with _p.raises(ValueError, match="every_ms"):
        sample_frames(assets, every_ms=0)
    # deterministic_fake bypasses the real GIF decoder entirely —
    # corrupt GIF-magic bytes must not break the plumbing path
    bad = spark.createDataFrame(
        [(1, "video", bytearray(b"GIF89a" + b"\x00" * 4), None,
          (None, None, 2000, "?"))], ASSET_SCHEMA)
    got = sample_frames(bad, every_ms=1000, deterministic_fake=True).collect()
    assert [r.frame_idx for r in got] == [0, 1]


def test_streaming_image_decode_matches_batch(spark, tmp_path):
    # multimodal ingestion as a STREAM: binaryFile source -> the same
    # Arrow-batched decode operator -> memory sink; stream == batch.
    # (image_features is a plain transformation, so it composes with
    # readStream unchanged — the 100 TB ingest shape.)
    import numpy as np

    from graphlite_spark.operators.multimodal import image_features, synth_png

    d = tmp_path / "imgs"
    d.mkdir()
    rng = np.random.default_rng(4)
    for i in range(6):
        img = rng.integers(0, 256, (10, 12, 3), np.uint8)
        (d / f"asset_{i:03d}.png").write_bytes(synth_png(12, 10, img))

    def to_assets(df):
        return df.select(
            F.regexp_extract("path", r"asset_(\d+)\.png", 1)
            .cast("long").alias("asset_id"),
            "content",
        )

    batch = image_features(to_assets(spark.read.format("binaryFile").load(str(d))))
    expected = {r.asset_id: (r.width, r.height, tuple(r.embedding))
                for r in batch.collect()}

    static = spark.read.format("binaryFile").load(str(d))
    stream = (spark.readStream.format("binaryFile")
              .schema(static.schema).load(str(d)))
    q = (
        image_features(to_assets(stream))
        .writeStream.format("memory").queryName("img_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.asset_id: (r.width, r.height, tuple(r.embedding))
           for r in spark.table("img_stream").collect()}
    assert got == expected and len(got) == 6


def test_jpeg_restart_markers_roundtrip():
    # DRI/RSTn path: vectorized destuffer records boundaries, reader
    # reseeks, DC predictors reset — bit-exact at every interval
    import numpy as np

    from graphlite_spark.operators.multimodal import _decode_image, synth_jpeg

    def pix(x, y):
        return ((x * 3) % 256, (y * 5) % 256, (x + y) % 256)

    img = np.array([[pix(x, y) for x in range(32)] for y in range(24)],
                   dtype=np.uint8)
    lum = (0.299 * img[..., 0] + 0.587 * img[..., 1]
           + 0.114 * img[..., 2]).ravel() / 255.0
    n = lum.size
    expected = [float(lum[(k * n) // 8:((k + 1) * n) // 8].mean())
                for k in range(8)]
    for ri in (0, 1, 3, 5):
        w, h, emb = _decode_image(synth_jpeg(32, 24, img, restart_interval=ri))
        assert (w, h) == (32, 24)
        assert emb == pytest.approx(expected, abs=1e-12), ri
    w, h, emb = _decode_image(
        synth_jpeg(32, 24, img, subsample=True, restart_interval=2))
    assert emb == pytest.approx(expected, abs=0.02)


def test_accelerated_decoder_dispatch(spark, monkeypatch):
    # the accel hook: no Pillow in this environment -> 'auto' falls back
    # to builtin, 'accel' fails the task; with a stand-in module
    # injected, 'auto' routes decode through it and the downstream
    # embedding math is the shared _luminance/_gray_embedding tail
    import sys
    import types

    import numpy as np

    from graphlite_spark.operators import multimodal as mm

    assert mm._accelerated_image_decoder() is None  # not in this env

    img = np.full((12, 20, 3), 77, dtype=np.uint8)
    png = mm.synth_png(20, 12, img)
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png), None, None)], mm.ASSET_SCHEMA)

    # auto without the library == builtin
    base = mm.image_features(assets, decoder="auto").collect()[0]
    assert (base.width, base.height) == (20, 12)

    # stand-in "PIL": decodes our PNG via the builtin kernel but tags
    # dimensions so the dispatch is observable
    class _FakeImg:
        def __init__(self, arr):
            self._arr = arr

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def __array__(self, dtype=None, copy=None):
            return self._arr

    class _FakeImageModule(types.ModuleType):
        @staticmethod
        def open(buf):
            data = buf.read()
            w, h, _ = mm._decode_image(data)
            arr = np.full((h + 1, w, 3), 77, dtype=np.uint8)  # h+1 tag
            return _FakeImg(arr)

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = _FakeImageModule("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)
    assert mm._accelerated_image_decoder() is fake_pil.Image
    w, h, emb = mm._decode_image_accel(png, 8, fake_pil.Image)
    assert (w, h) == (20, 13)  # the tag proves the accel path ran
    lum = (0.299 * 77 + 0.587 * 77 + 0.114 * 77) / 255.0
    assert emb == pytest.approx([lum] * 8, abs=1e-12)

    # corrupt bytes through the accel path surface as decode failures
    with pytest.raises(ValueError, match="accelerated decode failed"):
        class _Boom(types.ModuleType):
            @staticmethod
            def open(buf):
                raise OSError("cannot identify image file")
        mm._decode_image_accel(b"\x00\x01", 8, _Boom("PIL.Image"))


def test_streaming_chunking_matches_batch(spark, tmp_path):
    # text curation as a STREAM: documents file-stream -> chunk_documents
    # (stateless transformation) -> memory sink; stream == batch — the
    # same composability the multimodal decode proof pins, on the text
    # path
    from graphlite_spark.operators.text import chunk_documents

    d = str(tmp_path / "docs_stream")
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(5 + i * 7)))
         for i in range(8)],
        "doc_id: long, text: string",
    )
    docs.write.mode("overwrite").parquet(d)

    batch = spark.read.parquet(d)
    expected = {(r.doc_id, r.chunk_idx, r.text, r.n_tokens) for r in
                chunk_documents(batch, max_tokens=6, overlap=2).collect()}
    assert len(expected) > 8  # several docs split into multiple chunks

    stream = spark.readStream.schema(batch.schema).parquet(d)
    q = (
        chunk_documents(stream, max_tokens=6, overlap=2)
        .writeStream.format("memory").queryName("chunk_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.doc_id, r.chunk_idx, r.text, r.n_tokens) for r in
           spark.table("chunk_stream").collect()}
    assert got == expected


def test_flac_decode_lossless_roundtrip():
    # native FLAC (RFC 9639 subset): every subframe strategy and
    # stereo decorrelation mode must round-trip SAMPLE-EXACT (lossless
    # means equality, not tolerance); MFCC through the shared tail must
    # equal the WAV of the same signal
    import math

    import numpy as np

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, _decode_audio, _decode_flac, synth_flac, synth_wav,
    )

    rate, freq, ms = 8000, 440.0, 250
    n = int(rate * ms / 1000)
    expected = np.array(
        [int(20000 * math.sin(2 * math.pi * freq * i / rate))
         for i in range(n)], dtype=np.float64)
    for sf in ("fixed2", "lpc2", "verbatim"):
        r, sig = _decode_flac(synth_flac(rate, freq, ms, subframe=sf))
        assert r == rate and np.array_equal(sig, expected), sf
    # compression sanity: the predictor+rice path beats verbatim
    assert len(synth_flac(rate, freq, ms)) < len(
        synth_flac(rate, freq, ms, subframe="verbatim"))

    base = np.array([int(20000 * math.sin(2 * math.pi * 440 * i / rate))
                     for i in range(n)])
    second = np.array([int(15000 * math.sin(2 * math.pi * 660 * i / rate))
                       for i in range(n)])
    mix = (base + second) / 2.0
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        r, sig = _decode_flac(
            synth_flac(rate, 440.0, ms, channels=2, stereo_mode=mode))
        assert np.array_equal(sig, mix), mode

    # FLAC and WAV of the same signal produce identical MFCC
    assert (_decode_audio(synth_wav(rate, freq, ms), 13)
            == _decode_audio(synth_flac(rate, freq, ms), 13))

    # rice escape partitions: random 16-bit noise round-trips exactly
    rng = np.random.default_rng(0)
    wild = rng.integers(-32768, 32767, 5000, dtype=np.int64)
    r, sig = _decode_flac(synth_flac(rate, samples=wild, block_size=512))
    assert np.array_equal(sig, wild.astype(np.float64))

    # truncation / bit-flip robustness: clean failure or valid prefix
    blob = synth_flac(rate, freq, ms)
    for cut in (3, 10, 40, len(blob) // 2, len(blob) - 5):
        try:
            _decode_flac(blob[:cut])
        except DECODE_ERRORS:
            pass
    for posn in range(8, min(len(blob), 300), 13):
        m = bytearray(blob)
        m[posn] ^= 0xFF
        try:
            _decode_flac(bytes(m))
        except DECODE_ERRORS:
            pass


def test_probe_media_all_containers(spark):
    # ffprobe-lite triage: container + header metadata for every
    # supported format WITHOUT decode — including MP4 (ISO-BMFF box
    # walk), whose frame decode is out of scope but whose metadata is
    # fully parseable; junk bytes probe as 'unknown' instead of failing
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, probe_media, synth_animated_gif, synth_avi_mjpeg,
        synth_flac, synth_jpeg, synth_mp4, synth_png, synth_wav,
        synth_webm,
    )

    img = np.full((12, 20, 3), 99, np.uint8)
    blobs = [
        (0, synth_png(20, 12, img, interlace=True)),
        (1, synth_jpeg(20, 12, img, progressive=True)),
        (2, synth_animated_gif(20, 12, [img[:, :, 0]] * 3, delay_ms=100)),
        (3, synth_wav(8000, 440, 250)),
        (4, synth_flac(8000, 440, 250, channels=2, stereo_mode="mid_side")),
        (5, synth_avi_mjpeg(20, 12, [img] * 4, frame_ms=100)),
        (6, synth_mp4(640, 360, 5000)),
        (7, synth_webm(1280, 720, 12345, "V_VP9")),
        (8, b"\x00\x01 not a media file"),
    ]
    assets = spark.createDataFrame(
        [(i, "mixed", bytearray(b), None, None) for i, b in blobs],
        ASSET_SCHEMA)
    got = {r.asset_id: r for r in probe_media(assets).collect()}
    assert (got[0].container, got[0].width, got[0].codec) == \
        ("png", 20, "interlaced")
    assert (got[1].container, got[1].codec) == ("jpeg", "progressive")
    assert (got[2].container, got[2].duration_ms) == ("gif", 300)
    assert (got[3].container, got[3].sample_rate, got[3].duration_ms) == \
        ("wav", 8000, 250)
    assert (got[4].container, got[4].channels, got[4].duration_ms) == \
        ("flac", 2, 250)
    assert (got[5].container, got[5].codec, got[5].duration_ms) == \
        ("avi", "MJPG", 400)
    assert (got[6].container, got[6].width, got[6].height,
            got[6].duration_ms, got[6].codec) == \
        ("mp4", 640, 360, 5000, "avc1")
    assert (got[7].container, got[7].width, got[7].height,
            got[7].duration_ms, got[7].codec) == \
        ("webm", 1280, 720, 12345, "V_VP9")
    assert got[8].container == "unknown" and got[8].width is None


def test_streaming_probe_matches_batch(spark, tmp_path):
    # corpus triage as a STREAM: binaryFile -> probe_media; stateless,
    # so stream == batch (the ingest-time routing shape: probe first,
    # fan out decode by container)
    import numpy as np

    from pyspark.sql import functions as F

    from graphlite_spark.operators.multimodal import (
        probe_media, synth_flac, synth_jpeg, synth_mp4, synth_png,
    )

    d = tmp_path / "mixed"
    d.mkdir()
    img = np.full((8, 8, 3), 40, np.uint8)
    blobs = [synth_png(8, 8, img), synth_jpeg(8, 8, img, progressive=True),
             synth_flac(8000, 300, 100), synth_mp4(320, 240, 2000),
             b"junk bytes here"]
    for i, b in enumerate(blobs):
        (d / f"asset_{i:03d}.bin").write_bytes(b)

    def to_assets(df):
        return df.select(
            F.regexp_extract("path", r"asset_(\d+)\.bin", 1)
            .cast("long").alias("asset_id"), "content")

    batch = probe_media(to_assets(spark.read.format("binaryFile").load(str(d))))
    expected = {tuple(r) for r in batch.collect()}
    containers = {r.container for r in batch.collect()}
    assert containers == {"png", "jpeg", "flac", "mp4", "unknown"}

    static = spark.read.format("binaryFile").load(str(d))
    stream = (spark.readStream.format("binaryFile")
              .schema(static.schema).load(str(d)))
    q = (probe_media(to_assets(stream))
         .writeStream.format("memory").queryName("probe_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {tuple(r) for r in spark.table("probe_stream").collect()}
    assert got == expected


def test_corrupt_assets_raise_decode_errors_only():
    # ADVICE r4 (medium): fuzzed corrupt assets raised exception types
    # OUTSIDE DECODE_ERRORS (ZeroDivisionError, bare RuntimeError,
    # StopIteration, TypeError), so on_error='null'/'skip' crashed the
    # whole job instead of nulling the one bad asset. Each named case
    # must now raise a DECODE_ERRORS member.
    import struct

    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, _decode_audio, _decode_image, probe_bytes,
        synth_jpeg, synth_wav,
    )

    # 1) WAV fmt chunk with sample rate 0: was ZeroDivisionError in
    #    probe_bytes' duration math and the MFCC tail
    wav = bytearray(synth_wav(ms=20))
    i = wav.find(b"fmt ")
    assert i > 0
    struct.pack_into("<I", wav, i + 12, 0)  # nSamplesPerSec := 0
    with pytest.raises(DECODE_ERRORS):
        _decode_audio(bytes(wav), 13)
    info = probe_bytes(bytes(wav))  # probe stays informative: rate 0,
    assert info["container"] == "wav" and info["duration_ms"] is None

    # 2) truncated WAV: wave.Chunk.skip raises bare RuntimeError —
    #    must surface as a DECODE_ERRORS member (or decode a prefix)
    full = synth_wav(ms=20)
    for cut in range(4, len(full), 7):
        try:
            _decode_audio(full[:cut], 13)
        except DECODE_ERRORS:
            pass
        try:
            probe_bytes(full[:cut])
        except DECODE_ERRORS:
            pass

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 20, 3), np.uint8)
    jpg = synth_jpeg(20, 12, img)

    # 3) SOS naming an undeclared component id: was StopIteration
    mutated = bytearray(jpg)
    sos = mutated.find(b"\xff\xda")
    assert sos > 0
    mutated[sos + 5] = 0x99  # first scan component id
    with pytest.raises(DECODE_ERRORS):
        _decode_image(bytes(mutated))

    # 4) SOS before any SOF (SOF segment excised): was TypeError
    sof = jpg.find(b"\xff\xc0")
    assert sof > 0
    seglen, = struct.unpack_from(">H", jpg, sof + 2)
    no_sof = jpg[:sof] + jpg[sof + 2 + seglen:]
    with pytest.raises(DECODE_ERRORS):
        _decode_image(no_sof)


def test_decode_dimension_sanity_cap():
    # ADVICE r4 (low): corrupt header dimension fields drove ~GiB-scale
    # np.zeros allocations BEFORE any sanity check — the cap must
    # reject them with ValueError before allocating.
    import struct

    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        MAX_DECODE_PIXELS, _decode_image, synth_bmp, synth_gif,
        synth_jpeg, synth_png,
    )

    assert MAX_DECODE_PIXELS <= 1 << 27  # keep the bound sane

    img = np.full((12, 20, 3), 99, np.uint8)

    png = bytearray(synth_png(20, 12, img))
    struct.pack_into(">II", png, 16, 1 << 16, 1 << 16)  # 4.3e9 px
    with pytest.raises(ValueError):
        _decode_image(bytes(png))

    bmp = bytearray(synth_bmp(20, 12, lambda x, y: (1, 2, 3)))
    struct.pack_into("<ii", bmp, 18, 1 << 16, 1 << 16)
    with pytest.raises(ValueError):
        _decode_image(bytes(bmp))

    jpg = bytearray(synth_jpeg(20, 12, img))
    sof = jpg.find(b"\xff\xc0")
    struct.pack_into(">HH", jpg, sof + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError):
        _decode_image(bytes(jpg))

    gif = bytearray(synth_gif(20, 12, img[:, :, 0]))
    struct.pack_into("<HH", gif, 6, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError):
        _decode_image(bytes(gif))

    # zero/negative dimensions are equally corrupt
    png0 = bytearray(synth_png(20, 12, img))
    struct.pack_into(">II", png0, 16, 0, 12)
    with pytest.raises(ValueError):
        _decode_image(bytes(png0))


def test_corrupt_assets_r5_advice_cases():
    # ADVICE r5: three residual corrupt-asset vectors.
    import struct
    import zlib

    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, _decode_image, synth_animated_gif, synth_jpeg,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (12, 20, 3), np.uint8)

    # 1) JPEG SOF with zero sampling-factor nibbles: was
    #    ZeroDivisionError in the MCU math / upsample divisions
    for hv in (0x00, 0x10, 0x01):  # both zero, v=0, h=0
        jpg = bytearray(synth_jpeg(20, 12, img))
        sof = jpg.find(b"\xff\xc0")
        assert sof > 0
        jpg[sof + 11] = hv  # first component's h/v byte (after len,
        # precision, height, width, ncomp, comp-id)
        with pytest.raises(DECODE_ERRORS):
            _decode_image(bytes(jpg))

    # 2) GIF per-frame image descriptor dims uncapped: a crafted frame
    #    rect could demand ~4.3e9-px LZW output + ~13 GiB palette LUT
    def image_descriptor_pos(buf):
        # walk header -> GCT -> extension blocks to the 0x2C separator
        # (a bare .find() can hit a palette byte that happens to be 44)
        pos = 13
        if buf[10] & 0x80:
            pos += 3 * (2 << (buf[10] & 7))
        while buf[pos] == 0x21:
            pos += 2
            while buf[pos]:
                pos += buf[pos] + 1
            pos += 1
        assert buf[pos] == 0x2C
        return pos

    frame = np.zeros((12, 20), np.uint8)
    gif = bytearray(synth_animated_gif(20, 12, [frame]))
    desc = image_descriptor_pos(gif)
    struct.pack_into("<HH", gif, desc + 5, 0xFFFF, 0xFFFF)  # iw, ih
    with pytest.raises(ValueError):
        _decode_image(bytes(gif))
    # ...and a frame rect that escapes the canvas
    gif2 = bytearray(synth_animated_gif(20, 12, [frame]))
    desc2 = image_descriptor_pos(gif2)
    struct.pack_into("<HH", gif2, desc2 + 1, 10, 10)  # left, top: 10+20>20
    with pytest.raises(ValueError):
        _decode_image(bytes(gif2))

    # 3) PNG zlib bomb: small IDAT inflating far past the size the
    #    (capped) header dims imply must fail BEFORE the allocation
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 50_000_000))
            + chunk(b"IEND", b""))
    assert len(bomb) < 100_000  # the bomb itself is tiny
    with pytest.raises(ValueError):
        _decode_image(bomb)


def test_png_palette_and_16bit_decode():
    # r4 ask #3: palette PNGs (colortype 3, PLTE, depths 1/2/4/8) and
    # 16-bit RGB are common in web crawls; decode must match the
    # equivalent truecolor luminance embedding exactly.
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        _decode_image, _gray_embedding, _luminance, synth_png,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (13, 17, 3), np.uint8)
    _, _, emb8 = _decode_image(synth_png(17, 13, img))

    # 16-bit RGB with (v<<8)|v samples reduces to the 8-bit embedding
    _, _, emb16 = _decode_image(synth_png(17, 13, img, depth=16))
    assert emb16 == emb8

    # palette depths 1/2/4/8, sequential and Adam7-interlaced
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        pal = rng.integers(0, 256, (n, 3), np.uint8)
        idx = rng.integers(0, n, (13, 17), np.uint8)
        expected = _gray_embedding(
            _luminance(pal[idx.reshape(-1)], 3), 17, 13, 8)
        for interlace in (False, True):
            w, h, emb = _decode_image(
                synth_png(17, 13, idx, palette=pal, depth=depth,
                          interlace=interlace))
            assert (w, h) == (17, 13)
            assert emb == expected, (depth, interlace)

    # palette index past PLTE length is a decode error, not an IndexError
    pal4 = rng.integers(0, 256, (4, 3), np.uint8)  # only 4 entries
    idx_oob = np.full((13, 17), 9, np.uint8)  # depth-8 indexes -> 9 > 3
    with pytest.raises(ValueError):
        _decode_image(synth_png(17, 13, idx_oob, palette=pal4))


def test_sample_frames_real_rawvideo_avi(spark):
    # video REAL path #3: uncompressed DIB/rawvideo AVI — the RIFF
    # walker's 'DIB ' handler arm wraps each raw frame as a BMP
    # (header prepend, no pixel transcode); decode is EXACT, so
    # non-uniform frames round-trip pixel-perfectly
    import numpy as np

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, _decode_image, _gray_embedding, _luminance,
        sample_frames, synth_avi_raw,
    )

    rng = np.random.default_rng(17)
    frames = [rng.integers(0, 256, (12, 20, 3), np.uint8) for _ in range(4)]
    avi = synth_avi_raw(20, 12, frames, frame_ms=100)
    assets = spark.createDataFrame(
        [(3, "video", bytearray(avi), None, (20, 12, 400, "rawvideo"))],
        ASSET_SCHEMA,
    )
    got = sorted(sample_frames(assets, every_ms=150).collect(),
                 key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.ts_ms) for r in got] == [(0, 0), (1, 150), (2, 300)]
    for r, src in zip(got, (0, 1, 3)):
        w, h, emb = _decode_image(bytes(r.frame))
        assert (w, h) == (20, 12)
        exp = _gray_embedding(
            _luminance(frames[src].reshape(-1, 3), 3), 20, 12, 8)
        assert emb == exp  # exact, not approx: DIB -> BMP is lossless


def test_streaming_rawvideo_avi_sampling_matches_batch(spark, tmp_path):
    # rawvideo twin of the MJPEG stream==batch proof
    import numpy as np

    from pyspark.sql import functions as F

    from graphlite_spark.operators.multimodal import (
        sample_frames, synth_avi_raw,
    )

    d = tmp_path / "rawvids"
    d.mkdir()
    for i in range(4):
        frames = [np.full((8, 8, 3), (i * 50 + k * 10) % 256, np.uint8)
                  for k in range(3)]
        (d / f"vid_{i:03d}.avi").write_bytes(
            synth_avi_raw(8, 8, frames, frame_ms=40))

    def to_assets(df):
        return df.select(
            F.regexp_extract("path", r"vid_(\d+)\.avi", 1)
            .cast("long").alias("asset_id"),
            "content",
            F.lit(None).cast("long").alias("duration_ms"),
        ).withColumn("meta", F.struct(
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.col("duration_ms"),
            F.lit("rawvideo").alias("codec"),
        ))

    batch = sample_frames(
        to_assets(spark.read.format("binaryFile").load(str(d))), every_ms=40)
    expected = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
                for r in batch.collect()}
    assert len(expected) == 12

    static = spark.read.format("binaryFile").load(str(d))
    stream = (spark.readStream.format("binaryFile")
              .schema(static.schema).load(str(d)))
    q = (
        sample_frames(to_assets(stream), every_ms=40)
        .writeStream.format("memory").queryName("rawavi_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
           for r in spark.table("rawavi_stream").collect()}
    assert got == expected


def test_rawvideo_avi_corrupt_guards():
    import struct

    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, _avi_video_frames, synth_avi_raw,
    )

    frames = [np.zeros((8, 8, 3), np.uint8)]
    # truncated frame chunk
    avi = bytearray(synth_avi_raw(8, 8, frames))
    db = avi.find(b"00db")
    struct.pack_into("<I", avi, db + 4, 10)  # claim 10-byte frame
    with pytest.raises(DECODE_ERRORS):
        _avi_video_frames(bytes(avi))
    # unsupported bpp
    avi2 = bytearray(synth_avi_raw(8, 8, frames))
    strf = avi2.find(b"strf")
    struct.pack_into("<H", avi2, strf + 8 + 14, 8)  # biBitCount := 8
    with pytest.raises(DECODE_ERRORS):
        _avi_video_frames(bytes(avi2))


def test_jpeg_sof1_extended_sequential():
    # SOF1 (extended sequential, Huffman) at 8-bit precision is
    # bit-identical to baseline decoding — flipping the SOF marker on a
    # baseline stream must not change a single output value; 12-bit
    # precision stays an honest NotImplementedError guard
    import struct

    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        _decode_image, probe_bytes, synth_jpeg,
    )

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (12, 20, 3), np.uint8)
    jpg = synth_jpeg(20, 12, img, subsample=True)
    base = _decode_image(jpg)

    sof = jpg.find(b"\xff\xc0")
    as_sof1 = bytearray(jpg)
    as_sof1[sof + 1] = 0xC1
    assert _decode_image(bytes(as_sof1)) == base
    info = probe_bytes(bytes(as_sof1))
    assert info["codec"] == "extended-sequential"
    assert (info["width"], info["height"]) == (20, 12)

    twelve_bit = bytearray(as_sof1)
    twelve_bit[sof + 4] = 12  # sample precision byte
    with pytest.raises(NotImplementedError):
        _decode_image(bytes(twelve_bit))


def test_sample_frames_accel_hook_gating(spark):
    # the video decoder='auto'|'accel' hook (PyAV twin of the image
    # hook): av is absent in this environment, so 'accel' must raise a
    # clear RuntimeError, 'auto' must fall back to the builtin
    # samplers with identical output, and bad values must reject
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA, _accelerated_video_decoder, sample_frames,
        synth_avi_raw,
    )

    assert _accelerated_video_decoder() is None  # env precondition

    frames = [np.full((8, 8, 3), 60 + 10 * k, np.uint8) for k in range(3)]
    avi = synth_avi_raw(8, 8, frames, frame_ms=40)
    assets = spark.createDataFrame(
        [(1, "video", bytearray(avi), None, (8, 8, 120, "rawvideo"))],
        ASSET_SCHEMA,
    )
    base = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
            for r in sample_frames(assets, every_ms=40).collect()}
    auto = {(r.asset_id, r.frame_idx, r.ts_ms, bytes(r.frame))
            for r in sample_frames(assets, every_ms=40,
                                   decoder="auto").collect()}
    assert auto == base

    with pytest.raises(RuntimeError):
        sample_frames(assets, every_ms=40, decoder="accel")
    with pytest.raises(ValueError):
        sample_frames(assets, every_ms=40, decoder="bogus")


def test_probe_mp3():
    # 10th probe container: MPEG-1 Layer III header parse + ID3v2 skip,
    # CBR duration estimate; second-sync confirm rejects false syncs
    from graphlite_spark.operators.multimodal import probe_bytes, synth_mp3

    info = probe_bytes(synth_mp3(10))
    assert info["container"] == "mp3"
    assert info["codec"] == "mpeg1-layer3"
    assert info["sample_rate"] == 44100 and info["channels"] == 2
    assert info["duration_ms"] == round(10 * 417 * 8 / 128)

    tagged = probe_bytes(synth_mp3(5, bitrate_kbps=64, sample_rate=32000,
                                   mono=True, id3_bytes=123))
    assert tagged["container"] == "mp3" and tagged["channels"] == 1
    assert tagged["sample_rate"] == 32000
    flen = (144 * 64 * 1000) // 32000
    assert tagged["duration_ms"] == round(5 * flen * 8 / 64)

    # a false sync AT THE STREAM HEAD (so the probe's dispatch gate
    # actually routes to _probe_mp3) must be rejected by the
    # next-frame confirm — for V1L3 and for other version/layer
    # combos alike (full bitrate tables)
    for head in (b"\xff\xfa\x90\x00",    # MPEG1 Layer III
                 b"\xff\xf3\x44\x00",    # MPEG2 Layer III
                 b"\xff\xe6\x44\x00"):   # MPEG2.5 Layer I
        noise = head + b" just some plain text follows here" * 40
        assert probe_bytes(noise)["container"] == "unknown", head


def test_probe_tiff_and_ogg():
    # 11th/12th probe containers: TIFF IFD walk (both byte orders) and
    # Ogg (Opus id header + last-page granule duration)
    from graphlite_spark.operators.multimodal import (
        probe_bytes, synth_ogg_opus, synth_tiff)

    for le in (True, False):
        t = probe_bytes(synth_tiff(320, 200, little_endian=le))
        assert t["container"] == "tiff"
        assert (t["width"], t["height"]) == (320, 200)
        assert t["codec"] == "uncompressed"

    o = probe_bytes(synth_ogg_opus(1500, channels=1))
    assert o["container"] == "ogg" and o["codec"] == "opus"
    assert o["channels"] == 1 and o["sample_rate"] == 48000
    assert o["duration_ms"] == 1500

    # truncated TIFF header: container identified, fields stay null
    frag = synth_tiff(10, 10)[:8]
    t2 = probe_bytes(frag)
    assert t2["container"] == "tiff" and t2["width"] is None


def test_tiff_decode_roundtrip():
    # uncompressed-strip TIFF decode: both byte orders, multi-strip,
    # gray + RGB — exact pixel round-trip through the luminance tail
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        _decode_image, _gray_embedding, _luminance, synth_tiff)

    rng = np.random.default_rng(37)
    img = rng.integers(0, 256, (13, 17, 3), np.uint8)
    exp = _gray_embedding(_luminance(img.reshape(-1, 3), 3), 17, 13, 8)
    for le in (True, False):
        for rps in (None, 4):
            w, h, emb = _decode_image(
                synth_tiff(17, 13, little_endian=le, pixel=img,
                           rows_per_strip=rps))
            assert (w, h) == (17, 13) and emb == exp, (le, rps)

    gray = rng.integers(0, 256, (13, 17), np.uint8)
    _, _, gemb = _decode_image(synth_tiff(17, 13, pixel=gray))
    assert gemb == _gray_embedding(
        _luminance(gray.reshape(-1, 1), 1), 17, 13, 8)

    # header-only TIFF (no strips): clean ValueError, not a crash
    with pytest.raises(ValueError):
        _decode_image(synth_tiff(17, 13))
    # truncated strip data: clean ValueError
    full = synth_tiff(17, 13, pixel=gray)
    with pytest.raises(ValueError):
        _decode_image(full[:-40])


def test_tiff_lzw_decode_roundtrip():
    # Compression=5 LZW strips (+ Predictor=2 differencing): exact
    # pixel round-trip, both byte orders, strip splits, gray + RGB
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        _decode_image, _gray_embedding, _luminance, _tiff_lzw_decode,
        _tiff_lzw_encode, synth_tiff)

    # kernel round-trips crossing every code-width boundary: random
    # bytes grow the table ~1 entry/code (9->10->11->12 bumps and the
    # 4094 CLEAR all exercised at n=40000), repetitive data grows
    # long entries, a uniform run is the degenerate case
    rng = np.random.default_rng(37)
    for n in (0, 1, 2, 300, 800, 3000, 40000):
        data = rng.integers(0, 256, n, np.uint8).tobytes()
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), n) == data, n
    rep = b"abcabcabd" * 5000
    assert _tiff_lzw_decode(_tiff_lzw_encode(rep), len(rep)) == rep
    uni = bytes([7]) * 30000
    assert _tiff_lzw_decode(_tiff_lzw_encode(uni), len(uni)) == uni

    img = rng.integers(0, 256, (13, 17, 3), np.uint8)
    exp = _gray_embedding(_luminance(img.reshape(-1, 3), 3), 17, 13, 8)
    for le in (True, False):
        for rps in (None, 4, 5):
            for pred in (1, 2):
                w, h, emb = _decode_image(
                    synth_tiff(17, 13, little_endian=le, pixel=img,
                               rows_per_strip=rps, compression=5,
                               predictor=pred))
                assert (w, h) == (17, 13) and emb == exp, (le, rps, pred)
    gray = rng.integers(0, 256, (13, 17), np.uint8)
    _, _, gemb = _decode_image(
        synth_tiff(17, 13, pixel=gray, compression=5, predictor=2))
    assert gemb == _gray_embedding(
        _luminance(gray.reshape(-1, 1), 1), 17, 13, 8)

    # truncated LZW strip: clean ValueError (guard, not garbage)
    full = synth_tiff(17, 13, pixel=gray, compression=5)
    with pytest.raises(ValueError):
        _decode_image(full[:-30])

    # writer-padded last strip (encodes MORE rows than the height
    # leaves): readers must truncate, not reshape-crash (pred=2) or
    # shift pixels (pred=1). Build by patching the height tag of a
    # 16-row rows_per_strip=4 file down to 14 — the last strip then
    # over-decodes by 2 rows.
    import struct

    img16 = rng.integers(0, 256, (16, 17), np.uint8)
    for pred in (1, 2):
        t16 = bytearray(synth_tiff(17, 16, pixel=img16, rows_per_strip=4,
                                   compression=5, predictor=pred))
        # IFD entry 1 (tag 257 ImageLength): value bytes at 8+2+12+8
        assert struct.unpack_from("<HH", t16, 10 + 12)[0] == 257
        struct.pack_into("<H", t16, 10 + 12 + 8, 14)
        w14, h14, emb14 = _decode_image(bytes(t16))
        assert (w14, h14) == (17, 14)
        exp14 = _gray_embedding(
            _luminance(img16[:14].reshape(-1, 1), 1), 17, 14, 8)
        assert emb14 == exp14, pred
    # predictor=2 without LZW refuses on both sides
    with pytest.raises(ValueError, match="requires compression=5"):
        synth_tiff(4, 4, pixel=gray[:4, :4], predictor=2)
    with pytest.raises(ValueError, match="compression"):
        synth_tiff(4, 4, pixel=gray[:4, :4], compression=3)


def test_probe_bytes_fuzz_never_crashes():
    # the triage path's whole contract: probe_bytes on ARBITRARY bytes
    # (random blobs + bit-flipped/truncated valid streams of all 12
    # containers) returns a dict or raises a DECODE_ERRORS member —
    # never an unexpected exception type
    import random

    import numpy as np

    from graphlite_spark.operators.multimodal import (
        DECODE_ERRORS, probe_bytes, synth_avi_mjpeg, synth_avi_raw,
        synth_bmp, synth_flac, synth_gif, synth_jpeg, synth_mp3,
        synth_mp4, synth_ogg_opus, synth_png, synth_tiff, synth_wav,
        synth_webm,
    )

    rng = random.Random(1)
    img = np.full((12, 20, 3), 99, np.uint8)
    synths = [
        synth_png(20, 12, img), synth_jpeg(20, 12, img),
        synth_gif(20, 12, img[:, :, 0]), synth_wav(),
        synth_flac(8000, 200.0, 60), synth_mp3(5),
        synth_tiff(20, 12, pixel=img), synth_ogg_opus(500),
        synth_mp4(64, 48, 700), synth_webm(64, 48, 700, "V_VP9"),
        synth_avi_mjpeg(20, 12, [img]), synth_avi_raw(20, 12, [img]),
        synth_bmp(20, 12, lambda x, y: (1, 2, 3)),
    ]
    for trial in range(1200):
        if trial % 3 == 0:
            b = bytes(rng.randrange(256)
                      for _ in range(rng.randrange(0, 200)))
        else:
            base = bytearray(rng.choice(synths))
            for _ in range(rng.randrange(1, 8)):
                if base:
                    base[rng.randrange(len(base))] = rng.randrange(256)
            if rng.random() < 0.3 and base:
                base = base[: rng.randrange(len(base))]
            b = bytes(base)
        try:
            info = probe_bytes(b)
            assert isinstance(info, dict) and "container" in info
        except DECODE_ERRORS:
            pass  # typed decode failure is the allowed outcome


def test_wav_g711_decode():
    # G.711 mu-law / A-law WAV (telephony corpora): LUT expansion on a
    # manual RIFF walk (stdlib wave only opens PCM). Tables are the
    # ITU-T G.711 expansions (mu-law verified bit-exact vs audioop
    # where available); rate/duration exact, MFCC tracks the PCM
    # signal's shape
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        _decode_audio, _g711_tables, _mfcc_from_signal, synth_wav_g711,
    )

    mulaw, alaw = _g711_tables()
    # canonical identities: code 0xFF is mu-law zero; A-law magnitudes
    # are symmetric and never zero (minimum is +-8)
    assert mulaw[0xFF] == 0
    assert np.array_equal(np.sort(np.abs(alaw))[:2], [8, 8])
    # known G.711 extrema
    assert int(mulaw.min()) == -32124 and int(mulaw.max()) == 32124
    assert int(alaw.min()) == -32256 and int(alaw.max()) == 32256
    try:
        import audioop

        enc = bytes(range(256))
        assert np.array_equal(
            mulaw, np.frombuffer(audioop.ulaw2lin(enc, 2), dtype="<i2"))
        assert np.array_equal(
            alaw, np.frombuffer(audioop.alaw2lin(enc, 2), dtype="<i2"))
    except ImportError:
        pass

    for law, lut in (("mulaw", mulaw), ("alaw", alaw)):
        wav = synth_wav_g711(8000, 440.0, 250, law=law)
        rate, dur, mfcc = _decode_audio(wav, 13)
        assert (rate, dur) == (8000, 250), law
        # the decoded signal must be EXACTLY the LUT expansion of the
        # stored codes — recompute the reference from the payload
        n = 8000 * 250 // 1000
        sig = 20000 * np.sin(2 * np.pi * 440.0 * np.arange(n) / 8000)
        codes = np.abs(
            sig[:, None] - lut[None, :].astype("float64")
        ).argmin(axis=1).astype(np.uint8)
        _, ref = _mfcc_from_signal(lut[codes].astype("float64"), 8000, 13)
        assert mfcc == ref, law

    # truncated fmt chunk -> typed decode error
    broken = synth_wav_g711()[:20]
    with pytest.raises((ValueError, NotImplementedError, EOFError)):
        _decode_audio(broken, 13)


def test_wav_pcm_with_list_chunk_not_misrouted():
    # a PCM WAV with a LIST/INFO chunk whose TEXT contains 'fmt '
    # before the real fmt chunk must still take the PCM path (the
    # G.711 peek walks chunk headers, it does not grep bytes)
    import struct

    from graphlite_spark.operators.multimodal import (
        _decode_audio, synth_wav)

    base = synth_wav(rate=8000, ms=50)
    assert base[:4] == b"RIFF" and base[12:16] == b"fmt "
    # splice a LIST chunk containing the bytes 'fmt \x06\x00' ahead of
    # the real fmt chunk — a raw find() would read format 6 (A-law)
    info = b"INFO" + b"fmt " + b"\x06\x00" + b"decoy!"
    lst = b"LIST" + struct.pack("<I", len(info)) + info
    spliced = base[:12] + lst + base[12:]
    spliced = (spliced[:4]
               + struct.pack("<I", len(spliced) - 8) + spliced[8:])
    rate, dur, _mfcc = _decode_audio(spliced, 13)
    assert (rate, dur) == (8000, 50)


def test_streaming_minhash_dedup_stream_matches_batch(spark, tmp_path):
    # planted near-dup corpus over two micro-batches: near-dups within a
    # batch, across batches, a short-doc exact dup, and uniques. Ids
    # arrive in id order, so first-arrival == global bucket-min and the
    # stream must produce exactly the batch keep set (see
    # streaming_minhash_dedup docstring).
    from graphlite_spark.streaming.stateful import (
        minhash_dedup_reduce,
        streaming_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog near the red barn"
    near1 = base.replace("dog", "cat")          # near-dup of base
    near2 = base.replace("jumps", "leaps")      # near-dup of base
    uniq1 = "entirely different words compose this sentence about spark"
    near3 = uniq1.replace("spark", "flink")     # near-dup of uniq1
    d = str(tmp_path / "nd_stream")
    spark.createDataFrame(
        [(1, base), (2, near1), (3, uniq1), (4, "zz")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(d + "/f0")
    spark.createDataFrame(
        # 10 near-dups base cross-batch; 11 new unique; 12 exact-dups
        # the short doc 4; 13 near-dups 11 within this batch
        [(10, near2), (11, "fresh content nobody wrote before today ok"),
         (12, "zz"),
         (13, "fresh content nobody wrote before yesterday ok")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(d + "/f1")
    batch = spark.read.option("recursiveFileLookup", "true").parquet(d)

    kept_b = sorted(r.doc_id for r in streaming_minhash_dedup(batch).collect())
    # the near-dup structure must actually bite: 2/10 collide with 1,
    # 13 with 11, 12 with 4 (exact-hash fallback band)
    assert 1 in kept_b and 3 in kept_b and 4 in kept_b and 11 in kept_b
    assert 2 not in kept_b and 12 not in kept_b and 13 not in kept_b
    assert 10 not in kept_b

    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    kept_s: list = []

    def sink(df, _epoch):
        kept_s.extend(r.doc_id for r in minhash_dedup_reduce(df).collect())

    q = (
        streaming_minhash_dedup(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(kept_s) == kept_b


def test_warc_parse_and_ingest(spark, tmp_path):
    # WARC kernel round-trip (plain + per-record-gzip .warc.gz),
    # truncation tolerance, malformed-header raise, the DataFrame
    # operator over binaryFile, AND the streaming twin — then the full
    # ingest composition WARC -> warc_records -> streaming_curation
    import pytest

    from graphlite_spark.sources.warc import (
        parse_warc_bytes,
        synth_warc,
        warc_records,
    )

    recs = [("http://a.example/x", "hello world <b>html</b>", "text/html"),
            ("http://b.example/y", "plain body text", "text/plain"),
            ("http://c.example/z", b"\xff\xfebin", "application/pdf")]
    for gz in (False, True):
        got = list(parse_warc_bytes(synth_warc(recs, gzip_records=gz)))
        assert got[0]["warc_type"] == "warcinfo"
        resp = [r for r in got if r["warc_type"] == "response"]
        assert [r["target_uri"] for r in resp] == [u for u, _, _ in recs]
        assert all(r["http_status"] == 200 for r in resp)
        assert resp[0]["body"] == b"hello world <b>html</b>"
        assert resp[2]["body"] == b"\xff\xfebin"
    # trailing truncation parses the complete prefix, no raise
    assert len(list(parse_warc_bytes(synth_warc(recs)[:-40]))) == 4
    with pytest.raises(ValueError, match="WARC"):
        list(parse_warc_bytes(b"NOT A WARC\r\n\r\n"))
    # corrupt Content-Length on the FIRST record is malformed-leading
    # (raises), not a silent empty file
    with pytest.raises(ValueError, match="Content-Length"):
        list(parse_warc_bytes(
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\npayload"))
    # a NEGATIVE Content-Length must never move pos backward: the
    # self-consistent header (clen == -(head+4)) would otherwise
    # re-parse the same record forever (unbounded generator on
    # attacker-controlled crawl bytes)
    evil = b"WARC/1.0\r\nContent-Length: -33\r\n\r\n"
    with pytest.raises(ValueError, match="negative"):
        list(parse_warc_bytes(evil))
    # ...and mid-file it just stops the walk
    got = list(parse_warc_bytes(synth_warc(recs[:1]) + evil))
    assert len(got) == 2

    d = str(tmp_path / "warcs")
    import os

    os.makedirs(d)
    with open(os.path.join(d, "a.warc.gz"), "wb") as f:
        f.write(synth_warc(recs, gzip_records=True))
    with open(os.path.join(d, "b.warc"), "wb") as f:
        f.write(synth_warc([("http://d/q", "second file", "text/plain")]))
    bf = spark.read.format("binaryFile").load(d)
    rows = {r.target_uri: r for r in warc_records(bf).collect()}
    assert sorted(rows) == ["http://a.example/x", "http://b.example/y",
                            "http://c.example/z", "http://d/q"]
    assert rows["http://b.example/y"].body == "plain body text"
    assert rows["http://a.example/x"].content_type == "text/html"

    # streaming twin: binaryFile readStream through the same operator
    stream = spark.readStream.format("binaryFile").schema(bf.schema).load(d)
    seen: list = []
    q = (warc_records(stream).writeStream
         .foreachBatch(lambda df, _: seen.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sorted(r.target_uri for r in seen) == sorted(rows)

    # the full production ingest edge, one streaming query: WARC
    # binaryFile stream -> warc_records -> html rows -> extract ->
    # gopher -> minhash dedup (streaming_curation). Crawl pages long
    # enough to pass the gate, one near-dup pair across records.
    from pyspark.sql import functions as F

    from graphlite_spark.streaming.stateful import (
        minhash_dedup_reduce,
        streaming_curation,
    )

    long_a = ("the river bends with every season that passes while "
              "people gather to watch the water move past the old "
              "mill and children have games that the town remembers")
    pages = [(f"http://crawl/{i}",
              "<html><body><nav><a href='/'>H</a></nav><p>"
              + (long_a if i < 2 else long_a.replace("mill", "dock")
                 + f" plus tail {i} of words")
              + "</p></body></html>", "text/html") for i in range(3)]
    d2 = str(tmp_path / "warcs2")
    os.makedirs(d2)
    with open(os.path.join(d2, "c.warc.gz"), "wb") as f:
        f.write(synth_warc(pages, gzip_records=True))
    bf2 = spark.read.format("binaryFile").load(d2)
    st2 = spark.readStream.format("binaryFile").schema(bf2.schema).load(d2)
    html_rows = (
        warc_records(st2)
        .filter(F.col("content_type").startswith("text/html"))
        .select(F.xxhash64("target_uri").alias("doc_id"),
                F.col("body").alias("html"))
    )
    kept: list = []
    q2 = (streaming_curation(html_rows, min_words=25, min_stop_words=1)
          .writeStream
          .foreachBatch(lambda df, _:
                        kept.extend(minhash_dedup_reduce(df).collect()))
          .option("checkpointLocation", str(tmp_path / "wc2_ckpt"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    # pages 0 and 1 are exact dups (one survives); page 2 is a
    # near-dup with a distinct tail — 2 or fewer survivors, >= 1
    assert 1 <= len(kept) <= 2


@pytest.mark.full_tier
def test_streaming_curation_stream_matches_batch(spark, tmp_path):
    # the composed ingest chain html -> extract -> gopher -> minhash
    # dedup, run identically as one batch and as two micro-batches:
    # nav/footer boilerplate must drop, short docs must fail the
    # quality gate BEFORE dedup, near-dups must collide across
    # batches, and the stream's kept ids must equal the batch's
    from graphlite_spark.streaming.stateful import (
        minhash_dedup_reduce,
        streaming_curation,
    )

    base_words = ("the quick brown fox jumps over the lazy dog near the "
                  "red barn and the wide river bends with every season "
                  "that passes while people gather to watch the water "
                  "move past the old mill and children have games")
    near = base_words.replace("dog", "cat").replace("mill", "barn")
    uniq = ("entirely different words compose this long sentence about "
            "spark and the many ways that distributed systems have to "
            "shuffle data between the executors while keeping the "
            "lineage exact for recovery and the schedulers fair")
    short = "too short to pass"

    def page(body):
        return ("<html><body><nav><a href='/'>Home</a></nav><p>"
                + body + "</p><footer><a href='/t'>T</a></footer>"
                "</body></html>")

    d = str(tmp_path / "cur_stream")
    spark.createDataFrame(
        [(1, page(base_words)), (2, page(short)), (3, page(uniq))],
        "doc_id long, html string",
    ).coalesce(1).write.parquet(d + "/f0")
    spark.createDataFrame(
        [(10, page(near)),            # near-dup of 1, cross-batch
         (11, page(uniq + " extra")),  # near-dup of 3, cross-batch
         (12, page(short))],          # gopher-fails, never reaches state
        "doc_id long, html string",
    ).coalesce(1).write.parquet(d + "/f1")
    batch = spark.read.option("recursiveFileLookup", "true").parquet(d)

    kept_b = streaming_curation(batch, min_words=30, min_stop_words=1)
    rows = {r.doc_id: r.text for r in kept_b.collect()}
    # extraction dropped the boilerplate, gopher dropped the shorts,
    # dedup dropped the near-dups
    assert sorted(rows) == [1, 3]
    assert rows[1] == base_words and rows[3] == uniq

    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    kept_s: list = []

    def sink(df, _epoch):
        kept_s.extend(r.doc_id for r in minhash_dedup_reduce(df).collect())

    q = (
        streaming_curation(stream, min_words=30, min_stop_words=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(kept_s) == sorted(rows)


def test_streaming_minhash_dedup_matches_batch_cluster_path(spark):
    # the streaming keep set agrees with the batch pairs->clusters
    # canonical keep set on a corpus whose LSH clusters are arrival-
    # ordered (the production case: canonical == first arrival)
    from graphlite_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from graphlite_spark.streaming.stateful import streaming_minhash_dedup

    rows = []
    for g in range(6):
        # 24-word docs, one word changed -> J = 19/25 = 0.76; with 16
        # bands of 4 rows each pair collides w.p. ~0.997 — and the
        # corpus is FIXED (xxhash64 is deterministic), so the planted
        # collisions either hold forever or never: this test is not
        # flaky, it pins the corpus
        words = [f"tok{g}w{i}" for i in range(24)]
        base = " ".join(words)
        rows.append((g * 10, base))
        mut = list(words)
        mut[5] = "changed"
        rows.append((g * 10 + 1, " ".join(mut)))   # near-dup of base
        mut2 = list(words)
        mut2[15] = "altered"
        rows.append((g * 10 + 2, " ".join(mut2)))  # near-dup of base
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    kept_stream = sorted(
        r.doc_id for r in streaming_minhash_dedup(docs).collect())

    pairs = minhash_lsh_pairs(docs, verify=False)
    clusters = dedup_clusters(docs, pairs)
    canon = sorted(
        r.doc_id for r in clusters.filter("doc_id = canonical_id").collect())
    # exact agreement with the batch pairs->clusters canonical set (LSH
    # may miss a planted pair — deterministically — but it misses it on
    # BOTH paths, so the keep sets still coincide)
    assert kept_stream == canon
    # every cluster's first arrival survives; dedup actually bit
    assert {0, 10, 20, 30, 40, 50} <= set(kept_stream)
    assert len(kept_stream) < len(rows)


def test_resize_images(spark):
    import numpy as np
    import pytest

    from graphlite_spark.operators.multimodal import (
        ASSET_SCHEMA,
        _decode_image,
        resize_images,
        synth_png,
    )

    # 4x4 gray gradient (values 0..240 step 16) -> 2x2 box means
    vals = (np.arange(16, dtype=np.uint8) * 16).reshape(4, 4)
    img = np.stack([vals] * 3, axis=2)
    grad_png = synth_png(4, 4, img)
    uni_png = synth_png(6, 6, np.full((6, 6, 3), 100, np.uint8))
    assets = spark.createDataFrame(
        [(1, "image", bytearray(grad_png), "synth://g", (4, 4, None, "png")),
         (2, "image", bytearray(uni_png), "synth://u", (6, 6, None, "png")),
         (3, "image", bytearray(b"not an image"), "synth://bad",
          (0, 0, None, "raw"))],
        ASSET_SCHEMA)

    rows = {r.asset_id: r for r in
            resize_images(assets.filter("asset_id < 3"), 2, 2).collect()}
    g = rows[1]
    assert (g.src_width, g.src_height, g.width, g.height) == (4, 4, 2, 2)
    # box means of the gradient quadrants: (0+16+64+80)/4 etc., /255
    exp = np.array([[40.0, 72.0], [168.0, 200.0]]) / 255.0
    w, h, gray = _decode_image(bytes(g.frame), dim=None)
    assert (w, h) == (2, 2)
    assert np.allclose(gray.reshape(2, 2),
                       np.rint(exp * 255.0) / 255.0, atol=1e-9)
    assert abs(g.mean_luma - round(float(exp.mean()), 6)) < 1e-9
    assert abs(rows[2].mean_luma - round(100 / 255.0, 6)) < 2e-6

    # upscale: nearest-pixel; emitted PNG round-trips
    up = resize_images(assets.filter("asset_id = 2"), 12, 12).collect()[0]
    w, h, gray = _decode_image(bytes(up.frame), dim=None)
    assert (w, h) == (12, 12) and np.allclose(gray, 100 / 255.0, atol=1e-9)

    # corpus-tolerance contract
    with pytest.raises(Exception):
        resize_images(assets, 2, 2).collect()
    nulls = {r.asset_id: r.width for r in
             resize_images(assets, 2, 2, on_error="null").collect()}
    assert nulls[3] is None and nulls[1] == 2
    skipped = sorted(r.asset_id for r in
                     resize_images(assets, 2, 2, on_error="skip").collect())
    assert skipped == [1, 2]
    with pytest.raises(ValueError, match="dims"):
        resize_images(assets, 0, 2)


def test_minhash_buckets_mapside_grouped_bit_identical(spark):
    # the streaming (map-side) and batch (groupBy-signature) bucket
    # constructions must produce EXACTLY the same (doc, band, bucket)
    # rows — this is what makes stream==batch possible at all
    from graphlite_spark.streaming.stateful import (
        minhash_band_buckets_grouped,
        minhash_band_buckets_mapside,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200)
    docs = docs.unionByName(
        spark.createDataFrame([(90001, "zz"), (90002, "")],
                              "doc_id long, text string")
        .withColumns({c: __import__("pyspark.sql.functions",
                                    fromlist=["lit"]).lit(None)
                      for c in docs.columns if c not in ("doc_id", "text")})
        .select(docs.columns))
    a = sorted(map(tuple, minhash_band_buckets_mapside(docs).collect()))
    b = sorted(map(tuple, minhash_band_buckets_grouped(docs).collect()))
    assert a == b and len(a) > 0


def test_gopher_and_html_extract_stream_match_batch(spark, tmp_path):
    # both operators are stateless maps (one projection / one
    # mapInPandas), so they are stream-legal verbatim: run them over a
    # file stream and require bit-identical output to the batch path
    from graphlite_spark.operators.html import extract_html_text, synth_html
    from graphlite_spark.operators.text import gopher_quality_filters
    from graphlite_spark.streaming.windows import run_stream_to_memory

    docs = spark.createDataFrame(
        [(i, ("the quick brown fox " * (2 + i % 5)).strip())
         for i in range(40)],
        "doc_id: long, text: string",
    )
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    assert stream.isStreaming

    exp_g = {r.doc_id: r for r in gopher_quality_filters(
        batch, min_words=10, min_stop_words=1).collect()}
    run_stream_to_memory(
        gopher_quality_filters(stream, min_words=10, min_stop_words=1),
        "gopher_stream", output_mode="append")
    got_g = {r.doc_id: r for r in spark.table("gopher_stream").collect()}
    assert {d: tuple(r) for d, r in got_g.items()} == \
        {d: tuple(r) for d, r in exp_g.items()}
    assert any(r.gopher_pass for r in exp_g.values())
    assert any(not r.gopher_pass for r in exp_g.values())

    exp_h = {r.doc_id: r.text
             for r in extract_html_text(synth_html(batch)).collect()}
    run_stream_to_memory(
        extract_html_text(synth_html(stream)), "html_stream",
        output_mode="append")
    got_h = {r.doc_id: r.text
             for r in spark.table("html_stream").collect()}
    assert got_h == exp_h and len(got_h) == 40


def test_hll_sketch_stream_matches_batch(spark, events_stream_dir):
    """Sketch builds are plain groupBy aggregates, so they run verbatim
    on a stream (complete mode) — the streaming twin of the rollup
    deployment: sketch microbatches, merge downstream."""
    from graphlite_spark.operators.sketches import hll_sketch

    batch = spark.read.parquet(events_stream_dir)
    expected = {(r.register, r.rho)
                for r in hll_sketch(batch, "user_id", p=9, salt=6).collect()}

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    sketched = hll_sketch(stream, "user_id", p=9, salt=6)
    assert sketched.isStreaming
    q = (sketched.writeStream.format("memory").queryName("hll_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.register, r.rho)
           for r in spark.table("hll_stream").collect()}
    assert got == expected and len(got) >= 10


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Two time-ordered micro-batches: anchors set in batch 1 carry
    through the state store and steps completed in batch 2 emit —
    union of emissions == the batch operator on the full data."""
    import pandas as pd

    from graphlite_spark.streaming.stateful import streaming_funnel

    rows = []
    # 40 users: step1 in half-1; step2/step3 split across halves
    for u in range(40):
        rows.append((u, "view", 100 + u))
        if u % 2 == 0:
            rows.append((u, "click", 200 + u))          # half-1
        if u % 4 == 0:
            rows.append((u, "purchase", 3500 + u))      # half-2
        if u % 8 == 0:
            rows.append((u, "click", 9000 + u))         # too late: >1h?
    df = spark.createDataFrame(rows, "user_id: long, event_type: string, sec: long")
    df = df.select("user_id", "event_type",
                   F.timestamp_seconds(F.col("sec")).alias("ts"))
    d = str(tmp_path / "funnel_stream")
    df.where("ts < timestamp_seconds(3000)").coalesce(1) \
        .write.parquet(d + "/p=0")
    df.where("ts >= timestamp_seconds(3000)").coalesce(1) \
        .write.parquet(d + "/p=1")

    batch = spark.read.parquet(d + "/p=0", d + "/p=1") \
        .select("user_id", "event_type", "ts")
    expected = {(r["user_id"], r["step"], r["event_type"], r["t"])
                for r in streaming_funnel(
                    batch, ["view", "click", "purchase"], 3600).collect()}

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(d + "/p=*"))
    q = (streaming_funnel(stream, ["view", "click", "purchase"], 3600)
         .writeStream.format("memory").queryName("funnel_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["step"], r["event_type"], r["t"])
           for r in spark.table("funnel_stream").collect()}
    assert got == expected
    assert len({r for r in got if r[1] == 1}) == 40
    assert len({r for r in got if r[1] == 3}) == 10


def test_streaming_hll_counts_stream_matches_batch(spark, events_stream_dir):
    """Windowed HLL register rows built ON THE STREAM are bit-identical
    to the batch build, and the estimates they yield match exact
    per-window distinct counts within HLL error."""
    from graphlite_spark.operators.sketches import hll_estimate
    from graphlite_spark.streaming.windows import (run_stream_to_memory,
                                                   streaming_hll_counts)

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r.window_start, r.register): r.rho
        for r in streaming_hll_counts(batch, p=8, salt=3).collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    run_stream_to_memory(
        streaming_hll_counts(stream, p=8, salt=3), "hll_stream_test")
    sk = spark.table("hll_stream_test")
    got = {(r.window_start, r.register): r.rho for r in sk.collect()}
    assert got == expected and len(got) > 50

    est = {r.window_start: r.estimate
           for r in hll_estimate(sk, 8, ("window_start",)).collect()}
    truth = {
        r.w: r.n
        for r in batch.withColumn(
            "ts", F.col("ts").cast("timestamp")).groupBy(
            F.window("ts", "1 hour").start.alias("w")).agg(
            F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(truth)
    for w, n in truth.items():
        assert abs(est[w] - n) <= max(3.0, 0.25 * n), (w, est[w], n)


def test_blocklist_flag_stream_matches_batch(spark, tmp_path):
    """The stateless UDF blocklist flag on a readStream equals the
    batch blocklist_filter flag mode row-for-row — including userinfo
    evasion, case/port variants, parent domains, and fail-closed
    non-URLs."""
    from graphlite_spark.operators.web import (blocklist_filter,
                                               blocklist_flag_stream)
    from graphlite_spark.streaming.windows import run_stream_to_memory

    rows = [
        (1, "http://evil.com/a"),
        (2, "https://cdn.evil.com/x?y=1"),
        (3, "http://notevil.com/ok"),
        (4, "https://good.org/p"),
        (5, "mailto:junk@nowhere"),
        (6, "http://u:p@evil.com/bypass"),
        (7, "http://EVIL.com:8080/"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    d = str(tmp_path / "urls")
    df.write.mode("overwrite").parquet(d)
    bl = spark.createDataFrame([("evil.com",)], "host string")

    batch_flags = {r.doc_id: r.blocked
                   for r in blocklist_filter(df, bl, mode="flag").collect()}
    # batch call of the stream twin
    same = {r.doc_id: r.blocked
            for r in blocklist_flag_stream(df, bl).collect()}
    assert same == batch_flags

    stream = spark.readStream.schema(df.schema).parquet(d)
    run_stream_to_memory(blocklist_flag_stream(stream, bl),
                         "blocklist_stream_test", output_mode="append")
    got = {r.doc_id: r.blocked
           for r in spark.table("blocklist_stream_test").collect()}
    assert got == batch_flags
    assert got[6] is True and got[3] is False and got[8] is True


def test_streaming_attribution_matches_batch(spark, events_stream_dir):
    """Streaming last-touch credits from a readStream equal the batch
    attribution operator row-for-row on in-order data; first-touch
    mode too."""
    from graphlite_spark.operators.temporal import attribution
    from graphlite_spark.streaming.stateful import streaming_attribution
    from graphlite_spark.streaming.windows import run_stream_to_memory

    batch = spark.read.parquet(events_stream_dir)
    for mode, win, name in (("last", None, "attr_last_test"),
                            ("first", None, "attr_first_test"),
                            ("last", 3600, "attr_last_win_test"),
                            # the r8 ADVICE case: windowed 'first'
                            # must credit the earliest touch INSIDE
                            # the window, not the expired global first
                            ("first", 3600, "attr_first_win_test"),
                            ("first", 60, "attr_first_win60_test")):
        expected = {
            r.event_id: (r.touch_event_id, r.touch_type, r.touch_ts,
                         r.seconds_to_convert)
            for r in attribution(batch, "purchase", mode=mode,
                                 within_seconds=win).collect()
        }
        stream = spark.readStream.schema(batch.schema) \
            .parquet(events_stream_dir)
        run_stream_to_memory(
            streaming_attribution(stream, "purchase", mode=mode,
                                  within_seconds=win),
            name, output_mode="append")
        got = {r.event_id: (r.touch_event_id, r.touch_type, r.touch_ts,
                            r.seconds_to_convert)
               for r in spark.table(name).collect()}
        assert got == expected and len(got) > 20, (mode, win)
        if mode == "first" and win == 3600:
            # the combination must actually exercise the divergence:
            # some conversion's credited touch differs from the
            # GLOBAL first touch (i.e. a global-first-only state
            # machine would emit the wrong row here)
            glob = {
                r.event_id: r.touch_event_id
                for r in attribution(batch, "purchase",
                                     mode="first").collect()}
            assert any(v[0] is not None and glob[k] != v[0]
                       for k, v in expected.items()), (mode, win)

    # custom user/id column names + dtypes survive the stream path
    # (r8 ADVICE: stream and batch schemas must agree)
    renamed = batch.selectExpr("user_id AS uid", "event_id AS eid",
                               "ts", "event_type")
    exp2 = attribution(renamed, "purchase", user_col="uid",
                       id_col="eid")
    stream2 = spark.readStream.schema(batch.schema) \
        .parquet(events_stream_dir) \
        .selectExpr("user_id AS uid", "event_id AS eid", "ts",
                    "event_type")
    s2 = streaming_attribution(stream2, "purchase", user_col="uid",
                               id_col="eid")
    assert s2.columns == exp2.columns
    assert dict(s2.dtypes)["uid"] == dict(exp2.dtypes)["uid"]
    assert dict(s2.dtypes)["eid"] == dict(exp2.dtypes)["eid"]
    run_stream_to_memory(s2, "attr_renamed_test", output_mode="append")
    got2 = {r.eid: (r.touch_event_id, r.seconds_to_convert)
            for r in spark.table("attr_renamed_test").collect()}
    exp2d = {r.eid: (r.touch_event_id, r.seconds_to_convert)
             for r in exp2.collect()}
    assert got2 == exp2d


def test_streaming_attribution_state_across_batches(spark, tmp_path):
    """A touch in batch 1 credits a conversion arriving in batch 2 —
    the state carries; a conversion before any touch is organic."""
    import datetime as dt

    from graphlite_spark.streaming.stateful import streaming_attribution

    d = tmp_path / "attr_stream"
    d.mkdir()

    def write(batch_no, rows):
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp,"
                  " event_type string"
        ).coalesce(1).write.mode("append").parquet(str(d))

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    write(1, [(1, 1, ts(0), "purchase"),      # organic
              (1, 2, ts(10), "click")])
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(str(d))
    write(2, [(1, 3, ts(20), "purchase")])    # credited to click@10

    q = (streaming_attribution(stream, "purchase")
         .writeStream.format("memory").queryName("attr_xbatch")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.event_id: (r.touch_event_id, r.seconds_to_convert)
           for r in spark.table("attr_xbatch").collect()}
    assert got[1] == (None, None)
    assert got[3] == (2, 10)


@pytest.mark.full_tier
def test_dedup_index_maintenance_replay_and_rebuild(spark, tmp_path):
    """The persisted-index maintenance loop (VERDICT r8 ask #3):
    epoch survivors extend the index exactly-once; a crash-replayed
    epoch is a byte-level no-op; after any epoch sequence the index
    equals a from-scratch rebuild over corpus + survivors; the
    streaming form produces the same survivors and index as the
    sequential batch loop."""
    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_ingest_batch,
    )
    from graphlite_spark.streaming.stateful import (
        streaming_dedup_index_maintenance,
    )

    base = "the quick brown fox jumps over the lazy dog near the red barn"
    fresh1 = "fresh content nobody wrote before today ok"
    fresh2 = "fresh content nobody wrote before yesterday ok"  # near fresh1
    hist = spark.createDataFrame(
        [(1, base), (2, "entirely different words compose this sentence"),
         (3, "zz")],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_dedup_index(hist, idx, n=3, num_hashes=64, bands=16)

    ep1 = spark.createDataFrame(
        [(10, base.replace("dog", "cat")),   # near-hits base index
         (11, fresh1),                        # survivor
         (12, "zz"),                          # exact-hits index
         (13, fresh1),                        # within-batch exact loser
         (14, fresh2)],                       # within-batch near loser
        "doc_id long, text string")
    ep2 = spark.createDataFrame(
        [(20, base.replace("jumps", "leaps")),  # near-hits base index
         (21, fresh2),                           # near-hits epoch-1 DELTA
         (22, fresh1),                           # exact-hits epoch-1 delta
         (23, "completely novel third epoch sentence with many words")],
        "doc_id long, text string")

    s1 = sorted(r.doc_id for r in
                dedup_index_ingest_batch(ep1, idx, batch_id=1).collect())
    s2 = sorted(r.doc_id for r in
                dedup_index_ingest_batch(ep2, idx, batch_id=2).collect())
    assert s1 == [11]
    assert s2 == [23]

    def keys(path):
        ex = sorted(r.h for r in
                    spark.read.parquet(f"{path}/exact").collect())
        import os
        delta = f"{path}/exact_delta"
        if os.path.exists(delta):
            ex += [r.h for r in spark.read.parquet(delta).collect()]
        bd = [(r.band, r.bucket) for r in
              spark.read.parquet(f"{path}/bands").collect()]
        bdelta = f"{path}/bands_delta"
        if os.path.exists(bdelta):
            bd += [(r.band, r.bucket) for r in
                   spark.read.parquet(bdelta).collect()]
        return sorted(ex), sorted(bd)

    ex_before, bd_before = keys(idx)
    # crash replay: epoch 2 re-delivered -> identical survivors, index
    # key multiset unchanged (its partitions overwrite themselves)
    s2r = sorted(r.doc_id for r in
                 dedup_index_ingest_batch(ep2, idx, batch_id=2).collect())
    assert s2r == s2
    assert keys(idx) == (ex_before, bd_before)

    # rebuild equality: incremental maintenance == from-scratch index
    # over corpus + survivors
    surv = ep1.filter("doc_id = 11").unionByName(ep2.filter("doc_id = 23"))
    idx2 = str(tmp_path / "idx2")
    build_dedup_index(hist.unionByName(surv), idx2,
                      n=3, num_hashes=64, bands=16)
    ex2, bd2 = keys(idx2)
    assert ex_before == ex2
    assert sorted(set(bd_before)) == sorted(set(bd2))

    # streaming form: same corpus in file-per-trigger epochs over a
    # FRESH index -> same survivors, same final key sets
    d = str(tmp_path / "stream_src")
    ep1.coalesce(1).write.parquet(d + "/f0")
    ep2.coalesce(1).write.parquet(d + "/f1")
    idx3 = str(tmp_path / "idx3")
    build_dedup_index(hist, idx3, n=3, num_hashes=64, bands=16)
    stream = (
        spark.readStream.schema(ep1.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / "survivors")
    streaming_dedup_index_maintenance(
        stream, idx3, checkpoint=str(tmp_path / "ckpt"),
        survivors_path=out)
    kept_s = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept_s == s1 + s2
    ex3, bd3 = keys(idx3)
    assert ex3 == ex_before
    assert sorted(set(bd3)) == sorted(set(bd_before))

    # batch fallback returns survivors directly (epoch 0 of a fresh
    # index) — the gate-entry shape
    idx4 = str(tmp_path / "idx4")
    build_dedup_index(hist, idx4, n=3, num_hashes=64, bands=16)
    got = streaming_dedup_index_maintenance(
        ep1, idx4, checkpoint=str(tmp_path / "ckpt4"))
    assert sorted(r.doc_id for r in got.collect()) == [11]


def test_streaming_ingest_loop_stream_matches_batch(spark, tmp_path):
    """The complete ingest loop (extract -> gopher -> index dedup ->
    key append) over two file epochs equals the one-batch fallback on
    id-ordered data, and the second epoch's duplicates are dropped by
    the FIRST epoch's appended delta keys (cross-epoch state lives in
    the index, not the stream)."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.dedup import build_dedup_index
    from graphlite_spark.streaming.stateful import streaming_ingest_loop

    body_a = " ".join(f"walpha{i} the" for i in range(30))
    body_b = " ".join(f"vbravo{i} and" for i in range(30))
    body_c = " ".join(f"ucarol{i} with" for i in range(30))

    def page(body):
        return ("<html><body><nav><a href='/'>Home</a></nav><p>"
                + body + "</p><footer><a href='/t'>T</a></footer>"
                "</body></html>")

    hist = spark.createDataFrame([(1, body_a)], "doc_id long, text string")
    ep1 = spark.createDataFrame(
        [(10, page(body_a)),   # hits the historical index
         (11, page(body_b)),   # survivor
         (12, page(body_b)),   # within-epoch exact loser
         (13, page("too short"))],  # fails the gopher gate
        "doc_id long, html string")
    ep2 = spark.createDataFrame(
        [(20, page(body_b)),   # hits epoch-1's DELTA keys
         (21, page(body_c))],  # survivor
        "doc_id long, html string")

    def fresh_idx(name):
        p = str(tmp_path / name)
        build_dedup_index(hist, p, n=3, num_hashes=64, bands=8)
        return p

    # sequential batch loop
    idx_b = fresh_idx("idx_b")
    s1 = sorted(r.doc_id for r in streaming_ingest_loop(
        ep1, idx_b, checkpoint=str(tmp_path / "nock1")).collect())
    # epoch 2 must see epoch 1's keys: use the ingest primitive with
    # batch_id=1 via the streaming path below; the batch fallback is
    # always epoch 0, so run ep2 through a fresh stream instead
    assert s1 == [11]

    # streaming: both epochs through one availableNow query
    d = str(tmp_path / "src")
    ep1.coalesce(1).write.parquet(d + "/f0")
    ep2.coalesce(1).write.parquet(d + "/f1")
    idx_s = fresh_idx("idx_s")
    out = str(tmp_path / "surv")
    stream = (spark.readStream.schema(ep1.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(d))
    streaming_ingest_loop(stream, idx_s,
                          checkpoint=str(tmp_path / "ck"),
                          survivors_path=out)
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [11, 21]
    # the index learned exactly the survivors' keys
    delta = spark.read.parquet(idx_s + "/exact_delta")
    assert delta.count() == 2
    # and doc 20 (same text as 11) was dropped BY the delta: its text
    # hash equals 11's, which is in the delta
    h11 = spark.createDataFrame([(body_b,)], "t string").select(
        F.xxhash64(F.lower(F.trim("t")))).collect()[0][0]
    assert h11 in {r.h for r in delta.collect()}


def test_compact_dedup_index_preserves_answers(spark, tmp_path):
    """Compaction folds delta partitions into the base without
    changing a single answer: dedup_against_index and a further
    ingest epoch behave identically before and after; the delta dirs
    are gone; key counts match the distinct union."""
    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        compact_dedup_index,
        dedup_against_index,
        dedup_index_ingest_batch,
    )

    hist = spark.createDataFrame(
        [(1, "alpha bravo common words here"),
         (2, "entirely different sentence content")],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_dedup_index(hist, idx, n=3, num_hashes=64, bands=16)
    ep1 = spark.createDataFrame(
        [(10, "fresh epoch one content okay"),
         (11, "alpha bravo common words here")],   # exact index hit
        "doc_id long, text string")
    ep2 = spark.createDataFrame(
        [(20, "fresh epoch one content okay"),     # hits ep1 delta
         (21, "brand new second epoch text")],
        "doc_id long, text string")
    assert sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep1, idx, batch_id=1).collect()) == [10]
    assert sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep2, idx, batch_id=2).collect()) == [21]

    probe = spark.createDataFrame(
        [(90, "fresh epoch one content okay"),     # delta key
         (91, "alpha bravo common words here"),    # base key
         (92, "never seen text at all here")],
        "doc_id long, text string")
    before = sorted(r.doc_id for r in
                    dedup_against_index(probe, idx).collect())

    import os
    counts = compact_dedup_index(spark, idx)
    assert counts["exact"] == 4   # 2 hist + 2 survivors
    # one-generation retention: the delta partitions survive the
    # FIRST compaction (a reader on the previous manifest may still
    # need them) but are fenced off by delta_floor; a second
    # compaction supersedes that manifest too and sweeps them
    assert not os.path.exists(idx + "/exact_precompact")
    after = sorted(r.doc_id for r in
                   dedup_against_index(probe, idx).collect())
    assert after == before == [92]
    compact_dedup_index(spark, idx)
    assert not os.path.exists(idx + "/exact_delta")
    assert not os.path.exists(idx + "/bands_delta")
    assert not os.path.exists(idx + "/exact")   # v1 base swept too
    assert sorted(r.doc_id for r in
                  dedup_against_index(probe, idx).collect()) == [92]

    # the loop keeps working on the compacted index
    ep3 = spark.createDataFrame(
        [(30, "brand new second epoch text"),      # hits compacted base
         (31, "a third epoch novel document")],
        "doc_id long, text string")
    assert sorted(r.doc_id for r in dedup_index_ingest_batch(
        ep3, idx, batch_id=3).collect()) == [31]
