"""Multimodal plumbing tests beyond the registry's rows-only check: the
``map_rows`` operators must produce schema-exact, content-correct output
(verified against a driver-side recomputation on a small sample), handle
null/empty payloads, and reassemble frames back into the payload prefix.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from direct_spark_sql_spark.operators import multimodal as mm
from direct_spark_sql_spark.sources.registry import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 50)
    return mm.attach_binary(d, "text", "application/octet-stream", "source")


def test_metadata_struct(media):
    row = media.select("media", "media_meta").first()
    assert row.media_meta.mime == "application/octet-stream"
    assert row.media_meta.n_bytes == len(row.media)
    assert row.media_meta.source.startswith("src")


def test_feature_extract_real_decode_rejects_non_image(spark, media):
    """Opaque text payloads are rejected by the real decode (ValueError via
    the codec sniffer), not silently faked."""
    with pytest.raises(Exception) as exc_info:
        mm.extract_image_features(media).collect()
    assert "unrecognized image payload" in str(exc_info.value)


def test_real_decode_round_trip_all_formats(spark):
    """Executor-side encode → decode for every codec: dimensions and pixel
    stats must match a driver-side recomputation from the pixel formula."""
    ids = spark.range(0, 30).selectExpr("id AS doc_id")
    feats = {
        r.doc_id: r
        for r in mm.extract_image_features(mm.synthesize_images(ids)).collect()
    }
    assert len(feats) == 30
    for i in range(30):
        w, h = 4 + i % 13, 3 + i % 11
        vals = [
            (x * 7 + y * 13 + i * 31) % 256 for y in range(h) for x in range(w)
        ]
        r = feats[i]
        assert r.fmt == {0: "ppm", 1: "bmp", 2: "png", 3: "gif"}[i % 4]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.px_sum == 3 * sum(vals)
        assert (r.px_min, r.px_max) == (min(vals), max(vals))


def test_chunk_binary_reassembles_prefix(spark, media):
    chunks = mm.chunk_binary(media, n_chunks=4).collect()
    src = {r.doc_id: bytes(r.media) for r in media.select("doc_id", "media").collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        payload = src[doc_id]
        step = max(len(payload) // 4, 1)
        joined = b"".join(bytes(r.chunk_bytes) for r in rows)
        assert joined == payload[: len(joined)]
        assert all(len(bytes(r.chunk_bytes)) <= step for r in rows)


def test_null_payload_handling(spark):
    df = spark.createDataFrame(
        [(1, b"abc"), (2, None), (3, b"")], "doc_id long, media binary"
    )
    chunks = mm.chunk_binary(df).collect()
    assert {r.doc_id for r in chunks} == {1}
    # every payload null or empty: no batch yields a row, the result is
    # empty and keeps CHUNK_SCHEMA
    empty = spark.createDataFrame(
        [(i, None if i % 2 else b"") for i in range(6)], "doc_id long, media binary"
    ).repartition(3)
    chunks = mm.chunk_binary(empty)
    assert chunks.collect() == []
    assert chunks.schema == mm.CHUNK_SCHEMA


def test_binary_file_source_ingestion(spark, tmp_path):
    """The real ingestion path for image corpora: files on disk read via
    Spark's binaryFile source (path/length/content columns), then decoded
    by the same executor-side feature extractor — stats must match the
    synthesizer's closed-form pixel formula."""
    from direct_spark_sql_spark.operators.imagecodec import (
        encode_bmp,
        encode_png,
        encode_ppm,
    )

    encoders = {0: ("ppm", encode_ppm), 1: ("bmp", encode_bmp), 2: ("png", encode_png)}
    expected = {}
    for i in range(9):
        w, h = 4 + i % 13, 3 + i % 11
        rgb = bytes(
            (x * 7 + y * 13 + i * 31) % 256
            for y in range(h)
            for x in range(w)
            for _c in range(3)
        )
        ext, enc = encoders[i % 3]
        (tmp_path / f"img_{i:03d}.{ext}").write_bytes(enc(w, h, rgb))
        expected[i] = (ext, w, h, sum(rgb), min(rgb), max(rgb))

    files = spark.read.format("binaryFile").load(str(tmp_path))
    assert set(files.columns) == {"path", "modificationTime", "length", "content"}
    media = files.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.", 1).cast("long").alias("doc_id"),
        F.col("content").alias("media"),
    )
    feats = {r.doc_id: r for r in mm.extract_image_features(media).collect()}
    assert feats.keys() == expected.keys()
    for i, (ext, w, h, s, mn, mx) in expected.items():
        r = feats[i]
        assert (r.fmt, r.width, r.height) == (ext, w, h)
        assert (r.px_sum, r.px_min, r.px_max) == (s, mn, mx)
        assert r.n_pixels == w * h


def test_resize_box2_matches_local_recompute(spark):
    """2x box downscale: every resized stat recomputed locally in pure
    Python, including odd width/height edge truncation (the floor-dims
    contract) across all four container formats."""
    from direct_spark_sql_spark.operators import multimodal as mm

    d = spark.createDataFrame([(i,) for i in range(8)], "doc_id BIGINT")
    out = {r.doc_id: r for r in mm.resize_images_box2(mm.synthesize_images(d)).collect()}
    for i in range(8):
        w, h = 4 + i % 13, 3 + i % 11
        rw, rh = w // 2, h // 2
        vals = []
        for yy in range(rh):
            for xx in range(rw):
                block = [
                    ((2 * xx + dx) * 7 + (2 * yy + dy) * 13 + i * 31) % 256
                    for dy in (0, 1)
                    for dx in (0, 1)
                ]
                vals.append(sum(block) // 4)
        r = out[i]
        assert (r.width, r.height, r.r_width, r.r_height) == (w, h, rw, rh)
        assert r.r_sum == 3 * sum(vals)  # identical RGB channels
        assert (r.r_min, r.r_max) == (min(vals), max(vals))


def test_synthesized_videos_stay_within_packed_frame_slots(spark):
    """VIDEO_DEDUP_ORACLE (plans/analytics.py) replays only the positional
    packing of video_fingerprint, so it holds only while every video that
    multimodal_video_dedup synthesizes (doc_id < 100) has ``3 + id % 4``
    frames, each sampled at a position below VFP_MAX_PACKED."""
    ids = spark.range(0, 100).selectExpr("id AS doc_id")
    videos = mm.synthesize_videos(ids)
    n_frames = {r.doc_id: r.n_frames for r in mm.video_fingerprint(videos).collect()}
    assert n_frames == {i: 3 + i % 4 for i in range(100)}
    sampled = mm.sample_video_frames(videos, every_k=2).select("frame_idx").collect()
    assert max(r.frame_idx // 2 for r in sampled) < mm.VFP_MAX_PACKED
