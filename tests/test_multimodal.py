"""Multimodal plumbing tests: binary columns through the engine's one
Arrow stage (``operators.arrow_stage``) with the deterministic fake
decoder: the decode stages map decoder keys to typed columns."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apde_etl_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        Row(media_id=i, content=bytes(f"fake-media-payload-{i}", "utf-8"), frame_count=25 + i)
        for i in range(50)
    ]
    return spark.createDataFrame(rows)


def test_default_decoder_rejects_unknown_payloads(media):
    # the default decoder now REALLY decodes WAV/BMP/PNG/baseline-JPEG;
    # unknown magic bytes (these fake payloads) raise ValueError with
    # guidance (or Pillow's unidentified-image error when installed)
    with pytest.raises(Exception) as ei:
        MM.decode_images(media).collect()
    assert ("unsupported media payload" in str(ei.value)
            or "cannot identify" in str(ei.value))


def test_default_decoder_dispatches_all_stdlib_formats(spark):
    from apde_etl_spark.operators.jpegcodec import encode_jpeg_flat_blocks

    blobs = [
        (1, MM.encode_bmp24(6, 5, seed=3), "bmp"),
        (2, MM.encode_png_rgb(5, 6, seed=9), "png"),
        (3, encode_jpeg_flat_blocks(16, 8, seed=42), "jpeg"),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in blobs], "media_id long, content binary")
    out = {r["media_id"]: r for r in MM.decode_images(df).collect()}
    assert [out[i]["format"] for i, _, f in blobs] == [f for _, _, f in blobs]
    assert out[3]["width"] == 16 and out[3]["channels"] == 1


def test_decode_images_appends_meta(media):
    out = MM.decode_images(media, decoder=MM.deterministic_fake_decoder)
    rows = out.collect()
    assert len(rows) == 50
    assert set(out.columns) == {"media_id", "content", "frame_count",
                                "width", "height", "channels", "format"}
    r = next(x for x in rows if x["media_id"] == 7)
    # deterministic: same payload -> same fake dims on every run
    again = MM.decode_images(media, decoder=MM.deterministic_fake_decoder).collect()
    r2 = next(x for x in again if x["media_id"] == 7)
    assert (r["width"], r["height"], r["format"]) == (r2["width"], r2["height"], r2["format"])
    assert 64 <= r["width"] < 256 and r["format"] in ("jpeg", "png", "webp")


def test_extract_features_shape_and_projection(media):
    out = MM.extract_features(media, decoder=MM.deterministic_fake_decoder)
    assert out.columns == ["media_id", "features"]
    rows = out.collect()
    assert all(len(r["features"]) == 16 for r in rows)
    assert all(-1.0 <= v <= 1.0 for r in rows for v in r["features"])
    # features feed the similarity operators directly
    from apde_etl_spark.operators.similarity import brute_force_topk

    q = rows[0]["features"]
    top = brute_force_topk(out, q, k=3, vec_col="features", id_col="media_id").collect()
    assert top[0]["media_id"] == rows[0]["media_id"]
    assert top[0]["cosine_sim"] == pytest.approx(1.0)


def test_frame_sample_plan(media):
    out = MM.frame_sample_plan(media, every_n=10)
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r["media_id"], []).append(r["frame_index"])
    assert by_id[0] == [0, 10, 20]          # frame_count 25 -> idx 0..24
    assert by_id[6] == [0, 10, 20, 30]      # frame_count 31 -> idx 0..30


def test_resize_images_plumbing(spark):
    from apde_etl_spark.operators.multimodal import (
        deterministic_fake_resizer,
        resize_images,
    )
    from pyspark.sql import functions as F
    import hashlib

    docs = spark.createDataFrame(
        [(1, b"payload-one"), (2, b"payload-two")], "media_id long, content binary"
    )
    out = resize_images(docs, "content", 128, 96, resizer=deterministic_fake_resizer)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["width"] == 128 and rows[1]["height"] == 96
    expect = b"128x96:" + hashlib.md5(b"payload-one").digest()
    assert bytes(rows[1]["content"]) == expect


def test_resize_images_default_raises(spark):
    from apde_etl_spark.operators.multimodal import resize_images
    import pytest as _pytest

    docs = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    # the default resizer REALLY resizes decodable payloads; unknown
    # magic raises with guidance, wrapped in Spark's PythonException
    with _pytest.raises(Exception, match="unsupported media payload|cannot identify"):
        resize_images(docs, "content").collect()


def test_resize_images_default_real_path(spark):
    src = MM.encode_bmp24(6, 5, seed=3)
    docs = spark.createDataFrame([(1, src)], "media_id long, content binary")
    rows = MM.resize_images(docs, "content", 4, 4).collect()
    m = MM.stdlib_bmp_decoder(bytes(rows[0]["content"]))
    assert (m["width"], m["height"]) == (4, 4)
    # nearest-neighbor keeps the top-left source pixel exactly
    assert m["px_first"] == MM.pixel_value(0, 0, 0, 3)


def test_audio_chunk_plan_covers_all_samples(spark):
    rows = [Row(media_id=1, n_samples=40000), Row(media_id=2, n_samples=16000),
            Row(media_id=3, n_samples=15999)]
    out = MM.audio_chunk_plan(spark.createDataFrame(rows), chunk_samples=16000)
    got = {(r["media_id"], r["chunk_index"], r["start_sample"], r["end_sample"])
           for r in out.collect()}
    assert got == {
        (1, 0, 0, 16000), (1, 1, 16000, 32000), (1, 2, 32000, 40000),
        (2, 0, 0, 16000),
        (3, 0, 0, 15999),
    }


def test_extract_audio_features_deterministic(media):
    out = MM.extract_audio_features(
        media, "media_id", "content", decoder=MM.deterministic_fake_audio_decoder
    )
    rows = out.collect()
    assert len(rows) == 50
    assert set(out.columns) == {"media_id", "sample_rate", "n_samples", "rms"}
    r = next(x for x in rows if x["media_id"] == 3)
    expect = MM.deterministic_fake_audio_decoder(b"fake-media-payload-3")
    assert (r["sample_rate"], r["n_samples"], r["rms"]) == (
        expect["sample_rate"], expect["n_samples"], expect["rms"])
    assert r["sample_rate"] in (8000, 16000, 44100) and 0.0 <= r["rms"] <= 1.0


def test_extract_audio_features_default_raises_on_unknown(media):
    with pytest.raises(Exception) as ei:
        MM.extract_audio_features(media, "media_id", "content").collect()
    assert ("unsupported media payload" in str(ei.value)
            or "cannot identify" in str(ei.value))
