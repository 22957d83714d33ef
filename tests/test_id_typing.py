"""String-id corpora through every Arrow-batched media/text stage:
``video_frames_table`` derives the id column's name and type from
the caller's schema; this pins the SAME
contract on the sibling stages that used to hardcode a long id —
``extract_features``, ``resize_media``, and
``compression_ratio_table``. Template:
tests/test_multimodal_mp4.py::test_video_frames_table_mixed_containers_and_string_ids.
"""

from __future__ import annotations

import numpy as np

from annotation_service_spark.functions.text import compression_ratio_table
from annotation_service_spark.operators.multimodal import (
    decode_ppm,
    extract_features,
    resize_media,
)


def _ppm(w: int = 8, h: int = 6) -> bytes:
    px = np.arange(w * h * 3, dtype=np.int64) % 251
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def test_extract_features_string_ids(spark):
    rows = [("doc-a", bytearray(_ppm())), ("doc-b", bytearray(b"junk"))]
    media = spark.createDataFrame(rows, "clip string, media binary")
    out = extract_features(
        media, id_col="clip", media_col="media", feature_dim=4
    )
    assert out.schema["clip"].dataType.simpleString() == "string"
    got = {r.clip: r for r in out.collect()}
    assert set(got) == {"doc-a", "doc-b"}
    assert len(got["doc-a"].features) == 4
    assert got["doc-a"].n_bytes == len(_ppm())


def test_extract_features_long_ids_unchanged(spark):
    rows = [(7, bytearray(_ppm()))]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    out = extract_features(media, feature_dim=4)
    assert out.schema["media_id"].dataType.simpleString() == "bigint"
    assert out.collect()[0].media_id == 7


def test_resize_media_string_ids(spark):
    rows = [("img-1", bytearray(_ppm(64, 48))), ("img-2", bytearray(b"x"))]
    media = spark.createDataFrame(rows, "name string, media binary")
    out = resize_media(media, max_side=16, id_col="name")
    assert out.schema["name"].dataType.simpleString() == "string"
    got = {r.name: r for r in out.collect()}
    assert got["img-1"].resized
    assert (got["img-1"].width, got["img-1"].height) == (16, 12)
    assert decode_ppm(bytes(got["img-1"].payload)).shape == (12, 16, 3)
    assert not got["img-2"].resized


def test_compression_ratio_string_ids_and_null_text(spark):
    """Two r12 findings at once: string ids survive the Arrow stage,
    and NULL text is missing text (raw_len 0, ratio 0.0) — not the
    literal string 'None' (ADVICE r12)."""
    rows = [("u-1", "hello hello hello hello"), ("u-2", None), ("u-3", "")]
    docs = spark.createDataFrame(rows, "uid string, text string")
    out = compression_ratio_table(docs, id_col="uid")
    assert out.schema["id"].dataType.simpleString() == "string"
    got = {r.id: r for r in out.collect()}
    assert got["u-1"].raw_len == 23 and got["u-1"].ratio > 0
    assert got["u-2"].raw_len == 0 and got["u-2"].ratio == 0.0
    assert got["u-3"].raw_len == 0 and got["u-3"].ratio == 0.0
