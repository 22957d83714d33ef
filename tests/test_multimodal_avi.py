"""AVI/MJPEG container demux differential tests.

The muxer below is an INDEPENDENT in-test implementation of the RIFF
AVI container (Microsoft AVI RIFF File Reference / OpenDML AVI v1.02,
public): hdrl (avih + one vids strl with an MJPG BITMAPINFOHEADER),
movi with 00dc frame chunks (word-aligned), and an idx1 index. The
demuxer under test (operators/multimodal.py demux_avi_mjpeg) must
recover the frame payloads byte-exactly, splice the T.81 Annex K.3
Huffman tables into DHT-stripped frames (the MJPEG convention), raise
on truncation, and recognize-and-decline non-MJPG codecs by name.
"""

from __future__ import annotations

import numpy as np
import pytest

from annotation_service_spark.operators import multimodal as mm
from tests.test_multimodal_jpeg import K1_QUANT, _encode_jpeg, _test_image


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + len(body).to_bytes(4, "little") + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def _u32(v: int) -> bytes:
    return v.to_bytes(4, "little")


def mux_avi(
    frames: list[bytes],
    w: int,
    h: int,
    fps: int = 10,
    codec: bytes = b"MJPG",
    extra_stream_first: bool = False,
) -> bytes:
    """Minimal spec-shaped AVI: avih, strl(strh vids + strf BMIH),
    movi of %02ddc chunks, idx1. ``extra_stream_first`` prepends an
    audio strl so the video stream lands at index 1 (frame chunks
    '01dc') — exercising the demuxer's stream-number tracking."""
    avih = _chunk(
        b"avih",
        _u32(1_000_000 // fps) + _u32(0) + _u32(0) + _u32(0x10)
        + _u32(len(frames)) + _u32(0) + _u32(2 if extra_stream_first else 1)
        + _u32(0) + _u32(w) + _u32(h) + _u32(0) * 4,
    )
    strh_v = _chunk(
        b"strh",
        b"vids" + codec + _u32(0) * 3 + _u32(1) + _u32(fps)
        + _u32(0) + _u32(len(frames)) + _u32(0) * 4,
    )
    bmih = (
        _u32(40) + _u32(w) + _u32(h) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + codec + _u32(w * h * 3)
        + _u32(0) * 4
    )
    strl_v = _list(b"strl", strh_v + _chunk(b"strf", bmih))
    strls = strl_v
    vstream = 0
    if extra_stream_first:
        strh_a = _chunk(
            b"strh",
            b"auds" + b"\x00" * 4 + _u32(0) * 3 + _u32(1) + _u32(8000)
            + _u32(0) + _u32(0) + _u32(0) * 4,
        )
        wfx = (1).to_bytes(2, "little") * 2 + _u32(8000) + _u32(16000) + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        strls = _list(b"strl", strh_a + _chunk(b"strf", wfx)) + strl_v
        vstream = 1
    hdrl = _list(b"hdrl", avih + strls)
    tag = b"%02ddc" % vstream
    movi_body = b"".join(_chunk(tag, f) for f in frames)
    movi = _list(b"movi", movi_body)
    # idx1: one entry per frame (fourcc, flags, offset, size)
    idx = b"".join(
        tag + _u32(0x10) + _u32(0) + _u32(len(f)) for f in frames
    )
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _strip_dht(jpeg: bytes) -> bytes:
    """Remove the DHT segment (the MJPEG space saving)."""
    pos = 2
    while pos + 4 <= len(jpeg):
        marker = jpeg[pos + 1]
        seg_len = int.from_bytes(jpeg[pos + 2 : pos + 4], "big")
        if marker == 0xC4:
            return jpeg[:pos] + jpeg[pos + 2 + seg_len :]
        pos += 2 + seg_len
    raise AssertionError("no DHT in encoder output")


def _frames(n: int, seed0: int = 3) -> list[bytes]:
    return [
        _encode_jpeg(_test_image(16, 16, 3, seed=seed0 + i), K1_QUANT)[0]
        for i in range(n)
    ]


def test_avi_roundtrip_byte_exact():
    frames = _frames(4)
    avi = mux_avi(frames, 16, 16)
    out = mm.demux_avi_mjpeg(avi)
    assert out == frames  # DHT present -> payloads untouched


def test_avi_stream_number_tracking():
    """Video as stream 1 (audio first): the demuxer must read '01dc'
    chunks, not assume '00dc'."""
    frames = _frames(3)
    avi = mux_avi(frames, 16, 16, extra_stream_first=True)
    assert mm.demux_avi_mjpeg(avi) == frames


def test_avi_missing_dht_spliced_and_decodes_identically():
    """DHT-stripped MJPEG frames (the OpenDML convention) come back
    with the Annex K.3 tables spliced in, and — because the in-test
    encoder uses exactly those public tables — decode to the SAME
    pixels as the unstripped original."""
    full = _frames(2)
    stripped = [_strip_dht(f) for f in full]
    assert all(len(s) < len(f) for s, f in zip(stripped, full))
    avi = mux_avi(stripped, 16, 16)
    out = mm.demux_avi_mjpeg(avi)
    for orig, got in zip(full, out):
        assert b"\xff\xc4" in got
        np.testing.assert_array_equal(
            mm.decode_jpeg(orig), mm.decode_jpeg(got)
        )


def test_avi_zero_length_drop_frames_skipped():
    frames = _frames(2)
    avi = mux_avi([frames[0], b"", frames[1]], 16, 16)
    assert mm.demux_avi_mjpeg(avi) == frames


def test_avi_truncation_and_junk_raise():
    frames = _frames(1)
    avi = mux_avi(frames, 16, 16)
    with pytest.raises(ValueError):
        mm.demux_avi_mjpeg(avi[: len(avi) // 2])
    with pytest.raises(ValueError):
        mm.demux_avi_mjpeg(b"RIFF" + b"\x00" * 40)
    with pytest.raises(ValueError):
        mm.demux_avi_mjpeg(b"not a container at all")


def test_avi_foreign_codec_declined_by_name():
    frames = _frames(1)
    avi = mux_avi(frames, 16, 16, codec=b"XVID")
    with pytest.raises(NotImplementedError, match="XVID"):
        mm.demux_avi_mjpeg(avi)


def test_avi_to_near_dup_pipeline_end_to_end(spark):
    """Container bytes -> video_frames_table -> video_near_dup_pairs:
    a re-encoded twin (same images, re-quantized) pairs with its
    original; an unrelated video does not; junk payloads and a
    foreign-codec AVI are skipped without failing the job."""
    # Frame content must be BOTH seed-dependent in its low-frequency
    # structure (so unrelated videos hash far apart — _test_image's
    # base is seed-independent and collided at jaccard 0.47) AND
    # smooth (so the 2x-requantized re-encode stays inside the
    # banding's hamming-6 pigeonhole; _gradient_img's sawtooth
    # re-encodes 20-30 bits away). Random-phase low-frequency
    # sinusoids give both: measured re-encode hamming 2-8,
    # cross-seed ~30, pipeline jaccards 0.31 (twin) vs 0.02
    # (unrelated).
    def smooth_img(seed, h=48, w=48):
        rng = np.random.RandomState(seed)
        yy, xx = np.mgrid[0:h, 0:w]
        base = np.zeros((h, w))
        for _ in range(3):
            fx, fy = rng.uniform(0.5, 2.5, 2)
            px, py = rng.uniform(0, 2 * np.pi, 2)
            base += (
                rng.uniform(20, 40)
                * np.sin(2 * np.pi * fx * xx / w + px)
                * np.cos(2 * np.pi * fy * yy / h + py)
            )
        img = np.clip(128 + base, 0, 255)
        return np.stack(
            [img, np.clip(img * 0.8 + 20, 0, 255), np.clip(255 - img, 0, 255)],
            axis=2,
        ).astype(np.int64)

    q2 = np.clip(K1_QUANT * 2, 1, 255).astype(np.int64)
    imgs_a = [smooth_img(10 + i) for i in range(4)]
    imgs_b = [smooth_img(50 + i) for i in range(4)]
    v1 = mux_avi([_encode_jpeg(im, K1_QUANT)[0] for im in imgs_a], 48, 48)
    v2 = mux_avi([_encode_jpeg(im, q2)[0] for im in imgs_a], 48, 48)
    v3 = mux_avi([_encode_jpeg(im, K1_QUANT)[0] for im in imgs_b], 48, 48)
    junk = b"\x00\x01garbage" * 10
    foreign = mux_avi([_encode_jpeg(imgs_b[0], K1_QUANT)[0]], 48, 48, codec=b"XVID")
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3), (4, junk), (5, foreign)],
        "media_id long, payload binary",
    )
    vids = mm.video_frames_table(df)
    assert {r.media_id for r in vids.select("media_id").collect()} == {1, 2, 3}
    pairs = {
        (r.id_a, r.id_b)
        for r in mm.video_near_dup_pairs(vids, threshold=0.15).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_avi_demux_fuzz_never_hangs_or_miscategorizes():
    """Adversarial robustness: random single-byte corruptions and
    truncations of a valid AVI must either demux to a list of valid
    JPEG-prefixed frames or raise cleanly (ValueError /
    NotImplementedError) — never hang, never return garbage frames
    that would poison the decode stage downstream."""
    import random

    rng = random.Random(7)
    frames = _frames(3)
    base = mux_avi(frames, 16, 16)
    for trial in range(300):
        buf = bytearray(base)
        if trial % 3 == 0:  # truncation
            del buf[rng.randrange(1, len(buf)) :]
        elif trial % 3 == 1:  # single byte flip
            i = rng.randrange(len(buf))
            buf[i] ^= 1 << rng.randrange(8)
        else:  # 4-byte size-field scribble
            i = rng.randrange(0, len(buf) - 4)
            buf[i : i + 4] = rng.randbytes(4)
        try:
            out = mm.demux_avi_mjpeg(bytes(buf))
        except (ValueError, NotImplementedError, IndexError):
            continue
        assert isinstance(out, list)
        for f in out:
            assert f[:2] == b"\xff\xd8"
