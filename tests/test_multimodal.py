"""Multimodal plumbing: schema stability, deterministic fake decode,
batch shape through mapInPandas."""

from __future__ import annotations

import pytest

from data_curator_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    media_from_documents,
)


def test_feature_extraction_schema_and_determinism(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "abc"), (2, "a longer text body here")],
        "doc_id long, text string",
    )
    media = media_from_documents(docs)
    out = extract_features(media)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {"m0", "m1", "m2"}
    # kinds rotate deterministically
    assert rows["m0"]["kind"] == "image"
    assert rows["m1"]["kind"] == "audio"
    assert rows["m2"]["kind"] == "video"
    # features are fixed-width and deterministic
    for r in rows.values():
        assert len(r["feature"]) == 8
    rows2 = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows2["m0"]["feature"] == rows["m0"]["feature"]
    assert rows["m0"]["n_bytes"] == len("hello world")


def test_feature_extraction_null_payload(spark):
    media = spark.createDataFrame(
        [("x", "image", None, None, 4, 4, None, None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, sample_rate int, n_frames int",
    )
    out = extract_features(media).collect()
    assert out[0]["n_bytes"] == 0
    assert len(out[0]["feature"]) == 8


def _bmp_bytes(pixels):
    """Minimal uncompressed 24-bit BMP: pixels = HxWx3 uint8 RGB."""
    import struct

    import numpy as np

    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    img = np.zeros((h, row_bytes), dtype=np.uint8)
    img[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = img.tobytes()
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    )
    return header + data


def _wav_bytes(samples_i16):
    import struct

    data = samples_i16.astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_real_bmp_decode(spark):
    """REAL codec path: a genuine 24-bit BMP decodes to exact pixels
    (padding + bottom-up + BGR handled) and its channel stats flow
    through extract_features."""
    import numpy as np

    from data_curator_spark.operators.multimodal import _decode_bmp

    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)  # W=5 forces row padding
    assert np.array_equal(_decode_bmp(_bmp_bytes(px)), px)

    media = spark.createDataFrame(
        [("bmp1", "image", bytearray(_bmp_bytes(px)), "image/bmp", 999, 999, None, None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, sample_rate int, n_frames int",
    )
    row = extract_features(media).collect()[0]
    # decoded-header dims win over the bogus metadata (999x999)
    assert row["feature"][:3] == [
        pytest.approx(float(px[:, :, c].mean())) for c in range(3)
    ]
    assert row["feature"][6] == float(px.min()) and row["feature"][7] == float(px.max())


def test_real_wav_decode(spark):
    import numpy as np

    from data_curator_spark.operators.multimodal import _decode_wav_pcm16

    samples = np.array([0, 16384, -16384, 32767, -32768, 0], dtype=np.int16)
    wav = _wav_bytes(samples)
    got = _decode_wav_pcm16(wav)
    assert got.dtype == np.float32
    assert got == pytest.approx(samples.astype(np.float64) / 32768.0)

    media = spark.createDataFrame(
        [("wav1", "audio", bytearray(wav), "audio/wav", None, None, 16000, None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, sample_rate int, n_frames int",
    )
    row = extract_features(media).collect()[0]
    want = samples.astype(np.float64) / 32768.0
    assert row["feature"][0] == pytest.approx(want.mean())
    assert row["feature"][3] == pytest.approx(np.abs(want).max())
    assert row["feature"][5] == float(len(samples))


def test_codec_present_uses_real_decode_not_raise(monkeypatch):
    """Round-2 verdict 'wrong #1': with PIL/librosa INSTALLED the decode
    branch used to raise NotImplementedError out of mapInPandas. Now a
    present codec is the real path: monkeypatch minimal fake codecs into
    sys.modules and assert the decoders route payloads through them."""
    import io
    import sys
    import types

    import numpy as np

    from data_curator_spark.operators.multimodal import _decode_audio, _decode_image

    want_img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)

    class _FakeIm:
        def convert(self, mode):
            assert mode == "RGB"
            return want_img

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    calls = {}

    def _open(buf):
        assert isinstance(buf, io.BytesIO)
        calls["image"] = buf.getvalue()
        return _FakeIm()

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.ModuleType("PIL.Image")
    fake_pil.Image.open = _open
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)

    payload = b"\x89PNG not-really-but-not-bmp"
    got = _decode_image(payload, 8, 8)
    assert calls["image"] == payload  # decoded THROUGH the codec
    assert np.array_equal(got, want_img)  # codec result, not the 8x8 fake

    # a codec decode FAILURE degrades to the deterministic fake
    def _open_broken(buf):
        raise OSError("cannot identify image file")

    fake_pil.Image.open = _open_broken
    got = _decode_image(payload, 8, 8)
    assert got.shape == (8, 8, 3)  # fake fallback shape

    want_wav = np.array([0.25, -0.5, 0.125], dtype=np.float32)

    def _load(buf, sr=None, mono=True):
        calls["audio"] = buf.getvalue()
        return want_wav, sr or 22050

    fake_librosa = types.ModuleType("librosa")
    fake_librosa.load = _load
    monkeypatch.setitem(sys.modules, "librosa", fake_librosa)

    audio_payload = b"\xffOggS compressed-audio-ish"
    got = _decode_audio(audio_payload, 16000)
    assert calls["audio"] == audio_payload
    assert np.array_equal(got, want_wav)

    # real BMP still wins over the codec (native path first)
    import struct

    px = np.zeros((1, 1, 3), dtype=np.uint8)
    bmp = (
        b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835, 0, 0)
        + b"\x00\x00\x00\x00"
    )
    fake_pil.Image.open = _open  # would record if called
    calls.pop("image")
    got = _decode_image(bmp, 4, 4)
    assert np.array_equal(got, px)
    assert "image" not in calls  # PIL never consulted for native BMP


def test_zero_dim_bmp_degrades_to_fake_tile(spark):
    """A corrupt-but-parseable BMP declaring width=0 must DEGRADE (fake
    tile at the metadata shape), never fail the task on an empty-array
    reduction in extract_features."""
    import struct

    import numpy as np

    from data_curator_spark.operators.multimodal import _decode_image, _fake_tile

    # minimal BMP header with width=0, height=2, 24bpp, no compression
    hdr = bytearray(54)
    hdr[0:2] = b"BM"
    struct.pack_into("<I", hdr, 10, 54)   # data offset
    struct.pack_into("<i", hdr, 18, 0)    # width = 0
    struct.pack_into("<i", hdr, 22, 2)    # height = 2
    struct.pack_into("<H", hdr, 28, 24)   # bpp
    struct.pack_into("<I", hdr, 30, 0)    # compression
    payload = bytes(hdr)
    assert np.array_equal(_decode_image(payload, 4, 4), _fake_tile(payload, 4, 4))
    df = spark.createDataFrame(
        [("z1", "image", payload, "image/bmp", 4, 4, None, None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, sample_rate int, n_frames int",
    )
    (row,) = extract_features(df).collect()
    assert row.n_bytes == 54 and len(row.feature) == 8  # task alive
