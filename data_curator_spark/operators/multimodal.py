"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct; decode
and feature extraction run as one Arrow-batched ``mapInPandas`` stage.
Decoders, in priority order: native pure-numpy BMP/PCM-WAV (always
available), then PIL/librosa when installed (real
compressed-format path, exercised via a monkeypatched codec in tests),
then a clearly-marked deterministic fake so undecodable payloads degrade
instead of killing the task — the Spark-side contract (schema, batching,
partitioning) is identical on every path.

Scale notes: media bytes never shuffle — the stage is a map-only
projection; partition sizing comes from
``spark.sql.files.maxPartitionBytes`` at scan time, and batch memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),  # opaque encoded bytes
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),  # images/video
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),  # audio
        StructField("n_frames", IntegerType(), True),  # video
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """REAL decoder for uncompressed 24-bit BMP (pure numpy, no codec
    library): parses the BITMAPINFOHEADER, honors 4-byte row padding and
    bottom-up row order, returns HxWx3 uint8 RGB."""
    import struct

    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=data_offset
    ).reshape(height, row_bytes)[:, : width * 3]
    img = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR -> RGB
    return img[::-1] if bottom_up else img


def _decode_wav_pcm16(payload: bytes) -> np.ndarray:
    """REAL decoder for RIFF/WAVE PCM-16 (pure numpy): validates the fmt
    chunk (integer PCM, 16-bit — everything else raises, like the BMP
    decoder's bpp check), walks the chunk list to the data chunk, and
    returns a float32 waveform in [-1, 1) (channels interleaved)."""
    import struct

    pos = 12  # past RIFF size + WAVE
    data = None
    fmt_ok = False
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt " and size >= 16:
            audio_format, _nch = struct.unpack_from("<HH", payload, pos + 8)
            bits = struct.unpack_from("<H", payload, pos + 8 + 14)[0]
            if audio_format != 1 or bits != 16:
                raise ValueError(f"only integer PCM-16 WAV supported (fmt={audio_format}, bits={bits})")
            fmt_ok = True
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if data is None or not fmt_ok:
        raise ValueError("missing fmt/data chunk in WAV payload")
    if len(data) % 2:
        raise ValueError("truncated PCM-16 data chunk")
    return np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0


def _fake_tile(payload: bytes, width: int, height: int) -> np.ndarray:
    """The deterministic no-codec fallback: payload bytes tiled into
    the (height, width, 3) metadata shape (dims clamped to >= 1)."""
    width, height = max(width, 1), max(height, 1)
    buf = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    need = width * height * 3
    reps = -(-need // len(buf))
    return np.tile(buf, reps)[:need].reshape(height, width, 3)


def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Decode an encoded image to an HxWx3 uint8 array.

    REAL paths: uncompressed 24-bit BMP decodes natively (_decode_bmp —
    its own header dimensions win over the metadata); any other format
    decodes through PIL when it is installed. Only when no codec applies
    (PIL absent, or the bytes are undecodable) does the row fall to the
    DETERMINISTIC FAKE: bytes tiled into the metadata shape, which
    preserves the pipeline contract (shape, dtype) for tests. A BMP
    header declaring a zero width or height takes the fake path too.
    """
    if payload[:2] == b"BM":
        try:
            img = _decode_bmp(payload)
            # a corrupt-but-parseable header can declare width or height
            # 0; an empty array would fail every reduction downstream
            if img.shape[0] > 0 and img.shape[1] > 0:
                return img
        except Exception:  # noqa: BLE001 — corrupt/truncated header: fake path
            pass
    try:
        import PIL.Image
    except ImportError:
        PIL = None  # noqa: N806
    if PIL is not None:  # pragma: no cover - codec not installed here
        # REAL compressed-format path when a codec is available. Decode
        # failures (corrupt bytes, unknown format) degrade to the fake —
        # one dirty media file must not kill the task.
        try:
            import io

            with PIL.Image.open(io.BytesIO(payload)) as im:
                return np.asarray(im.convert("RGB"), dtype=np.uint8)
        except Exception:  # noqa: BLE001
            pass
    return _fake_tile(payload, width, height)


def _decode_audio(payload: bytes, sample_rate: int) -> np.ndarray:
    """Decode audio to a float32 waveform.

    REAL paths: RIFF/WAVE PCM-16 decodes natively (_decode_wav_pcm16);
    any other format decodes through librosa when it is installed.
    Corrupt/truncated/undecodable payloads fall through to the fake
    (one dirty media file must degrade, not kill the task — text bytes
    can even sniff as RIFF by accident). Only with no applicable codec
    does the row fall to the DETERMINISTIC FAKE."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            wav = _decode_wav_pcm16(payload)
            if wav.size:
                return wav
        except Exception:  # noqa: BLE001 — corrupt/unsupported: fake path
            pass
    try:
        import librosa
    except ImportError:
        librosa = None
    if librosa is not None:  # pragma: no cover - codec not installed here
        # REAL compressed-audio path when a codec is available; decode
        # failures degrade to the fake like the image path.
        try:
            import io

            wav, _sr = librosa.load(io.BytesIO(payload), sr=sample_rate or None, mono=True)
            if wav.size:
                return wav.astype(np.float32)
        except Exception:  # noqa: BLE001
            pass
    buf = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    return (buf.astype(np.float32) - 127.5) / 127.5


def extract_features(df: DataFrame, batch_hint: int = 256) -> DataFrame:
    """Decode + feature-extract each media row; features are fixed-width
    float vectors (8 channel-statistics for images, 8 spectral-ish stats
    for audio, per-frame means for video).

    One ``mapInPandas`` pass; output schema is fixed (FEATURE_SCHEMA) so
    downstream joins/ANN run on columnar vectors, never raw bytes."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            kinds = pdf["kind"].to_numpy(dtype=object)
            # null OR non-positive metadata falls back to defaults, like
            # the per-row `row["width"] or 8` this replaced
            widths = pdf["width"].fillna(8).to_numpy(dtype=np.int64)
            widths = np.where(widths <= 0, 8, widths)
            heights = pdf["height"].fillna(8).to_numpy(dtype=np.int64)
            heights = np.where(heights <= 0, 8, heights)
            rates = pdf["sample_rate"].fillna(16000).to_numpy(dtype=np.int64)
            rates = np.where(rates <= 0, 16000, rates)
            nframes = pdf["n_frames"].fillna(1).to_numpy(dtype=np.int64)
            feats = np.zeros((n, 8), dtype=np.float64)

            # images: per-item CODEC call only; all statistics are one
            # vectorized pass per DECODED-shape group (a real BMP's own
            # header dimensions win over the metadata columns)
            img_rows = np.flatnonzero(kinds == "image")
            if img_rows.size:
                decoded = [
                    (i, _decode_image(payloads[i], widths[i], heights[i]))
                    for i in img_rows
                ]
                by_shape: dict[tuple, list] = {}
                for i, img in decoded:
                    by_shape.setdefault(img.shape, []).append((i, img))
                for items in by_shape.values():
                    grp = np.array([i for i, _ in items])
                    arr = np.stack([img for _, img in items])
                    feats[grp, 0:3] = arr.mean(axis=(1, 2))
                    feats[grp, 3:6] = arr.std(axis=(1, 2))
                    feats[grp, 6] = arr.min(axis=(1, 2, 3))
                    feats[grp, 7] = arr.max(axis=(1, 2, 3))

            # audio: per-item CODEC call; stats via one concatenated
            # buffer + segment reduceat (variable-length waveforms)
            au_rows = np.flatnonzero(kinds == "audio")
            if au_rows.size:
                wavs = [_decode_audio(payloads[i], int(rates[i])) for i in au_rows]
                lens = np.array([len(w) for w in wavs], dtype=np.int64)
                starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
                cat = np.concatenate(wavs).astype(np.float64)
                sums = np.add.reduceat(cat, starts)
                means = sums / lens
                centered = (cat - np.repeat(means, lens)) ** 2
                stds = np.sqrt(np.add.reduceat(centered, starts) / lens)
                acat = np.abs(cat)
                abs_means = np.add.reduceat(acat, starts) / lens
                abs_maxs = np.maximum.reduceat(acat, starts)
                flips = np.diff(np.signbit(cat).astype(np.int8)) != 0
                # mask segment boundaries out of the global diff
                flips[starts[1:] - 1] = False
                n_flips = np.add.reduceat(
                    np.concatenate([flips, [False]]).astype(np.int64), starts
                )
                sign_rate = np.where(lens > 1, n_flips / np.maximum(lens - 1, 1), 0.0)
                # first/second-half means via prefix-sum differencing
                halves = lens // 2
                mids = starts + halves
                ends = starts + lens
                csum = np.concatenate([[0.0], np.cumsum(cat)])
                fh = np.where(lens > 1, (csum[mids] - csum[starts]) / np.maximum(halves, 1), 0.0)
                sh = np.where(lens > 1, (csum[ends] - csum[mids]) / np.maximum(ends - mids, 1), 0.0)
                feats[au_rows] = np.stack(
                    [means, stds, abs_means, abs_maxs, sign_rate, lens.astype(np.float64), fh, sh],
                    axis=1,
                )

            # video: per-item frame-sample CODEC calls; frame means
            # vectorized per (w,h) shape group
            vid_rows = np.flatnonzero(kinds == "video")
            if vid_rows.size:
                frame_of: list[tuple[int, int, np.ndarray]] = []
                for i in vid_rows:
                    nf = max(int(nframes[i]), 1)
                    for j in range(min(nf, 4)):
                        frame_of.append(
                            (i, j, _decode_image(payloads[i][j::nf] or payloads[i], widths[i], heights[i]))
                        )
                    feats[i, 4:8] = float(nf)
                by_shape: dict[tuple, list] = {}
                for i, j, fr in frame_of:
                    by_shape.setdefault(fr.shape, []).append((i, j, fr))
                for items in by_shape.values():
                    arr = np.stack([fr for _, _, fr in items])
                    ms = arr.mean(axis=(1, 2, 3))
                    for (i, j, _), m in zip(items, ms):
                        feats[i, j] = m

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n),
                    "feature": [list(map(float, row)) for row in feats],
                }
            )

    return df.mapInPandas(compute, schema=FEATURE_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents table: text bytes
    become opaque payloads with deterministic metadata — exercises the
    binary-column plumbing without real media files."""
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.col("doc_id") % 7 + 1).cast("int").alias("n_frames"),
    )
