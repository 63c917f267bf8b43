"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

Scale design (the part that matters at 100 TB):
- payloads stay opaque bytes end-to-end: no JVM-side decode, no
  base64 round-trips; Arrow moves the buffers zero-copy into the
  Python workers;
- every operator is a ``mapInPandas`` over a pruned projection —
  feature extraction reads (media_id, payload, meta) only;
- 1→N operators (frame sampling) emit their fan-out *inside* the
  pandas iterator, so no explode shuffle exists;
- per-task memory is bounded by the Arrow batch size regardless of
  partition size (spark.sql.execution.arrow.maxRecordsPerBatch).

Codec stance: real image/audio codecs (PIL, ffmpeg, soundfile) are not
installed in this environment. Decode is therefore seamed behind
``decode_image`` / ``decode_audio``: if a real codec import succeeds it
is used; otherwise payloads in the deterministic FAKE container format
below are decoded by the pure-Python fallback, and anything else raises
``NotImplementedError("codec not available")``. The FAKE format is a
fully specified, seedable container (header + raw samples), so the
Spark-side plumbing — schemas, batching, fan-out, partitioning — is
real and fully tested without native codecs.

FAKE container layout (big-endian):
    image: b"FIMG" u16 width  u16 height  then width*height u8 gray pixels
    audio: b"FAUD" u16 rate   u32 n       then n i8 PCM samples
    video: b"FVID" u16 fps    u16 n_frames u16 w u16 h then per-frame
           w*h u8 gray pixels
"""

from __future__ import annotations

import struct
from typing import Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

# ------------------------------------------------------------------ codecs

try:  # pragma: no cover - not installed in this environment
    from PIL import Image as _PIL_Image  # type: ignore

    _HAVE_PIL = True
except Exception:  # pragma: no cover
    _PIL_Image = None
    _HAVE_PIL = False


def encode_fake_image(width: int, height: int, seed: int) -> bytes:
    """Deterministic gray image in the FAKE container."""
    n = width * height
    px = bytes(((seed * 1103515245 + i * 12345) >> 7) & 0xFF for i in range(n))
    return b"FIMG" + struct.pack(">HH", width, height) + px


def encode_fake_audio(rate: int, n: int, seed: int) -> bytes:
    samples = bytes(
        ((seed * 69069 + i * 362437) >> 5) & 0xFF for i in range(n)
    )
    return b"FAUD" + struct.pack(">HI", rate, n) + samples


def encode_fake_video(fps: int, n_frames: int, w: int, h: int, seed: int) -> bytes:
    frames = b"".join(
        encode_fake_image(w, h, seed + f)[8:] for f in range(n_frames)
    )
    return b"FVID" + struct.pack(">HHHH", fps, n_frames, w, h) + frames


def decode_image(payload: bytes) -> Tuple[int, int, bytes]:
    """→ (width, height, grayscale bytes). Real codec if available,
    FAKE container otherwise; anything else is a hard, clearly-marked
    stub."""
    if payload[:4] == b"FIMG":
        w, h = struct.unpack(">HH", payload[4:8])
        return w, h, payload[8 : 8 + w * h]
    if _HAVE_PIL:  # pragma: no cover - codec not in this environment
        import io

        img = _PIL_Image.open(io.BytesIO(payload)).convert("L")
        return img.width, img.height, img.tobytes()
    raise NotImplementedError(
        "image codec not available: only the FAKE container (b'FIMG') "
        "is decodable in this environment"
    )


def decode_audio(payload: bytes) -> Tuple[int, bytes]:
    """→ (sample_rate, i8 PCM bytes)."""
    if payload[:4] == b"FAUD":
        rate, n = struct.unpack(">HI", payload[4:10])
        return rate, payload[10 : 10 + n]
    raise NotImplementedError(
        "audio codec not available: only the FAKE container (b'FAUD') "
        "is decodable in this environment"
    )


def decode_video_header(payload: bytes) -> Tuple[int, int, int, int]:
    """→ (fps, n_frames, width, height)."""
    if payload[:4] == b"FVID":
        return struct.unpack(">HHHH", payload[4:12])
    raise NotImplementedError(
        "video codec not available: only the FAKE container (b'FVID') "
        "is decodable in this environment"
    )


# ------------------------------------------------------------- operators

def _per_media(media: DataFrame, kind: str, ddl: str, rows_of) -> DataFrame:
    """The one per-item media loop: a ``mapInPandas`` over the
    (media_id, payload) of the ``kind`` rows, emitting the rows that
    ``rows_of(media_id, payload)`` returns for each item, in ``ddl``'s
    column order. An item whose ``rows_of`` raises emits nothing, so a
    corrupt blob never kills a partition; an operator that reports
    failures catches its own."""
    import pandas as pd

    cols = T.StructType.fromDDL(ddl).fieldNames()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rows.extend(rows_of(mid, payload))
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == kind).select(
        "media_id", "payload"
    ).mapInPandas(run, ddl)


IMAGE_FEATURES_DDL = (
    "media_id string, width int, height int, mean_intensity double, "
    "hist8 array<long>, decode_failed int"
)


def image_features(media: DataFrame) -> DataFrame:
    """Decode + per-image features (dimensions, mean gray intensity,
    8-bin histogram). Decode failures are counted (``decode_failed =
    1``), never fatal (the 100 TB posture: a corrupt blob must not
    kill a partition)."""

    def features(mid, payload):
        try:
            w, h, px = decode_image(bytes(payload))
        except Exception:
            return [(mid, 0, 0, 0.0, [0] * 8, 1)]
        hist = [0] * 8
        total = 0
        for b in px:
            hist[b >> 5] += 1
            total += b
        mean = total / len(px) if px else 0.0
        return [(mid, w, h, mean, hist, 0)]

    return _per_media(media, "image", IMAGE_FEATURES_DDL, features)


RESIZE_DDL = "media_id string, payload binary, width int, height int"


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, binary→binary (re-encoded in the FAKE
    container). Demonstrates the bytes-in/bytes-out Arrow path."""

    def resized(mid, payload):
        w, h, px = decode_image(bytes(payload))
        out = bytearray()
        for y in range(out_h):
            base = (y * h // out_h) * w
            for x in range(out_w):
                out.append(px[base + x * w // out_w])
        blob = b"FIMG" + struct.pack(">HH", out_w, out_h) + bytes(out)
        return [(mid, blob, out_w, out_h)]

    return _per_media(media, "image", RESIZE_DDL, resized)


FRAMES_DDL = "media_id string, frame_idx int, frame binary, width int, height int"


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video → every Nth frame as its own row (1→N fan-out inside the
    pandas iterator; no explode, no shuffle). Each frame is re-wrapped
    as a standalone FAKE image so downstream image operators compose."""

    def frames(mid, payload):
        blob = bytes(payload)
        _fps, n_frames, w, h = decode_video_header(blob)
        fsz = w * h
        return [
            (mid, fi, b"FIMG" + struct.pack(">HH", w, h)
             + blob[12 + fi * fsz : 12 + (fi + 1) * fsz], w, h)
            for fi in range(0, n_frames, every_n)
        ]

    return _per_media(media, "video", FRAMES_DDL, frames)


AUDIO_FEATURES_DDL = (
    "media_id string, sample_rate int, n_samples long, duration_ms long, "
    "rms double"
)


def audio_features(media: DataFrame) -> DataFrame:
    """Audio → (rate, length, duration, RMS of centered i8 PCM)."""
    import math

    def features(mid, payload):
        rate, pcm = decode_audio(bytes(payload))
        acc = 0
        for b in pcm:
            v = b - 128
            acc += v * v
        rms = math.sqrt(acc / len(pcm)) if pcm else 0.0
        return [(mid, rate, len(pcm), len(pcm) * 1000 // max(rate, 1), rms)]

    return _per_media(media, "audio", AUDIO_FEATURES_DDL, features)


# ------------------------------------------------ synthetic media source

def synth_media(spark, n: int, seed: int = 42, partitions: int = 8) -> DataFrame:
    """Deterministic media table (distributed generation, same pattern
    as tableio.generate_transcripts_distributed)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                s = seed + i
                kind = ("image", "audio", "video")[i % 3]
                if kind == "image":
                    blob = encode_fake_image(16 + i % 17, 16 + i % 13, s)
                    mime = "image/x-fake"
                elif kind == "audio":
                    blob = encode_fake_audio(8000, 400 + (i % 300), s)
                    mime = "audio/x-fake"
                else:
                    blob = encode_fake_video(10, 4 + i % 5, 8 + i % 5, 8, s)
                    mime = "video/x-fake"
                rows.append((f"m-{i:06d}", kind, mime, blob))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "mime", "payload"]
            )

    return spark.range(n).repartition(partitions).mapInPandas(gen, MEDIA_SCHEMA)
