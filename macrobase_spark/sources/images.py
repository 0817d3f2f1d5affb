"""Deterministic synthetic images/videos tables — the multimodal fixture
mirror of sources/clips.py (pure functions of the row id; identical at any
partitioning).

Planted violations:
- corrupt payload      id % 97 == 5   (garbage bytes, no P6 magic)
- truncated payload    id % 131 == 7  (header promises more pixels)

Every clean image is a deterministic two-tone gradient whose channel means
are exactly computable, so feature extraction is testable bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.audio import splitmix64
from macrobase_spark.operators.image import ppm_bytes, video_bytes

LABELS = ["photo", "chart", "scan", "render"]
SIZES = [(32, 24), (48, 32), (64, 48)]

IMAGES_SCHEMA = (
    "image_id string, bytes binary, width int, height int, fmt string, label string"
)


def image_array(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient: R ramps over x, G over y, B constant per id."""
    r = np.tile((np.arange(w) * 255 // max(w - 1, 1)).astype(np.uint8), (h, 1))
    g = np.tile(
        (np.arange(h) * 255 // max(h - 1, 1)).astype(np.uint8)[:, None], (1, w)
    )
    b = np.full((h, w), int(splitmix64(np.array([i], dtype=np.uint64))[0] % 256), np.uint8)
    return np.stack([r, g, b], axis=2)


def _image_payload(i: int, w: int, h: int) -> bytes:
    if i % 97 == 5:  # corrupt: hash noise, no magic
        return splitmix64(np.arange(32, dtype=np.uint64) + np.uint64(i)).astype("<u8").tobytes()
    raw = ppm_bytes(image_array(i, w, h))
    if i % 131 == 7:  # truncated
        return raw[: len(raw) // 2]
    return raw


def _image_table(
    spark: SparkSession, n: int, partitions: int | None, prefix: str, fmt: str, payload
) -> DataFrame:
    """IMAGES_SCHEMA rows from `payload(id, w, h) -> bytes`; the size and
    label cycle with the id."""

    def gen(i):
        w, h = SIZES[i % len(SIZES)]
        return [(f"{prefix}_{i:010d}", payload(i, w, h), w, h, fmt, LABELS[i % len(LABELS)])]

    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(spark.range(0, n, numPartitions=parts), gen, IMAGES_SCHEMA)


def generate_images(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    return _image_table(spark, n, partitions, "img", "ppm", _image_payload)


def generate_videos(
    spark: SparkSession, n: int, frames_per_video: int = 8, partitions: int | None = None
) -> DataFrame:
    """Videos = FRMV containers of PPM frames (frame f of video i is the
    gradient image of id i*1000+f)."""

    def gen(i):
        w, h = SIZES[i % len(SIZES)]
        frames = [ppm_bytes(image_array(i * 1000 + f, w, h)) for f in range(frames_per_video)]
        raw = video_bytes(frames)
        if i % 53 == 3:  # planted: truncated container
            raw = raw[: len(raw) // 3]
        return [(f"vid_{i:010d}", raw, frames_per_video)]

    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(
        spark.range(0, n, numPartitions=parts), gen, "video_id string, bytes binary, n_frames int"
    )


def generate_png_images(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic PNG table — the compressed-format mirror of
    `generate_images`, exercising the pure-stdlib PNG codec
    (operators/image.encode_png/decode_png) end-to-end.

    Planted violations (disjoint residues from the PPM fixture's, so a mixed
    union keeps every class recoverable):
    - corrupt payload    id % 89 == 11  (one IDAT byte flipped → CRC mismatch)
    - truncated payload  id % 113 == 17 (blob cut mid-chunk)
    """
    from macrobase_spark.operators.image import encode_png

    def payload(i, w, h):
        raw = encode_png(image_array(i, w, h))
        if i % 89 == 11:  # corrupt: flip a byte inside the IDAT chunk
            b = bytearray(raw)
            b[len(b) // 2] ^= 0xFF
            return bytes(b)
        if i % 113 == 17:  # truncated
            return raw[: len(raw) // 2]
        return raw

    return _image_table(spark, n, partitions, "png", "png", payload)


def generate_jpeg_images(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Deterministic JPEG table — exercises the pure-numpy baseline JPEG
    codec (operators/jpeg.encode_jpeg/decode_jpeg) end-to-end. Every third
    clean image carries restart markers so the decoder's RST path stays on
    the tested path.

    Planted violations (disjoint residues from the PPM/PNG fixtures'):
    - corrupt payload    id % 103 == 23 (byte flipped in the marker stream)
    - truncated payload  id % 137 == 31 (blob cut mid-scan)
    """
    from macrobase_spark.operators.jpeg import encode_jpeg

    def payload(i, w, h):
        rst = 4 if i % 3 == 0 else 0
        raw = encode_jpeg(image_array(i, w, h), quality=90, restart_interval=rst)
        if i % 103 == 23:  # corrupt: break the segment walk
            b = bytearray(raw)
            b[4] ^= 0xFF
            return bytes(b)
        if i % 137 == 31:  # truncated mid-entropy
            return raw[: len(raw) // 2]
        return raw

    return _image_table(spark, n, partitions, "jpg", "jpeg", payload)


def generate_webp_images(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Deterministic lossless-WebP table — exercises the pure-numpy VP8L
    codec (operators/webp.encode_webp/decode_webp) end-to-end, cycling the
    encoder's stream flavors so the decoder's transform/backref machinery
    all stays on the tested path:
    i%5==0 literal, ==1 subtract-green, ==2 predictor (block-mapped modes),
    ==3 color-indexing (posterized to <=16 colors: 4-bit pixel bundling),
    ==4 run-length LZ77 over a posterized image.

    Planted violations (disjoint residues from the PPM/PNG/JPEG fixtures'):
    - corrupt payload    id % 101 == 19 (VP8L signature byte flipped)
    - truncated payload  id % 139 == 29 (blob cut mid-bitstream)
    """
    from macrobase_spark.operators.webp import encode_webp

    def payload(i, w, h):
        img = image_array(i, w, h)
        f = i % 5
        if f == 0:
            raw = encode_webp(img)
        elif f == 1:
            raw = encode_webp(img, subtract_green=True)
        elif f == 2:
            raw = encode_webp(img, predictor=True, subtract_green=True)
        elif f == 3:
            raw = encode_webp((img // 64) * 64, palette=True)
        else:
            raw = encode_webp((img // 64) * 64, use_rle=True)
        if i % 101 == 19:  # corrupt: flip the VP8L signature byte
            b = bytearray(raw)
            b[raw.index(b"VP8L") + 8] ^= 0xFF
            return bytes(b)
        if i % 139 == 29:  # truncated mid-bitstream
            return raw[: len(raw) // 2]
        return raw

    return _image_table(spark, n, partitions, "webp", "webp", payload)
