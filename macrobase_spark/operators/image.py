"""Image + video columns as opaque binary with typed metadata — the
multimodal plumbing mirror of operators/audio.py.

Same discipline as the audio path: decode is REAL for four dependency-free
formats — binary PPM `P6` (numpy), non-interlaced 8-bit PNG (pure stdlib
zlib+struct: chunk walk, CRC verify, inflate, the five scanline
unfilters), baseline JPEG (pure numpy, operators/jpeg.py), and lossless
WebP/VP8L (pure numpy/stdlib, operators/webp.py) — while lossy-WebP VP8,
whose video-intra codec the runtime lacks, stays behind an honest
NotImplementedError stub (`decode_compressed_image`).
The Spark-side plumbing (schema, Arrow batching, UDF shapes, partitioning)
is format-agnostic via the magic-sniffing `decode_image` entry point, so
another codec is a one-line dispatch.

Operators:
- `image_features`: mapInArrow pass → decode verdict + width/height +
  channel means + luminance mean/std per image.
- `resize_images`: nearest-neighbor resize (real numpy kernel), binary in →
  binary out, the shape every preprocessing pipeline needs.
- `sample_frames`: video frame sampling over a length-prefixed frame
  container — one row in, every k-th frame out (mapInPandas explode); the
  container here is the deterministic test fixture's, but the operator only
  assumes "binary blob → list of frame blobs", which is what a real
  demuxer plugs into.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# -- PPM (P6) codec: real, stdlib+numpy ------------------------------------


def ppm_bytes(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(raw: bytes) -> np.ndarray | None:
    """Binary PPM (P6, maxval 255) → (h, w, 3) uint8; None on corruption."""
    if raw is None or len(raw) < 11 or raw[:2] != b"P6":
        return None
    try:
        # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
        parts = raw[2:].split(None, 3)
        if len(parts) < 4:
            return None
        w, h, maxval = int(parts[0]), int(parts[1]), int(parts[2])
        if maxval != 255 or w <= 0 or h <= 0:
            return None
        data = parts[3]
        need = w * h * 3
        if len(data) < need:
            return None
        return np.frombuffer(data[:need], dtype=np.uint8).reshape(h, w, 3)
    except (ValueError, IndexError):
        return None


# -- PNG codec: real, pure stdlib (zlib + struct) ---------------------------
#
# Non-interlaced 8-bit PNG (gray / RGB / RGBA) is fully decodable without
# external libraries: chunk walk + zlib inflate + the five scanline
# unfilters from the PNG spec (RFC 2083 §6). Baseline JPEG is likewise real
# (pure numpy, operators/jpeg.py), as is lossless WebP/VP8L
# (operators/webp.py); only lossy-WebP VP8 stays stubbed.

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG (color type 2, bit depth 8, filter 0/scanline)."""
    import struct
    import zlib

    h, w = img.shape[:2]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = img.astype(np.uint8)
    scanlines = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(data: bytes, h: int, w: int, ch: int) -> np.ndarray | None:
    """Reverse per-scanline filtering → (h, w*ch) uint8 matrix. Filter Up is
    vectorized; Sub/Average/Paeth recur along x so they run per-byte (fine:
    encoders mostly emit None/Up for synthetic content, and scanlines are
    short)."""
    stride = w * ch
    if len(data) < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = data[pos]
        line = np.frombuffer(data[pos + 1 : pos + 1 + stride], dtype=np.uint8)
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype == 1:  # Sub
            cur = out[y]
            cur[:ch] = line[:ch]
            for x in range(ch, stride):
                cur[x] = (int(line[x]) + int(cur[x - ch])) & 0xFF
        elif ftype == 3:  # Average
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                cur[x] = (int(line[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            return None
    return out


def decode_png(raw: bytes) -> np.ndarray | None:
    """Non-interlaced 8-bit PNG → (h, w, 3) uint8; None on corruption
    (bad signature, CRC mismatch, zlib error, short data, unsupported
    layout). Gray broadcasts to RGB; RGBA drops alpha."""
    import struct
    import zlib

    if raw is None or len(raw) < 8 + 25 or raw[:8] != PNG_MAGIC:
        return None
    try:
        pos, ihdr, idat = 8, None, []
        while pos + 8 <= len(raw):
            (ln,) = struct.unpack(">I", raw[pos : pos + 4])
            typ = raw[pos + 4 : pos + 8]
            data = raw[pos + 8 : pos + 8 + ln]
            if len(data) < ln or pos + 12 + ln > len(raw):
                return None  # truncated chunk
            (crc,) = struct.unpack(">I", raw[pos + 8 + ln : pos + 12 + ln])
            if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                return None  # bit-level corruption
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = ihdr
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            return None
        ch = {0: 1, 2: 3, 6: 4}.get(ctype)
        if ch is None or w <= 0 or h <= 0:
            return None
        data = zlib.decompress(b"".join(idat))
        mat = _png_unfilter(data, h, w, ch)
        if mat is None:
            return None
        px = mat.reshape(h, w, ch)
        if ch == 1:
            return np.repeat(px, 3, axis=2)
        return px[:, :, :3]
    except (zlib.error, struct.error, ValueError):
        return None


def decode_image(raw: bytes) -> np.ndarray | None:
    """Magic-sniffing decode: PPM (P6) or PNG → (h, w, 3) uint8, None on
    corruption or unsupported format. The single entry every image operator
    uses, so a new codec is a one-line dispatch."""
    if raw is None or len(raw) < 8:
        return None
    if raw[:2] == b"P6":
        return decode_ppm(raw)
    if raw[:8] == PNG_MAGIC:
        return decode_png(raw)
    if raw[:2] == b"\xff\xd8":
        from macrobase_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(raw)
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        from macrobase_spark.operators.webp import decode_webp

        return decode_webp(raw)
    return None


def decode_compressed_image(fmt: str, raw: bytes):
    """Compressed-image decode dispatch. PNG is REAL (pure stdlib,
    `decode_png`), and so are baseline JPEG (pure numpy, operators/jpeg.py)
    and lossless WebP/VP8L (operators/webp.py); lossy WebP (VP8) needs a
    video-intra codec the runtime lacks, so it stays honestly stubbed
    (same contract as audio.decode_compressed)."""
    if fmt == "png":
        return decode_png(raw)
    if fmt in ("jpeg", "jpg"):
        from macrobase_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(raw)
    if fmt == "webp":
        from macrobase_spark.operators.webp import decode_webp

        return decode_webp(raw)
    raise NotImplementedError(f"decode for image format {fmt!r} requires external libraries")


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize — one fancy-index per axis, pure numpy."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


# -- Spark operators --------------------------------------------------------

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("luma_mean", DoubleType()),
        StructField("luma_std", DoubleType()),
    ]
)


def image_features(df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Binary column in, typed feature columns out — numpy per batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            wd = np.zeros(n, dtype=np.int32)
            ht = np.zeros(n, dtype=np.int32)
            mr = np.zeros(n)
            mg = np.zeros(n)
            mb = np.zeros(n)
            lm = np.zeros(n)
            ls = np.zeros(n)
            for i, raw in enumerate(pdf[bytes_col]):
                img = decode_image(raw)
                if img is None:
                    continue
                ok[i] = True
                ht[i], wd[i] = img.shape[:2]
                f = img.reshape(-1, 3).astype(np.float64)
                mr[i], mg[i], mb[i] = f.mean(axis=0)
                luma = f @ np.array([0.2126, 0.7152, 0.0722])
                lm[i] = float(luma.mean())
                ls[i] = float(luma.std())
            yield pd.DataFrame(
                {
                    "image_id": pdf[id_col].to_numpy(),
                    "decode_ok": ok,
                    "width": wd,
                    "height": ht,
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                    "luma_mean": lm,
                    "luma_std": ls,
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("bytes", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, out_w: int, out_h: int, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode, binary in binary out
    (undecodable images pass through as NULL bytes with decode_ok=false)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, oks, outs = [], [], []
            for i, raw in enumerate(pdf[bytes_col]):
                img = decode_image(raw)
                ids.append(pdf[id_col].iloc[i])
                if img is None:
                    oks.append(False)
                    outs.append(None)
                else:
                    oks.append(True)
                    outs.append(ppm_bytes(resize_nearest(img, out_w, out_h)))
            yield pd.DataFrame({"image_id": ids, "decode_ok": oks, "bytes": outs})

    return df.select(id_col, bytes_col).mapInPandas(run, RESIZED_SCHEMA)


# -- video: length-prefixed frame container ---------------------------------

VIDEO_MAGIC = b"FRMV"


def video_bytes(frames: list[bytes]) -> bytes:
    """Deterministic fixture container: magic + u32 count + (u32 len, blob)*."""
    out = [VIDEO_MAGIC, len(frames).to_bytes(4, "little")]
    for f in frames:
        out.append(len(f).to_bytes(4, "little"))
        out.append(f)
    return b"".join(out)


def split_video(raw: bytes) -> list[bytes] | None:
    if raw is None or len(raw) < 8 or raw[:4] != VIDEO_MAGIC:
        return None
    n = int.from_bytes(raw[4:8], "little")
    frames, pos = [], 8
    for _ in range(n):
        if pos + 4 > len(raw):
            return None
        ln = int.from_bytes(raw[pos : pos + 4], "little")
        pos += 4
        if pos + ln > len(raw):
            return None
        frames.append(raw[pos : pos + ln])
        pos += ln
    return frames


FRAMES_SCHEMA = StructType(
    [
        StructField("video_id", StringType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, every_k: int = 1, id_col: str = "video_id", bytes_col: str = "bytes"
) -> DataFrame:
    """One row per sampled frame (every k-th): the video-decode fan-out
    shape — a row explodes into a variable number of frame rows inside the
    Arrow batch, so downstream per-frame operators (image_features over
    `frame`, embedding models, ...) compose directly. Corrupt containers
    yield no rows (they surface via the features/validation path instead)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, blobs = [], [], []
            for i, raw in enumerate(pdf[bytes_col]):
                frames = split_video(raw)
                if frames is None:
                    continue
                vid = pdf[id_col].iloc[i]
                for j in range(0, len(frames), every_k):
                    vids.append(vid)
                    idxs.append(j)
                    blobs.append(frames[j])
            yield pd.DataFrame({"video_id": vids, "frame_idx": idxs, "frame": blobs})

    return df.select(id_col, bytes_col).mapInPandas(run, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# registered queries: each decodes a synthesized fixture once into a feature
# relation (the recipe), materialized as an artifact; the query aggregates
# the artifact and its DuckDB oracle reads the same files. The decode
# kernels themselves are gated by tests/test_image.py planted recovery.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from macrobase_spark.artifacts import artifact, decode_fixture_n  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


def still_image_features(generator: str):
    """Recipe `(spark, sf_dir) -> DataFrame` of a still-image feature
    relation: synthesize the fixture with `sources.images.<generator>`,
    decode every image once and carry its label."""

    def recipe(spark, sf_dir: str) -> DataFrame:
        from macrobase_spark.sources import images

        imgs = getattr(images, generator)(spark, decode_fixture_n(sf_dir))
        return image_features(imgs).join(imgs.select("image_id", "label"), "image_id")

    return recipe


def label_profile(feats: DataFrame) -> DataFrame:
    """Per-label decode rate + channel/luma means of the decoded images."""
    return feats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.round(F.avg(F.when(F.col("decode_ok"), F.col("luma_mean"))), 4).alias("avg_luma"),
        F.round(F.avg(F.when(F.col("decode_ok"), F.col("mean_r"))), 4).alias("avg_r"),
    )


_LABEL_PROFILE_SQL = """
    SELECT label,
           count(*) AS n,
           CAST(sum(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
           round(avg(CASE WHEN decode_ok THEN luma_mean END), 4) AS avg_luma,
           round(avg(CASE WHEN decode_ok THEN mean_r END), 4) AS avg_r
    FROM {rel}
    GROUP BY label
    """

# query -> (artifact, generator). Each format runs a real decoder, whose
# planted corruption and truncation land as decode_ok=false:
# - PPM (the image analogue of clips_snr_stats);
# - PNG: pure-stdlib zlib inflate + CRC verify + scanline unfilter;
# - JPEG: pure-numpy baseline huffman decode + dequant + IDCT + YCbCr->RGB;
# - WebP: pure-numpy lossless VP8L (prefix codes + LZ77 + predictor /
#   subtract-green / color-indexing inverses).
STILL_IMAGES = {
    "image_feature_stats": ("imgfeat", "generate_images"),
    "png_feature_stats": ("pngfeat", "generate_png_images"),
    "jpeg_feature_stats": ("jpegfeat", "generate_jpeg_images"),
    "webp_feature_stats": ("webpfeat", "generate_webp_images"),
}


def _register_still_image(query: str, name: str, generator: str) -> None:
    recipe = still_image_features(generator)

    @artifact(name, 1)
    def features_parquet(spark, sf_dir: str, out: str) -> None:
        recipe(spark, sf_dir).write.mode("overwrite").parquet(out)

    @register(query, _LABEL_PROFILE_SQL.format(rel=features_parquet.scan()))
    def feature_stats(spark, sf_dir: str) -> DataFrame:
        """Per-label profile of one still-image fixture over its
        materialized feature relation (the files the oracle reads)."""
        return label_profile(spark.read.parquet(features_parquet(spark, sf_dir)))


for _query, (_name, _generator) in STILL_IMAGES.items():
    _register_still_image(_query, _name, _generator)


def video_frame_features(spark, sf_dir: str) -> DataFrame:
    """Recipe of the per-frame feature relation: every 2nd frame of each
    synthesized video, fanned out and decoded once."""
    from macrobase_spark.sources.images import generate_videos

    n = max(decode_fixture_n(sf_dir) // 10, 40)
    frames = sample_frames(generate_videos(spark, n), every_k=2)
    return image_features(frames, id_col="video_id", bytes_col="frame")


def video_profile(feats: DataFrame) -> DataFrame:
    """Per-video sampled-frame count, decode count and mean luma."""
    return feats.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.round(F.avg("luma_mean"), 4).alias("avg_luma"),
    ).withColumnRenamed("image_id", "video_id")


@artifact("vidfeat", 1)
def video_frame_features_parquet(spark, sf_dir: str, out: str) -> None:
    video_frame_features(spark, sf_dir).write.mode("overwrite").parquet(out)


@register(
    "video_frame_stats",
    f"""
    SELECT image_id AS video_id,
           count(*) AS n_frames,
           CAST(sum(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
           round(avg(luma_mean), 4) AS avg_luma
    FROM {video_frame_features_parquet.scan()}
    GROUP BY video_id
    """,
)
def video_frame_stats(spark, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out + per-frame feature extraction composed: every
    2nd frame of each video, decoded and profiled per video — aggregated
    over the materialized per-frame feature relation."""
    return video_profile(spark.read.parquet(video_frame_features_parquet(spark, sf_dir)))
