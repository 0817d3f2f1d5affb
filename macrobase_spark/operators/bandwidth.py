"""Spectral-bandwidth validation — fake-sample-rate / upsampled-content
detection.

A clip whose container says 48 kHz can carry content that was recorded (or
lossily coded) at 8 kHz and upsampled: every sample decodes fine, SNR
against a narrowband reference passes, loudness is normal — but the top
5/6 of the spectrum is empty, and a model trained on it learns that
"48 kHz" sounds like a telephone. The standard corpus QA gate measures
the spectral ROLLOFF (the frequency below which 99% of the energy lives)
and compares it to the container Nyquist: genuine wideband content rolls
off near Nyquist; upsampled content rolls off at the ORIGINAL Nyquist no
matter what the header claims.

Reference parity: none — the reference engine (myrtakis/macrobase) has no
audio handling; this extends the build brief's multimodal contract
alongside operators/audio.py (SNR), operators/silence.py (dead air) and
operators/loudness.py (BS.1770).

Kernel: per clip, an averaged-periodogram PSD (Hann frames of 2048, up to
16 frames — Welch without overlap; deterministic, pure numpy rFFT), then
rolloff_hz = the smallest frequency whose cumulative energy reaches 99%
of the total, and bandwidth_ratio = rolloff_hz / (sr/2). Spectral
flatness (geometric/arithmetic mean of the PSD) rides along as a
tonality feature.

Spark shape: the same single mapInArrow scan as every audio check — the
payload bytes are touched once, the output is a ~40 B/clip feature
relation, classification is a shared CASE over stored columns and the
rollup is a tiny aggregate; DuckDB replays the relational layer verbatim
over the materialized parquet (`clips_bandwidth_stats`), while the PSD
kernel is pinned by synthetic-comb tests in tests/test_bandwidth.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.artifacts import artifact, clip_fixture_n
from macrobase_spark.queries import register

FRAME = 2048
MAX_FRAMES = 16
ROLLOFF_Q = 0.99


def spectral_profile(pcm: np.ndarray, sr: int) -> tuple[float, float] | None:
    """(rolloff_hz, spectral_flatness) of one clip, or None if the clip is
    too short for a frame or carries no energy."""
    n_frames = min(len(pcm) // FRAME, MAX_FRAMES)
    if n_frames == 0:
        return None
    x = pcm[: n_frames * FRAME].reshape(n_frames, FRAME)
    w = np.hanning(FRAME)
    spec = np.abs(np.fft.rfft(x * w, axis=1)) ** 2
    psd = spec.mean(axis=0)
    total = float(psd.sum())
    if total <= 0.0:
        return None
    c = np.cumsum(psd)
    k = int(np.searchsorted(c, ROLLOFF_Q * total))
    rolloff_hz = k * sr / FRAME  # rFFT bin k is k·sr/FRAME Hz
    p = psd / total + 1e-300
    flatness = float(np.exp(np.mean(np.log(p))) / np.mean(p))
    return rolloff_hz, flatness


BANDWIDTH_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("sr_hz", IntegerType()),
        StructField("rolloff_hz", DoubleType()),
        StructField("bandwidth_ratio", DoubleType()),
        StructField("spectral_flatness", DoubleType()),
    ]
)


def bandwidth_features(df: DataFrame) -> DataFrame:
    """Per-clip spectral profile over Arrow batches (one scan of bytes)."""
    from macrobase_spark.operators.audio import _binary_views, _decode_wav_view

    def run(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            col = {name: b.column(i) for i, name in enumerate(b.schema.names)}
            offsets, data = _binary_views(col["bytes"])
            ok = np.zeros(n, dtype=bool)
            srs = np.zeros(n, dtype=np.int32)
            roll = np.full(n, np.nan)
            ratio = np.full(n, np.nan)
            flat = np.full(n, np.nan)
            for i in range(n):
                dec = _decode_wav_view(data[offsets[i] : offsets[i + 1]])
                if dec is None:
                    continue
                sr, pcm = dec
                prof = spectral_profile(pcm, sr)
                srs[i] = sr
                if prof is None:
                    continue
                ok[i] = True
                roll[i] = round(prof[0], 3)
                ratio[i] = round(prof[0] / (sr / 2.0), 6)
                flat[i] = round(prof[1], 6)
            yield pa.RecordBatch.from_arrays(
                [
                    col["clip_id"],
                    pa.array(ok),
                    pa.array(srs, type=pa.int32()),
                    pa.array(roll, mask=np.isnan(roll)),
                    pa.array(ratio, mask=np.isnan(ratio)),
                    pa.array(flat, mask=np.isnan(flat)),
                ],
                names=[f.name for f in BANDWIDTH_SCHEMA.fields],
            )

    return df.select("clip_id", "bytes").mapInArrow(run, BANDWIDTH_SCHEMA)


_CLASS_EXPR = """
CASE WHEN NOT decode_ok THEN 'unmeasurable'
     WHEN bandwidth_ratio <= 0.25 THEN 'upsampled_suspect'
     WHEN bandwidth_ratio < 0.70 THEN 'band_limited'
     ELSE 'full_band' END
"""


def classify_bandwidth(feats: DataFrame) -> DataFrame:
    """Bandwidth verdict per clip from stored feature columns (codegen CASE
    shared verbatim with the DuckDB oracle)."""
    return feats.withColumn("bandwidth_class", F.expr(_CLASS_EXPR.strip()))


# ---- deterministic fixture + registered query -------------------------------


def generate_bandwidth_clips(spark, n: int):
    """48 kHz 0.8 s clips with planted bandwidth classes via harmonic combs
    (fundamental 375 Hz, equal-amplitude partials to the target edge):

    - id % 13 == 2 -> content synthesized to 0.167 x Nyquist (an 8 kHz
      recording sinc-upsampled to a 48 kHz container)  'upsampled_suspect'
    - id % 7 == 3  -> comb to 0.45 x Nyquist            'band_limited'
    - id % 31 == 8 -> digital silence                   'unmeasurable'
    - else         -> comb to 0.88 x Nyquist            'full_band'
    """
    import pandas as pd

    from macrobase_spark.operators.audio import sin_samples, wav_bytes
    from macrobase_spark.operators.resample import resample_sinc

    sr = 48000
    ns = int(sr * 0.8)
    f0 = 375.0

    def comb(rate: int, length: int, edge_hz: float, seed: int) -> np.ndarray:
        K = max(int(edge_hz / f0), 1)
        sig = np.zeros(length)
        amp = 0.7 / K
        for k in range(1, K + 1):
            sig += amp * sin_samples(
                2 * np.pi * k * f0 / rate, length, phase=0.37 * k + 0.01 * seed
            )
        return sig

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for s in pdf["id"]:
                i = int(s)
                if i % 31 == 8:
                    sig = np.zeros(ns)
                elif i % 13 == 2:
                    lo = comb(8000, int(8000 * 0.8), 0.167 * 24000.0, i % 5)
                    sig = resample_sinc(lo, 8000, sr)[:ns]
                elif i % 7 == 3:
                    sig = comb(sr, ns, 0.45 * 24000.0, i % 5)
                else:
                    sig = comb(sr, ns, 0.88 * 24000.0, i % 5)
                pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
                rows.append((f"bclip_{i:09d}", wav_bytes(pcm, sr)))
            yield pd.DataFrame(rows, columns=["clip_id", "bytes"])

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(0, n, numPartitions=parts).mapInPandas(
        gen, "clip_id string, bytes binary"
    )


@artifact("bandwidth", 1)
def bandwidth_features_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    bandwidth_features(generate_bandwidth_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(out)


_BW = bandwidth_features_parquet.scan()


@register(
    "clips_bandwidth_stats",
    f"""
    WITH classed AS (
      SELECT *, {_CLASS_EXPR} AS bandwidth_class FROM {_BW}
    )
    SELECT bandwidth_class,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(bandwidth_ratio), 6) AS avg_ratio,
           round(min(rolloff_hz), 3) AS min_rolloff_hz,
           round(avg(spectral_flatness), 6) AS avg_flatness
    FROM classed GROUP BY bandwidth_class
    """,
)
def clips_bandwidth_stats_q(spark, sf_dir):
    """Per-class bandwidth rollup over the materialized feature relation —
    the oracle certifies the verdict CASE and aggregates; the PSD/rolloff
    kernel is pinned by tests/test_bandwidth.py (comb edge recovery,
    upsample detection through the real sinc resampler, flatness
    sanity)."""
    feats = classify_bandwidth(
        spark.read.parquet(bandwidth_features_parquet(spark, sf_dir))
    )
    return feats.groupBy("bandwidth_class").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("bandwidth_ratio"), 6).alias("avg_ratio"),
        F.round(F.min("rolloff_hz"), 3).alias("min_rolloff_hz"),
        F.round(F.avg("spectral_flatness"), 6).alias("avg_flatness"),
    )
