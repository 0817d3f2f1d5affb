"""Pitch / mains-hum validation — voicing and electrical-contamination QA.

Two audio-corpus defects that decode cleanly and pass SNR, loudness, and
bandwidth gates:

- **Mains hum**: a 50 Hz / 60 Hz power-line tone (plus harmonics) picked
  up by the recording chain. Narrowband, low frequency, often inaudible
  in a waveform plot — but a model trained on hummy speech learns the
  hum. Measured here as the energy in a +-1.5 Hz comb around each mains
  grid (50/100/150/200 or 60/120/180/240 Hz) relative to everything
  else, in dB (`hum_db`).
- **Voicing anomalies**: clips labeled as speech that contain no
  periodic content at all (static, packet noise) or only fragments.
  Measured with the YIN pitch tracker (de Cheveigne & Kawahara 2002):
  per 2048-sample frame, the cumulative-mean-normalized difference
  function (computed via one FFT autocorrelation per frame block, no
  per-sample Python); a frame is voiced when its CMND dips under 0.25
  in the 50-500 Hz lag range. Per clip: `voiced_ratio` and the median
  voiced `f0_hz` (parabolic-refined).

Reference parity: none — the reference engine (myrtakis/macrobase) has
no audio handling; this extends the build brief's multimodal contract
alongside operators/audio.py (SNR), silence.py (dead air), loudness.py
(BS.1770) and bandwidth.py (fake sample rate).

Spark shape: the standard one row-runner scan of the payload bytes ->
~50 B/clip feature relation -> shared verdict CASE over stored columns
-> tiny rollup. Per-clip kernel cost is bounded regardless of clip
length (<= 16 YIN frames + one 65536-point rFFT), so the scan stays
decode-dominated. DuckDB replays the relational layer verbatim over the
materialized parquet (`clips_pitch_stats`); the YIN/hum kernels are
pinned by planted-frequency recovery in tests/test_pitch.py.
"""

from __future__ import annotations

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
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.audio import _decode_wav_view
from macrobase_spark.queries import register

FRAME = 2048
MAX_FRAMES = 16
CMND_THRESH = 0.25
F0_MIN = 50.0
F0_MAX = 500.0
HUM_FFT = 65536
HUM_HALF_HZ = 1.5
HUM_GRIDS = (50.0, 60.0)
HUM_HARMONICS = 4


def yin_frame_f0(frames: np.ndarray, sr: int) -> np.ndarray:
    """Per-frame f0 via YIN (NaN where unvoiced). `frames` is (nf, FRAME).

    d(tau) = sum_t (x[t]-x[t+tau])^2 computed for every frame at once from
    one FFT autocorrelation + cumulative energies; CMND normalization and
    the first-dip-under-threshold walk follow the YIN paper. Lags span
    sr/F0_MAX .. sr/F0_MIN (clamped to FRAME/2)."""
    nf, W = frames.shape
    tau_min = max(int(sr / F0_MAX), 2)
    tau_max = min(int(sr / F0_MIN), W // 2)
    if tau_max <= tau_min + 2:
        return np.full(nf, np.nan)
    spec = np.fft.rfft(frames, n=2 * W, axis=1)
    acf = np.fft.irfft(spec * np.conj(spec), axis=1)[:, : tau_max + 2].real
    c = np.concatenate(
        [np.zeros((nf, 1)), np.cumsum(frames * frames, axis=1)], axis=1
    )
    taus = np.arange(1, tau_max + 2)
    # energy of x[0:W-tau] and x[tau:W] per frame, all taus at once
    e_front = c[:, W - taus]
    e_tail = c[:, [W]] - c[:, taus]
    d = e_front + e_tail - 2.0 * acf[:, 1:]
    d = np.maximum(d, 0.0)
    cmnd = d * taus / np.maximum(np.cumsum(d, axis=1), 1e-30)
    f0 = np.full(nf, np.nan)
    lo, hi = tau_min - 1, tau_max - 1  # cmnd column for lag tau is tau-1
    for i in range(nf):
        row = cmnd[i]
        below = np.nonzero(row[lo : hi + 1] < CMND_THRESH)[0]
        if len(below) == 0:
            continue
        t = lo + int(below[0])
        while t + 1 <= hi + 1 and row[t + 1] < row[t]:
            t += 1
        tau = float(t + 1)
        if 0 < t < len(row) - 1:  # parabolic refinement on the dip
            a, b, cc = row[t - 1], row[t], row[t + 1]
            den = a - 2.0 * b + cc
            if den > 1e-30:
                tau += 0.5 * (a - cc) / den
        f0[i] = sr / tau
    return f0


def hum_level_db(pcm: np.ndarray, sr: int) -> float:
    """Mains-hum level: 10*log10(comb energy / rest energy) where the comb
    is +-HUM_HALF_HZ around k*50 Hz or k*60 Hz (k = 1..4, best grid wins).
    One Hann-windowed rFFT zero-padded to HUM_FFT for a fixed ~0.73 Hz
    bin pitch at 48 kHz."""
    n = min(len(pcm), HUM_FFT)
    if n < 1024:
        return float("nan")
    x = pcm[:n] * np.hanning(n)
    psd = np.abs(np.fft.rfft(x, n=HUM_FFT)) ** 2
    total = float(psd.sum())
    if total <= 0.0:
        return float("nan")
    hz_per_bin = sr / HUM_FFT
    half = max(int(round(HUM_HALF_HZ / hz_per_bin)), 1)
    best = 0.0
    for base in HUM_GRIDS:
        p = 0.0
        for k in range(1, HUM_HARMONICS + 1):
            b = int(round(k * base / hz_per_bin))
            if b + half >= len(psd):
                break
            p += float(psd[b - half : b + half + 1].sum())
        best = max(best, p)
    rest = max(total - best, total * 1e-12)
    return 10.0 * np.log10(max(best, total * 1e-12) / rest)


def pitch_profile(pcm: np.ndarray, sr: int) -> tuple[float, float, float] | None:
    """(f0_hz median-of-voiced or NaN, voiced_ratio, hum_db) for one clip,
    or None when the clip is too short or silent."""
    n_frames = min(len(pcm) // FRAME, MAX_FRAMES)
    if n_frames == 0:
        return None
    frames = pcm[: n_frames * FRAME].reshape(n_frames, FRAME)
    if not np.any(frames):
        return None
    f0s = yin_frame_f0(frames, sr)
    voiced = ~np.isnan(f0s)
    ratio = float(voiced.mean())
    f0 = float(np.median(f0s[voiced])) if voiced.any() else float("nan")
    return f0, ratio, hum_level_db(pcm, sr)


PITCH_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("sr_hz", IntegerType()),
        StructField("f0_hz", DoubleType()),
        StructField("voiced_ratio", DoubleType()),
        StructField("hum_db", DoubleType()),
    ]
)


def _pitch_row(clip_id, raw):
    dec = _decode_wav_view(raw)
    if dec is None:
        return [(clip_id, False, 0, None, None, None)]
    sr, pcm = dec
    prof = pitch_profile(pcm, sr)
    if prof is None:
        return [(clip_id, False, sr, None, None, None)]
    f0, voiced, hum = prof
    return [
        (
            clip_id,
            True,
            sr,
            None if np.isnan(f0) else round(f0, 2),
            round(voiced, 4),
            None if np.isnan(hum) else round(hum, 2),
        )
    ]


def pitch_features(df: DataFrame) -> DataFrame:
    """Per-clip pitch/hum profile (one scan of bytes)."""
    return map_rows(df.select("clip_id", "bytes"), _pitch_row, PITCH_SCHEMA)


_CLASS_EXPR = """
CASE WHEN NOT decode_ok THEN 'unmeasurable'
     WHEN hum_db >= -15.0 THEN 'hum_contaminated'
     WHEN voiced_ratio >= 0.5 THEN 'voiced'
     WHEN voiced_ratio >= 0.1 THEN 'partially_voiced'
     ELSE 'unvoiced' END
"""


def classify_pitch(feats: DataFrame) -> DataFrame:
    """Pitch/hum verdict per clip from stored feature columns (codegen CASE
    shared verbatim with the DuckDB oracle)."""
    return feats.withColumn("pitch_class", F.expr(_CLASS_EXPR.strip()))


# ---- deterministic fixture + registered query -------------------------------


def generate_pitch_clips(spark, n: int):
    """48 kHz 0.8 s clips with planted pitch/hum classes (precedence as in
    _CLASS_EXPR; residues chosen so collisions resolve the same way):

    - id % 31 == 8 -> digital silence                      'unmeasurable'
    - id % 13 == 2 -> harmonic voice + strong 50 Hz hum    'hum_contaminated'
    - id % 17 == 5 -> 6 voiced frames then noise           'partially_voiced'
    - id % 7 == 3  -> deterministic uniform noise          'unvoiced'
    - else         -> 5-harmonic tone, f0 in {165..245}    'voiced'
    """
    from macrobase_spark.operators.audio import sin_samples, u01, wav_bytes

    sr = 48000
    ns = int(sr * 0.8)

    def harmonic(f0: float, length: int, seed: int, nh: int = 5) -> np.ndarray:
        sig = np.zeros(length)
        amp = 0.6 / nh
        for k in range(1, nh + 1):
            sig += amp * sin_samples(
                2 * np.pi * k * f0 / sr, length, phase=0.41 * k + 0.01 * seed
            )
        return sig

    def noise(length: int, salt: int) -> np.ndarray:
        ids = np.arange(length, dtype=np.uint64)
        return 0.3 * (2.0 * u01(ids, salt=1000 + salt) - 1.0)

    def gen(i):
        if i % 31 == 8:
            sig = np.zeros(ns)
        elif i % 13 == 2:
            sig = harmonic(165.0 + 20.0 * (i % 5), ns, i % 5)
            sig += 0.35 * sin_samples(2 * np.pi * 50.0 / sr, ns)
        elif i % 17 == 5:
            v = 6 * FRAME
            sig = np.concatenate([harmonic(205.0, v, i % 5), noise(ns - v, i % 9)])
        elif i % 7 == 3:
            sig = noise(ns, i % 9)
        else:
            sig = harmonic(165.0 + 20.0 * (i % 5), ns, i % 5)
        pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
        return [(f"pclip_{i:09d}", wav_bytes(pcm, sr))]

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(
        spark.range(0, n, numPartitions=parts), gen, "clip_id string, bytes binary"
    )


@artifact("pitch", 1)
def pitch_features_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    pitch_features(generate_pitch_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(out)


_PF = pitch_features_parquet.scan()


@register(
    "clips_pitch_stats",
    f"""
    WITH classed AS (
      SELECT *, {_CLASS_EXPR} AS pitch_class FROM {_PF}
    )
    SELECT pitch_class,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(f0_hz), 2) AS avg_f0_hz,
           round(avg(voiced_ratio), 4) AS avg_voiced_ratio,
           round(max(hum_db), 2) AS max_hum_db
    FROM classed GROUP BY pitch_class
    """,
)
def clips_pitch_stats_q(spark, sf_dir):
    """Per-class pitch/hum rollup over the materialized feature relation —
    the oracle certifies the verdict CASE and aggregates; the YIN and
    hum-comb kernels are pinned by tests/test_pitch.py (planted-f0
    recovery, hum-grid isolation, voicing-ratio recovery)."""
    feats = classify_pitch(
        spark.read.parquet(pitch_features_parquet(spark, sf_dir))
    )
    return feats.groupBy("pitch_class").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("f0_hz"), 2).alias("avg_f0_hz"),
        F.round(F.avg("voiced_ratio"), 4).alias("avg_voiced_ratio"),
        F.round(F.max("hum_db"), 2).alias("max_hum_db"),
    )
