"""ITU-R BS.1770 / EBU R128-style loudness validation — gated integrated
loudness (LUFS) and 4x-oversampled true peak (dBTP) per clip.

Why this check: RMS/peak (audio.extract_audio_features) measure raw sample
energy; broadcast/training-corpus loudness contracts are written against
K-WEIGHTED, GATED loudness (quiet passages and silence must not drag the
average down) and TRUE peak (inter-sample overs that clip every resampler
downstream but are invisible to the sample-max). A clip can pass the SNR
invariant and still be unusable: mastered 40 dB too quiet, or riding above
-1 dBTP where any 4x interpolator clips.

Reference parity: none — the reference engine (myrtakis/macrobase) has no
audio handling; this belongs to the build brief's multimodal contract like
operators/audio.py's SNR scan and operators/silence.py's dead-air profile.
The DSP follows the published BS.1770-4 spec: K-weighting = high-shelf +
high-pass biquad cascade (the 48 kHz coefficient table is reproduced by the
parametric design below and pinned in tests), 400 ms momentary blocks at
75% overlap, -70 LUFS absolute gate then a relative gate 10 LU under the
absolute-gated mean, integrated loudness = -0.691 + 10·log10(mean msq over
surviving blocks). True peak = max |4x polyphase-sinc oversample|
(reuses operators/resample.polyphase kernel).

Spark shape (the part that must survive 10^12 clips):
- ONE row-runner scan of the payload bytes does decode -> K-weight (FFT
  convolution with a memoized truncated impulse response — the IIR cascade
  run zero-state is exactly a causal FIR up to a sub-1e-10 truncation
  tail, so the whole filter is vectorized numpy, no per-sample Python) ->
  per-block mean-squares via one cumsum -> 4x sinc oversample for true
  peak. Output is a NARROW block relation (~9 rows x ~50 B per clip).
- Gating + integration is pure declarative Spark over that relation: two
  hash aggregates and one clip_id-equi-join (co-partitioned by the same
  key, AQE-coalesced) — no Python, no collect, identical SQL in the
  DuckDB oracle over the same materialized parquet.
- Classification is a codegen CASE; the final rollup is a tiny aggregate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.artifacts import artifact, clip_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.audio import _decode_wav_view
from macrobase_spark.queries import register

# -- K-weighting filter design (BS.1770-4) -----------------------------------

# Stage parameters of the published spec filter (the 48 kHz coefficient
# table in BS.1770-4 Tables 1-2 is the bilinear design below evaluated at
# fs=48000; tests pin that equality to 1e-6). Designing parametrically
# makes the SAME analog response portable to the fixture's 16 kHz rate.
_SHELF_F0 = 1681.974450955533
_SHELF_GAIN_DB = 3.999843853973347
_SHELF_Q = 0.7071752369554196
_HP_F0 = 38.13547087602444
_HP_Q = 0.5003270373238773


# Shelf bandwidth exponent from the published re-derivation of the spec
# table (B. De Man, "Evaluation of Implementations of the ITU-R BS.1770
# Loudness Algorithm", AES 2013 companion code): Vb = Vh**0.49966677...
# makes the bilinear design below reproduce BS.1770-4 Tables 1-2 at 48 kHz.
_SHELF_VB_EXP = 0.4996667741545416


def _k_biquads(fs: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """[(b, a), (b, a)]: high-shelf then high-pass, a normalized to a0=1.
    K=tan bilinear forms whose 48 kHz evaluation equals the spec's
    coefficient table (pinned to 1e-6 in tests/test_loudness.py)."""
    K = np.tan(np.pi * _SHELF_F0 / fs)
    Vh = 10.0 ** (_SHELF_GAIN_DB / 20.0)
    Vb = Vh**_SHELF_VB_EXP
    d = 1.0 + K / _SHELF_Q + K * K
    shelf = (
        np.array(
            [
                (Vh + Vb * K / _SHELF_Q + K * K) / d,
                2.0 * (K * K - Vh) / d,
                (Vh - Vb * K / _SHELF_Q + K * K) / d,
            ]
        ),
        np.array([1.0, 2.0 * (K * K - 1.0) / d, (1.0 - K / _SHELF_Q + K * K) / d]),
    )
    K = np.tan(np.pi * _HP_F0 / fs)
    d = 1.0 + K / _HP_Q + K * K
    hp = (
        np.array([1.0, -2.0, 1.0]),
        np.array([1.0, 2.0 * (K * K - 1.0) / d, (1.0 - K / _HP_Q + K * K) / d]),
    )
    return [shelf, hp]


_IR_CACHE: dict[int, np.ndarray] = {}


def _k_impulse(fs: int) -> np.ndarray:
    """Truncated impulse response of the K-weighting cascade at `fs`.

    The cascade run from zero state is LTI, so zero-state filtering equals
    causal FIR convolution with its impulse response; the slowest pole is
    the ~38 Hz high-pass pair, whose radius sets the truncation length for
    a <=1e-10 tail. Computed once per sample rate (a few thousand scalar
    steps), then every clip is a vectorized FFT convolution."""
    h = _IR_CACHE.get(fs)
    if h is not None:
        return h
    stages = _k_biquads(fs)
    r = max(float(np.sqrt(abs(a[2]))) for _, a in stages)
    n = int(np.ceil(np.log(1e-10) / np.log(max(r, 0.5))))
    n = int(np.clip(n, 1024, 65536))
    sig = np.zeros(n)
    sig[0] = 1.0
    for b, a in stages:
        y = np.empty(n)
        y1 = y2 = x1 = x2 = 0.0
        bb0, bb1, bb2 = float(b[0]), float(b[1]), float(b[2])
        aa1, aa2 = float(a[1]), float(a[2])
        for i in range(n):
            x0 = sig[i]
            y0 = bb0 * x0 + bb1 * x1 + bb2 * x2 - aa1 * y1 - aa2 * y2
            y[i] = y0
            x2, x1, y2, y1 = x1, x0, y1, y0
        sig = y
    _IR_CACHE[fs] = sig
    return sig


def k_weight(x: np.ndarray, fs: int) -> np.ndarray:
    """K-weighted signal: zero-state BS.1770 pre-filter cascade applied as
    one FFT convolution with the memoized truncated impulse response."""
    h = _k_impulse(fs)
    n = len(x) + len(h) - 1
    nfft = 1 << int(np.ceil(np.log2(max(n, 2))))
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(h, nfft), nfft)
    return y[: len(x)]


BLOCK_S = 0.400  # momentary block length (BS.1770 gating block)
STEP_S = 0.100  # 75% overlap


def block_mean_squares(x: np.ndarray, fs: int) -> np.ndarray:
    """Per-gating-block mean square of the K-weighted signal (one cumsum)."""
    y = k_weight(x, fs)
    w = int(round(BLOCK_S * fs))
    s = int(round(STEP_S * fs))
    if len(y) < w:
        return np.empty(0)
    c = np.concatenate(([0.0], np.cumsum(y * y)))
    starts = np.arange(0, len(y) - w + 1, s)
    return (c[starts + w] - c[starts]) / w


def true_peak(x: np.ndarray, fs: int) -> float:
    """BS.1770 Annex 2-style true peak: max |4x oversampled signal|."""
    from macrobase_spark.operators.resample import resample_sinc

    if len(x) == 0:
        return 0.0
    up = resample_sinc(np.asarray(x, dtype=np.float64), fs, fs * 4)
    return float(np.max(np.abs(up)))


# -- block relation (one Arrow scan) ------------------------------------------

LOUDNESS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("sr_hz", IntegerType()),
        StructField("block_idx", IntegerType()),
        StructField("msq", DoubleType()),
        StructField("sample_peak", DoubleType()),
        StructField("true_peak", DoubleType()),
    ]
)


def _loudness_rows(clip_id, raw):
    dec = _decode_wav_view(raw)
    if dec is None or len(dec[1]) == 0:
        return []
    sr, pcm = dec
    sp = round(float(np.max(np.abs(pcm))), 6)
    tp = round(true_peak(pcm, sr), 6)
    msqs = block_mean_squares(pcm, sr)
    if len(msqs) == 0:
        return [(clip_id, sr, -1, 0.0, sp, tp)]
    return [(clip_id, sr, j, float(m), sp, tp) for j, m in enumerate(msqs)]


def loudness_blocks(df: DataFrame) -> DataFrame:
    """(clip_id, sr_hz, block_idx, msq, sample_peak, true_peak) — one row
    per 400 ms gating block; the per-clip peaks ride on every block row
    (~9 blocks/clip, so the redundancy is a few repeated doubles against a
    second scan of the payload bytes). Clips too short for one block emit
    a single block_idx=-1 sentinel row so they stay visible downstream."""
    return map_rows(df.select("clip_id", "bytes"), _loudness_rows, LOUDNESS_SCHEMA)


# -- gated integration (pure declarative, oracle-replayable) ------------------


def integrated_loudness(blocks: DataFrame) -> DataFrame:
    """(clip_id, lufs_i, n_gated) per measurable clip: the BS.1770 two-stage
    gate over the block relation. Absolute gate at -70 LUFS, relative gate
    10 LU under the absolute-gated mean. Two hash aggregates + one
    clip_id-co-partitioned join; blocks with msq=0 (digital silence) carry
    no loudness and are excluded up front on both engines."""
    lk = F.lit(-0.691) + F.lit(10.0) * F.log10(F.col("msq"))
    b = (
        blocks.filter((F.col("block_idx") >= 0) & (F.col("msq") > 0))
        .select("clip_id", "msq", lk.alias("lk"))
        .filter(F.col("lk") > -70.0)
    )
    gate = b.groupBy("clip_id").agg(
        (F.lit(-0.691) + F.lit(10.0) * F.log10(F.avg("msq")) - F.lit(10.0)).alias(
            "gamma"
        )
    )
    return (
        b.join(gate, "clip_id")
        .filter(F.col("lk") > F.col("gamma"))
        .groupBy("clip_id")
        .agg(
            F.round(F.lit(-0.691) + F.lit(10.0) * F.log10(F.avg("msq")), 4).alias(
                "lufs_i"
            ),
            F.count(F.lit(1)).cast("long").alias("n_gated"),
        )
    )


_CLASS_EXPR = """
CASE WHEN lufs_i IS NULL THEN 'unmeasurable'
     WHEN true_peak_db > -1.0 THEN 'clipping_risk'
     WHEN lufs_i > -10.0 THEN 'too_loud'
     WHEN lufs_i < -35.0 THEN 'too_quiet'
     ELSE 'ok' END
"""


def classify_loudness(blocks: DataFrame) -> DataFrame:
    """Per-clip loudness verdict: gated LUFS (null => unmeasurable: the clip
    never crossed the -70 absolute gate), true peak in dBTP, class CASE
    shared verbatim with the DuckDB oracle."""
    clips = blocks.groupBy("clip_id").agg(
        F.max("true_peak").alias("tp"),
        F.when(
            F.max("true_peak") > 0, F.round(F.lit(20.0) * F.log10(F.max("true_peak")), 4)
        ).alias("true_peak_db"),
    )
    return (
        clips.join(integrated_loudness(blocks), "clip_id", "left")
        .withColumn("loudness_class", F.expr(_CLASS_EXPR.strip()))
    )


# -- deterministic fixture + registered query ---------------------------------


def generate_loudness_clips(spark, n: int):
    """997 Hz tone clips (1.2 s, 16 kHz — 9 gating blocks each) with planted
    loudness defects on disjoint residues (K-weighting is ~0 dB at 997 Hz,
    so class margins are amplitude-only and far from every threshold):

    - id % 19 == 5 -> digital silence                 ('unmeasurable')
    - id % 17 == 9 -> 0.97 amp at 4 kHz, phase pi/4   ('clipping_risk':
        samples land at +-0.686 but the analog crest is 0.97 => the
        sample peak hides an inter-sample over that only true peak sees)
    - id % 13 == 7 -> amp 0.5   (~ -9.0 LUFS)         ('too_loud')
    - id % 11 == 3 -> amp 0.003 (~ -53.4 LUFS)        ('too_quiet')
    - else         -> amp 0.25  (~ -15.1 LUFS)        ('ok')
    """
    from macrobase_spark.operators.audio import sin_samples, wav_bytes

    sr = 16000
    ns = int(sr * 1.2)

    def gen(i):
        if i % 19 == 5:
            sig = np.zeros(ns)
        elif i % 17 == 9:
            sig = 0.97 * sin_samples(2 * np.pi * 4000.0 / sr, ns, np.pi / 4)
        elif i % 13 == 7:
            sig = 0.5 * sin_samples(2 * np.pi * 997.0 / sr, ns)
        elif i % 11 == 3:
            sig = 0.003 * sin_samples(2 * np.pi * 997.0 / sr, ns)
        else:
            sig = 0.25 * sin_samples(2 * np.pi * 997.0 / sr, ns)
        pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
        return [(f"lclip_{i:09d}", wav_bytes(pcm, sr))]

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(
        spark.range(0, n, numPartitions=parts), gen, "clip_id string, bytes binary"
    )


@artifact("loudness", 1)
def loudness_blocks_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    loudness_blocks(generate_loudness_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(out)


_LB = loudness_blocks_parquet.scan()


@register(
    "clips_loudness_stats",
    f"""
    WITH b AS (
      SELECT clip_id, msq, -0.691 + 10.0 * log10(msq) AS lk
      FROM {_LB} WHERE block_idx >= 0 AND msq > 0
    ),
    abs_g AS (SELECT * FROM b WHERE lk > -70.0),
    gate AS (
      SELECT clip_id, -0.691 + 10.0 * log10(avg(msq)) - 10.0 AS gamma
      FROM abs_g GROUP BY clip_id
    ),
    integ AS (
      SELECT a.clip_id,
             round(-0.691 + 10.0 * log10(avg(a.msq)), 4) AS lufs_i,
             CAST(count(*) AS BIGINT) AS n_gated
      FROM abs_g a JOIN gate g ON a.clip_id = g.clip_id
      WHERE a.lk > g.gamma GROUP BY a.clip_id
    ),
    clips AS (
      SELECT clip_id,
             CASE WHEN max(true_peak) > 0
                  THEN round(20.0 * log10(max(true_peak)), 4) END AS true_peak_db
      FROM {_LB} GROUP BY clip_id
    ),
    classed AS (
      SELECT c.clip_id, i.lufs_i, c.true_peak_db, {_CLASS_EXPR} AS loudness_class
      FROM clips c LEFT JOIN integ i ON c.clip_id = i.clip_id
    )
    SELECT loudness_class,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(lufs_i), 4) AS avg_lufs,
           round(max(true_peak_db), 4) AS max_true_peak_db
    FROM classed GROUP BY loudness_class
    """,
)
def clips_loudness_stats_q(spark, sf_dir):
    """Per-class loudness rollup over the materialized block relation: the
    full BS.1770 gate replayed declaratively (identical SQL in DuckDB), so
    the oracle certifies gating, integration, dBTP conversion and the
    verdict CASE; the DSP kernel itself is pinned by tests/test_loudness.py
    (48 kHz spec-table coefficients, sine calibration, gating behavior,
    inter-sample-peak recovery, planted-class recovery)."""
    blocks = spark.read.parquet(loudness_blocks_parquet(spark, sf_dir))
    classed = classify_loudness(blocks)
    return classed.groupBy("loudness_class").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("lufs_i"), 4).alias("avg_lufs"),
        F.round(F.max("true_peak_db"), 4).alias("max_true_peak_db"),
    )
