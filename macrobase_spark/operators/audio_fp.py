"""Audio content fingerprinting + near-duplicate detection.

The training-data-pipeline story for audio dedup: byte-level hashing misses
duplicates that were re-encoded (G.711/ADPCM), re-containered, or resampled.
This module fingerprints the decoded CONTENT — a Haitsma–Kalker-style sign
signature (ISMIR'02 "A Highly Robust Audio Fingerprinting System") over a
log-spaced triangular filterbank in absolute Hz — and finds near-dups with
the same banded-LSH shuffle shape as SimHash text dedup
(operators/dedup.py):

    decode → 112-bit sign signature        (ONE Arrow scan of `bytes`)
    signature → 8 bands × 14 bits          (pure column expressions)
    bucket-join on (band, key)             (the ONLY shuffle, bucketed)
    Hamming(xor) ≤ threshold               (bit_count — JVM codegen)

At 10^12 rows this is the MinHash-LSH plan: no all-pairs comparison exists
anywhere; candidate generation is an equi-join on 14-bit band keys and hot
buckets (silence, identical test tones) are dropped-and-logged via
`max_bucket` exactly like dedup.simhash_candidates.

Robustness, measured on the fixture (tests/test_audio_fp.py): exact
re-container = 0 flipped bits; G.711 mu-law/A-law and IMA ADPCM re-encodes
≤ ~8 of 112 bits (recall GUARANTEED at Hamming ≤ 7 by pigeonhole over the 8
LSH bands, and these land under the default 10-bit bar); linear-interp
resampled copies flip ~9 bits on average with a tail to ~22 — partially
caught at the default bar; catching the tail needs multi-probe LSH or a
56-bit half-signature pass (documented limitation, not silent).

The signature's double-delta structure — sign of the TIME-delta of the
band-energy delta — cancels any static per-band gain (spectral tilt from a
codec or an interpolating resampler), which is what makes lossy copies land
within a few bits.

Reference parity note: the reference engine (myrtakis/macrobase) has no
audio operators; this extends the same data-quality mission to the
multimodal corpus the build brief targets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.audio import decode_audio, sin_samples, splitmix64, u01
from macrobase_spark.queries import register

# 16 overlapping triangular bands, log-spaced 150 Hz .. 3800 Hz (absolute Hz
# → sample-rate-invariant; 3800 Hz stays below the 8 kHz fixture's Nyquist;
# triangles, not rectangles, so an FFT bin drifting across a band edge under
# a different sample rate changes weights smoothly instead of hopping).
N_BANDS = 16
_PTS = np.geomspace(150.0, 3800.0, N_BANDS + 2)
N_SEGMENTS = 9  # 9 time segments → 8 time deltas; 8 × 14 = 112 signature bits
BITS_PER_HALF = 56  # 112 bits packed as two non-negative int64s


def fingerprint_pcm(sr: int, pcm: np.ndarray) -> tuple[int, int]:
    """112-bit Haitsma–Kalker sign signature of one mono clip.

    bit(t, b) = sign of the time-delta of the band-energy delta:
        (E[t,b] − E[t,b+1]) − (E[t−1,b] − E[t−1,b+1]) > 0
    Invariant to overall gain AND to any static per-band gain (the time
    delta cancels it), hence stable under lossy re-encoding and resampler
    roll-off. Returns (hi, lo): first/last 56 bits as int64.
    """
    T = N_SEGMENTS
    n = len(pcm)
    if n < 4 * T:
        pcm = np.pad(pcm, (0, 4 * T - n))
        n = len(pcm)
    seg = n // T
    X = np.fft.rfft(pcm[: seg * T].reshape(T, seg), axis=1)
    power = (X.real**2 + X.imag**2)[:, 1:]  # drop DC
    freqs = np.arange(1, power.shape[1] + 1, dtype=np.float64) * (sr / seg)
    W = np.zeros((N_BANDS, len(freqs)))
    for b in range(N_BANDS):
        lo_f, c, hi_f = _PTS[b], _PTS[b + 1], _PTS[b + 2]
        W[b] = np.clip(
            np.minimum((freqs - lo_f) / (c - lo_f), (hi_f - freqs) / (hi_f - c)), 0.0, None
        )
    E = power @ W.T  # (T, N_BANDS)
    d_band = E[:, :-1] - E[:, 1:]  # (T, 15)
    dd = d_band[1:, :-1] - d_band[:-1, :-1]  # (T-1, 14)
    bits = (dd > 0).astype(np.uint64).reshape(-1)  # 112 bits, time-major
    shifts = np.uint64(BITS_PER_HALF - 1) - np.arange(BITS_PER_HALF, dtype=np.uint64)
    hi = int(np.bitwise_or.reduce(bits[:BITS_PER_HALF] << shifts))
    lo = int(np.bitwise_or.reduce(bits[BITS_PER_HALF:] << shifts))
    return hi, lo


FP_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("fp_hi", LongType()),
        StructField("fp_lo", LongType()),
    ]
)


def _fingerprint_row(clip_id, raw):
    dec = decode_audio(raw)
    if dec is None:
        return [(clip_id, False, 0, 0)]
    return [(clip_id, True, *fingerprint_pcm(*dec))]


def audio_fingerprints(
    df: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes"
) -> DataFrame:
    """ONE scan of the payload column → (id, decode_ok, fp_hi,
    fp_lo). Compressed WAV payloads (G.711/ADPCM) decode transparently via
    decode_wav, so a mu-law re-encode of a PCM clip fingerprints to (nearly)
    the same bits — the property the near-dup join exploits."""
    return map_rows(df.select(id_col, bytes_col), _fingerprint_row, FP_SCHEMA)


def audio_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "clip_id",
    hamming_max: int = 10,
    max_bucket: int | None = 2000,
    multi_probe: bool = True,
) -> DataFrame:
    """Banded-LSH near-dup pairs over a fingerprint relation
    (id, fp_hi, fp_lo [, decode_ok]).

    8 bands of 14 bits. Plain banding guarantees recall only to Hamming ≤ 7
    (pigeonhole: 7 flips cannot touch all 8 bands, so one band is exact);
    at the default 10-bit bar ~7% of true pairs would spread their flips
    across every band and hide. `multi_probe` closes that: ONE side of the
    join additionally probes each band key with all 14 one-bit flips, which
    makes recall GUARANTEED up to Hamming 15 — if every band is touched by
    ≤15 total flips, some band has exactly one, and that band's flipped
    probe hits the partner's exact key. Cost: probe side ×15 rows into the
    join (linear, no all-pairs anywhere); the build side stays at 8 rows
    per record.

    The join key is (band, key) — one bucketed shuffle; `max_bucket` drops
    degenerate hot buckets (silence / identical test tones), sized on EXACT
    keys, with the same drop-and-log contract as simhash_candidates.
    Emits (clip_a, clip_b, hamming), a<b, distinct.
    """
    if "decode_ok" in fp.columns:
        fp = fp.filter(F.col("decode_ok"))
    mask = F.lit((1 << 14) - 1).cast("long")
    bands = []
    for j in range(4):
        bands.append(
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("fp_hi"), (3 - j) * 14).bitwiseAND(mask).alias("key"),
            )
        )
    for j in range(4):
        bands.append(
            F.struct(
                F.lit(4 + j).alias("band"),
                F.shiftright(F.col("fp_lo"), (3 - j) * 14).bitwiseAND(mask).alias("key"),
            )
        )
    e = fp.select(
        F.col(id_col), F.col("fp_hi"), F.col("fp_lo"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select(
        id_col, "fp_hi", "fp_lo",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    if max_bucket is not None:
        sizes = e.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_bn"))
        hot = sizes.filter(F.col("_bn") > max_bucket)
        n_hot = hot.count()
        if n_hot:
            import logging

            logging.getLogger(__name__).warning(
                "audio_near_dup_pairs: dropping %d hot LSH buckets (> %d members)",
                n_hot, max_bucket,
            )
            e = e.join(F.broadcast(hot.select("band", "key")), ["band", "key"], "left_anti")
    probe_side = e
    if multi_probe:
        probes = F.array(*[F.lit(0)] + [F.lit(1 << k) for k in range(14)])
        probe_side = e.withColumn("_p", F.explode(probes)).select(
            id_col, "fp_hi", "fp_lo", "band",
            F.expr("key ^ _p").alias("key"),
        )
    a = probe_side.select(
        F.col(id_col).alias("clip_a"), F.col("fp_hi").alias("ha"),
        F.col("fp_lo").alias("la"), "band", "key",
    )
    b = e.select(
        F.col(id_col).alias("clip_b"), F.col("fp_hi").alias("hb"),
        F.col("fp_lo").alias("lb"), "band", "key",
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("clip_a") < F.col("clip_b"))
        .select(
            "clip_a", "clip_b",
            (
                F.bit_count(F.expr("ha ^ hb")) + F.bit_count(F.expr("la ^ lb"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


# ---- fingerprint fixture: content-rich clips with planted re-encoded copies


def fp_clip_content(i: int, sr: int, ms: int = 100) -> np.ndarray:
    """Deterministic 'real-audio-like' content for row i: 5 harmonics with
    id-derived amplitudes/phases under an id-derived AM envelope, plus a low
    noise floor — structure well above any codec's noise floor, which is
    what real recordings look like to a fingerprinter (the plain clips
    table's tone+noise payloads are noise-dominated outside one band and
    make every fingerprint scheme look fragile). Pure function of (i, sr)."""
    n = max(int(sr * ms / 1000), 64)
    f0 = 100.0 + float(splitmix64(np.array([i + 11], dtype=np.uint64))[0] % np.uint64(400))
    ii = np.array([i], dtype=np.uint64)
    sig = np.zeros(n)
    # libm-free renders (audio.sin_samples with phase): per-sample np.sin is
    # pathological on this sandbox's gather-mitigated host states.
    for h in range(1, 6):
        a = float(u01(ii, 100 + h)[0]) * 0.9 + 0.1
        ph = float(u01(ii, 200 + h)[0]) * 2 * np.pi
        sig += (a / h) * sin_samples(2 * np.pi * h * f0 / sr, n, phase=ph)
    fenv = 5.0 + float(u01(ii, 300)[0]) * 15.0
    phe = float(u01(ii, 301)[0]) * 2 * np.pi
    sig *= 0.5 + 0.5 * sin_samples(2 * np.pi * fenv / sr, n, phase=phe)
    sig /= max(float(np.abs(sig).max()), 1e-9) / 0.8
    noise = (
        u01(np.arange(n, dtype=np.uint64) + np.uint64(i) * np.uint64(2654435761), 5) - 0.5
    ) * 0.006
    return np.clip((sig + noise) * 32767, -32768, 32767).astype(np.int16)


FP_CLIPS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("codec", StringType()),
        StructField("src_id", LongType()),
    ]
)


def generate_fp_clips(spark, n: int) -> DataFrame:
    """Fixture for content-level dedup: rows come in decades sharing a
    sample rate; within each decade, rows 1–3 re-encode ROW 0's exact
    content as G.711 mu-law, IMA ADPCM, and a byte-identical PCM copy —
    the duplicate classes a crawl actually produces. Every other row is
    unique content. `src_id` records the content source (ground truth for
    tests; the dedup query never reads it)."""
    from macrobase_spark.operators.audio import wav_bytes, wav_bytes_codec

    def gen(i):
        sr = [16000, 22050, 44100][(i // 10) % 3]
        kind = i % 10
        src = i - kind if kind in (1, 2, 3) else i
        pcm = fp_clip_content(src, sr)
        if kind == 1:
            blob, codec = wav_bytes_codec(pcm, sr, "mulaw"), "mulaw"
        elif kind == 2:
            blob, codec = wav_bytes_codec(pcm, sr, "adpcm"), "adpcm"
        else:
            blob, codec = wav_bytes(pcm, sr), "pcm_s16le"
        return [(f"fp_{i:012d}", blob, codec, src)]

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(spark.range(0, n, numPartitions=parts), gen, FP_CLIPS_SCHEMA)


# ---- registry query + oracle (materialized-fingerprint recipe) -------------


@artifact("audiofp", 2)
def audio_fp_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fingerprint relation (ONE decode scan of the fp
    fixture) so the DuckDB oracle replays the join/Hamming stage over the
    very same signatures."""
    n = decode_fixture_n(sf_dir)
    audio_fingerprints(generate_fp_clips(spark, n)).write.mode("overwrite").parquet(out)


_FPF = audio_fp_parquet.scan()


def _near_dup_oracle_sql() -> str:
    bands = []
    for j in range(4):
        bands.append(
            f"SELECT clip_id, fp_hi, fp_lo, {j} AS band, "
            f"(fp_hi >> {(3 - j) * 14}) & 16383 AS key FROM f"
        )
    for j in range(4):
        bands.append(
            f"SELECT clip_id, fp_hi, fp_lo, {4 + j} AS band, "
            f"(fp_lo >> {(3 - j) * 14}) & 16383 AS key FROM f"
        )
    u = " UNION ALL ".join(bands)
    return f"""
    WITH f AS (SELECT * FROM {_FPF} WHERE decode_ok),
    e AS ({u}),
    probes AS (SELECT 0 AS p UNION ALL
               SELECT (1 << CAST(x AS INTEGER)) FROM range(14) t(x)),
    a AS (SELECT clip_id, fp_hi, fp_lo, band, xor(key, p) AS key
          FROM e CROSS JOIN probes)
    SELECT DISTINCT a.clip_id AS clip_a, b.clip_id AS clip_b,
           CAST(bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
    FROM a JOIN e b ON a.band = b.band AND a.key = b.key AND a.clip_id < b.clip_id
    WHERE bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) <= 10
    """


@register("dedup_audio_content", _near_dup_oracle_sql())
def dedup_audio_content_q(spark, sf_dir):
    """Content-level audio near-dup pairs over the fingerprint fixture: the
    planted byte-identical copies surface at Hamming 0 and the planted
    G.711/ADPCM re-encodes of the same recording within a few bits — pairs
    a byte hash can never see. Oracle flavor runs max_bucket=None (no drop)
    so both engines see identical candidates."""
    fp = spark.read.parquet(audio_fp_parquet(spark, sf_dir))
    return audio_near_dup_pairs(fp, hamming_max=10, max_bucket=None)
