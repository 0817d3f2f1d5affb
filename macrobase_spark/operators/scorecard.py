"""Unified audio QA scorecard — every per-clip audio check in ONE scan.

The suite's audio checks each own a bytes-scan (SNR, silence, loudness,
bandwidth, pitch/hum). A production gate wants them TOGETHER, and at
10^12 rows the decode dominates — so this operator fuses the whole
scorecard into a single mapInArrow pass: decode once, then compute
level (RMS dBFS / peak / clipping ratio), dead air (silence ratio +
longest run), spectral bandwidth (99% rolloff vs container Nyquist,
via operators/bandwidth.spectral_profile), and voicing / mains hum
(YIN + hum comb, via operators/pitch.pitch_profile) from the same PCM
array while it is hot. Output is a ~70 B/clip feature relation; the
per-dimension flags and the overall verdict are a shared CASE layer
the DuckDB oracle replays verbatim (`clips_qa_scorecard`).

The kernels themselves are the ones the per-check operators already
pin with planted tests — this module adds no new DSP, only the fusion
and the composed verdict, plus a mixed-defect fixture proving each
flag fires on exactly its planted class.

Scale: one scan of bytes (the ONLY stage touching payloads), map-only;
the rollup groups the narrow feature relation. Identical shape to the
clips_validation_suite scan discipline.
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

SCORECARD_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        # 'ok' | 'failed' | 'skipped_compressed' — a clip whose transport is
        # a lossy compressed stream this engine deliberately does not decode
        # (mp3/ADTS/Ogg; documented scope boundary, audio.py:242) must NOT
        # be folded into decode-failure stats: it is undecodable BY SCOPE,
        # not corrupt. The structural transport walkers (mp3.py/aac.py/
        # ogg.py) own integrity for those clips.
        StructField("decode_status", StringType()),
        StructField("sr_hz", IntegerType()),
        StructField("rms_dbfs", DoubleType()),
        StructField("clip_ratio", DoubleType()),
        StructField("silence_ratio", DoubleType()),
        StructField("longest_silence_ms", DoubleType()),
        StructField("bandwidth_ratio", DoubleType()),
        StructField("voiced_ratio", DoubleType()),
        StructField("hum_db", DoubleType()),
    ]
)


def _is_compressed_transport(raw: np.ndarray) -> bool:
    """Magic-based check for the lossy transports this engine's scope
    deliberately does not PCM-decode: mp3 (raw sync or ID3-fronted), ADTS
    AAC, and Ogg. Same byte tests as gate.detect_format, inlined over the
    uint8 view so the fused scan stays copy-free.

    True only means the leading bytes carry one of these magics: the stream
    itself is not walked, so decode_status='skipped_compressed' says "the
    magic says compressed", not "structurally valid" (the structural walks
    are the mp3/aac/opus integrity and transport gate queries)."""
    if len(raw) < 4:
        return False
    b0, b1 = int(raw[0]), int(raw[1])
    if raw[:4].tobytes() == b"OggS":
        return True
    if raw[:3].tobytes() == b"ID3":
        return True  # ID3v2 fronts mp3/ADTS streams
    if b0 == 0xFF and (b1 & 0xF0) == 0xF0 and ((b1 >> 1) & 0x3) == 0:
        return True  # ADTS sync (layer 00)
    if b0 == 0xFF and (b1 & 0xE0) == 0xE0:
        return True  # mp3 sync
    return False


def scorecard_features(df: DataFrame) -> DataFrame:
    """All audio QA features from ONE decode per clip (one scan of bytes).

    Decode scope: RIFF/WAVE (PCM16 + G.711/ADPCM tags) and native FLAC.
    Compressed lossy transports (mp3/ADTS/Ogg) are reported as
    decode_status='skipped_compressed' — distinguished from 'failed'
    (corrupt/unknown payload) so corpus pass-rates never silently fold
    scope limits into failure stats."""
    from macrobase_spark.operators.audio import (
        _binary_views,
        _decode_wav_view,
        _run_lengths,
    )
    from macrobase_spark.operators.flac import decode_flac as _decode_flac
    from macrobase_spark.operators.bandwidth import spectral_profile
    from macrobase_spark.operators.pitch import pitch_profile

    def run(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            col = {name: b.column(i) for i, name in enumerate(b.schema.names)}
            offsets, data = _binary_views(col["bytes"])
            ok = np.zeros(n, dtype=bool)
            status = np.full(n, "failed", dtype=object)
            srs = np.zeros(n, dtype=np.int32)
            out = {
                k: np.full(n, np.nan)
                for k in (
                    "rms_dbfs",
                    "clip_ratio",
                    "silence_ratio",
                    "longest_silence_ms",
                    "bandwidth_ratio",
                    "voiced_ratio",
                    "hum_db",
                )
            }
            for i in range(n):
                raw = data[offsets[i] : offsets[i + 1]]
                if _is_compressed_transport(raw):
                    status[i] = "skipped_compressed"
                    continue
                dec = _decode_wav_view(raw)
                if dec is None and len(raw) >= 4 and raw[:4].tobytes() == b"fLaC":
                    dec = _decode_flac(raw.tobytes())  # float64 in [-1, 1)
                if dec is None:
                    continue
                sr, pcm = dec
                if len(pcm) == 0:
                    continue
                ok[i] = True
                status[i] = "ok"
                srs[i] = sr
                rms = float(np.sqrt(np.mean(pcm * pcm)))
                out["rms_dbfs"][i] = round(
                    20.0 * np.log10(max(rms, 1e-10)), 2
                )
                out["clip_ratio"][i] = round(float((np.abs(pcm) >= 0.999).mean()), 6)
                quiet = np.abs(pcm) < 0.01
                out["silence_ratio"][i] = round(float(quiet.mean()), 6)
                if quiet.any():
                    _, lens = _run_lengths(quiet)
                    out["longest_silence_ms"][i] = round(
                        float(lens.max() * 1000.0 / sr), 3
                    )
                else:
                    out["longest_silence_ms"][i] = 0.0
                prof = spectral_profile(pcm, sr)
                if prof is not None:
                    out["bandwidth_ratio"][i] = round(prof[0] / (sr / 2.0), 6)
                pp = pitch_profile(pcm, sr)
                if pp is not None:
                    out["voiced_ratio"][i] = round(pp[1], 4)
                    if not np.isnan(pp[2]):
                        out["hum_db"][i] = round(pp[2], 2)
            yield pa.RecordBatch.from_arrays(
                [
                    col["clip_id"],
                    pa.array(ok),
                    pa.array(list(status), type=pa.string()),
                    pa.array(srs, type=pa.int32()),
                    *[
                        pa.array(out[f.name], mask=np.isnan(out[f.name]))
                        for f in SCORECARD_SCHEMA.fields[4:]
                    ],
                ],
                names=[f.name for f in SCORECARD_SCHEMA.fields],
            )

    return df.select("clip_id", "bytes").mapInArrow(run, SCORECARD_SCHEMA)


# shared flag layer — identical text in the oracle
_FLAGS = {
    "flag_undecodable": "decode_status = 'failed'",
    # every condition is coalesce(..., FALSE): a decodable clip too short
    # for an analysis frame has NULL spectral/voicing features, and
    # three-valued logic would otherwise make its flags AND qa_pass NULL —
    # vanishing from every rollup bucket. flag_short owns that case.
    "flag_short": "coalesce(decode_ok AND silence_ratio < 0.99 AND bandwidth_ratio IS NULL, FALSE)",
    "flag_silent": "coalesce(decode_ok AND silence_ratio >= 0.99, FALSE)",
    "flag_dead_air": "coalesce(decode_ok AND silence_ratio < 0.99 AND longest_silence_ms >= 100.0, FALSE)",
    "flag_clipped": "coalesce(decode_ok AND clip_ratio >= 0.01, FALSE)",
    # -35 dBFS: low enough to catch under-leveled takes, high enough that
    # the clip is still above the 0.01 (-40 dBFS) silence threshold — a
    # quieter tone would read as digital silence, not as "quiet"
    "flag_quiet": "coalesce(decode_ok AND silence_ratio < 0.99 AND rms_dbfs <= -35.0, FALSE)",
    "flag_upsampled": "coalesce(decode_ok AND silence_ratio < 0.99 AND bandwidth_ratio <= 0.25, FALSE)",
    "flag_hum": "coalesce(decode_ok AND hum_db >= -15.0, FALSE)",
}
_PASS = " AND NOT ".join(["decode_ok"] + [f"({c})" for c in list(_FLAGS.values())[1:]])


def classify_scorecard(feats: DataFrame) -> DataFrame:
    out = feats
    for name, cond in _FLAGS.items():
        out = out.withColumn(name, F.expr(cond))
    return out.withColumn("qa_pass", F.expr(_PASS))


# ---- mixed-defect fixture + registered query --------------------------------


def generate_qa_clips(spark, n: int) -> DataFrame:
    """48 kHz 0.8 s clips, one planted defect per residue class:
    silence (%31==8), hum (%13==2), upsampled (%11==5), clipped (%19==7),
    quiet -38 dBFS (%23==9), mid-clip 150 ms dead air (%29==11),
    else clean voiced wideband."""
    import pandas as pd

    from macrobase_spark.operators.audio import sin_samples, u01, wav_bytes
    from macrobase_spark.operators.resample import resample_sinc

    sr = 48000
    ns = int(sr * 0.8)
    period = 240  # 200 Hz fundamental at 48 kHz — integer period, exact tiling

    def wideband(length: int, seed: int, rms: float = 0.19) -> np.ndarray:
        """Periodic 200 Hz comb with flat harmonics to 0.85x Nyquist:
        voiced for YIN, wideband for the rolloff check, cheap to render
        (one 240-point irFFT tiled)."""
        kmax = int(0.85 * (period // 2))
        ph = 2.0 * np.pi * u01(np.arange(1, kmax + 1, dtype=np.uint64), salt=777 + seed)
        spec = np.zeros(period // 2 + 1, dtype=complex)
        spec[1 : kmax + 1] = np.exp(1j * ph)
        per = np.fft.irfft(spec)
        per *= rms / np.sqrt(np.mean(per * per))
        return np.tile(per, length // period + 1)[:length]

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from macrobase_spark.operators.mp3 import mp3_frame

        for pdf in batches:
            rows = []
            for s in pdf["id"]:
                i = int(s)
                if i % 41 == 13:
                    # corrupt payload: no known magic, no sync anywhere —
                    # must land in decode_status='failed'
                    junk = (
                        np.clip(
                            (u01(np.arange(200, dtype=np.uint64), salt=911 + i) * 200),
                            0,
                            200,
                        )
                        .astype(np.uint8)
                        .tobytes()
                    )
                    rows.append((f"qclip_{i:09d}", b"\x00\x01" + junk))
                    continue
                if i % 37 == 12:
                    # structurally-valid mp3 frame stream: out of decode
                    # scope → decode_status='skipped_compressed', never
                    # counted as a decode FAILURE
                    buf = b"".join(
                        mp3_frame(7, i % 3, (i + k) % 2, seed=i * 31 + k)
                        for k in range(4)
                    )
                    rows.append((f"qclip_{i:09d}", buf))
                    continue
                if i % 31 == 8:
                    sig = np.zeros(ns)
                elif i % 13 == 2:
                    sig = wideband(ns, i % 7) + 0.35 * sin_samples(
                        2 * np.pi * 50.0 / sr, ns
                    )
                elif i % 11 == 5:
                    # 8 kHz-bandwidth content sinc-upsampled into the 48 kHz
                    # container: a narrowband 5-harmonic voice stand-in
                    f0 = 165.0 + 20.0 * (i % 5)
                    lo = np.zeros(int(8000 * 0.8))
                    for k in range(1, 6):
                        lo += 0.12 * sin_samples(
                            2 * np.pi * k * f0 / 8000.0, len(lo), phase=0.41 * k
                        )
                    sig = resample_sinc(lo, 8000, sr)[:ns]
                elif i % 19 == 7:
                    sig = np.clip(3.0 * wideband(ns, i % 7), -1.0, 1.0)
                elif i % 23 == 9:
                    sig = wideband(ns, i % 7, rms=0.0126)  # ~-38 dBFS
                elif i % 29 == 11:
                    sig = wideband(ns, i % 7)
                    at = int(ns * 0.4)
                    sig[at : at + int(sr * 0.150)] = 0.0  # mid-clip dead air
                else:
                    sig = wideband(ns, i % 7)
                pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
                rows.append((f"qclip_{i:09d}", wav_bytes(pcm, sr)))
            yield pd.DataFrame(rows, columns=["clip_id", "bytes"])

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(0, n, numPartitions=parts).mapInPandas(
        gen, "clip_id string, bytes binary"
    )


@artifact("scorecard", 2)
def scorecard_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    scorecard_features(generate_qa_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(out)


_SC = scorecard_parquet.scan()
_FLAG_SQL = ",\n           ".join(
    f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
    for name, cond in _FLAGS.items()
)


@register(
    "clips_qa_scorecard",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           {_FLAG_SQL},
           CAST(sum(CASE WHEN decode_status = 'skipped_compressed'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_compressed,
           CAST(sum(CASE WHEN {_PASS} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(avg(CASE WHEN decode_ok THEN rms_dbfs END), 2) AS avg_rms_dbfs
    FROM {_SC}
    """,
)
def clips_qa_scorecard(spark, sf_dir: str) -> DataFrame:
    """One-row corpus scorecard: every flag count + the overall pass count
    off the fused single-scan feature relation, replayed verbatim by the
    oracle. `n_skipped_compressed` reports out-of-decode-scope clips
    SEPARATELY from flag_undecodable (decode failures): a corpus whose mp3
    clips were never decodable-by-scope must not read as a decode-failure
    spike."""
    feats = spark.read.parquet(scorecard_parquet(spark, sf_dir))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for name, cond in _FLAGS.items():
        aggs.append(
            F.sum(F.when(F.expr(cond), 1).otherwise(0)).cast("long").alias(name)
        )
    aggs.append(
        F.sum(F.when(F.col("decode_status") == "skipped_compressed", 1).otherwise(0))
        .cast("long")
        .alias("n_skipped_compressed")
    )
    aggs.append(
        F.sum(F.when(F.expr(_PASS), 1).otherwise(0)).cast("long").alias("n_pass")
    )
    aggs.append(
        F.round(
            F.avg(F.when(F.col("decode_ok"), F.col("rms_dbfs"))), 2
        ).alias("avg_rms_dbfs")
    )
    return feats.agg(*aggs)
