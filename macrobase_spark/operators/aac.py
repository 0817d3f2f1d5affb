"""AAC/ADTS stream-integrity validation — header parse + frame walk,
NO audio decode (the mp3.py companion; same design, different framing).

ADTS framing makes the walk even simpler than mp3: each frame's header
carries an EXPLICIT 13-bit aac_frame_length (header included), so the
walker needs no bitrate/sample-rate arithmetic to step — the length
field itself is what gets validated (a corrupt length desyncs the walk
at the next header, which is exactly the triage signal). Per frame the
header also yields the sampling-frequency index, channel configuration,
protection (CRC present) flag, and number_of_raw_data_blocks (each
block = 1024 PCM samples), so the walk produces frame count and
sample-accurate duration to compare against the dur_ms metadata.

Spark-first shape: identical to operators/mp3.py — one mapInPandas scan
of the payload bytes (O(n_frames) pointer chase per clip, constant work
per frame), narrow profile relation out, verdict CASE + stats aggregate
as codegen SQL replayed verbatim by the DuckDB oracle over the
materialized profiles. Reference parity note: the reference ingests CSV
and has no binary payloads; this serves the build brief's multimodal
validation contract.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.operators.mp3 import stream_scorecard
from macrobase_spark.queries import register

# ISO/IEC 14496-3 sampling_frequency_index table (13 valid entries).
ADTS_SR_HZ = [
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
]
SAMPLES_PER_BLOCK = 1024


def adts_frame(
    sr_idx: int, channels: int, payload_len: int, seed: int, rdb: int = 0, crc: bool = False
) -> bytes:
    """One syntactically-valid ADTS frame (MPEG-4 AAC-LC profile):
    7-byte header (9 with CRC) + deterministic filler payload."""
    hdr_len = 9 if crc else 7
    flen = hdr_len + payload_len
    b = bytearray(hdr_len)
    b[0] = 0xFF
    b[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)  # MPEG-4, layer 0
    b[2] = (1 << 6) | (sr_idx << 2) | ((channels >> 2) & 0x1)  # AAC-LC profile
    b[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
    b[4] = (flen >> 3) & 0xFF
    b[5] = ((flen & 0x7) << 5) | 0x1F  # buffer fullness high bits (VBR marker)
    b[6] = (0x3F << 2) | (rdb & 0x3)
    if crc:
        b[7] = b[8] = 0  # CRC bytes (not validated by the walker)
    rng = np.random.default_rng(seed)
    return bytes(b) + rng.integers(0, 256, size=payload_len, dtype=np.uint8).tobytes()


def adts_stream(clip_id: int, n_frames: int) -> tuple[bytes, int, int]:
    """Deterministic ADTS stream per clip id. Returns (bytes, sr_hz,
    true_dur_ms). Plants (residues rarely coincide but are NOT disjoint
    — id 118 hits both %113==5 and %101==17; the walk stops at the
    corrupt length first and precedence reports 'corrupt_stream'):

    - id % 127 == 21  hash-garbage payload (no sync)
    - id % 101 == 17  truncated final frame (30 bytes cut)
    - id % 113 == 5   corrupt frame-length field mid-stream (desync)
    - id % 7   == 3   CRC-protected headers (clean, 9-byte header)
    - id % 5   == 2   two raw-data-blocks per frame (2048 samples)
    """
    i = int(clip_id)
    sr_idx = 3 + (i % 6)  # 48000..16000
    sr = ADTS_SR_HZ[sr_idx]
    if i % 127 == 21:
        rng = np.random.default_rng(i)
        return rng.integers(1, 255, size=256, dtype=np.uint8).tobytes(), sr, 0
    crc = i % 7 == 3
    rdb = 1 if i % 5 == 2 else 0
    frames = [
        adts_frame(sr_idx, 1 + (i % 2), 120 + ((i + k) % 40), seed=i * 2003 + k, rdb=rdb, crc=crc)
        for k in range(n_frames)
    ]
    if i % 113 == 5 and n_frames > 2:
        # scramble the explicit frame length to a SHORT value: the walk
        # steps into the frame's own filler payload and loses sync there
        f1 = bytearray(frames[1])
        f1[3] &= 0xFC
        f1[4] = 2
        f1[5] &= 0x1F  # flen = 16
        frames[1] = bytes(f1)
    buf = b"".join(frames)
    if i % 101 == 17:
        buf = buf[:-30]
    true_dur_ms = round(n_frames * (rdb + 1) * SAMPLES_PER_BLOCK * 1000 / sr)
    return buf, sr, true_dur_ms


def generate_adts_clips(spark: SparkSession, n: int, n_frames: int = 8) -> DataFrame:
    """(clip_id, bytes, sr_hz, dur_ms, codec='aac') fixture table —
    deterministic at any partitioning."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for s in pdf["id"].to_numpy():
                buf, sr, dur = adts_stream(int(s), n_frames)
                rows.append((f"aac-{int(s):08d}", buf, sr, dur, "aac"))
            yield pd.DataFrame(
                rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]
            )

    return spark.range(n).mapInPandas(
        gen, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )


def walk_adts(buf: bytes | None) -> tuple[int, float, int, int, int, bool, int]:
    """Frame-walk an ADTS stream. Returns (n_frames, est_dur_ms, sr_hz,
    channels, n_crc_frames, truncated, junk_trailing).

    Walk stops at: broken sync, layer != 0, invalid sampling index,
    frame length < header size (a scrambled length field), a header the
    NEXT step lands outside sync on, or a frame extending past the
    buffer (-> truncated). An ID3v2 tag prefix is skipped (ID3 fronts
    ADTS streams in the wild just like mp3; the gate routes them here)."""
    if not buf:
        return 0, 0.0, 0, 0, 0, False, 0
    n = len(buf)
    pos = 0
    if n >= 10 and buf[0:3] == b"ID3":
        size = ((buf[6] & 0x7F) << 21) | ((buf[7] & 0x7F) << 14) | ((buf[8] & 0x7F) << 7) | (buf[9] & 0x7F)
        pos = min(10 + size, n)
    frames = 0
    dur_ms = 0.0
    sr_first = 0
    ch_first = 0
    n_crc = 0
    truncated = False
    while pos + 7 <= n:
        b = buf[pos : pos + 7]
        if b[0] != 0xFF or (b[1] & 0xF0) != 0xF0:
            break
        if (b[1] >> 1) & 0x3 != 0:  # layer must be 00
            break
        protection_absent = b[1] & 0x1
        sr_idx = (b[2] >> 2) & 0xF
        if sr_idx >= len(ADTS_SR_HZ):
            break
        ch = ((b[2] & 0x1) << 2) | ((b[3] >> 6) & 0x3)
        flen = ((b[3] & 0x3) << 11) | (b[4] << 3) | ((b[5] >> 5) & 0x7)
        hdr_len = 7 if protection_absent else 9
        if flen < hdr_len:
            break  # impossible length -> corrupt header
        if pos + flen > n:
            truncated = True
            break
        rdb = buf[pos + 6] & 0x3
        frames += 1
        sr = ADTS_SR_HZ[sr_idx]
        dur_ms += (rdb + 1) * SAMPLES_PER_BLOCK * 1000.0 / sr
        if frames == 1:
            sr_first, ch_first = sr, ch
        if not protection_absent:
            n_crc += 1
        pos += flen
    return frames, dur_ms, sr_first, ch_first, n_crc, truncated, n - pos


_PROFILE_SCHEMA = (
    "clip_id string, dur_ms int, n_frames int, est_dur_ms double, sr_hz_stream int, "
    "channels int, n_crc_frames int, truncated boolean, junk_trailing int"
)


def adts_profiles(df: DataFrame) -> DataFrame:
    """Per-clip ADTS profile in ONE mapInPandas scan of the payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for cid, dm, b in zip(pdf["clip_id"], pdf["dur_ms"], pdf["bytes"]):
                f, ed, sr, ch, nc, tr, junk = walk_adts(
                    bytes(b) if b is not None else None
                )
                out.append((cid, int(dm), f, ed, sr, ch, nc, tr, junk))
            yield pd.DataFrame(
                out,
                columns=[
                    "clip_id", "dur_ms", "n_frames", "est_dur_ms", "sr_hz_stream",
                    "channels", "n_crc_frames", "truncated", "junk_trailing",
                ],
            )

    return df.select("clip_id", "dur_ms", "bytes").mapInPandas(run, _PROFILE_SCHEMA)


_VERDICT_SQL = """
CASE WHEN n_frames = 0 THEN 'no_sync'
     WHEN truncated THEN 'truncated'
     WHEN junk_trailing > 0 THEN 'corrupt_stream'
     ELSE 'ok' END
"""


def adts_verdict_col():
    return F.expr(_VERDICT_SQL)


def adts_fixture_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe of the profile relation: synthesize the ADTS fixture, walk
    every stream once."""
    return adts_profiles(generate_adts_clips(spark, decode_fixture_n(sf_dir)))


def adts_scorecard(p: DataFrame) -> DataFrame:
    """ADTS scorecard: CRC-protected clip count and total walked frames
    per verdict."""
    return stream_scorecard(
        p,
        adts_verdict_col(),
        F.sum((F.col("n_crc_frames") > 0).cast("int")).cast("long").alias("n_crc_clips"),
        F.sum("n_frames").cast("long").alias("frames"),
    )


@artifact("adtsprof", 1)
def adts_profiles_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    adts_fixture_profiles(spark, sf_dir).write.mode("overwrite").parquet(out)


_AP = adts_profiles_parquet.scan()


@register(
    "aac_integrity_stats",
    f"""
    SELECT {_VERDICT_SQL} AS verdict,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN n_crc_frames > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_crc_clips,
           CAST(sum(n_frames) AS BIGINT) AS frames,
           round(max(CASE WHEN {_VERDICT_SQL} = 'ok'
                          THEN abs(est_dur_ms - dur_ms) ELSE 0 END), 4) AS max_ok_dur_err_ms
    FROM {_AP}
    GROUP BY 1
    ORDER BY 1
    """,
)
def aac_integrity_stats_q(spark, sf_dir: str) -> DataFrame:
    """`adts_scorecard` over the materialized profile relation (the files
    the oracle reads)."""
    return adts_scorecard(spark.read.parquet(adts_profiles_parquet(spark, sf_dir)))
