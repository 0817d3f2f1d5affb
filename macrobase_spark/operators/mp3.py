"""MP3 (MPEG-1 Layer III) stream-integrity validation — header parse +
frame-length walk, NO audio decode.

Full mp3 PCM decode needs the standardized Huffman/IMDCT tables the
runtime lacks (a documented non-port, like opus/aac — see PLANS.md);
but a 10^12-clip validation engine can still GATE mp3 payloads, because
everything an integrity check needs lives in the 4-byte frame headers:
sync pattern, version/layer, bitrate and sample-rate indices, padding.
Walking `frame_len = floor(144 * bitrate / sr) + pad` from frame to
frame verifies the whole stream's structure and yields frame count,
exact sample-accurate duration (1152 samples per MPEG-1 Layer III
frame), CBR/VBR mode, and the precise byte where a truncated or
corrupted stream breaks — the same triage the container-magic sniff
(operators/sniff.py) gives WAV/FLAC, one level deeper.

Reference parity: the reference engine ingests CSV rows and has no
binary payloads; this serves the build brief's multimodal validation
contract (BASELINE input_hint: bytes:binary + codec:string).

Spark-first shape: the walk is a mapInPandas pass over Arrow batches —
per clip it is an O(n_frames) pointer chase doing constant work per
frame (a few int ops on 4 header bytes; ~8 frames per 200 ms fixture
clip, ~380 frames for a real 10 s clip), with NO sample-level math, so
there is nothing to vectorize below the clip grain. One scan of the
payload bytes ever; the emitted profile relation is ~60 bytes/row and
every downstream check (verdict CASE, duration-vs-metadata, stats
aggregate) is pure codegen SQL replayed verbatim by the DuckDB oracle
over the materialized profile parquet.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.queries import register

# MPEG-1 Layer III tables (ISO/IEC 11172-3). Index 0 = "free format"
# (sender-defined length — unwalkable without decode, treated as stream
# end), index 15 = forbidden.
BITRATE_KBPS = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0]
SR_HZ = [44100, 48000, 32000, 0]  # index 3 reserved
SAMPLES_PER_FRAME = 1152


# ---------------------------------------------------------------------------
# frame/stream builders (deterministic fixtures)
# ---------------------------------------------------------------------------


def mp3_frame(br_idx: int, sr_idx: int, pad: int, seed: int) -> bytes:
    """One syntactically-valid MPEG-1 Layer III frame: 4-byte header +
    deterministic filler body (the walker never reads the body)."""
    hdr = bytes(
        [
            0xFF,
            0xFB,  # sync(11) + MPEG-1(2) + Layer III(2) + no-CRC(1)
            (br_idx << 4) | (sr_idx << 2) | (pad << 1),
            0xC0,  # mono, no mode ext, no copyright/original, no emphasis
        ]
    )
    flen = (144 * BITRATE_KBPS[br_idx] * 1000) // SR_HZ[sr_idx] + pad
    rng = np.random.default_rng(seed)
    body = rng.integers(0, 256, size=flen - 4, dtype=np.uint8).tobytes()
    return hdr + body


def id3v2_tag(n_payload: int, seed: int) -> bytes:
    """Minimal ID3v2.3 tag: 10-byte header with a syncsafe size + filler."""
    ss = bytes(
        [(n_payload >> 21) & 0x7F, (n_payload >> 14) & 0x7F, (n_payload >> 7) & 0x7F, n_payload & 0x7F]
    )
    rng = np.random.default_rng(seed)
    return b"ID3\x03\x00\x00" + ss + rng.integers(0, 256, size=n_payload, dtype=np.uint8).tobytes()


def mp3_stream(clip_id: int, n_frames: int) -> tuple[bytes, int, int]:
    """Deterministic mp3 stream for a clip id. Returns (bytes, sr_hz,
    true_dur_ms). Plants (residues chosen to rarely coincide, but NOT
    disjoint — id 118 hits both %113==5 and %101==17, where the walk
    stops at the corrupt 2nd frame and the verdict precedence reports
    'corrupt_stream', masking the truncation; both engines see the same
    rows either way):

    - id % 127 == 21  hash-garbage payload (no sync anywhere)
    - id % 101 == 17  truncated final frame (last 40 bytes cut)
    - id % 113 == 5   corrupt sync mid-stream (2nd frame header zeroed)
    - id % 7   == 3   ID3v2 tag prefix (clean — the walker skips it)
    - id % 5   == 2   VBR (bitrate index alternates per frame)
    """
    i = int(clip_id)
    sr_idx = i % 3
    sr = SR_HZ[sr_idx]
    if i % 127 == 21:
        rng = np.random.default_rng(i)
        return rng.integers(1, 255, size=256, dtype=np.uint8).tobytes(), sr, 0
    base_br = 5 + (i % 7)  # indices 5..11 -> 64..192 kbps
    frames = []
    for k in range(n_frames):
        br_idx = base_br if i % 5 != 2 else (base_br if k % 2 == 0 else base_br + 2)
        pad = (i + k) % 2
        frames.append(mp3_frame(br_idx, sr_idx, pad, seed=i * 1009 + k))
    buf = b"".join(frames)
    if i % 7 == 3:
        buf = id3v2_tag(64 + i % 64, seed=i) + buf
    if i % 113 == 5 and len(frames) > 2:
        head = len(buf) - sum(len(f) for f in frames[1:])
        buf = buf[:head] + b"\x00" + buf[head + 1 :]  # kill 2nd frame's sync
    if i % 101 == 17:
        buf = buf[:-40]
    true_dur_ms = round(n_frames * SAMPLES_PER_FRAME * 1000 / sr)
    return buf, sr, true_dur_ms


def generate_mp3_clips(spark: SparkSession, n: int, n_frames: int = 8) -> DataFrame:
    """(clip_id, bytes, sr_hz, dur_ms, codec='mp3') fixture table —
    deterministic at any partitioning (pure function of the id)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for s in pdf["id"].to_numpy():
                buf, sr, dur = mp3_stream(int(s), n_frames)
                rows.append((f"mp3-{int(s):08d}", buf, sr, dur, "mp3"))
            yield pd.DataFrame(
                rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]
            )

    return spark.range(n).mapInPandas(
        gen, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )


# ---------------------------------------------------------------------------
# the walker
# ---------------------------------------------------------------------------


def walk_mp3(buf: bytes | None) -> tuple[int, float, int, int, int, int, bool, int]:
    """Frame-walk an MPEG-1 Layer III stream. Returns
    (n_frames, est_dur_ms, sr_hz, br_kbps_min, br_kbps_max, id3_bytes,
    truncated, junk_trailing).

    Walk stops at: no/broken sync, non-MPEG-1-Layer-III header, free or
    forbidden bitrate index, reserved sample-rate index, or a frame
    extending past the buffer (-> truncated=True). Bytes from the stop
    point to the end count as junk_trailing."""
    if not buf:
        return 0, 0.0, 0, 0, 0, 0, False, 0
    n = len(buf)
    pos = 0
    id3 = 0
    if n >= 10 and buf[0:3] == b"ID3":
        size = ((buf[6] & 0x7F) << 21) | ((buf[7] & 0x7F) << 14) | ((buf[8] & 0x7F) << 7) | (buf[9] & 0x7F)
        id3 = min(10 + size, n)
        pos = id3
    frames = 0
    dur_ms = 0.0
    sr_first = 0
    br_min, br_max = 0, 0
    truncated = False
    while pos + 4 <= n:
        b0, b1, b2 = buf[pos], buf[pos + 1], buf[pos + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
            break  # not MPEG-1 Layer III
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            break
        br = BITRATE_KBPS[br_idx]
        sr = SR_HZ[sr_idx]
        flen = (144 * br * 1000) // sr + pad
        if pos + flen > n:
            truncated = True
            break
        frames += 1
        dur_ms += SAMPLES_PER_FRAME * 1000.0 / sr
        if frames == 1:
            sr_first, br_min, br_max = sr, br, br
        else:
            br_min, br_max = min(br_min, br), max(br_max, br)
        pos += flen
    return frames, dur_ms, sr_first, br_min, br_max, id3, truncated, n - pos


_PROFILE_SCHEMA = (
    "clip_id string, dur_ms int, n_frames int, est_dur_ms double, sr_hz_stream int, "
    "br_kbps_min int, br_kbps_max int, id3_bytes int, truncated boolean, junk_trailing int"
)


def mp3_profiles(df: DataFrame) -> DataFrame:
    """Per-clip stream profile in ONE mapInPandas scan of the payload
    bytes; the output relation is narrow (no payload) so everything
    downstream is codegen over ~60-byte rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for cid, dm, b in zip(pdf["clip_id"], pdf["dur_ms"], pdf["bytes"]):
                f, ed, sr, bmin, bmax, id3, tr, junk = walk_mp3(
                    bytes(b) if b is not None else None
                )
                out.append((cid, int(dm), f, ed, sr, bmin, bmax, id3, tr, junk))
            yield pd.DataFrame(
                out,
                columns=[
                    "clip_id", "dur_ms", "n_frames", "est_dur_ms", "sr_hz_stream",
                    "br_kbps_min", "br_kbps_max", "id3_bytes", "truncated", "junk_trailing",
                ],
            )

    return df.select("clip_id", "dur_ms", "bytes").mapInPandas(run, _PROFILE_SCHEMA)


# verdict is a pure CASE over the profile columns — identical SQL in both
# engines. Order matters: a truncated stream also has junk after the
# break point, so truncation is tested first.
_VERDICT_SQL = """
CASE WHEN n_frames = 0 THEN 'no_sync'
     WHEN truncated THEN 'truncated'
     WHEN junk_trailing > 0 THEN 'corrupt_stream'
     ELSE 'ok' END
"""


def mp3_verdict_col():
    return F.expr(_VERDICT_SQL)


# ---------------------------------------------------------------------------
# materialized fixture + registered query
# ---------------------------------------------------------------------------


def mp3_fixture_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe of the profile relation: synthesize the mp3 fixture, walk
    every stream once."""
    return mp3_profiles(generate_mp3_clips(spark, decode_fixture_n(sf_dir)))


def stream_scorecard(p: DataFrame, verdict, *counts) -> DataFrame:
    """Per-verdict rollup of a stream-profile relation (mp3, ADTS, Ogg):
    clip count, the format's `counts`, and the worst duration
    disagreement between the walked stream and the dur_ms metadata among
    clean clips (0.5 ms rounding bound certifies the walk is
    sample-accurate). ONE partial+final hash aggregate."""
    return (
        p.groupBy(verdict.alias("verdict"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *counts,
            F.round(
                F.max(
                    F.when(
                        verdict == "ok", F.abs(F.col("est_dur_ms") - F.col("dur_ms"))
                    ).otherwise(F.lit(0.0))
                ),
                4,
            ).alias("max_ok_dur_err_ms"),
        )
        .orderBy("verdict")
    )


def mp3_scorecard(p: DataFrame) -> DataFrame:
    """mp3 stream-integrity scorecard: VBR clip count and total walked
    frames per verdict."""
    return stream_scorecard(
        p,
        mp3_verdict_col(),
        F.sum((F.col("br_kbps_max") > F.col("br_kbps_min")).cast("int"))
        .cast("long")
        .alias("n_vbr"),
        F.sum("n_frames").cast("long").alias("frames"),
    )


@artifact("mp3prof", 1)
def mp3_profiles_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    mp3_fixture_profiles(spark, sf_dir).write.mode("overwrite").parquet(out)


_MP = mp3_profiles_parquet.scan()


@register(
    "mp3_integrity_stats",
    f"""
    SELECT {_VERDICT_SQL} AS verdict,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN br_kbps_max > br_kbps_min THEN 1 ELSE 0 END) AS BIGINT) AS n_vbr,
           CAST(sum(n_frames) AS BIGINT) AS frames,
           round(max(CASE WHEN {_VERDICT_SQL} = 'ok'
                          THEN abs(est_dur_ms - dur_ms) ELSE 0 END), 4) AS max_ok_dur_err_ms
    FROM {_MP}
    GROUP BY 1
    ORDER BY 1
    """,
)
def mp3_integrity_stats_q(spark, sf_dir: str) -> DataFrame:
    """`mp3_scorecard` over the materialized profile relation (the files
    the oracle reads)."""
    return mp3_scorecard(spark.read.parquet(mp3_profiles_parquet(spark, sf_dir)))
