"""Transport gate — the single entry-point scan of a mixed-format audio
corpus: sniff each payload's actual container, route it to the matching
structural validator (mp3/ADTS/Ogg walkers, RIFF/FLAC container
checks), and verify the DECLARED codec agrees with what the bytes are.

At 10^12 clips the declared `codec` column is metadata somebody wrote,
not ground truth — the first pass a validation engine runs is exactly
this: one map-only scan that (a) detects the real transport from the
bytes, (b) runs the cheapest structural check that transport supports,
and (c) flags label/payload disagreement before any decode cycles are
spent. The per-format deep checks (decode+SNR for WAV/FLAC, the
frame/page walks for mp3/ADTS/Ogg) each exist as their own operators;
the gate is the router in front of them.

Spark-first shape: ONE mapInPandas scan of the payload bytes emits a
narrow (clip_id, codec, format_detected, verdict, label_ok) relation;
the stats rollup and the verdict/label CASE logic are codegen SQL
replayed verbatim by the DuckDB oracle over the materialized gate
relation. Detection order is magic-based, not declared-codec-based, so
a mislabeled clip still lands in the RIGHT structural check.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.queries import register
from macrobase_spark.operators.aac import adts_stream, walk_adts
from macrobase_spark.operators.mp3 import mp3_stream, walk_mp3
from macrobase_spark.operators.ogg import ogg_opus_stream, walk_ogg

# declared codec -> transport family the gate expects the payload in
EXPECTED_FORMAT = {
    "pcm_s16le": "wav",
    "mulaw": "wav",
    "alaw": "wav",
    "adpcm": "wav",
    "flac": "flac",
    "mp3": "mp3",
    "aac": "adts",
    "opus": "ogg",
}


def detect_format(buf: bytes | None) -> str:
    """Magic-based transport detection (never trusts metadata)."""
    if not buf or len(buf) < 4:
        return "empty"
    if buf[:4] == b"RIFF":
        return "wav"
    if buf[:4] == b"FORM":
        return "aiff"
    if buf[:4] == b"fLaC":
        return "flac"
    if buf[:4] == b"OggS":
        return "ogg"
    if buf[:3] == b"ID3":
        # ID3v2 fronts BOTH mp3 and ADTS streams in the wild: peek past
        # the tag (syncsafe size) and classify the first frame header
        if len(buf) >= 10:
            size = (
                ((buf[6] & 0x7F) << 21)
                | ((buf[7] & 0x7F) << 14)
                | ((buf[8] & 0x7F) << 7)
                | (buf[9] & 0x7F)
            )
            p = 10 + size
            if p + 2 <= len(buf) and buf[p] == 0xFF:
                if (buf[p + 1] & 0xF0) == 0xF0 and (buf[p + 1] >> 1) & 0x3 == 0:
                    return "adts"
        return "mp3"
    if buf[0] == 0xFF and (buf[1] & 0xF0) == 0xF0 and (buf[1] >> 1) & 0x3 == 0:
        return "adts"  # 0xFFF sync with layer 00
    if buf[0] == 0xFF and (buf[1] & 0xE0) == 0xE0:
        return "mp3"  # 0xFFE sync with a layer field
    return "unknown"


def _check_wav(buf: bytes) -> str:
    """RIFF/WAVE structural walk: fourcc + declared RIFF size vs actual
    length, then the CHUNK CHAIN — ids/sizes must chain inside the
    buffer (odd sizes pad per spec) and a playable file needs both a
    `fmt ` and a `data` chunk. No decode (that is audio.decode_audio's
    job); this localizes truncation/corruption at the chunk grain."""
    if len(buf) < 12 or buf[8:12] != b"WAVE":
        return "corrupt_stream"
    declared = int.from_bytes(buf[4:8], "little")
    if declared + 8 > len(buf):
        return "truncated"
    pos = 12
    saw_fmt = saw_data = False
    while pos + 8 <= declared + 8:
        cid = buf[pos : pos + 4]
        csz = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            saw_fmt = True
        elif cid == b"data":
            saw_data = True
        adv = 8 + csz + (csz & 1)
        if pos + adv > len(buf):
            return "truncated"
        pos += adv
    if not (saw_fmt and saw_data):
        return "corrupt_stream"
    return "ok"


def _check_aiff(buf: bytes) -> str:
    """AIFF/AIFC structural walk — the big-endian IFF mirror of the RIFF
    check: FORM size vs actual length, then the chunk chain (odd sizes
    pad); a playable file needs both a COMM and an SSND chunk."""
    if len(buf) < 12 or buf[8:12] not in (b"AIFF", b"AIFC"):
        return "corrupt_stream"
    declared = int.from_bytes(buf[4:8], "big")
    if declared + 8 > len(buf):
        return "truncated"
    pos = 12
    saw_comm = saw_ssnd = False
    while pos + 8 <= declared + 8:
        cid = buf[pos : pos + 4]
        csz = int.from_bytes(buf[pos + 4 : pos + 8], "big")
        if cid == b"COMM":
            saw_comm = True
        elif cid == b"SSND":
            saw_ssnd = True
        adv = 8 + csz + (csz & 1)
        if pos + adv > len(buf):
            return "truncated"
        pos += adv
    if not (saw_comm and saw_ssnd):
        return "corrupt_stream"
    return "ok"


def _check_flac(buf: bytes) -> str:
    """FLAC metadata-block walk (no decode — operators/flac.py does the
    full CRC/MD5-verified decode): STREAMINFO must be FIRST and unique
    (format requirements), block type 127 is invalid, block lengths must
    chain inside the buffer, and the audio section after the last
    metadata block must open on a frame sync (0xFF 0xF8..0xFB)."""
    if len(buf) < 8:
        return "corrupt_stream"
    pos = 4
    first = True
    saw_streaminfo = False
    last = False
    while pos + 4 <= len(buf):
        hdr = buf[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        if btype == 127:
            return "corrupt_stream"
        if first and btype != 0:
            return "corrupt_stream"
        if btype == 0:
            if saw_streaminfo:
                return "corrupt_stream"  # duplicate STREAMINFO
            saw_streaminfo = True
        blen = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(buf):
            return "truncated"
        pos += 4 + blen
        first = False
        if last:
            break
    if not saw_streaminfo or not last:
        return "truncated" if saw_streaminfo else "corrupt_stream"
    if pos + 2 > len(buf):
        return "truncated"  # metadata only, no audio frames
    if buf[pos] != 0xFF or (buf[pos + 1] & 0xFC) != 0xF8:
        return "corrupt_stream"
    return "ok"


def _walk_verdict(frames: int, truncated: bool, junk: int) -> str:
    """The shared precedence of the mp3/ADTS walkers' _VERDICT_SQL,
    stated once so the gate cannot drift from the per-format queries."""
    if frames == 0:
        return "no_sync"
    if truncated:
        return "truncated"
    return "corrupt_stream" if junk else "ok"


def gate_clip(buf: bytes | None) -> tuple[str, str]:
    """(format_detected, verdict) for one payload."""
    fmt = detect_format(buf)
    if fmt == "empty":
        return fmt, "no_payload"
    if fmt == "unknown":
        return fmt, "no_sync"
    if fmt == "wav":
        return fmt, _check_wav(buf)
    if fmt == "aiff":
        return fmt, _check_aiff(buf)
    if fmt == "flac":
        return fmt, _check_flac(buf)
    if fmt == "mp3":
        f, _ed, _sr, _bn, _bx, _id3, tr, junk = walk_mp3(buf)
        return fmt, _walk_verdict(f, tr, junk)
    if fmt == "adts":
        f, _ed, _sr, _ch, _nc, tr, junk = walk_adts(buf)
        return fmt, _walk_verdict(f, tr, junk)
    # ogg
    r = walk_ogg(buf)
    n_pages, crc_bad, gaps, _bos, _eos, ch, _skip, _dur, tr, _junk = r
    v = (
        # same vocabulary as ogg.py's _VERDICT_SQL: a pageless Ogg payload
        # is 'no_capture' (no "OggS" capture pattern), NOT the mp3/ADTS
        # walkers' 'no_sync' — keeping the labels identical lets gate
        # rollups be cross-referenced with opus_integrity_stats directly
        "no_capture" if n_pages == 0
        else "truncated" if tr
        else "corrupt_stream" if (crc_bad or gaps)
        else "no_opus_head" if ch == 0
        else "ok"
    )
    return fmt, v


def transport_gate(df: DataFrame) -> DataFrame:
    """ONE mapInPandas scan: sniff + route + structural check + label
    agreement. Output is narrow; every downstream rollup is codegen."""

    expected = EXPECTED_FORMAT

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for cid, codec, b in zip(pdf["clip_id"], pdf["codec"], pdf["bytes"]):
                fmt, verdict = gate_clip(bytes(b) if b is not None else None)
                out.append(
                    (cid, codec, fmt, verdict, expected.get(codec, "unknown") == fmt)
                )
            yield pd.DataFrame(
                out,
                columns=["clip_id", "codec", "format_detected", "verdict", "label_ok"],
            )

    return df.select("clip_id", "codec", "bytes").mapInPandas(
        run,
        "clip_id string, codec string, format_detected string, verdict string, label_ok boolean",
    )


def generate_mixed_clips(spark: SparkSession, n: int) -> DataFrame:
    """Mixed-transport corpus: ids cycle through mp3 / ADTS / Ogg-Opus
    streams (each generator's own defect plants ride along), with a
    MISLABELING plant on top: id % 89 == 7 declares a codec whose bytes
    are actually the NEXT format in the cycle — the gate must still
    route by magic and flag label_ok=false."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        builders = [
            ("mp3", lambda i: mp3_stream(i, 8)[0]),
            ("aac", lambda i: adts_stream(i, 8)[0]),
            ("opus", lambda i: ogg_opus_stream(i)[0]),
        ]
        for pdf in batches:
            rows = []
            for s in pdf["id"].to_numpy():
                i = int(s)
                k = i % 3
                declared = builders[k][0]
                build_k = (k + 1) % 3 if i % 89 == 7 else k
                buf = builders[build_k][1](i)
                rows.append((f"mix-{i:08d}", buf, declared))
            yield pd.DataFrame(rows, columns=["clip_id", "bytes", "codec"])

    return spark.range(n).mapInPandas(gen, "clip_id string, bytes binary, codec string")


def mixed_fixture_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe of the gate relation: synthesize the mixed-transport corpus,
    sniff + route + walk every clip once."""
    return transport_gate(generate_mixed_clips(spark, decode_fixture_n(sf_dir)))


def gate_rollup(g: DataFrame) -> DataFrame:
    """Clip counts per (declared codec, detected transport, structural
    verdict, label agreement). label_ok is a pure function of (codec,
    format_detected), so it rides as a group key rather than a derived
    aggregate. ONE partial+final hash aggregate."""
    keys = ["codec", "format_detected", "verdict", "label_ok"]
    return g.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n")).orderBy(*keys)


_ROLLUP_SQL = """
    SELECT codec, format_detected, verdict, label_ok,
           CAST(count(*) AS BIGINT) AS n
    FROM {rel}
    GROUP BY codec, format_detected, verdict, label_ok
    ORDER BY codec, format_detected, verdict, label_ok
    """


@artifact("gate", 2)
def gate_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    mixed_fixture_gate(spark, sf_dir).write.mode("overwrite").parquet(out)


@register("transport_gate_stats", _ROLLUP_SQL.format(rel=gate_parquet.scan()))
def transport_gate_stats_q(spark, sf_dir: str) -> DataFrame:
    """Gate rollup over the mixed corpus — mislabeled clips appear under
    their DETECTED format's checks with label_ok=false, which is the
    point of magic-based routing. Aggregates the materialized gate
    relation the oracle also reads."""
    return gate_rollup(spark.read.parquet(gate_parquet(spark, sf_dir)))


@artifact("codecgate", 1)
def codec_gate_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Gate relation over the mixed-CODEC fixture (mulaw/alaw/adpcm/
    pcm16 WAV + native FLAC with corrupt + truncated plants — the
    operators/sniff.py fixture): the deep chunk/metadata walks catch the
    truncated payloads that magic-only sniffing admits ('truncated RIFF
    keeps its magic'). Materialized once so the oracle replays the
    rollup over identical rows."""
    from macrobase_spark.sources.clips import generate_codec_clips

    clips = generate_codec_clips(spark, decode_fixture_n(sf_dir))
    transport_gate(clips).write.mode("overwrite").parquet(out)


@register("codec_structure_stats", _ROLLUP_SQL.format(rel=codec_gate_parquet.scan()))
def codec_structure_stats_q(spark, sf_dir: str) -> DataFrame:
    """Structural verdicts for the decodable-codec corpus: unlike the
    magic-only sniff (`codec_magic_check`), the deep RIFF walk surfaces
    the truncated WAV plants (a cut payload keeps its magic but its
    chunk chain no longer fits) before any decode cycles. A FLAC blob
    cut inside the FRAME section still walks clean here — frame-level
    damage is the decode+CRC check's job (flac_snr_suite), exactly the
    triage split this gate exists to make cheap. ONE
    partial+final hash aggregate over the materialized gate relation."""
    return gate_rollup(spark.read.parquet(codec_gate_parquet(spark, sf_dir)))
