"""Ogg/Opus container-integrity validation — page walk + CRC-32 +
OpusHead metadata parse, NO audio decode (third member of the
no-decode gating family: mp3.py, aac.py).

Opus PCM decode needs the SILK/CELT stacks the runtime lacks (a
documented non-port), but the Ogg transport layer is fully checkable
from structure alone — and unlike mp3/ADTS it carries real end-to-end
protection: every page embeds a CRC-32 (poly 0x04C11DB7, init 0,
non-reflected, no final xor — the Ogg flavor, NOT zlib's) over the
whole page with the checksum field zeroed, so payload corruption
ANYWHERE in a page is detectable without understanding the codec. The
walk further validates the capture pattern + version, page-sequence
continuity (a dropped/reordered page is a hole even when every
surviving page is pristine), BOS/EOS bracketing, and parses the
OpusHead packet (channels, pre-skip, input sample rate) from the BOS
page; granule positions are 48 kHz PCM sample counts by the Opus
mapping (RFC 7845 §4), so `(last_granule - pre_skip) / 48` is the
stream's duration in ms, compared against the dur_ms metadata.

Spark-first shape: identical to mp3/aac — one row-runner scan,
O(pages) walk with a table-driven CRC over ~300-byte pages, narrow
profile relation, verdict CASE + stats aggregate replayed verbatim by
the DuckDB oracle over the materialized profiles.
"""

from __future__ import annotations

import struct
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.operators.mp3 import stream_clips, stream_profiles, stream_scorecard
from macrobase_spark.queries import register

SAMPLES_PER_PACKET = 960  # one 20 ms Opus frame at the 48 kHz granule clock


def _crc_table() -> np.ndarray:
    t = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        r = np.uint32(i << 24)
        for _ in range(8):
            r = np.uint32((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else np.uint32(r << 1)
        t[i] = r
    return t


_CRC_T = _crc_table()


# slicing-by-8 (the flac.py crc16 pattern, widened): T8[k][b] = CRC of
# byte b followed by k zero bytes. The running CRC only feeds the first
# FOUR bytes of each 8-byte block, so the other four lookups vectorize
# over the whole buffer up front and the Python loop does 5 table ops
# per 8 bytes instead of 1 per byte.
def _crc32_zero_extend(c: int, k: int) -> int:
    for _ in range(k):
        c = int(_CRC_T[(c >> 24) & 0xFF]) ^ ((c << 8) & 0xFFFFFFFF)
    return c


_CRC32_T8 = np.zeros((8, 256), dtype=np.uint32)
for _k in range(8):
    for _b in range(256):
        _CRC32_T8[_k, _b] = _crc32_zero_extend(int(_CRC_T[_b]), _k)
del _k, _b


def ogg_crc(data: bytes) -> int:
    """Ogg's CRC-32: poly 0x04C11DB7, init 0, no reflection, no final
    xor (zlib's crc32 is the REFLECTED variant and does not match)."""
    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    n = len(arr)
    c = 0
    head = n % 8
    t = _CRC_T
    for b in arr[:head]:
        c = int(t[((c >> 24) ^ int(b)) & 0xFF]) ^ ((c << 8) & 0xFFFFFFFF)
    if n == head:
        return c
    blocks = arr[head:].reshape(-1, 8)
    x = _CRC32_T8[3][blocks[:, 4]]
    for k, col in ((2, 5), (1, 6), (0, 7)):
        x = x ^ _CRC32_T8[k][blocks[:, col]]
    x = x.tolist()
    b0 = blocks[:, 0].tolist()
    b1 = blocks[:, 1].tolist()
    b2 = blocks[:, 2].tolist()
    b3 = blocks[:, 3].tolist()
    t7, t6, t5, t4 = _CRC32_T8[7], _CRC32_T8[6], _CRC32_T8[5], _CRC32_T8[4]
    for i in range(len(x)):
        c = (
            int(t7[b0[i] ^ ((c >> 24) & 0xFF)])
            ^ int(t6[b1[i] ^ ((c >> 16) & 0xFF)])
            ^ int(t5[b2[i] ^ ((c >> 8) & 0xFF)])
            ^ int(t4[b3[i] ^ (c & 0xFF)])
            ^ x[i]
        )
    return c


def ogg_page(
    serial: int,
    seq: int,
    granule: int,
    packets: list[bytes],
    bos: bool = False,
    eos: bool = False,
    cont: bool = False,
) -> bytes:
    """One well-formed Ogg page (packets < 255 bytes -> one lacing byte
    each; the fixtures never need continuation splits)."""
    lacing = b""
    body = b""
    for p in packets:
        assert len(p) < 255
        lacing += bytes([len(p)])
        body += p
    htype = (1 if cont else 0) | (2 if bos else 0) | (4 if eos else 0)
    hdr = b"OggS" + bytes([0, htype]) + struct.pack("<qIIi", granule, serial, seq, 0)
    hdr += bytes([len(packets)]) + lacing
    page = bytearray(hdr + body)
    crc = ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def opus_head(channels: int, pre_skip: int, input_sr: int) -> bytes:
    return b"OpusHead" + bytes([1, channels]) + struct.pack("<HIhB", pre_skip, input_sr, 0, 0)


def ogg_opus_stream(clip_id: int, n_audio_pages: int = 4, pkts_per_page: int = 3) -> tuple[bytes, int, int]:
    """Deterministic Ogg/Opus stream per clip id. Returns (bytes, sr_hz,
    true_dur_ms). Plants (residues rarely coincide but are NOT disjoint
    — id 118 hits both %113==5 and %101==17; verdict precedence reports
    'truncated' for such clips since truncation stops the walk first):

    - id % 127 == 21  hash-garbage payload (no capture pattern)
    - id % 101 == 17  truncated final page (25 bytes cut)
    - id % 113 == 5   payload corruption (a body byte flipped, CRC now wrong)
    - id % 103 == 9   dropped middle page (sequence hole, all CRCs valid)
    - id % 97  == 11  first packet is not OpusHead (foreign logical stream)
    """
    i = int(clip_id)
    rng = np.random.default_rng(i * 31 + 7)
    if i % 127 == 21:
        return rng.integers(1, 255, size=300, dtype=np.uint8).tobytes(), 48000, 0
    serial = 0x1000 + (i % 512)
    channels = 1 + i % 2
    pre_skip = 312 + (i % 64)
    input_sr = [48000, 44100, 16000][i % 3]
    head = opus_head(channels, pre_skip, input_sr)
    if i % 97 == 11:
        head = b"XENOhead" + head[8:]
    pages = [ogg_page(serial, 0, 0, [head], bos=True)]
    pages.append(ogg_page(serial, 1, 0, [b"OpusTags" + bytes(8)]))
    total_pkts = 0
    for p in range(n_audio_pages):
        pkts = [
            rng.integers(0, 256, size=int(rng.integers(40, 120)), dtype=np.uint8).tobytes()
            for _ in range(pkts_per_page)
        ]
        total_pkts += pkts_per_page
        granule = pre_skip + total_pkts * SAMPLES_PER_PACKET
        pages.append(
            ogg_page(
                serial, 2 + p, granule, pkts, eos=(p == n_audio_pages - 1)
            )
        )
    if i % 103 == 9 and n_audio_pages > 2:
        del pages[3]  # sequence hole (first audio page after OpusTags)
    buf = bytearray(b"".join(pages))
    if i % 113 == 5:
        buf[len(pages[0]) + len(pages[1]) + 40] ^= 0x55  # body byte in an audio page
    if i % 101 == 17:
        buf = buf[:-25]
    true_dur_ms = round(total_pkts * SAMPLES_PER_PACKET / 48.0)
    return bytes(buf), 48000, true_dur_ms


def generate_ogg_clips(spark: SparkSession, n: int) -> DataFrame:
    """(clip_id, bytes, sr_hz, dur_ms, codec='opus') fixture table —
    deterministic at any partitioning."""
    return stream_clips(spark, n, "opus", ogg_opus_stream)


def walk_ogg(buf: bytes | None) -> tuple[int, int, int, bool, bool, int, int, float, bool, int]:
    """Page-walk an Ogg stream. Returns (n_pages, n_crc_bad, n_seq_gaps,
    has_bos, has_eos, channels, pre_skip, est_dur_ms, truncated,
    junk_trailing).

    The walk stops at a broken capture pattern / version (junk from
    there) or a page extending past the buffer (truncated). CRC and
    sequence errors do NOT stop the walk — structure is still intact, so
    the walker keeps auditing and COUNTS them (that is the point of
    per-page CRCs: localized damage, global inventory)."""
    if not buf:
        return 0, 0, 0, False, False, 0, 0, 0.0, False, 0
    n = len(buf)
    pos = 0
    n_pages = 0
    n_crc_bad = 0
    n_gaps = 0
    has_bos = False
    has_eos = False
    channels = 0
    pre_skip = 0
    last_granule = None
    prev_seq = None
    truncated = False
    while pos + 27 <= n:
        if buf[pos : pos + 4] != b"OggS" or buf[pos + 4] != 0:
            break
        nseg = buf[pos + 26]
        if pos + 27 + nseg > n:
            truncated = True
            break
        lacing = buf[pos + 27 : pos + 27 + nseg]
        body_len = sum(lacing)
        page_len = 27 + nseg + body_len
        if pos + page_len > n:
            truncated = True
            break
        page = bytearray(buf[pos : pos + page_len])
        stored = struct.unpack("<I", page[22:26])[0]
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != stored:
            n_crc_bad += 1
        htype = buf[pos + 5]
        granule, _serial, seq = struct.unpack("<qII", buf[pos + 6 : pos + 22])
        if prev_seq is not None and seq != prev_seq + 1:
            n_gaps += 1
        prev_seq = seq
        if htype & 0x2:
            has_bos = True
            body = buf[pos + 27 + nseg : pos + page_len]
            if len(body) >= 19 and body[:8] == b"OpusHead":
                channels = body[9]
                pre_skip = struct.unpack("<H", body[10:12])[0]
        if htype & 0x4:
            has_eos = True
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        pos += page_len
    est_dur_ms = (
        max(0.0, (last_granule - pre_skip) / 48.0) if last_granule is not None else 0.0
    )
    return (
        n_pages, n_crc_bad, n_gaps, has_bos, has_eos,
        channels, pre_skip, est_dur_ms, truncated, n - pos,
    )


_PROFILE_SCHEMA = (
    "clip_id string, dur_ms int, n_pages int, n_crc_bad int, n_seq_gaps int, "
    "has_bos boolean, has_eos boolean, channels int, pre_skip int, "
    "est_dur_ms double, truncated boolean, junk_trailing int"
)


def ogg_profiles(df: DataFrame) -> DataFrame:
    """Per-clip Ogg profile in ONE scan of the payload."""
    return stream_profiles(df, walk_ogg, _PROFILE_SCHEMA)


# precedence: unwalkable states first, then per-page damage, then
# logical-stream problems
_VERDICT_SQL = """
CASE WHEN n_pages = 0 THEN 'no_capture'
     WHEN truncated THEN 'truncated'
     WHEN n_crc_bad > 0 THEN 'crc_mismatch'
     WHEN n_seq_gaps > 0 THEN 'seq_gap'
     WHEN NOT has_bos OR channels = 0 THEN 'no_opus_head'
     ELSE 'ok' END
"""


def ogg_verdict_col():
    return F.expr(_VERDICT_SQL)


def ogg_fixture_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe of the profile relation: synthesize the Ogg/Opus fixture,
    page-walk + CRC every stream once."""
    return ogg_profiles(generate_ogg_clips(spark, decode_fixture_n(sf_dir)))


def ogg_scorecard(p: DataFrame) -> DataFrame:
    """Ogg/Opus scorecard: total pages walked and EOS-bracketed clip count
    per verdict (the granule clock is exact, so clean clips sit within the
    0.5 ms rounding bound)."""
    return stream_scorecard(
        p,
        ogg_verdict_col(),
        F.sum("n_pages").cast("long").alias("pages"),
        F.sum(F.col("has_eos").cast("int")).cast("long").alias("n_eos"),
    )


@artifact("oggprof", 1)
def ogg_profiles_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    ogg_fixture_profiles(spark, sf_dir).write.mode("overwrite").parquet(out)


_OP = ogg_profiles_parquet.scan()


@register(
    "opus_integrity_stats",
    f"""
    SELECT {_VERDICT_SQL} AS verdict,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_pages) AS BIGINT) AS pages,
           CAST(sum(CASE WHEN has_eos THEN 1 ELSE 0 END) AS BIGINT) AS n_eos,
           round(max(CASE WHEN {_VERDICT_SQL} = 'ok'
                          THEN abs(est_dur_ms - dur_ms) ELSE 0 END), 4) AS max_ok_dur_err_ms
    FROM {_OP}
    GROUP BY 1
    ORDER BY 1
    """,
)
def opus_integrity_stats_q(spark, sf_dir: str) -> DataFrame:
    """`ogg_scorecard` over the materialized profile relation (the files
    the oracle reads)."""
    return ogg_scorecard(spark.read.parquet(ogg_profiles_parquet(spark, sf_dir)))
