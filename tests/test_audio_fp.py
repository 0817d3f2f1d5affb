"""Audio content fingerprinting: signature robustness classes, banded-LSH
near-dup recovery of planted cross-codec copies, hot-bucket guard, and the
resample-integrity check."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.audio import (
    decode_wav,
    wav_bytes,
    wav_bytes_codec,
)
from macrobase_spark.operators.audio_fp import (
    audio_fingerprints,
    audio_near_dup_pairs,
    fingerprint_pcm,
    fp_clip_content,
    generate_fp_clips,
)


def _ham(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_signature_robustness_classes():
    """Measured contract: byte-identical → 0 bits; G.711/ADPCM re-encode →
    within the 10-bit near-dup bar; resampled → usually near but with a
    documented tail; different content → far (> 25 bits)."""
    mu, ad, rs, other = [], [], [], []
    for i in range(30):
        sr = [16000, 22050, 44100][i % 3]
        pcm = fp_clip_content(i, sr)
        base = fingerprint_pcm(*decode_wav(wav_bytes(pcm, sr)))
        assert fingerprint_pcm(*decode_wav(wav_bytes(pcm, sr))) == base  # deterministic
        mu.append(_ham(base, fingerprint_pcm(*decode_wav(wav_bytes_codec(pcm, sr, "mulaw")))))
        ad.append(_ham(base, fingerprint_pcm(*decode_wav(wav_bytes_codec(pcm, sr, "adpcm")))))
        sr2 = 22050 if sr != 22050 else 16000
        t2 = np.arange(int(len(pcm) * sr2 / sr)) * (sr / sr2)
        pcm2 = np.clip(
            np.interp(t2, np.arange(len(pcm)), pcm / 32768.0) * 32767, -32768, 32767
        ).astype(np.int16)
        rs.append(_ham(base, fingerprint_pcm(*decode_wav(wav_bytes(pcm2, sr2)))))
        other.append(_ham(base, fingerprint_pcm(*decode_wav(wav_bytes(fp_clip_content(i + 5000, sr), sr)))))
    assert max(mu) <= 10 and max(ad) <= 10, (max(mu), max(ad))
    assert np.mean(rs) <= 15, np.mean(rs)  # partial robustness, documented
    assert min(other) > 25, min(other)


def test_near_dup_recovers_planted_copies(spark):
    """Every decade's (base, mulaw), (base, adpcm), (base, exact-copy) pair
    is recovered; unique-content rows never pair up."""
    n = 120
    clips = generate_fp_clips(spark, n)
    fp = audio_fingerprints(clips)
    pairs = audio_near_dup_pairs(fp, hamming_max=10).collect()
    got = {(r["clip_a"], r["clip_b"]) for r in pairs}
    for base in range(0, n, 10):
        for k in (1, 2, 3):
            want = (f"fp_{base:012d}", f"fp_{base + k:012d}")
            assert want in got, want
    # exact copies at Hamming 0
    h = {(r["clip_a"], r["clip_b"]): r["hamming"] for r in pairs}
    for base in range(0, n, 10):
        assert h[(f"fp_{base:012d}", f"fp_{base + 3:012d}")] == 0
    # cross-content pairs never appear: every pair shares a decade
    for a, b in got:
        assert int(a[3:]) // 10 == int(b[3:]) // 10, (a, b)


def test_hot_bucket_guard(spark):
    """max_bucket drops degenerate buckets (identical content everywhere)
    instead of exploding quadratically, and counts what it dropped: every
    band of the 50 identical clips (8 buckets, 400 band rows)."""
    from macrobase_spark.operators.dedup import GUARD_DROPS

    pcm = fp_clip_content(7, 16000)
    rows = [(f"c{i:03d}", bytearray(wav_bytes(pcm, 16000))) for i in range(50)]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    fp = audio_fingerprints(df)
    assert audio_near_dup_pairs(fp, max_bucket=10).count() == 0
    assert GUARD_DROPS["audio_near_dup_pairs"].get == {"rows": 400, "buckets": 8}
    assert audio_near_dup_pairs(fp, max_bucket=None).count() == 50 * 49 // 2


def test_fingerprints_flag_corrupt(spark):
    rows = [
        ("ok", bytearray(wav_bytes(fp_clip_content(1, 16000), 16000))),
        ("bad", bytearray(b"not riff at all")),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {r["clip_id"]: r for r in audio_fingerprints(df).collect()}
    assert got["ok"]["decode_ok"] and not got["bad"]["decode_ok"]


def test_resample_check_clips_table(spark):
    """resample_check over a slice of the real clips fixture: valid clips
    pass the 20 dB bar at every original rate; planted corrupt/truncated
    payloads land decode_ok=false; n_out tracks the rate ratio."""
    from macrobase_spark.operators.audio import resample_check
    from macrobase_spark.sources.clips import generate_clips

    clips = generate_clips(spark, 600, max_payload_ms=100)
    got = resample_check(clips, target_sr=16000).collect()
    by_id = {r["clip_id"]: r for r in got}
    assert len(by_id) == 598  # ids 7 and 507 duplicate their predecessors
    n_fail = sum(1 for r in got if not r["decode_ok"])
    assert n_fail > 0  # planted corruption present
    for r in got:
        if not r["decode_ok"]:
            continue
        assert r["snr_pass"], (r["clip_id"], r["snr_db"])
    # rate math: clip 0 is valid; payload is min(dur_ms, 100ms) at sr_hz
    r0 = by_id["clip_000000000000"]
    assert r0["decode_ok"] and r0["n_out"] > 0


def test_checks_accept_foreign_clip_ids(spark):
    """An id not shaped `clip_<digits>` (the pitch fixture's `pclip_…`)
    keys the reference render at index -1 in both the SNR and the resample
    check instead of failing the task on a cast."""
    from macrobase_spark.operators.audio import render_reference, resample_check, snr_check

    pcm = np.round(render_reference(-1, 8000, 800) * 32767).astype(np.int16)
    df = spark.createDataFrame(
        [("pclip_000000000000", 8000, wav_bytes(pcm, 8000))],
        "clip_id string, sr_hz int, bytes binary",
    )
    (snr,) = snr_check(df).collect()
    assert snr["clip_id"] == "pclip_000000000000" and snr["decode_ok"] and snr["snr_pass"]
    (res,) = resample_check(df, target_sr=16000).collect()
    assert res["decode_ok"] and res["n_out"] == 1600 and res["snr_pass"], res


def test_scan_kernel_keys_foreign_clip_ids_like_clip_index(spark):
    """The suite's batch kernel keys the reference render as clip_index()
    does: a batch mixing `clip_…` and `pclip_…` ids scores each row against
    the render snr_check picks for it, instead of failing the batch."""
    import pyarrow as pa

    from macrobase_spark.operators.audio import render_reference, score_record_batch, snr_check

    ids = ["clip_000000000001", "pclip_000000000000"]
    pays = [
        wav_bytes(np.round(render_reference(i, 8000, 800) * 32767).astype(np.int16), 8000)
        for i in (1, -1)
    ]
    batch = pa.RecordBatch.from_pydict(
        {
            "clip_id": ids,
            "sr_hz": pa.array([8000, 8000], pa.int32()),
            "dur_ms": pa.array([100, 100], pa.int32()),
            "codec": ["wav", "wav"],
            "transcript": ["a", "b"],
            "bytes": pa.array(pays, pa.binary()),
        }
    )
    got = score_record_batch(batch).to_pydict()
    df = spark.createDataFrame(
        list(zip(ids, [8000, 8000], pays)), "clip_id string, sr_hz int, bytes binary"
    )
    want = {r["clip_id"]: r["snr_db"] for r in snr_check(df).collect()}
    assert got["clip_id"] == ids
    for cid, snr in zip(got["clip_id"], got["snr_db"]):
        assert snr > 30.0 and snr == pytest.approx(want[cid], abs=1e-3), cid


def test_dedup_audio_content_query_matches_oracle(spark):
    """Registry query vs DuckDB oracle at the sf0.01 fixture size (the
    driver's exact comparison, value-level)."""
    import macrobase_spark.operators.audio_fp as M
    from macrobase_spark import queries as Q
    from tests.oracle_util import compare

    import duckdb

    sdf = Q.QUERIES["dedup_audio_content"](spark, "/root/testdata/sf0.01")
    con = duckdb.connect()
    odf = con.execute(Q.ORACLES["dedup_audio_content"]).df()
    assert not compare(sdf, odf, "dedup_audio_content")
    assert sdf.count() >= 3 * 40  # 40 decades × ≥3 planted pairs each
    del M
