"""Spectral-bandwidth (fake-sample-rate) validation: rolloff kernel on
synthetic combs, upsample detection through the real sinc resampler,
fixture-class recovery, and Spark/DuckDB agreement of the registered
rollup."""

import duckdb
import numpy as np
import pytest

from macrobase_spark.operators.audio import sin_samples
from macrobase_spark.operators.bandwidth import (
    bandwidth_features,
    classify_bandwidth,
    generate_bandwidth_clips,
    spectral_profile,
)
from macrobase_spark.queries import ORACLES, QUERIES


def _comb(rate, length, edge_hz, f0=375.0):
    K = max(int(edge_hz / f0), 1)
    sig = np.zeros(length)
    for k in range(1, K + 1):
        sig += (0.7 / K) * sin_samples(2 * np.pi * k * f0 / rate, length, phase=0.37 * k)
    return sig


def test_rolloff_tracks_comb_edge():
    sr = 48000
    for frac in (0.3, 0.6, 0.9):
        sig = _comb(sr, int(sr * 0.8), frac * sr / 2)
        roll, _ = spectral_profile(sig, sr)
        assert abs(roll / (sr / 2) - frac) < 0.06


def test_upsampled_content_detected():
    """8 kHz content sinc-upsampled into a 48 kHz container: the rolloff
    must expose the original 4 kHz Nyquist, not the header's 24 kHz."""
    from macrobase_spark.operators.resample import resample_sinc

    lo = _comb(8000, int(8000 * 0.8), 0.9 * 4000.0)
    up = resample_sinc(lo, 8000, 48000)
    roll, _ = spectral_profile(up, 48000)
    assert roll < 4200.0  # content edge ~3.6 kHz, images suppressed
    native, _ = spectral_profile(_comb(48000, int(48000 * 0.8), 0.9 * 24000.0), 48000)
    assert native > 0.8 * 24000.0


def test_flatness_orders_noise_above_tone():
    rng = np.random.default_rng(3)
    noise = 0.3 * rng.standard_normal(48000)
    tone = 0.5 * sin_samples(2 * np.pi * 997.0 / 48000, 48000)
    _, f_noise = spectral_profile(noise, 48000)
    _, f_tone = spectral_profile(tone, 48000)
    assert f_noise > 0.3
    assert f_tone < 1e-4


def test_short_or_silent_clip_unmeasurable():
    assert spectral_profile(np.zeros(48000), 48000) is None
    assert spectral_profile(np.ones(100), 48000) is None


def test_fixture_class_recovery(spark):
    n = 400
    classed = classify_bandwidth(bandwidth_features(generate_bandwidth_clips(spark, n)))
    got = {
        r["bandwidth_class"]: r["count"]
        for r in classed.groupBy("bandwidth_class").count().collect()
    }
    expect: dict[str, int] = {}
    for i in range(n):
        if i % 31 == 8:
            c = "unmeasurable"
        elif i % 13 == 2:
            c = "upsampled_suspect"
        elif i % 7 == 3:
            c = "band_limited"
        else:
            c = "full_band"
        expect[c] = expect.get(c, 0) + 1
    assert got == expect


def test_registered_query_matches_oracle(spark, tmp_path):
    import macrobase_spark.operators.bandwidth as B

    path = str(tmp_path / "bw.parquet")
    bandwidth_features(generate_bandwidth_clips(spark, 600)).write.mode(
        "overwrite"
    ).parquet(path)
    orig = B.bandwidth_features_parquet
    B.bandwidth_features_parquet = lambda s, d: path
    try:
        rows = {
            r["bandwidth_class"]: r
            for r in QUERIES["clips_bandwidth_stats"](spark, "/root/testdata/sf0.01").collect()
        }
    finally:
        B.bandwidth_features_parquet = orig
    sql = ORACLES["clips_bandwidth_stats"].replace(orig.path(), path)
    want = duckdb.sql(sql).fetchall()
    assert len(want) == len(rows)
    for cls, cnt, avg_ratio, min_roll, avg_flat in want:
        r = rows[cls]
        assert r["n"] == cnt
        for got_v, want_v in (
            (r["avg_ratio"], avg_ratio),
            (r["min_rolloff_hz"], min_roll),
            (r["avg_flatness"], avg_flat),
        ):
            assert (got_v is None) == (want_v is None)
            if want_v is not None:
                assert got_v == pytest.approx(want_v, abs=1e-6)
