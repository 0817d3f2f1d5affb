"""Pitch / mains-hum validation: YIN planted-f0 recovery (incl. through
int16 quantization), hum-comb isolation, voicing-ratio recovery,
fixture-class recovery, and Spark/DuckDB agreement of the registered
rollup."""

import duckdb
import numpy as np
import pytest

from macrobase_spark.operators.audio import sin_samples, u01
from macrobase_spark.operators.pitch import (
    FRAME,
    classify_pitch,
    generate_pitch_clips,
    hum_level_db,
    pitch_features,
    pitch_profile,
)
from macrobase_spark.queries import ORACLES, QUERIES

SR = 48000
NS = int(SR * 0.8)


def _harmonic(f0, length, nh=5):
    sig = np.zeros(length)
    for k in range(1, nh + 1):
        sig += (0.6 / nh) * sin_samples(2 * np.pi * k * f0 / SR, length, phase=0.41 * k)
    return sig


def _noise(length, salt=3):
    return 0.3 * (2.0 * u01(np.arange(length, dtype=np.uint64), salt=1000 + salt) - 1.0)


def test_yin_recovers_planted_f0():
    for f0 in (110.0, 165.0, 205.0, 245.0, 440.0):
        est, vr, _ = pitch_profile(_harmonic(f0, NS), SR)
        assert vr == 1.0
        assert est == pytest.approx(f0, rel=0.01)


def test_yin_survives_int16_quantization():
    q = np.clip(_harmonic(185.0, NS) * 32767, -32768, 32767).astype(np.int16)
    est, vr, _ = pitch_profile(q.astype(np.float64) / 32768.0, SR)
    assert vr == 1.0
    assert est == pytest.approx(185.0, rel=0.01)


def test_noise_is_unvoiced_and_humfree():
    f0, vr, hum = pitch_profile(_noise(NS), SR)
    assert np.isnan(f0)
    assert vr == 0.0
    assert hum < -15.0


def test_hum_comb_isolates_mains():
    clean = _harmonic(185.0, NS)
    assert hum_level_db(clean, SR) < -30.0
    for mains in (50.0, 60.0):
        hummy = clean + 0.35 * sin_samples(2 * np.pi * mains / SR, NS)
        assert hum_level_db(hummy, SR) > -5.0


def test_voicing_ratio_tracks_planted_span():
    part = np.concatenate([_harmonic(205.0, 6 * FRAME), _noise(NS - 6 * FRAME)])
    f0, vr, _ = pitch_profile(part, SR)
    assert vr == pytest.approx(6 / 16)
    assert f0 == pytest.approx(205.0, rel=0.01)


def test_silence_unmeasurable():
    assert pitch_profile(np.zeros(NS), SR) is None
    assert pitch_profile(np.ones(100), SR) is None


def test_fixture_class_recovery(spark):
    n = 400
    classed = classify_pitch(pitch_features(generate_pitch_clips(spark, n)))
    got = {
        r["pitch_class"]: r["count"]
        for r in classed.groupBy("pitch_class").count().collect()
    }
    expect: dict[str, int] = {}
    for i in range(n):
        if i % 31 == 8:
            c = "unmeasurable"
        elif i % 13 == 2:
            c = "hum_contaminated"
        elif i % 17 == 5:
            c = "partially_voiced"
        elif i % 7 == 3:
            c = "unvoiced"
        else:
            c = "voiced"
        expect[c] = expect.get(c, 0) + 1
    assert got == expect


def test_registered_query_matches_oracle(spark, tmp_path):
    import macrobase_spark.operators.pitch as P

    path = str(tmp_path / "pitch.parquet")
    pitch_features(generate_pitch_clips(spark, 600)).write.mode("overwrite").parquet(path)
    orig = P.pitch_features_parquet
    P.pitch_features_parquet = lambda s, d: path
    try:
        rows = {
            r["pitch_class"]: r
            for r in QUERIES["clips_pitch_stats"](spark, "/root/testdata/sf0.01").collect()
        }
    finally:
        P.pitch_features_parquet = orig
    sql = ORACLES["clips_pitch_stats"].replace(orig.path(), path)
    want = duckdb.sql(sql).fetchall()
    assert len(want) == len(rows)
    for cls, cnt, avg_f0, avg_vr, max_hum in want:
        r = rows[cls]
        assert r["n"] == cnt
        for got_v, want_v in (
            (r["avg_f0_hz"], avg_f0),
            (r["avg_voiced_ratio"], avg_vr),
            (r["max_hum_db"], max_hum),
        ):
            assert (got_v is None) == (want_v is None)
            if want_v is not None:
                assert got_v == pytest.approx(want_v, abs=1e-6)
