"""BS.1770 loudness operator: spec-table coefficients, sine calibration,
gating semantics, inter-sample true peak, fixture-class recovery, and the
Spark/DuckDB agreement of the registered rollup."""

import duckdb
import numpy as np
import pytest

from macrobase_spark.operators.loudness import (
    _k_biquads,
    _k_impulse,
    block_mean_squares,
    classify_loudness,
    generate_loudness_clips,
    integrated_loudness,
    k_weight,
    loudness_blocks,
    true_peak,
)
from macrobase_spark.queries import ORACLES, QUERIES


def test_48k_coefficients_match_spec_table():
    """The parametric design must reproduce BS.1770-4 Tables 1-2 at 48 kHz."""
    shelf, hp = _k_biquads(48000)
    assert np.allclose(
        shelf[0], [1.53512485958697, -2.69169618940638, 1.19839281085285], atol=1e-6
    )
    assert np.allclose(shelf[1], [1.0, -1.69065929318241, 0.73248077421585], atol=1e-6)
    assert np.allclose(hp[0], [1.0, -2.0, 1.0])
    assert np.allclose(hp[1], [1.0, -1.99004745483398, 0.99007225036621], atol=1e-6)


def test_impulse_response_matches_direct_recursion():
    """FFT-convolution filtering == running the biquad cascade directly."""
    fs = 16000
    rng = np.random.default_rng(7)
    x = rng.standard_normal(4000)
    y_fft = k_weight(x, fs)
    sig = x.copy()
    for b, a in _k_biquads(fs):
        y = np.empty(len(sig))
        x1 = x2 = y1 = y2 = 0.0
        for i, x0 in enumerate(sig):
            y0 = b[0] * x0 + b[1] * x1 + b[2] * x2 - a[1] * y1 - a[2] * y2
            y[i] = y0
            x2, x1, y2, y1 = x1, x0, y1, y0
        sig = y
    assert np.allclose(y_fft, sig, atol=1e-8)
    # truncation tail actually negligible
    assert np.abs(_k_impulse(fs)[-1]) < 1e-9


@pytest.mark.parametrize("fs", [16000, 48000])
def test_sine_calibration(fs):
    """0 dBFS 997 Hz sine reads ~ -3.01 LUFS (K gain ~0 dB at 1 kHz)."""
    x = np.sin(2 * np.pi * 997.0 / fs * np.arange(int(fs * 2.0)))
    msq = block_mean_squares(x, fs)
    lufs = -0.691 + 10 * np.log10(msq.mean())
    assert abs(lufs - (-3.01)) < 0.1


def test_gating_ignores_silence():
    """Loud tone + long digital silence: the gates must keep integrated
    loudness at the tone's level instead of averaging the silence in."""
    fs = 16000
    tone = 0.5 * np.sin(2 * np.pi * 997.0 / fs * np.arange(int(fs * 1.2)))
    padded = np.concatenate([tone, np.zeros(int(fs * 4.8))])
    m_tone = block_mean_squares(tone, fs)
    m_pad = block_mean_squares(padded, fs)
    lufs_tone = -0.691 + 10 * np.log10(m_tone.mean())
    # replicate the two-stage gate
    lk = np.full(len(m_pad), -np.inf)
    nz = m_pad > 0
    lk[nz] = -0.691 + 10 * np.log10(m_pad[nz])
    j_abs = m_pad[lk > -70.0]
    gamma = -0.691 + 10 * np.log10(j_abs.mean()) - 10.0
    j = j_abs[(-0.691 + 10 * np.log10(j_abs)) > gamma]
    lufs_gated = -0.691 + 10 * np.log10(j.mean())
    ungated = -0.691 + 10 * np.log10(m_pad.mean())
    assert abs(lufs_gated - lufs_tone) < 1.0  # edge blocks straddle the pad
    assert ungated < lufs_tone - 4.0  # the gate actually did something


def test_true_peak_sees_intersample_over():
    """4 kHz @ 16 kHz with phase pi/4: samples land at +-0.686 of the 0.97
    analog crest; 4x oversampling must recover it."""
    fs = 16000
    x = 0.97 * np.sin(2 * np.pi * 4000.0 / fs * np.arange(int(fs * 1.2)) + np.pi / 4)
    sp = np.abs(x).max()
    tp = true_peak(x, fs)
    assert sp < 0.70
    assert abs(tp - 0.97) < 0.02


def test_fixture_class_recovery(spark):
    """Planted loudness defects come back exactly, class by class."""
    n = 400
    blocks = loudness_blocks(generate_loudness_clips(spark, n))
    classed = classify_loudness(blocks)
    got = {
        r["loudness_class"]: r["n"]
        for r in classed.groupBy("loudness_class").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    expect = {"unmeasurable": 0, "clipping_risk": 0, "too_loud": 0, "too_quiet": 0, "ok": 0}
    for i in range(n):
        if i % 19 == 5:
            expect["unmeasurable"] += 1
        elif i % 17 == 9:
            expect["clipping_risk"] += 1
        elif i % 13 == 7:
            expect["too_loud"] += 1
        elif i % 11 == 3:
            expect["too_quiet"] += 1
        else:
            expect["ok"] += 1
    assert got == {k: v for k, v in expect.items() if v}
    # spot-check levels: every 'ok' clip sits in the calibrated band
    ok_rows = classed.filter("loudness_class = 'ok'").select("lufs_i").collect()
    assert all(-15.5 < r["lufs_i"] < -14.5 for r in ok_rows)


def test_integration_matches_numpy_gate(spark):
    """Declarative Spark gating == the literal numpy replay, clip by clip."""
    blocks = loudness_blocks(generate_loudness_clips(spark, 60))
    pdf = blocks.toPandas()
    got = {
        r["clip_id"]: r["lufs_i"]
        for r in integrated_loudness(blocks).collect()
    }
    for cid, g in pdf[(pdf.block_idx >= 0) & (pdf.msq > 0)].groupby("clip_id"):
        msq = g.msq.to_numpy()
        lk = -0.691 + 10 * np.log10(msq)
        j_abs = msq[lk > -70.0]
        if len(j_abs) == 0:
            assert cid not in got
            continue
        gamma = -0.691 + 10 * np.log10(j_abs.mean()) - 10.0
        j = j_abs[(-0.691 + 10 * np.log10(j_abs)) > gamma]
        want = round(-0.691 + 10 * np.log10(j.mean()), 4)
        assert got[cid] == pytest.approx(want, abs=1e-4)


def test_registered_query_matches_oracle(spark, tmp_path):
    """clips_loudness_stats: Spark result == DuckDB oracle over the same
    materialized block relation (same recipe as the driver's harness)."""
    import macrobase_spark.operators.loudness as L

    n = 1000
    path = str(tmp_path / "blocks.parquet")
    loudness_blocks(generate_loudness_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(path)
    orig = L.loudness_blocks_parquet
    L.loudness_blocks_parquet = lambda s, d: path
    try:
        got = QUERIES["clips_loudness_stats"](spark, "/root/testdata/sf0.01")
        rows = {r["loudness_class"]: r for r in got.collect()}
    finally:
        L.loudness_blocks_parquet = orig
    sql = ORACLES["clips_loudness_stats"].replace(orig.path(), path)
    want = duckdb.sql(sql).fetchall()
    assert len(want) == len(rows)
    for cls, cnt, avg_lufs, max_tp in want:
        r = rows[cls]
        assert r["n"] == cnt
        assert (r["avg_lufs"] is None) == (avg_lufs is None)
        if avg_lufs is not None:
            assert r["avg_lufs"] == pytest.approx(avg_lufs, abs=1e-4)
        assert (r["max_true_peak_db"] is None) == (max_tp is None)
        if max_tp is not None:
            assert r["max_true_peak_db"] == pytest.approx(max_tp, abs=1e-4)
