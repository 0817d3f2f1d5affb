"""Property tests for the round-4 session kernels: YIN f0 recovery over
randomized harmonic content (hypothesis), unit-hash range/determinism,
ECOD's defining rank-invariance under monotone per-dim transforms, and
W1 self-distance."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from macrobase_spark.operators.pitch import pitch_profile

SR = 48000
NS = int(SR * 0.8)


@settings(max_examples=25, deadline=None)
@given(
    f0=st.floats(min_value=70.0, max_value=450.0),
    nh=st.integers(min_value=1, max_value=8),
    amp=st.floats(min_value=0.1, max_value=0.8),
    phase=st.floats(min_value=0.0, max_value=6.28),
)
def test_yin_recovers_any_harmonic_tone(f0, nh, amp, phase):
    from macrobase_spark.operators.audio import sin_samples

    sig = np.zeros(NS)
    for k in range(1, nh + 1):
        sig += (amp / nh) * sin_samples(2 * np.pi * k * f0 / SR, NS, phase=phase * k)
    est, vr, _ = pitch_profile(sig, SR)
    assert vr >= 0.9
    # YIN may octave-err only when the fundamental is absent; with k=1
    # present the estimate must land on f0 within 2%
    assert est == pytest.approx(f0, rel=0.02)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_unit_hash_formula_range_and_determinism(i):
    # pure-python replica of the shared md5-prefix formula
    import hashlib

    def unit(x: int, salt: str = "") -> float:
        h = hashlib.md5((str(x) + salt).encode()).hexdigest()
        return int(h[:8], 16) / 2**32

    u = unit(i)
    assert 0.0 <= u < 1.0
    assert u == unit(i)
    assert unit(i, "a") != u or True  # different salt may collide, never crash


def test_ecod_scores_invariant_under_monotone_transform(spark):
    """ECOD is rank-based: strictly increasing per-dimension transforms
    leave every score EXACTLY unchanged — the property that separates it
    from density/distance detectors (and a strong correctness oracle)."""
    from macrobase_spark.operators.ecod import ecod_scores

    rng = np.random.default_rng(13)
    X = rng.gamma(2.0, size=(150, 4))  # pronounced positive skew per dim
    # the ECDF tails are rank-based (invariant); the auto-tail also needs
    # the per-dim skew SIGN preserved — guaranteed here, asserted below
    for j in range(4):
        for Y in (X[:, j], X[:, j] ** 3):
            assert np.sum((Y - Y.mean()) ** 3) > 0
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(X)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = {r["vec_id"]: r["_SCORE"] for r in ecod_scores(df).collect()}
    rows_t = [(i, [float(v) ** 3 for v in r]) for i, r in enumerate(X)]
    df_t = spark.createDataFrame(rows_t, "vec_id long, embedding array<double>")
    trans = {r["vec_id"]: r["_SCORE"] for r in ecod_scores(df_t).collect()}
    for i in base:
        assert trans[i] == pytest.approx(base[i], abs=1e-9)


def test_w1_self_distance_is_zero(spark):
    from macrobase_spark.operators.drift import fit_bins, histogram_drift

    rng = np.random.default_rng(21)
    vals = rng.normal(100.0, 15.0, 1200)
    # two groups drawn from the SAME values (interleaved) — grid W1 ≈ 0
    rows = [("a" if i % 2 == 0 else "b", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r["w1"] for r in histogram_drift(df, ["g"], fit_bins(df, "v", 20), ["w1"]).collect()}
    assert got["a"] < 2.0 and got["b"] < 2.0
