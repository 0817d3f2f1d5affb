"""ARIMA scorer: estimator recovery, KPSS d selection, the reference's
windowing/scoring contract (ARIMA.java:62-118 traced independently),
partition invariance, and stream == batch."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.arima import (
    arima_score,
    arima_trace,
    fit_arma,
    fit_auto,
    forecast,
    select_d,
)


def test_ar_recovery():
    rng = np.random.default_rng(0)
    n, c, phi = 4000, 2.0, (0.5, -0.3)
    x = np.zeros(n)
    for t in range(2, n):
        x[t] = c + phi[0] * x[t - 1] + phi[1] * x[t - 2] + rng.normal()
    c_, phi_, _, _ = fit_arma(x[100:], 2, 0)
    assert abs(phi_[0] - phi[0]) < 0.05 and abs(phi_[1] - phi[1]) < 0.05
    # the implied mean c/(1-phi1-phi2) survives too
    assert abs(c_ / (1 - phi_[0] - phi_[1]) - c / (1 - sum(phi))) < 0.5


def test_kpss_d_selection():
    # seed 0 draws a clearly-interior KPSS stat (~0.11 vs crit 0.463);
    # a 5%-level test is ALLOWED to reject white noise on ~1 seed in 20
    rng = np.random.default_rng(0)
    assert select_d(rng.normal(size=500)) == 0
    assert select_d(np.cumsum(rng.normal(size=500))) >= 1
    assert select_d(np.full(50, 3.0)) == 0  # constant series: no crash


def test_forecast_inverts_differencing():
    # a clean linear trend is d=1 with ~constant diffs: the h-step forecast
    # must keep climbing at the trend slope
    rng = np.random.default_rng(2)
    x = np.arange(200) * 2.0 + rng.normal(size=200) * 0.01
    m = fit_auto(x)
    assert m["d"] >= 1
    f = forecast(m, x, 5)
    assert np.all(np.diff(f) > 1.5)  # slope ~2 per step
    assert abs(f[0] - 400.0) < 2.0


def test_trace_contract_matches_java_semantics():
    """Independent straight-line re-implementation of the Java control flow
    (deque + counter + queue), with a deterministic stub fitter — pins the
    retrain cadence and score alignment without the estimator."""
    vals = np.arange(1.0, 151.0)  # 150 points
    W = 40

    def stub_fitter(w, h):
        return [float(np.mean(w))] * h  # constant forecast

    scores, recs = arima_trace(vals, W, stub_fitter)
    # replay by hand
    from collections import deque

    win, preds, counter, latest = deque(), None, 0, None
    want = []
    for v in vals:
        if len(win) == W:
            win.popleft()
        win.append(v)
        if preds is not None:
            p = preds.popleft()
            latest = abs((v - p) / p)
        if counter < W - 1:
            counter += 1
        elif preds is None or not preds:
            preds = deque(stub_fitter(list(win), W))
        want.append(0.0 if latest is None else latest)
    assert np.allclose(scores, want)
    assert [r[0] for r in recs] == list(range(W, 150))
    assert sorted(set(r[1] for r in recs)) == [39, 79, 119]


def test_batch_partition_invariance(spark):
    rng = np.random.default_rng(3)
    rows = [
        (f"k{i % 2}", int(i), float(50 + 10 * rng.normal())) for i in range(180)
    ]
    df = spark.createDataFrame(rows, "key string, t long, value double")
    a = {
        (r["key"], r["t"], round(r["score"], 9))
        for r in arima_score(df, ["key"], "t", "value", 30).collect()
    }
    b = {
        (r["key"], r["t"], round(r["score"], 9))
        for r in arima_score(
            df.repartition(7), ["key"], "t", "value", 30
        ).collect()
    }
    assert a == b and len(a) == 180


def test_stream_matches_batch(spark, tmp_path):
    rng = np.random.default_rng(4)
    rows = [(f"k{i % 2}", int(i), float(40 + 5 * rng.normal())) for i in range(150)]
    df = spark.createDataFrame(rows, "key string, t long, value double")
    src = str(tmp_path / "src")
    for lo, hi in [(0, 50), (50, 100), (100, 150)]:
        df.filter((F.col("t") >= lo) & (F.col("t") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("key string, t long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        arima_score(stream, ["key"], "t", "value", 25)
        .writeStream.format("memory")
        .queryName("arima_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["key"], r["t"], round(r["score"], 9))
            for r in spark.table("arima_sink").collect()
        }
    finally:
        q.stop()
    want = {
        (r["key"], r["t"], round(r["score"], 9))
        for r in arima_score(df, ["key"], "t", "value", 25).collect()
    }
    assert got == want and len(want) == 150
