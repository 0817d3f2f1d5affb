"""Windowed histogram drift (PSI, KS, categorical): planted-window
recovery, batch/stream equivalence, and reference-distribution fit."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.drift import fit_bins, fit_categories, histogram_drift


def windowed(df, ref, stats, bar):
    """`stats` per (1-hour window, g) against `ref`, flagged at `bar` on
    the first stat."""
    return histogram_drift(df, ["g"], ref, stats, window=("ts", "1 hour")).withColumn(
        "drifted", F.col(stats[0]) >= bar
    )


@pytest.fixture(scope="module")
def drift_stream(spark):
    """3 hours; hour 1 shifts group g=x's metric from ~N(50,5) to ~N(90,5).
    Deterministic (id-indexed)."""
    rng = np.random.default_rng(11)
    base = rng.normal(50, 5, 6000)
    hot = rng.normal(90, 5, 6000)
    rows = []
    for i in range(6000):
        hour = i // 2000
        ts = f"2024-01-01 0{hour}:{(i % 2000) * 3 // 120:02d}:{(i % 2000) * 3 % 60:02d}"
        g = ["x", "y"][i % 2]
        v = float(hot[i]) if (hour == 1 and g == "x") else float(base[i])
        rows.append((i, ts, g, v))
    df = spark.createDataFrame(rows, "id long, ts_s string, g string, value double")
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


@pytest.fixture(scope="module")
def ref(spark, drift_stream):
    """Reference fit on the un-drifted hour 0."""
    return fit_bins(drift_stream.filter(F.hour("ts") == 0), "value", 10)


def test_planted_window_recovered(drift_stream, ref):
    res = windowed(drift_stream, ref, ["psi"], 0.2).collect()
    assert len(res) == 6  # 3 windows × 2 groups
    for r in res:
        if r["g"] == "x" and r["ws"].hour == 1:
            assert r["drifted"] and r["psi"] > 1.0, r
        else:
            assert not r["drifted"] and r["psi"] < 0.1, r


def test_reference_distribution_shape(ref):
    edges, shares = ref.edges, ref.shares
    assert len(edges) == 9 and len(shares) == 10
    assert abs(sum(shares) - 1.0) < 1e-9
    assert all(0.05 < s < 0.2 for s in shares)  # deciles of a smooth dist


def test_stream_matches_batch(spark, drift_stream, ref, tmp_path):
    """The SAME windowed PSI plan over a file stream (append mode) emits
    the batch result exactly once per finalized window. The watermark (3 h)
    exceeds the data span so file-listing order can't drop anything as
    late; the far-future sentinels still push every window closed."""
    src = str(tmp_path / "psi_src")
    drift_stream.select("id", "g", "value", "ts").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("id long, g string, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed(stream.withWatermark("ts", "3 hours"), ref, ["psi"], 0.2)
    q = (
        out.writeStream.format("memory")
        .queryName("psidrift")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel far-future rows advance the watermark past every data
        # window; keep appending until the finalized windows emit (the
        # multi-file coalesce race — see test_streaming.py)
        for attempt in range(2, 22):
            spark.createDataFrame(
                [(99990 + attempt, "z", 0.0,
                  f"2024-{1 + attempt // 28:02d}-{1 + attempt % 28:02d} 00:00:00")],
                "id long, g string, value double, ts_s string",
            ).select("id", "g", "value", F.to_timestamp("ts_s").alias("ts")) \
             .coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            q.processAllAvailable()
            if spark.table("psidrift").count() >= 6:
                break
        got = {
            (r["ws"], r["g"]): (r["n"], r["psi"], r["drifted"])
            for r in spark.table("psidrift").collect()
            if r["g"] in ("x", "y")
        }
    finally:
        q.stop()
    exp = {
        (r["ws"], r["g"]): (r["n"], r["psi"], r["drifted"])
        for r in windowed(drift_stream, ref, ["psi"], 0.2).collect()
    }
    assert got == exp and len(got) == 6


def test_single_stateful_operator(spark, drift_stream, ref):
    """The plan carries exactly one aggregate pair (partial+final) over the
    window — PSI arithmetic is stateless projection, not a second agg."""
    plan = (
        windowed(drift_stream, ref, ["psi"], 0.2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") <= 2


def test_ks_planted_window_recovered(drift_stream, ref):
    res = windowed(drift_stream, ref, ["ks_d"], 0.1).collect()
    assert len(res) == 6
    for r in res:
        if r["g"] == "x" and r["ws"].hour == 1:
            # N(90,5) vs reference N(50,5): nearly disjoint CDFs
            assert r["drifted"] and r["ks_d"] > 0.8, r
        else:
            assert not r["drifted"] and r["ks_d"] < 0.08, r


def test_ks_stream_matches_batch(spark, drift_stream, ref, tmp_path):
    """Windowed KS over a file stream (append mode) == the same plan on the
    batch DataFrame, one emission per finalized window."""
    src = str(tmp_path / "ks_src")
    drift_stream.select("id", "g", "value", "ts").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("id long, g string, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed(stream.withWatermark("ts", "3 hours"), ref, ["ks_d"], 0.1)
    q = (
        out.writeStream.format("memory")
        .queryName("ksdrift")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        for attempt in range(2, 22):
            spark.createDataFrame(
                [(99990 + attempt, "z", 0.0,
                  f"2024-{1 + attempt // 28:02d}-{1 + attempt % 28:02d} 00:00:00")],
                "id long, g string, value double, ts_s string",
            ).select("id", "g", "value", F.to_timestamp("ts_s").alias("ts")) \
             .coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            q.processAllAvailable()
            if spark.table("ksdrift").count() >= 6:
                break
        got = {
            (r["ws"], r["g"]): (r["n"], r["ks_d"], r["drifted"])
            for r in spark.table("ksdrift").collect()
            if r["g"] in ("x", "y")
        }
    finally:
        q.stop()
    exp = {
        (r["ws"], r["g"]): (r["n"], r["ks_d"], r["drifted"])
        for r in windowed(drift_stream, ref, ["ks_d"], 0.1).collect()
    }
    assert got == exp and len(got) == 6


def test_ks_single_stateful_operator(spark, drift_stream, ref):
    plan = (
        windowed(drift_stream, ref, ["ks_d"], 0.1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") <= 2


# ---- categorical (codec-histogram) drift -------------------------------------


@pytest.fixture(scope="module")
def cat_stream(spark):
    """3 hours of (ts, g, codec); hour 1 makes group x flac-heavy."""
    rows = []
    codecs = ["opus"] * 6 + ["flac"] * 2 + ["aac"] * 2  # reference mix
    hot = ["flac"] * 8 + ["opus"] * 2  # drifted mix
    for i in range(6000):
        hour = i // 2000
        ts = f"2024-01-01 0{hour}:{(i % 2000) * 3 // 120:02d}:{(i % 2000) * 3 % 60:02d}"
        g = ["x", "y"][i % 2]
        mix = hot if (hour == 1 and g == "x") else codecs
        rows.append((i, ts, g, mix[i % 10]))
    df = spark.createDataFrame(rows, "id long, ts_s string, g string, codec string")
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_categorical_planted_window_recovered(spark, cat_stream):
    shares = fit_categories(cat_stream.filter(F.hour("ts") == 0), "codec", 50)
    res = windowed(cat_stream, shares, ["psi", "chi2"], 0.2).collect()
    assert len(res) == 6
    for r in res:
        if r["g"] == "x" and r["ws"].hour == 1:
            assert r["drifted"] and r["psi"] > 0.5, r
        else:
            assert not r["drifted"] and r["psi"] < 0.05, r


def test_categorical_stream_matches_batch(spark, cat_stream, tmp_path):
    """Same plan over a file stream (append mode, watermark beyond the data
    span) emits the batch rows exactly once per finalized window."""
    shares = fit_categories(cat_stream.filter(F.hour("ts") == 0), "codec", 50)
    batch = sorted(map(tuple, windowed(cat_stream, shares, ["psi", "chi2"], 0.2).collect()))
    src = tmp_path / "cat_src"
    cat_stream.write.parquet(str(src))
    # far-future sentinel rows so every real window passes the watermark
    import pandas as pd

    sent = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [10**6, 10**6 + 1],
                "g": ["x", "y"],
                "codec": ["opus", "opus"],
                "ts": [pd.Timestamp("2024-01-02 00:00:00")] * 2,
            }
        )
    )
    sent.write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(cat_stream.schema).parquet(str(src))
    out = windowed(stream.withWatermark("ts", "3 hours"), shares, ["psi", "chi2"], 0.2)
    q = (
        out.writeStream.format("memory")
        .queryName("cat_drift_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(
            tuple,
            spark.sql(
                "select * from cat_drift_sink where ws < '2024-01-01 03:00:00'"
            ).collect(),
        )
    )
    assert got == batch


def test_categorical_single_stateful_operator(spark, cat_stream):
    shares = fit_categories(cat_stream.filter(F.hour("ts") == 0), "codec", 50)
    plan = (
        windowed(cat_stream, shares, ["psi", "chi2"], 0.2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") <= 2
