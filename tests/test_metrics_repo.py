"""Incremental metrics-state repository: merge-of-states == full rescan
(exact fields bit-for-bit, HLL identical, KLL within sketch error), the
incremental update only computes new partitions, and the done-partition
predicate reaches the scan as a partition filter."""

import os

import pytest
from pyspark.sql import functions as F

from macrobase_spark.plans.metrics_repo import (
    merge_states,
    partition_states,
    update_states,
)

COLS = ["val", "ival"]


@pytest.fixture(scope="module")
def df(spark):
    base = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.when(F.col("id") % 97 == 3, None)
        .otherwise((F.col("id") * 37 % 1001).cast("double"))
        .alias("val"),
        (F.col("id") % 113).cast("long").alias("ival"),
    )
    return base.cache()


def test_merge_equals_full_scan(df):
    states = partition_states(df, "part", COLS)
    assert states.count() == 4
    merged = {r["column"]: r for r in merge_states(states, COLS).collect()}
    # single-pass profile over the ungrouped table: group everything into
    # one "partition" and merge that single state
    single = {
        r["column"]: r
        for r in merge_states(
            partition_states(df.withColumn("all", F.lit("x")), "all", COLS), COLS
        ).collect()
    }
    for c in COLS:
        m, s = merged[c], single[c]
        for f in ("n_rows", "n_null", "min", "max", "sum"):
            assert m[f] == s[f], (c, f)
        # HLL union is register-max: identical however rows were grouped
        assert m["approx_distinct"] == s["approx_distinct"], c
        # KLL merge is sketch-accurate, not bit-identical: gate vs exact
        exact_p50 = df.agg(F.percentile(F.col(c).cast("double"), 0.5)).collect()[0][0]
        assert abs(m["p50"] - exact_p50) <= 0.05 * max(abs(exact_p50), 1.0), c
    # exact scalars vs direct aggregation
    direct = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").isNull().cast("long")).alias("nn"),
        F.min("val").alias("mn"),
        F.max("val").alias("mx"),
        F.sum(F.col("val").cast("double")).alias("sm"),
    ).collect()[0]
    assert merged["val"]["n_rows"] == direct["n"]
    assert merged["val"]["n_null"] == direct["nn"]
    assert merged["val"]["min"] == direct["mn"]
    assert merged["val"]["max"] == direct["mx"]
    # val is integral-valued doubles -> partition-wise sums merge exactly
    assert merged["val"]["sum"] == direct["sm"]


def test_incremental_update_appends_only_new(df, tmp_path):
    path = str(tmp_path / "states.parquet")
    old = df.filter(F.col("part") != "3")
    s1 = update_states(df.sparkSession, old, "part", COLS, path)
    assert {r["partition"] for r in s1.select("partition").collect()} == {"0", "1", "2"}
    # second call with the FULL table: only partition 3 is new
    s2 = update_states(df.sparkSession, df, "part", COLS, path)
    assert s2.count() == 4
    # repository rows for 0/1/2 are the original states (not recomputed):
    # calling again with the full table appends nothing
    s3 = update_states(df.sparkSession, df, "part", COLS, path)
    assert s3.count() == 4
    merged = {r["column"]: r for r in merge_states(s3, COLS).collect()}
    direct = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("val").cast("double")).alias("sm")
    ).collect()[0]
    assert merged["val"]["n_rows"] == direct["n"]
    assert merged["val"]["sum"] == direct["sm"]


def test_done_predicate_is_a_partition_filter(spark, tmp_path):
    """On a partition-laid-out table the NOT IN (done) predicate must reach
    the scan as a PartitionFilter — completed partitions are never read."""
    data_path = str(tmp_path / "bycodec.parquet")
    spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part"),
        F.col("id").cast("double").alias("val"),
    ).write.partitionBy("part").parquet(data_path)
    df = spark.read.parquet(data_path)
    pruned = df.filter(~F.col("part").cast("string").isin(["0", "1"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "part" in seg  # non-empty partition filter on the partition col
    assert pruned.count() == df.filter(F.col("part") == "2").count()


def test_all_null_column_state(spark, tmp_path):
    """A partition whose column is entirely NULL must still produce a
    mergeable state (null sketches are skipped by the merge)."""
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 2.0), ("b", 4.0)], "part string, val double"
    ).withColumn("ival", F.lit(1).cast("long"))
    states = partition_states(df, "part", COLS)
    merged = {r["column"]: r for r in merge_states(states, COLS).collect()}
    assert merged["val"]["n_rows"] == 4
    assert merged["val"]["n_null"] == 2
    assert merged["val"]["min"] == 2.0 and merged["val"]["max"] == 4.0
    assert merged["val"]["approx_distinct"] == 2


def test_anomaly_check_methods(spark):
    from macrobase_spark.plans.metrics_repo import anomaly_check

    hist = spark.createDataFrame(
        [(i, "c", "n_rows", float(v)) for i, v in enumerate([100, 102, 98, 101, 99], 1)]
        + [(i, "c", "min", 1.0) for i in range(1, 6)],
        "run_seq long, column string, metric string, value double",
    )
    cur = spark.createDataFrame(
        [("c", "n_rows", 130.0), ("c", "min", 1.0), ("c", "fresh", 5.0)],
        "column string, metric string, value double",
    )
    # relative: 130 vs median 100 -> 30% > 10% -> anomaly; min flat -> ok;
    # a metric with NO history must pass (first run never self-flags)
    rel = {
        (r["metric"]): (r["status"], r["n_history"])
        for r in anomaly_check(hist, cur, "relative", 0.10).collect()
    }
    assert rel["n_rows"] == ("anomaly", 5)
    assert rel["min"] == ("ok", 5)
    assert rel["fresh"] == ("ok", 0)
    # mad: median 100, MAD = 1 -> |130-100| = 30 > 3*1 -> anomaly;
    # constant history (MAD 0) degrades to exact-match
    mad = {r["metric"]: r["status"] for r in anomaly_check(hist, cur, "mad", 3.0).collect()}
    assert mad["n_rows"] == "anomaly" and mad["min"] == "ok"
    cur2 = spark.createDataFrame(
        [("c", "min", 1.0001)], "column string, metric string, value double"
    )
    assert anomaly_check(hist, cur2, "mad", 3.0).collect()[0]["status"] == "anomaly"
    # stddev and trailing window: only the last 2 runs (101, 99) baseline
    sd = anomaly_check(hist, cur, "stddev", 3.0, window=2).collect()
    got = {r["metric"]: (r["status"], r["n_history"]) for r in sd}
    assert got["n_rows"][1] == 2


def test_record_profile_round_trip(spark, tmp_path):
    from macrobase_spark.plans.metrics_repo import (
        anomaly_check,
        profile_long,
        record_profile,
    )

    path = str(tmp_path / "hist")
    prof = spark.createDataFrame(
        [("dur_ms", 100, 0, 1.0, 50.0, 5000.0)],
        "column string, n_rows long, n_null long, min double, max double, sum double",
    )
    record_profile(prof, path, 1, ["n_rows", "sum"])
    record_profile(prof, path, 2, ["n_rows", "sum"])
    hist = spark.read.parquet(path)
    assert hist.count() == 4 and set(hist.columns) == {"run_seq", "column", "metric", "value"}
    cur = profile_long(prof, ["n_rows", "sum"])
    res = anomaly_check(hist, cur, "relative", 0.01)
    assert all(r["status"] == "ok" for r in res.collect())  # unchanged profile


def _expected_anomalies(history, current, method, threshold, window):
    """The anomaly rule restated with numpy, per current row:
    (status, n_history, baseline, deviation)."""
    import numpy as np

    if window is not None and history:
        top = max(r[0] for r in history)
        history = [r for r in history if r[0] > top - window]
    out = {}
    for col, met, value in current:
        vals = np.array([v for _, c, m, v in history if (c, m) == (col, met)])
        if not len(vals):
            out[(col, met)] = ("ok", 0, None, None)
            continue
        med, mean = float(np.median(vals)), float(vals.mean())
        if method == "relative":
            base, dev = med, abs(value - med) / abs(med)
            anom = dev > threshold
        elif method == "mad":
            base, dev = med, abs(value - med)
            mad = float(np.median(np.abs(vals - med)))
            anom = dev > threshold * mad if mad > 0 else dev > 0
        else:
            base, dev = mean, abs(value - mean)
            anom = len(vals) > 1 and dev > threshold * float(vals.std(ddof=1))
        out[(col, met)] = ("anomaly" if anom else "ok", len(vals), base, dev)
    return out


@pytest.mark.parametrize("method,threshold", [("relative", 0.1), ("mad", 3.0), ("stddev", 2.0)])
@pytest.mark.parametrize("window", [None, 3])
def test_anomaly_row_face_equals_spark_face(spark, method, threshold, window):
    """The rule runs once (`anomaly_rows`): over seeded histories — a noisy
    metric, a constant one and a metric seen for the first time — the row
    face and `anomaly_check` return the same rows, and both equal the rule
    restated with numpy. An empty history (a first run) never flags."""
    import numpy as np

    from macrobase_spark.plans.metrics_repo import (
        PROFILE_HISTORY_SCHEMA,
        anomaly_check,
        anomaly_rows,
    )

    def faces(history, current):
        rows = anomaly_rows(history, current, method, threshold, window)
        spark_rows = anomaly_check(
            spark.createDataFrame(history, PROFILE_HISTORY_SCHEMA),
            spark.createDataFrame(current, "column string, metric string, value double"),
            method, threshold, window,
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, spark_rows))
        return {(r["column"], r["metric"]): r for r in rows}

    for seed in range(4):
        rng = np.random.default_rng(seed)
        history = [
            (i, "c", "n_rows", float(rng.normal(100, 5)))
            for i in range(1, 7)
        ] + [(i, "c", "min", 1.0) for i in range(1, 7)]
        current = [
            ("c", "n_rows", float(rng.normal(100, 15))),
            ("c", "min", float(rng.choice([1.0, 1.5]))),
            ("c", "fresh", 5.0),
        ]
        got = faces(history, current)
        for key, (status, n, base, dev) in _expected_anomalies(
            history, current, method, threshold, window
        ).items():
            r = got[key]
            assert (r["status"], r["n_history"]) == (status, n), (seed, key)
            for v, want in ((r["baseline"], base), (r["deviation"], dev)):
                assert v == (None if want is None else pytest.approx(want, abs=1e-6))
    first = faces([], [("c", "n_rows", 100.0)])
    assert tuple(first[("c", "n_rows")]) == ("c", "n_rows", 100.0, None, None, "ok", 0)
