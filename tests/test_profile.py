"""hot_keys (exact heavy hitters) and sketch_column_stats (HLL distinct
counts, percentile_approx quantiles): correctness vs exact, accuracy
bounds, run-to-run stability, plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.profile import hot_keys, sketch_column_stats


@pytest.fixture(scope="module")
def skewed(spark):
    """70% of rows carry k='hot'; v is 0..9999 uniform-ish; some nulls."""
    rows = [
        ("hot" if i % 10 < 7 else f"cold{i % 10}", float(i % 10_000) if i % 97 else None)
        for i in range(20_000)
    ]
    return spark.createDataFrame(rows, "k string, v double")


def test_hot_keys_exact(skewed):
    got = {(r["column"], r["value"]): (r["n"], r["share"]) for r in
           hot_keys(skewed, ["k"], min_share=0.2).collect()}
    assert list(got) == [("k", "hot")]
    n, share = got[("k", "hot")]
    assert n == 14_000 and abs(share - 0.7) < 1e-9


def test_hot_keys_threshold_bounds_output(skewed):
    # at 5% every cold residue (10% each) also qualifies
    got = hot_keys(skewed, ["k"], min_share=0.05).collect()
    assert len(got) == 4  # hot + cold7/8/9
    assert all(r["share"] > 0.05 for r in got)


def test_sketch_stats_accuracy(skewed):
    row = {r["column"]: r for r in sketch_column_stats(skewed, ["v"]).collect()}["v"]
    assert row["n_rows"] == 20_000
    assert row["n_null"] == skewed.filter(F.col("v").isNull()).count()
    assert row["min"] == 0.0 and row["max"] == 9999.0
    exact_distinct = skewed.select("v").distinct().count() - 1  # minus null
    assert abs(row["approx_distinct"] - exact_distinct) / exact_distinct < 0.05
    for q, name in [(0.5, "p50"), (0.95, "p95"), (0.99, "p99")]:
        exact = skewed.agg(F.percentile("v", q)).collect()[0][0]
        # percentile_approx: rank error well under 2%; allow value slack
        # proportional to the range
        assert abs(row[name] - exact) < 0.03 * 9999, (name, row[name], exact)


def test_sketch_stats_single_scan(skewed):
    """All columns profile in ONE aggregate over one scan — the plan has a
    single partial/final agg pair, no per-column re-scan."""
    df = skewed.select("v", F.col("v").alias("w"), F.col("v").alias("x"))
    plan = (
        sketch_column_stats(df, ["v", "w", "x"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") <= 2

def test_sketch_stats_merge_equals_whole(spark):
    """Partition count must not break the profile (mergeable sketches):
    same input at 2 and 16 partitions gives identical exact fields and
    identical HLL estimates; the quantiles are checked within the
    approximation's rank-error bound (~2% of 1000 distinct ranks here)."""
    vals = [(float(i % 1000),) for i in range(10_000)]
    a = sketch_column_stats(
        spark.createDataFrame(vals, "v double").repartition(2), ["v"]
    ).collect()[0]
    b = sketch_column_stats(
        spark.createDataFrame(vals, "v double").repartition(16), ["v"]
    ).collect()[0]
    assert a["approx_distinct"] == b["approx_distinct"]
    assert (a["n_rows"], a["n_null"], a["min"], a["max"]) == (
        b["n_rows"], b["n_null"], b["min"], b["max"]
    )
    for name in ("p50", "p95", "p99"):
        assert abs(a[name] - b[name]) <= 0.02 * 1000, (name, a[name], b[name])


def test_sketch_stats_repeatable(spark):
    """Two runs over the same frame return identical rows (a randomized
    quantile sketch would not)."""
    vals = [(float((i * 7919) % 10_007), i % 13) for i in range(20_000)]
    df = spark.createDataFrame(vals, "v double, k long").repartition(8)
    runs = [sketch_column_stats(df, ["v", "k"]).collect() for _ in range(3)]
    assert runs[0] == runs[1] == runs[2]


def test_hot_keys_single_scan(skewed):
    """One scan regardless of column count: the optimized plan contains the
    source relation once (explode-based), not once per column."""
    df = skewed.select("k", F.col("k").alias("k2"), F.col("k").alias("k3"))
    plan = (
        hot_keys(df, ["k", "k2", "k3"], min_share=0.2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("LogicalRDD") <= 1 and "Union" not in plan
