"""PSI histogram drift: planted-shift recovery, null-sensitivity of clean
groups, explicit-edge override, and scale-shape assertions."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.drift import (
    fit_bins,
    fit_categories,
    histogram_drift,
    quantile_edges,
)


def drift_vs_global(df, stat, n_bins, bar, edges=None):
    """`stat` of v by g against the frame's own histogram, flagged at `bar`."""
    ref = fit_bins(df, "v", n_bins, edges)
    return histogram_drift(df, ["g"], ref, [stat]).withColumn("drifted", F.col(stat) >= bar)


@pytest.fixture(scope="module")
def shifted(spark):
    """g=a,b ~ N(100,10); g=c shifted to N(160,10). c is a small minority
    (like the planted aac drift) so the pooled global ≈ the clean
    distribution — PSI vs global is only meaningful for minority shifts."""
    rng = np.random.default_rng(42)
    rows = []
    for g, mu, n in [("a", 100.0, 2000), ("b", 100.0, 2000), ("c", 160.0, 300)]:
        for v in rng.normal(mu, 10.0, n):
            rows.append((g, float(v)))
    return spark.createDataFrame(rows, "g string, v double")


def test_planted_shift_recovered(shifted):
    got = {r["g"]: (r["psi"], r["drifted"]) for r in drift_vs_global(shifted, "psi", 10, 0.2).collect()}
    assert got["c"][1] is True and got["c"][0] > 1.0
    assert got["a"][1] is False and got["a"][0] < 0.1
    assert got["b"][1] is False and got["b"][0] < 0.1


def test_identical_distribution_scores_zeroish(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(0, 1, 3000)
    df = spark.createDataFrame(
        [(["x", "y"][i % 2], float(v)) for i, v in enumerate(vals)], "g string, v double"
    )
    for r in drift_vs_global(df, "psi", 10, 0.2).collect():
        assert r["psi"] < 0.05 and not r["drifted"], r


def test_explicit_edges_and_counts(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", float(i + 80)) for i in range(100)],
        "g string, v double",
    )
    res = {r["g"]: r for r in drift_vs_global(df, "psi", 4, 0.2, edges=[50.0, 100.0, 150.0]).collect()}
    assert res["a"]["n"] == 100 and res["b"]["n"] == 100
    # a occupies bins {0,1}, b bins {1,2,3} -> both diverge from the pooled dist
    assert res["a"]["psi"] > 0.2 and res["b"]["psi"] > 0.2


def test_edges_match_duckdb_quantiles(spark):
    import duckdb

    rng = np.random.default_rng(3)
    vals = [float(v) for v in rng.normal(50, 5, 777)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = quantile_edges(df, "v", 10)
    want = duckdb.sql(
        "SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) FROM "
        "(SELECT unnest($1::DOUBLE[]) v)", params=[vals]
    ).fetchone()[0]
    assert np.allclose(got, list(want), rtol=0, atol=1e-9)


def test_aggregate_is_group_grain(shifted):
    """Output is one row per group — the relation a monitor stores, not a
    per-row blowup; and binning adds no Python (pure column expressions)."""
    out = drift_vs_global(shifted, "psi", 10, 0.2)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()


def test_ks_planted_shift_recovered(shifted):
    got = {r["g"]: (r["ks_d"], r["drifted"]) for r in drift_vs_global(shifted, "ks_d", 20, 0.1).collect()}
    # c is N(160,10) vs pooled ~N(100,10): CDFs barely overlap -> D near 1
    assert got["c"][1] is True and got["c"][0] > 0.8
    assert got["a"][1] is False and got["a"][0] < 0.1
    assert got["b"][1] is False and got["b"][0] < 0.1


def test_ks_matches_scipy_on_grid(spark):
    """Grid KS == direct numpy evaluation of max |CDF_g - CDF_global| at
    the same quantile edges (independent reimplementation)."""
    import numpy as np
    rng = np.random.default_rng(11)
    a = rng.normal(0, 1, 1500)
    b = rng.normal(0.7, 1.3, 700)
    df = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in b],
        "g string, v double",
    )
    edges = quantile_edges(df, "v", 20)
    pooled = np.concatenate([a, b])
    got = {r["g"]: r["ks_d"] for r in drift_vs_global(df, "ks_d", 20, 0.1, edges).collect()}
    for name, arr in [("a", a), ("b", b)]:
        # CDF at bin k (k = #edges <= x boundary) evaluated at each edge
        cdf_g = np.array([(arr <= e).mean() for e in edges])
        cdf_p = np.array([(pooled <= e).mean() for e in edges])
        want = np.max(np.abs(cdf_g - cdf_p))
        assert abs(got[name] - want) < 1e-6, (name, got[name], want)


def test_ks_group_grain_no_python(shifted):
    out = drift_vs_global(shifted, "ks_d", 20, 0.1)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()


def test_snapshot_drift_planted(spark):
    """Reference = clean N(100,10); current batch has group c shifted.
    Both PSI and KS flag only the shifted group."""
    rng = np.random.default_rng(5)
    ref = spark.createDataFrame(
        [(float(v),) for v in rng.normal(100, 10, 4000)], "v double"
    )
    rows = [("a", float(v)) for v in rng.normal(100, 10, 1500)]
    rows += [("c", float(v)) for v in rng.normal(160, 10, 800)]
    cur = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in histogram_drift(cur, ["g"], fit_bins(ref, "v", 10), ["psi", "ks_d"])
        .withColumns({"psi_drifted": F.col("psi") >= 0.2, "ks_drifted": F.col("ks_d") >= 0.1})
        .collect()}
    assert got["c"]["psi_drifted"] and got["c"]["ks_drifted"]
    assert got["c"]["ks_d"] > 0.8 and got["c"]["psi"] > 1.0
    assert not got["a"]["psi_drifted"] and not got["a"]["ks_drifted"]
    assert got["a"]["n"] == 1500 and got["c"]["n"] == 800


def test_snapshot_drift_single_aggregate(spark):
    ref = spark.range(2000).select((F.col("id") % 97).cast("double").alias("v"))
    cur = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 89).cast("double").alias("v")
    )
    out = histogram_drift(cur, ["g"], fit_bins(ref, "v", 10), ["psi", "ks_d"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the comparison plan itself is ONE aggregate pair over cur
    assert plan.count("Aggregate") <= 2
    assert out.count() == 1


# ---- categorical drift -------------------------------------------------------


def test_categorical_drift_recovers_planted_codec_shift(spark):
    ref = spark.createDataFrame(
        [("opus",)] * 60 + [("flac",)] * 20 + [("aac",)] * 20, "codec string"
    ).withColumn("grp", F.lit("ref"))
    # current: one group matches the reference, one is flac-heavy
    cur = spark.createDataFrame(
        [("clean", "opus")] * 60 + [("clean", "flac")] * 20 + [("clean", "aac")] * 20
        + [("bad", "flac")] * 80 + [("bad", "opus")] * 20,
        "grp string, codec string",
    )
    rows = {r["grp"]: r for r in histogram_drift(cur, ["grp"], fit_categories(ref, "codec", 50), ["psi", "chi2"])
        .withColumn("psi_drifted", F.col("psi") >= 0.2)
        .collect()}
    assert rows["clean"]["psi"] < 0.01 and not rows["clean"]["psi_drifted"]
    assert rows["bad"]["psi"] > 0.5 and rows["bad"]["psi_drifted"]
    assert rows["bad"]["chi2"] > rows["clean"]["chi2"]
    assert rows["clean"]["n"] == 100 and rows["bad"]["n"] == 100


def test_categorical_drift_other_pooling_and_nulls(spark):
    """Categories outside the top-k fit (and NULLs) pool into __other__ on
    both the reference and current side."""
    ref = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 10 + [("d",)] * 10, "cat string"
    )
    hist = fit_categories(ref, "cat", 2)
    assert hist.categories == ("a", "b") and len(hist.counts) == 3
    assert abs(hist.shares[-1] - 0.2) < 1e-9
    cur = spark.createDataFrame(
        [("g", "a")] * 50 + [("g", "b")] * 30 + [("g", "zzz")] * 10 + [("g", None)] * 10,
        "grp string, cat string",
    )
    row = (
        histogram_drift(cur, ["grp"], hist, ["psi"])
        .withColumn("psi_drifted", F.col("psi") >= 0.2)
        .collect()[0]
    )
    # zzz and NULL both land in __other__, matching the ref tail exactly
    assert row["psi"] < 1e-6 and not row["psi_drifted"]


def test_w1_planted_shift_in_metric_units(shifted):
    got = {
        r["g"]: (r["w1"], r["drifted"])
        for r in drift_vs_global(shifted, "w1", 20, 10.0).collect()
    }
    # c is N(160,10) vs pooled ~N(104): the grid-truncated W1 must read a
    # large fraction of the ~56-unit shift; clean groups read ~0
    assert got["c"][1] is True and got["c"][0] > 25.0
    assert got["a"][1] is False and got["a"][0] < 6.0
    assert got["b"][1] is False and got["b"][0] < 6.0


def test_w1_matches_numpy_on_grid(spark):
    """Grid W1 == the same discretization computed in numpy from the
    exact edges + counts (independent reimplementation)."""
    import numpy as np

    rng = np.random.default_rng(11)
    a = rng.normal(50.0, 5.0, 1500)
    b = rng.normal(62.0, 8.0, 500)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    edges = quantile_edges(df, "v", 20)
    got = {r["g"]: r["w1"] for r in drift_vs_global(df, "w1", 20, 50.0).collect()}
    allv = np.concatenate([a, b])
    for g, vals in (("a", a), ("b", b)):
        w1 = 0.0
        for j in range(len(edges) - 1):
            ca = (vals <= edges[j]).mean()
            ce = (allv <= edges[j]).mean()
            w1 += abs(ca - ce) * (edges[j + 1] - edges[j])
        assert got[g] == pytest.approx(w1, abs=1e-6)


def test_w1_group_grain_no_python(shifted):
    out = drift_vs_global(shifted, "w1", 20, 50.0)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()


def test_w1_spans_empty_bins(spark):
    """Edges 1/3/5 over [1]×4 ∪ [5]×4 leave the middle bin empty; its width
    still carries CDF mass, so W1 is the grid formula's 2.0 per group."""
    df = spark.createDataFrame([("a", 1.0)] * 4 + [("b", 5.0)] * 4, "g string, v double")
    edges = quantile_edges(df, "v", 4)
    assert edges == [1.0, 3.0, 5.0]
    allv = np.array([1.0] * 4 + [5.0] * 4)
    got = {r["g"]: r["w1"] for r in drift_vs_global(df, "w1", 4, 50.0).collect()}
    for g, vals in (("a", np.array([1.0] * 4)), ("b", np.array([5.0] * 4))):
        want = sum(
            abs((vals <= edges[j]).mean() - (allv <= edges[j]).mean()) * (edges[j + 1] - edges[j])
            for j in range(len(edges) - 1)
        )
        assert want == 2.0 and got[g] == pytest.approx(want, abs=1e-6), (g, got[g])
