"""Explain-kernel correctness.

Includes a port of the reference's planted-anomaly property test
(lib/src/test/java/.../StreamingSummarizationTest.java:30-80): plant a bug on
attributes (a0=a0:1, a1=a1:1), assert the top-ranked explanation is exactly
that itemset, and that risk-ratio edge cases (Infinity) reproduce.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.classify import OUTLIER_COL
from macrobase_spark.operators.explain import ExplainParams, diff_split, explain


def make_planted(spark, n=4000, d=4, cardinality=5, noise=0.01, seed=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        attrs = [f"a{j}:{rng.randrange(cardinality)}" for j in range(d)]
        outlier = 1.0 if rng.random() < noise else 0.0
        # planted bug: a0:1 & a1:1 → always outlier
        if attrs[0] == "a0:1" and attrs[1] == "a1:1":
            outlier = 1.0
        rows.append((*attrs, outlier))
    cols = [f"a{j}" for j in range(d)] + [OUTLIER_COL]
    return spark.createDataFrame(rows, cols)


def test_planted_anomaly_recovered(spark):
    df = make_planted(spark)
    res = explain(
        df,
        ExplainParams(
            attributes=["a0", "a1", "a2", "a3"],
            min_support=0.3,
            min_ratio_metric=10.0,
            ratio_metric="risk_ratio",
            max_order=3,
            prune_containment=False,  # full cube: the exact planted pair surfaces
        ),
    )
    top = res.orderBy(F.desc("risk_ratio"), F.desc("support")).limit(1).collect()[0]
    assert top["a0"] == "a0:1" and top["a1"] == "a1:1"
    assert top["a2"] is None and top["a3"] is None


def test_containment_pruning_suppresses_supersets(spark):
    """Reference KEEP/NEXT/PRUNE lattice: when the planted singletons already
    clear the ratio threshold they are emitted alone — no redundant
    supersets (APrioriLinear.java:294-305)."""
    df = make_planted(spark)
    res = explain(
        df,
        ExplainParams(
            attributes=["a0", "a1", "a2", "a3"],
            min_support=0.3,
            min_ratio_metric=10.0,
            ratio_metric="risk_ratio",
            max_order=3,
        ),
    ).collect()
    itemsets = {
        tuple(a for a in ["a0", "a1", "a2", "a3"] if r[a] is not None) for r in res
    }
    assert itemsets == {("a0",), ("a1",)}


def test_risk_ratio_infinity_edge(spark):
    # every outlier is v=x → unexposed outliers = 0 → risk_ratio = +Inf
    rows = [("x", 1.0)] * 5 + [("y", 0.0)] * 10 + [("x", 0.0)] * 2
    df = spark.createDataFrame(rows, ["v", OUTLIER_COL])
    res = explain(
        df,
        ExplainParams(
            attributes=["v"], min_support=0.5, min_ratio_metric=1.0,
            ratio_metric="risk_ratio", max_order=1,
        ),
    ).collect()
    assert len(res) == 1
    assert res[0]["v"] == "x"
    assert math.isinf(res[0]["risk_ratio"])
    assert res[0]["outlier_count"] == 5.0 and res[0]["total_count"] == 7.0


def test_support_threshold_and_counts(spark):
    # 10 outliers: 6 at loc=A, 4 at loc=B; support 0.5 keeps only A
    rows = (
        [("A", "v1", 1.0)] * 6
        + [("B", "v1", 1.0)] * 4
        + [("A", "v2", 0.0)] * 10
        + [("B", "v2", 0.0)] * 80
    )
    df = spark.createDataFrame(rows, ["loc", "ver", OUTLIER_COL])
    res = explain(
        df,
        ExplainParams(
            attributes=["loc", "ver"], min_support=0.5, min_ratio_metric=1.0,
            ratio_metric="global_ratio", max_order=3, prune_containment=False,
        ),
    )
    got = {tuple(r[a] for a in ["loc", "ver"]): r for r in res.collect()}
    # singleton A: a=6, m=16; global rate 10/100 → gr = (6/16)/(0.1) = 3.75
    assert ("A", None) in got
    assert got[("A", None)]["global_ratio"] == pytest.approx(3.75)
    assert got[("A", None)]["support"] == pytest.approx(0.6)
    # v1: a=10, m=10 → gr 10.0 ; pair (A,v1): a=6, m=6 → gr 10.0, support .6
    assert got[(None, "v1")]["global_ratio"] == pytest.approx(10.0)
    assert ("A", "v1") in got
    assert got[("A", "v1")]["global_ratio"] == pytest.approx(10.0)
    # B singleton support 0.4 < 0.5 → absent, and so is pair (B, v1)
    assert ("B", None) not in got and ("B", "v1") not in got


def test_diff_split_on_real_table(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cut = orders.agg(F.percentile("o_totalprice", 0.95).alias("c")).collect()[0]["c"]
    res = diff_split(
        orders,
        F.col("o_totalprice") > cut,
        attributes=["o_orderstatus", "o_orderpriority"],
        min_support=0.05,
        min_ratio_metric=1.0,
        ratio_metric="global_ratio",
        max_order=2,
    )
    rows = res.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["support"] >= 0.05
        assert r["global_ratio"] >= 1.0


def _canon(df):
    """Schema and sorted rows, NaN made equal to itself."""
    c = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    return str(df.schema), sorted(repr(tuple(map(c, r))) for r in df.collect())


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("metric", ["risk_ratio", "global_ratio"])
def test_driver_lattice_matches_explain(spark, prune, metric):
    """Cube mode on the driver (`explain_rows`) returns exactly the rows of
    `explain` over the same cube as a DataFrame, at every order, with and
    without containment pruning, NULL attribute values included."""
    from macrobase_spark.operators.explain import explain_rows

    rng = random.Random(hash((prune, metric)) % 1000)
    for max_order in (1, 2, 3):
        for _ in range(3):
            attrs = [f"a{j}" for j in range(rng.choice([2, 3]))]
            rows = []
            for _ in range(rng.randrange(4, 25)):
                count = rng.randrange(1, 60)
                vals = [
                    None if rng.random() < 0.15 else f"v{rng.randrange(3)}" for _ in attrs
                ]
                rows.append((float(rng.randrange(0, count + 1)), float(count), *vals))
            params = ExplainParams(
                attributes=attrs,
                count_col="_count",
                min_support=rng.choice([0.05, 0.1, 0.2]),
                min_ratio_metric=rng.choice([0.5, 1.0, 1.5]),
                ratio_metric=metric,
                max_order=max_order,
                prune_containment=prune,
            )
            ddl = [f"{OUTLIER_COL} double", "_count double"] + [f"{a} string" for a in attrs]
            cube = spark.createDataFrame(rows, ", ".join(ddl))
            assert _canon(explain_rows(spark, rows, params)) == _canon(explain(cube, params))


def test_order3_candidate_semi_join_path(spark, monkeypatch):
    """Past `_ISIN_MAX` order-3 candidates, a round filters the exploded
    triples with a broadcast semi join instead of an isin list: the same
    rows either way."""
    import macrobase_spark.operators.explain as E

    df = make_planted(spark, n=1500, seed=3)
    params = ExplainParams(
        attributes=["a0", "a1", "a2", "a3"], min_support=0.02,
        min_ratio_metric=2.0, ratio_metric="risk_ratio", max_order=3,
    )
    isin = explain(df, params)
    assert any(sum(r[a] is not None for a in params.attributes) == 3 for r in isin.collect())
    monkeypatch.setattr(E, "_ISIN_MAX", 0)
    assert _canon(explain(df, params)) == _canon(isin)
