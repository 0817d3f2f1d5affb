"""Config-driven pipelines against the reference's own demo configs and
fixtures (read from /root/reference at test time; skipped if absent)."""

import json
import os

import pytest

from macrobase_spark.operators.explain import meanshift_explain
from macrobase_spark.operators.classify import count_mean_shift_classify
from macrobase_spark.pipelines import run_config

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(f"{REF}/core/demo"), reason="reference demo configs absent"
)


def _yaml_lite(path: str) -> dict:
    """Parse the reference's simple YAML configs without a YAML dependency."""
    conf: dict = {}
    key = None
    for line in open(path):
        line = line.split("#", 1)[0].rstrip()
        if not line.strip():
            continue
        if line.lstrip().startswith("- "):
            conf.setdefault(key, []).append(line.split("- ", 1)[1].strip().strip('"'))
            continue
        key, _, val = line.partition(":")
        key, val = key.strip(), val.strip().strip('"')
        if val == "":
            conf[key] = []
        elif val in ("true", "false"):
            conf[key] = val == "true"
        else:
            try:
                conf[key] = float(val) if "." in val else val
            except ValueError:
                conf[key] = val
    return conf


def test_batch_yaml_demo(spark):
    """core/demo/batch.yaml: percentile(usage,1.0) + aplinear global_ratio 10
    over sample.csv — same fixture as golden query 4 (ratio 10, support .2)."""
    conf = _yaml_lite(f"{REF}/core/demo/batch.yaml")
    res = run_config(spark, conf, base_dir=REF)
    rows = res.explanation.collect()
    assert len(rows) > 0
    # cross-check every emitted itemset against a pandas recomputation of
    # the classified relation (independent of the Spark aggregation path)
    cls = res.classified.toPandas()
    total_out = cls["_OUTLIER"].sum()
    for r in rows:
        assert r["support"] >= 0.2
        assert r["global_ratio"] >= 10.0
        sub = cls
        for a in ("location", "version"):
            if r[a] is not None:
                sub = sub[sub[a] == r[a]]
        assert r["outlier_count"] == pytest.approx(sub["_OUTLIER"].sum())
        assert r["total_count"] == pytest.approx(len(sub))
        assert r["support"] == pytest.approx(sub["_OUTLIER"].sum() / total_out)


def test_cube_json_demo(spark):
    """core/demo/cube.json: arithmetic cube classifier over sample_cubed.csv."""
    conf = json.load(open(f"{REF}/core/demo/cube.json"))
    res = run_config(spark, conf, base_dir=REF)
    rows = res.explanation.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["global_ratio"] >= 10.0


def test_cube_quantile_demo(spark):
    conf = json.load(open(f"{REF}/core/demo/cube_quantile.json"))
    res = run_config(spark, conf, base_dir=REF)
    assert res.explanation.count() >= 0  # runs end-to-end
    assert "_OUTLIER" in res.classified.columns


def test_double_predicate_demo(spark):
    conf = json.load(open(f"{REF}/core/demo/double_predicate.json"))
    res = run_config(spark, conf, base_dir=REF)
    rows = res.explanation.collect()
    assert len(rows) > 0


def test_tiny_conf(spark):
    conf = _yaml_lite(f"{REF}/core/src/test/resources/tiny_conf.yaml")
    conf["inputURI"] = "csv://core/src/test/resources/tiny.csv"
    res = run_config(spark, conf, base_dir=REF)
    assert res.explanation.count() >= 0


def test_meanshift_summarizer_planted(spark):
    """Planted mean-shift: group g=hot has outlier mean 10x the inlier mean."""
    rows = []
    for i in range(400):
        g = "hot" if i % 4 < 2 else "cold"
        is_out = i % 2 == 0
        v = 100.0 if (g == "hot" and is_out) else 10.0
        rows.append((g, v, 1.0 if is_out else 0.0))
    df = spark.createDataFrame(rows, ["g", "val", "flag"])
    from pyspark.sql import functions as F

    t = count_mean_shift_classify(df, "val", F.col("flag") == 1.0)
    res = meanshift_explain(t, ["g"], min_support=0.1, min_mean_shift=2.0)
    got = {r["g"]: r for r in res.collect()}
    assert "hot" in got and "cold" not in got
    assert got["hot"]["mean_shift"] == pytest.approx(10.0)


def test_cube_meanshift_fixture(spark):
    """CountMeanShift cube pipeline over the lib mean-shift fixture
    (sample_cubedshift.csv: time-split, meanLatency shift)."""
    conf = {
        "pipeline": "CubePipeline",
        "inputURI": "csv://lib/src/test/resources/sample_cubedshift.csv",
        "classifier": "meanshift",
        "metric": "time",
        "predicate": "==",
        "cutoff": 2.0,
        "countColumn": "count",
        "meanColumn": "meanLatency",
        "attributes": ["location", "version", "language"],
        "minSupport": 0.05,
        "meanShiftRatio": 1.1,
    }
    res = run_config(spark, conf, base_dir=REF)
    assert res.explanation.count() >= 0


def test_classifier_chain_config(spark, tmp_path):
    """Chained classifiers (reference Pipelines.getClassifiersChain:387-419):
    iforest scores the metric columns, then percentile flags the top scores
    (consuming the previous link's output), and the summarizer explains the
    final flag. Planted: the 'bad' group holds all the far-out points."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(1200):
        bad = i % 40 == 0
        x = rng.uniform(6.0, 9.0, 2) if bad else rng.normal(0.0, 1.0, 2)
        rows.append((float(x[0]), float(x[1]), "bad" if bad else "ok"))
    df = spark.createDataFrame(rows, "m0 double, m1 double, grp string")
    path = str(tmp_path / "chain_input.parquet")
    df.write.parquet(path)
    conf = {
        "pipeline": "BasicBatchPipeline",
        "inputURI": f"parquet://{path}",
        "classifiers": [
            {"id": "iforest", "metricColumns": ["m0", "m1"],
             "parameters": {"treesCount": 50, "trainSize": 1200}},
            {"id": "percentile", "parameters": {"cutoff": 3.0, "includeLo": False}},
        ],
        "summarizer": "apriori",
        "attributes": ["grp"],
        "ratioMetric": "globalRatio",
        "minSupport": 0.2,
        "minRatioMetric": 3.0,
        "maxOrder": 1,
    }
    res = run_config(spark, conf)
    assert "_OUTLIER1" in res.classified.columns
    got = {r["grp"]: r for r in res.explanation.collect()}
    assert "bad" in got and "ok" not in got


def test_explanation_config(spark, tmp_path):
    """alexp explanation-benchmark surface: classifier chain → POIs →
    subspace explainer, driven purely by config (Pipelines.java:245-283)."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 2000
    f0 = rng.normal(0, 1, n)
    f1 = f0 + rng.normal(0, 0.05, n)
    f2 = rng.normal(0, 1, n)
    out_ids = [i for i in range(25) if abs(f0[i]) > 0.8]
    for i in out_ids:
        f1[i] = -f0[i]
    rows = [(float(f0[i]), float(f1[i]), float(f2[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "m0 double, m1 double, m2 double")
    path = str(tmp_path / "expl_input.parquet")
    df.write.parquet(path)

    from macrobase_spark.pipelines import run_explanation_config

    for eid in ("beam", "lookout"):
        res = run_explanation_config(
            spark,
            {
                "inputURI": f"parquet://{path}",
                "metricColumns": ["m0", "m1", "m2"],
                "explainer": {"id": eid, "parameters": {"budget": 2, "topk": 2}},
                "contamination": 0.05,
            },
        )
        assert res.count() > 0
        assert "__REL_SUBSPACES" in res.columns


def test_time_column_parsing(spark, tmp_path):
    """Reference Pipelines.parseTimeColumn semantics (Pipelines.java:381-385
    + LegacyClassifierEvaluationPipeline.java:102-104): timeColumn+timeFormat
    adds `!parsed_<col>` = UTC epoch seconds (".000000" fraction stripped
    first); timeColumn=__autogenerated_time adds 0,1,2,... ordinals."""
    import csv as _csv

    from macrobase_spark.pipelines import _wire_time_column

    p = tmp_path / "timed.csv"
    with open(p, "w", newline="") as f:
        wtr = _csv.writer(f)
        wtr.writerow(["ts", "usage", "loc"])
        wtr.writerow(["2024-01-01 00:00:00.000000", "1.0", "a"])
        wtr.writerow(["2024-01-01 00:00:05", "100.0", "b"])
    conf = {
        "inputURI": f"csv://{p}",
        "timeColumn": "ts",
        "timeFormat": "yyyy-MM-dd HH:mm:ss",
        "classifier": "percentile",
        "metric": "usage",
        "cutoff": 1.0,
        "attributes": ["loc"],
        "summarizer": "apriori",
        "minSupport": 0.1,
        "minRatioMetric": 1.0,
    }
    res = run_config(spark, conf)
    pdf = res.classified.toPandas().sort_values("!parsed_ts")
    assert list(pdf["!parsed_ts"]) == [1704067200.0, 1704067205.0]  # UTC epochs

    df = spark.createDataFrame([(x,) for x in "abc"], "v string")
    out, conf2 = _wire_time_column(df, {"timeColumn": "__autogenerated_time"})
    vals = sorted(r["__autogenerated_time"] for r in out.collect())
    assert vals == [0.0, 1.0, 2.0]
    assert conf2["timeColumn"] == "__autogenerated_time"


def test_chain_contrib_classifiers(spark):
    """The config vocabulary reaches the contrib scorers: kde / gmm /
    binnedkde chain links score every row and keep the input columns."""
    import numpy as np

    from macrobase_spark.pipelines import classify_chain

    rng = np.random.default_rng(8)
    rows = [
        (int(i), float(rng.normal(0, 1)), float(rng.normal(5, 2)), "a" if i % 2 else "b")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, m1 double, m2 double, attr string")
    for conf in (
        [{"id": "kde", "metricColumns": ["m1", "m2"]}],
        [{"id": "gmm", "metricColumns": ["m1", "m2"], "parameters": {"numMixtures": 2}}],
        [{"id": "binnedkde", "metricColumns": ["m1"]}],
    ):
        out, col = classify_chain(df, conf)
        res = out.collect()
        assert len(res) == 500
        assert {"id", "m1", "m2", "attr", col} <= set(out.columns)
        assert all(r[col] is not None for r in res)


def test_chain_arima_classifier(spark):
    """The 'arima' chain id scores a keyed time series through the config
    vocabulary (tupleWindow + timeColumn) and keeps every input column;
    the scores equal the operator run directly."""
    import numpy as np

    from macrobase_spark.operators.arima import arima_score
    from macrobase_spark.pipelines import classify_chain

    rng = np.random.default_rng(9)
    rows = [
        (f"k{i % 2}", int(i), float(30 + 5 * rng.normal()), "x" if i % 3 else "y")
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "key string, t long, value double, attr string")
    out, col = classify_chain(
        df,
        [
            {
                "id": "arima",
                "metricColumns": ["value"],
                "parameters": {
                    "timeColumn": "t",
                    "keyColumns": ["key"],
                    "tupleWindow": 40,
                },
            }
        ],
    )
    res = out.collect()
    assert len(res) == 160
    assert {"key", "t", "value", "attr", col} <= set(out.columns)
    want = {
        (r["key"], r["t"], round(r["score"], 9))
        for r in arima_score(df, ["key"], "t", "value", 40).collect()
    }
    got = {(r["key"], r["t"], round(r[col], 9)) for r in res}
    assert got == want
