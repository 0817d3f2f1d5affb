"""Legacy EW streaming runtime: AChao reservoir, AMC heavy hitters,
streaming FPGrowth (projection multiset), decaying emerging itemsets, and
the one-shot pipeline (reference legacy/.../BasicOneShotEWStreamingPipeline
+ components; see operators/ew.py header for file:line map)."""

from itertools import combinations

import numpy as np
import pytest

from macrobase_spark.operators.ew import (
    AChaoReservoir,
    AMCounter,
    DecayingEmergingItemsets,
    EWParams,
    EWStreamingRuntime,
    Periodic,
    StreamingFP,
    corrected_risk_ratio,
    ew_classify_flags,
    ew_streaming_summarize,
)


def test_achao_small_stream_keeps_everything():
    r = AChaoReservoir(100, 0.1, seed=1)
    for i in range(50):
        r.insert(i)
    assert r.get() == list(range(50))
    r.advance_period()
    assert r.running_count == pytest.approx(50 * 0.9)


def test_achao_overweight_items_always_sampled():
    r = AChaoReservoir(5, 0.1, seed=2)
    for i in range(100):
        r.insert(i, 1.0)
    r.insert("whale", 1000.0)  # p = 5*1000/1100 > 1 -> parked overweight
    got = r.get()
    assert "whale" in got and len(got) == 5
    # after enough mass arrives, the whale fits and rejoins normally
    for i in range(100000):
        r.insert(i, 10.0)
    assert len(r.get()) == 5


def test_periodic_tuple_based():
    fired = []
    p = Periodic(3, lambda: fired.append(1))
    for _ in range(10):
        p.run_if_necessary()
    # fires when prev+3 < calls: at calls 4,7,10
    assert len(fired) == 3
    p2 = Periodic(-1, lambda: fired.append(1))
    for _ in range(10):
        p2.run_if_necessary()
    assert len(fired) == 3


def test_amc_overreport_and_eviction():
    c = AMCounter(2)
    for _ in range(5):
        c.observe("a")
    for _ in range(3):
        c.observe("b")
    c.observe("c")
    assert c.get_count("a") == 5 and c.get_total_count() == 9
    c.multiply_all_counts(0.5)  # decay by 2 + evict down to 2 items
    # c (raw count 1) evicted; prevEpochMaxEvicted = 1 (raw), shown /decay
    assert c.get_count("c") == pytest.approx(0.5)
    # new item enters at prevEpochMaxEvicted + count (overreport, raw
    # domain: (1 + 1*decayFactor) / decayFactor = 0.5 + 1)
    c.observe("d")
    assert c.get_count("d") == pytest.approx(1 / 2 + 1)
    # decayed existing counts
    assert c.get_count("a") == pytest.approx(2.5)
    # getCounts RESETS the decay divisor (the reference's getCounts:86-89);
    # the evicted floor stays raw, so the absent-item answer grows — a
    # reference inconsistency mirrored exactly
    assert set(c.get_counts()) == {"a", "b", "d"}
    assert c.get_count("c") == pytest.approx(1.0)


def _brute_supports(txns: dict, thr: float) -> dict:
    items = sorted({i for k in txns for i in k})
    out = {}
    for r in range(2, len(items) + 1):
        for combo in combinations(items, r):
            s = sum(c for k, c in txns.items() if set(combo) <= k)
            if s >= thr:
                out[frozenset(combo)] = s
    return out


def test_streaming_fp_exact_matches_brute_force():
    rng = np.random.default_rng(7)
    items = list(range(8))
    fp = StreamingFP(support=0.1)
    txns = {}
    for _ in range(300):
        t = sorted(rng.choice(items, size=rng.integers(1, 5), replace=False))
        fp.insert_exact(t)
        k = frozenset(t)
        txns[k] = txns.get(k, 0) + 1
    thr = int(fp.root_count * fp.support)
    mined = fp.get_itemsets()
    got = {}
    for s, c in mined:
        k = frozenset(s)
        if len(k) >= 2:
            got[k] = max(got.get(k, 0), c)  # dedup (reference dedups later)
    exp = _brute_supports(txns, thr)
    assert got == {k: float(v) for k, v in exp.items()}
    # singletons report frequentItemCounts (exact here)
    singles = {next(iter(s)): c for s, c in mined if len(s) == 1}
    for i, c in singles.items():
        assert c == fp.frequent[i]


def test_streaming_fp_false_negative_projection_and_reset():
    fp = StreamingFP(support=0.0)
    fp.insert_false_negative([1, 2])  # frequent empty -> dropped entirely
    assert fp.root_count == 0 and not fp.txns
    fp.decay_and_reset({1: 5.0, 2: 3.0, 3: 1.0}, 0)
    fp.insert_false_negative([1, 2, 9])  # 9 not frequent -> projected out
    fp.insert_false_negative([1, 3])
    assert fp.txns == {frozenset([1, 2]): 1.0, frozenset([1, 3]): 1.0}
    assert fp.get_support([1]) == 2 and fp.get_support([1, 2]) == 1
    # reset to {1,2}: stored projections lose 3; counts decay by (1-0.5)
    fp.decay_and_reset({1: 5.0, 2: 3.0}, 0.5)
    assert fp.txns == {frozenset([1, 2]): 0.5, frozenset([1]): 0.5}
    assert fp.root_count == pytest.approx(1.0)
    # frequentItemCounts are scaled too (decayWeights hits them at root)
    assert fp.frequent == {1: 2.5, 2: 1.5}


def test_corrected_risk_ratio_reference_cases():
    # all outliers exposed -> +inf
    rr, corr = corrected_risk_ratio(10, 5, 100, 5)
    assert rr == float("inf")
    # no exposed outliers -> 0
    assert corrected_risk_ratio(10, 0, 100, 50) == (0.0, 0.0)
    # generic case: rr - 2*sqrt((ei/eo)/(ei+eo) + 1/(rest))
    rr, corr = corrected_risk_ratio(10, 20, 100, 40)
    exp_rr = (20 / 30) / (20 / 110)
    exp_c = exp_rr - 2 * np.sqrt((10 / 20) / 30 + 1 / 110)
    assert rr == pytest.approx(exp_rr) and corr == pytest.approx(exp_c)


def test_decaying_emerging_itemsets_planted_pair():
    d = DecayingEmergingItemsets(1000, 1000, 0.2, 1.0, 0.01, 2)
    # period 1: outliers carry (a=bad, b=hot); inliers spread
    for _ in range(50):
        d.mark_outlier(["a=bad", "b=hot"])
    for i in range(500):
        d.mark_inlier([f"a={i % 5}", f"b={i % 7}"])
    d.mark_period()  # items become interesting; trees reset to them
    for _ in range(50):
        d.mark_outlier(["a=bad", "b=hot"])
    for i in range(500):
        d.mark_inlier([f"a={i % 5}", f"b={i % 7}"])
    res = d.get_itemsets()
    sets = [items for _, _, _, items in res]
    assert frozenset(["a=bad"]) in sets
    assert frozenset(["a=bad", "b=hot"]) in sets  # the pair, via the FP path
    # top result (count desc, size desc) is a planted item/pair
    assert "a=bad" in res[0][3] or "b=hot" in res[0][3]


def _planted(n=3000, seed=5):
    rng = np.random.default_rng(seed)
    metric = rng.normal(0, 1, n).round(3)
    attrs = np.array([f"a={x}" for x in rng.choice(["u", "v", "w"], n)], dtype=object)
    hot = rng.choice(np.arange(n // 2, n), 60, replace=False)
    metric[hot] += 50
    attrs[hot] = "a=bad"
    return metric, attrs


def test_runtime_recovers_planted_attribute():
    metric, attrs = _planted()
    p = EWParams(
        warmup_count=300, input_reservoir_size=300, score_reservoir_size=300,
        model_update_period=500, summary_update_period=500,
        decay_rate=0.01, target_percentile=0.95, min_support=0.2,
        min_oi_ratio=1.0, attribute_combinations=True,
    )
    rt = EWStreamingRuntime(p, 1)
    res = rt.run(metric, [[a] for a in attrs])
    assert res["num_outliers"] > 0
    top = res["itemsets"][0]
    assert top[3] == frozenset(["a=bad"])
    # determinism: a second identical run agrees exactly
    rt2 = EWStreamingRuntime(p, 1)
    res2 = rt2.run(metric, [[a] for a in attrs])
    assert res2["itemsets"] == res["itemsets"]
    assert res2["flags"] == res["flags"]


def test_spark_faces_match_local_runtime(spark):
    metric, attrs = _planted(n=1200, seed=9)
    rows = [
        (int(i), float(m), a.split("=")[1]) for i, (m, a) in enumerate(zip(metric, attrs))
    ]
    df = spark.createDataFrame(rows, "rid long, m double, a string")
    p = EWParams(
        warmup_count=200, input_reservoir_size=200, score_reservoir_size=200,
        model_update_period=300, summary_update_period=300,
        decay_rate=0.01, target_percentile=0.95, min_support=0.2,
        min_oi_ratio=1.0,
    )
    got = {
        r["items"]: (r["support"], r["count"], r["ratio"])
        for r in ew_streaming_summarize(df, "m", ["a"], "rid", p).collect()
    }
    rt = EWStreamingRuntime(p, 1)
    res = rt.run(metric, [[f"a={a.split('=')[1]}"] for a in attrs])
    exp = {
        ",".join(sorted(items)): (s, c, rr) for s, c, rr, items in res["itemsets"]
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k])
    flags = ew_classify_flags(df, "m", ["a"], "rid", p).collect()
    assert [r["outlier"] for r in sorted(flags, key=lambda r: r["__ord"])] == res[
        "flags"
    ]


def test_no_decay_regime_matches_numpy_replay(spark):
    """The oracle regime replayed in numpy: frozen MAD + frozen threshold +
    the reference's warmup-flag quirk."""
    metric, attrs = _planted(n=900, seed=11)
    rows = [(int(i), float(m), a) for i, (m, a) in enumerate(zip(metric, attrs))]
    df = spark.createDataFrame(rows, "rid long, m double, a string")
    W = 150
    p = EWParams(
        warmup_count=W, input_reservoir_size=5000, score_reservoir_size=5000,
        model_update_period=1e9, summary_update_period=1e9,
        target_percentile=0.9,
    )
    got = ew_classify_flags(df, "m", ["a"], "rid", p).collect()
    got = [r["outlier"] for r in sorted(got, key=lambda r: r["__ord"])]
    warm = np.sort(metric[: W - 1])
    n = len(warm)
    med = (warm[n // 2 - 1] + warm[n // 2]) / 2 if n % 2 == 0 else warm[n // 2]
    r = np.sort(np.abs(warm - med))
    mad = (r[n // 2 - 1] + r[n // 2]) / 2 if n % 2 == 0 else r[n // 2]
    scores = np.abs(metric - med) / mad
    t = np.sort(scores[: W - 1])[int(0.9 * (W - 1))]
    exp = (scores > t).astype(int)
    exp[: W - 1] = int(scores[W - 1] > t)  # warmup block takes row W's flag
    assert got == exp.tolist()


def test_stream_matches_batch(spark, tmp_path):
    """ew_classify_flags over micro-batched files == ew_classify_flags on the
    same rows (one resumable state machine per key)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(21)
    rows = [
        (f"k{i % 2}", int(i), round(float(rng.normal(0, 1)), 3) + (30.0 if i % 97 == 0 else 0.0))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "key string, t long, value double")
    p = EWParams(
        warmup_count=50, input_reservoir_size=80, score_reservoir_size=80,
        model_update_period=100, summary_update_period=100,
        decay_rate=0.01, target_percentile=0.9,
    )
    src = str(tmp_path / "ew_src")
    for lo, hi in [(0, 200), (200, 400), (400, 600)]:
        df.filter((F.col("t") >= lo) & (F.col("t") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("key string, t long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ew_classify_flags(stream, "value", ["key"], "t", p, key_cols=["key"])
        .writeStream.format("memory")
        .queryName("ew_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["key"], r["__ord"]): (round(r["score"], 9), r["outlier"])
            for r in spark.table("ew_sink").collect()
        }
    finally:
        q.stop()
    batch = {
        (r["key"], r["__ord"]): (round(r["score"], 9), r["outlier"])
        for r in ew_classify_flags(
            df, "value", ["key"], "t", p, key_cols=["key"]
        ).collect()
    }
    # the stream lags by the un-flushed warmup tail; everything emitted
    # must agree exactly, and most of the stream must have been emitted
    assert got and set(got) <= set(batch)
    assert len(got) >= len(batch) - 2 * (p.warmup_count + 1)
    for k in got:
        assert got[k] == batch[k]
