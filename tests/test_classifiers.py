"""Quantile cube classifier + simhash near-dup verification."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.classify import (
    arithmetic_cube_classify,
    quantile_cube_classify,
)
from macrobase_spark.operators.dedup import simhash_candidates


def test_quantile_cube_classify_recovers_tail(spark):
    """Groups drawn from N(mu, 1); the group with mu=+6 holds the global
    upper tail, so its estimated outlier count ≈ its full count."""
    rng = np.random.default_rng(0)
    levels = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    rows = []
    for g, mu, cnt in [("a", 0.0, 1000), ("b", 0.2, 1000), ("c", 6.0, 20)]:
        x = rng.normal(mu, 1.0, size=cnt)
        qv = [float(np.quantile(x, q)) for q in levels]
        rows.append((g, float(cnt), *qv))
    cols = ["g", "count"] + [f"q{int(q*100)}" for q in levels]
    df = spark.createDataFrame(rows, cols)
    out = quantile_cube_classify(
        df,
        [(q, f"q{int(q*100)}") for q in levels],
        count_col="count",
        percentile=1.0,
    )
    got = {r["g"]: r["_OUTLIER"] for r in out.collect()}
    # group c is entirely in the global top 1% → nearly all 20 are outliers
    assert got["c"] > 15.0
    # the bulk groups contribute only their own extreme sliver
    assert got["a"] < 40.0 and got["b"] < 40.0


def test_arithmetic_cube_classify(spark):
    # 20 bulk groups with tight spread + one far-out group: the far group's
    # whole Normal mass lies above the weighted-percentile cutoff
    rows = [(f"g{i}", 100.0, float(i), 0.1) for i in range(20)]
    rows.append(("hot", 5.0, 100.0, 0.1))
    df = spark.createDataFrame(rows, ["g", "count", "mean", "std"])
    out = arithmetic_cube_classify(df, percentile=1.0)
    got = {r["g"]: r["_OUTLIER"] for r in out.collect()}
    assert got["hot"] == pytest.approx(5.0, abs=0.1)
    for i in range(1, 19):
        assert got[f"g{i}"] < 1.0


def test_simhash_near_dups(spark):
    # long doc + 1-token edit → tiny hamming; unrelated docs → ~32 bits apart
    rng = np.random.default_rng(1)
    vocab = [f"w{j}" for j in range(500)]
    base_words = [vocab[j] for j in rng.integers(0, 500, size=120)]
    base = " ".join(base_words)
    edited = " ".join(["XEDIT" if i == 60 else w for i, w in enumerate(base_words)])
    docs = [(0, base), (1, edited)]
    for i in range(2, 40):
        docs.append((i, " ".join(vocab[j] for j in rng.integers(0, 500, size=100))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = simhash_candidates(df, "doc_id", "text", max_hamming=10).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in got
    h = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert h[(0, 1)] <= 10
    # no unrelated doc pairs survive verification
    assert all({a, b} <= {0, 1} for a, b in got)


def test_count_mean_shift_cube_classify(spark):
    """Cube rows matching the predicate contribute their whole weighted
    count + mean·count (reference CountMeanShiftCubedClassifier)."""
    from macrobase_spark.operators.classify import count_mean_shift_cube_classify

    rows = [("a", 10.0, 5.0, 1.0), ("b", 20.0, 7.0, 2.0)]
    df = spark.createDataFrame(rows, "g string, cnt double, mean double, t double")
    out = {r["g"]: r for r in count_mean_shift_cube_classify(
        df, "t", "==", 1.0, count_col="cnt", mean_col="mean").collect()}
    assert out["a"]["_OUTLIERCOUNT"] == 10.0 and out["a"]["_OUTLIERMEANSUM"] == 50.0
    assert out["a"]["_INLIERCOUNT"] == 0.0
    assert out["b"]["_INLIERCOUNT"] == 20.0 and out["b"]["_INLIERMEANSUM"] == 140.0
    assert out["b"]["_OUTLIERCOUNT"] == 0.0


def test_candidate_counts_scale_linearly(spark):
    """Bucketed dedup/ANN candidate sets must grow ~linearly in corpus size
    (the r1 verdict's scale criterion): 10x documents must NOT produce
    quadratic (100x) candidate growth."""
    from macrobase_spark.operators.dedup import minhash_lsh_candidates, simhash_candidates
    from macrobase_spark.operators.similarity import lsh_cosine_candidates

    import pyspark.sql.functions as F

    counts = {}
    for sf in ("sf0.01", "sf0.1"):
        d = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        e = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        dim = len(e.select("embedding").first()[0])
        counts[sf] = {
            "docs": d.count(),
            "minhash": minhash_lsh_candidates(d, "doc_id", "text").count(),
            "simhash": simhash_candidates(d, "doc_id", "text", token_hash="md5_60").count(),
            "ann": lsh_cosine_candidates(
                e, "vec_id", "embedding", dim=dim, n_planes=10, n_tables=2
            ).count(),
        }
    growth_docs = counts["sf0.1"]["docs"] / counts["sf0.01"]["docs"]
    for k in ("minhash", "simhash", "ann"):
        lo, hi = counts["sf0.01"][k], counts["sf0.1"][k]
        growth = hi / max(lo, 1)
        # near-linear: well under quadratic (growth_docs^2) at 10x data
        assert growth < growth_docs * 4, (k, counts)


def test_minhash_hot_bucket_guard(spark):
    """Planted degenerate corpus (the r4 verdict's OOM scenario): 10^4
    copies of the same boilerplate doc all land in ONE bucket per band. The
    max_bucket guard must complete the query by dropping the hot buckets
    (and counting them: 2 buckets, 2·10^4 band rows) instead of
    materializing ~5·10^7 pairs, while pairs from healthy buckets are still
    emitted."""
    from macrobase_spark.operators.dedup import GUARD_DROPS, minhash_lsh_candidates

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(f"hot-{i:05d}", boiler) for i in range(10_000)]
    # one healthy near-dup pair that must survive the guard
    rows += [("ok-a", "alpha beta gamma delta epsilon zeta"),
             ("ok-b", "alpha beta gamma delta epsilon zeta")]
    d = spark.createDataFrame(rows, "doc_id string, text string").repartition(8)
    pairs = minhash_lsh_candidates(d, "doc_id", "text", max_bucket=100).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert got == {("ok-a", "ok-b")}  # hot bucket excluded, healthy pair kept
    assert GUARD_DROPS["minhash_lsh_candidates"].get == {"buckets": 2, "rows": 20000}


# ---- one guard, five operators: the planted corpora put K rows into one
# bucket per band (table / shingle) and one healthy pair elsewhere

_K = 300
_DIM = 64  # the embeddings fixture's dimension


def _hot_docs(spark):
    boiler = " ".join(f"b{i}" for i in range(10))  # 10 distinct words: 8 shingles
    ok = "alpha beta gamma delta epsilon zeta"
    rows = [(i, boiler) for i in range(_K)] + [(_K, ok), (_K + 1, ok)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hot_vecs(spark):
    v = [float(np.cos(1.7 * i + 0.3)) for i in range(_DIM)]
    rows = [(i, v) for i in range(_K)] + [(i, [-x for x in v]) for i in (_K, _K + 1)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _hot_fps(spark):
    ones = (1 << 56) - 1  # every band key differs from the hot rows' zeros
    rows = [(i, True, 0, 0) for i in range(_K)]
    rows += [(i, True, ones, ones) for i in (_K, _K + 1)]
    return spark.createDataFrame(rows, "clip_id long, decode_ok boolean, fp_hi long, fp_lo long")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _fps(spark, sf_dir):
    from macrobase_spark.operators.audio_fp import audio_fingerprints, generate_fp_clips

    return audio_fingerprints(generate_fp_clips(spark, 60))


def _guard_cases():
    from macrobase_spark.operators.audio_fp import audio_near_dup_pairs
    from macrobase_spark.operators.dedup import jaccard_pairs, minhash_lsh_candidates
    from macrobase_spark.operators.similarity import lsh_cosine_candidates

    # case: (GUARD_DROPS name, fixture data, planted data, op(data, cap), planted drops)
    return {
        "jaccard": ("jaccard_pairs", _docs, _hot_docs,
                    lambda d, m: jaccard_pairs(d, "doc_id", "text", max_doc_freq=m),
                    {"rows": 8 * _K, "buckets": 8}),
        "minhash": ("minhash_lsh_candidates", _docs, _hot_docs,
                    lambda d, m: minhash_lsh_candidates(d, "doc_id", "text", max_bucket=m),
                    {"rows": 2 * _K, "buckets": 2}),
        "simhash": ("simhash_candidates", _docs, _hot_docs,
                    lambda d, m: simhash_candidates(d, "doc_id", "text", max_bucket=m),
                    {"rows": 4 * _K, "buckets": 4}),
        "lsh_cosine": ("lsh_cosine_candidates", _vecs, _hot_vecs,
                       lambda e, m: lsh_cosine_candidates(
                           e, "vec_id", "embedding", dim=_DIM, n_planes=10, n_tables=2,
                           max_bucket=m),
                       {"rows": 2 * _K, "buckets": 2}),
        "audio_fp": ("audio_near_dup_pairs", _fps, _hot_fps,
                     lambda f, m: audio_near_dup_pairs(f, max_bucket=m),
                     {"rows": 8 * _K, "buckets": 8}),
    }


@pytest.mark.parametrize("case", ["jaccard", "minhash", "simhash", "lsh_cosine", "audio_fp"])
def test_guard_exact_when_under_cap(spark, sf_dir, count_jobs, case):
    """Every guarded operator shares one guard. With every bucket under the
    cap, the guarded relation equals the exact (max_bucket=None) one — the
    relation the DuckDB oracles replay — and building it launches no job
    (the guard rides the pair join's exchange; the old guards ran 3-6). On
    a planted hot bucket the healthy pair survives and the drops are
    exactly the planted rows and buckets, also when nothing survives."""
    from macrobase_spark.operators.dedup import GUARD_DROPS

    name, data, hot, op, planted = _guard_cases()[case]
    df = data(spark, sf_dir)
    built = {}
    assert count_jobs(lambda: built.setdefault("pairs", op(df, 10_000))) == 0
    exact = {tuple(r) for r in op(df, None).collect()}
    assert {tuple(r) for r in built["pairs"].collect()} == exact and exact
    assert GUARD_DROPS[name].get == {"rows": 0, "buckets": 0}

    planted_df = hot(spark)
    got = {tuple(r)[:2] for r in op(planted_df, 100).collect()}
    assert got == {(_K, _K + 1)}
    assert GUARD_DROPS[name].get == planted
    # hot rows only: the result is empty, which the adaptive planner may
    # prune before the guard reports — the drops still come back exact
    idc = planted_df.columns[0]
    assert op(planted_df.filter(F.col(idc) < _K), 100).count() == 0
    assert GUARD_DROPS[name].get == planted
