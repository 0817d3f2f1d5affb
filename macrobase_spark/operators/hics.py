"""HiCS — High Contrast Subspaces for density-based outlier ranking
(Keller/Müller/Böhm, ICDE'12), the alexp fork's flagship subspace explainer.

Reference semantics (alexp/.../explanation/hics/HiCS.java:59-581, wired via
Pipelines.java:254-263 with defaults cutoff=400 alpha=0.05 m=50
statTest=welch_t dmax=-1 topk=50):

1. CONTRAST of a subspace S (|S|=k): m Monte-Carlo iterations; each picks a
   random comparison dim c∈S, slices a random contiguous window of size
   n·alpha^(1/k) in every OTHER dim's sorted order, intersects the windows
   into a conditional sample, and measures the deviation of the conditional
   marginal of c from its full marginal (Welch-t `1 - p` or two-sample KS
   statistic); contrast = mean deviation (HiCS.java:289-360). Samples with
   < 10 points are redrawn; NaN deviations are redrawn.
2. CANDIDATE SEARCH: all 2-D subspaces scored, top `cutoff` kept; d-dim
   candidates are pairwise-joined into (d+1)-dim candidates (apriori-style,
   sharing d-1 features), re-scored, top `cutoff` kept; a d-dim candidate is
   dropped from the result when some (d+1)-dim child beats its contrast
   (HiCS.java:190-283). `dmax != -1` instead returns the best dmax-dim set.
3. SCORING: the configured detector runs in each top-k subspace; a point's
   output score is its average detector score across those subspaces, and
   the per-point relevant-subspace column lists the subspaces sorted by that
   point's score (HiCS.java:120-155,376-390).

Spark-first re-expression: the subspace SEARCH runs on one seeded driver
sample (the MC contrast is a statistical estimate either way — the reference
holds the whole dataset in memory, which cannot exist at 10^12 rows; a
4k-row sample gives the same ranking signal), fully vectorized via per-dim
rank arrays: a window condition is `start <= rank < start+w`, so each
conditional sample is k-1 boolean AND's — no index materialization. The
per-subspace detectors are fit on the same sample, broadcast, and EVERY
point is scored against every top-k subspace in a single Arrow pass
(mapInPandas), exactly like operators.subspace — one scan of the table
regardless of how many subspaces were searched.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from macrobase_spark.operators.detectors import (
    _collect_sample,
    fit_isolation_forest,
    iforest_scores,
)
from macrobase_spark.operators.subspace import REL_SUBSPACES

# ---------------------------------------------------------------------------
# Goodness-of-fit deviations (reference statistics/tests/*.java)
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta (Lentz)."""
    MAXIT, EPS, FPMIN = 200, 3e-14, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_beta = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    front = math.exp(ln_beta + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _t_cdf(t: float, v: float) -> float:
    """Student's t CDF (reference StudentsTDistribution.cdf)."""
    if v <= 0:
        return 0.5
    x = v / (v + t * t)
    p = 0.5 * _betainc(v / 2.0, 0.5, x)
    return 1.0 - p if t > 0 else p


def welch_t_deviation(full: np.ndarray, cond: np.ndarray) -> float:
    """1 - p of the Welch two-sample t test (reference WelchTTest.java:
    deviation = 1 - 2·(1 - tcdf(|t|, dof))."""
    n1, n2 = len(full), len(cond)
    if n1 < 2 or n2 < 2:
        return float("nan")
    m1, m2 = float(full.mean()), float(cond.mean())
    r1 = float(full.var(ddof=1)) / n1
    r2 = float(cond.var(ddof=1)) / n2
    denom = math.sqrt(r1 + r2)
    if denom == 0.0:
        return float("nan")
    t = (m1 - m2) / denom
    div = r1 * r1 / (n1 - 1) + r2 * r2 / (n2 - 1)
    if div == 0.0:
        return float("nan")
    v = int((r1 + r2) * (r1 + r2) / div)
    p = 2.0 * (1.0 - _t_cdf(abs(t), v))
    return 1.0 - p


def ks_deviation(full_sorted: np.ndarray, cond: np.ndarray) -> float:
    """Two-sample Kolmogorov-Smirnov statistic — max |ECDF1 - ECDF2|
    (reference KolmogorovSmirnovTest.java). `full_sorted` must be sorted."""
    cond = np.sort(cond)
    grid = np.concatenate([full_sorted, cond])
    cdf1 = np.searchsorted(full_sorted, grid, side="right") / len(full_sorted)
    cdf2 = np.searchsorted(cond, grid, side="right") / len(cond)
    return float(np.abs(cdf1 - cdf2).max())


# ---------------------------------------------------------------------------
# Subspace search (driver-side, numpy over the seeded sample)
# ---------------------------------------------------------------------------


def _contrast(
    sub: tuple[int, ...],
    X: np.ndarray,
    ranks: np.ndarray,
    sorted_cols: list[np.ndarray],
    m: int,
    alpha: float,
    rng: np.random.Generator,
    stat_test: str,
) -> float:
    """Monte-Carlo contrast of one subspace (HiCS.java:289-360)."""
    n, k = X.shape[0], len(sub)
    w = int(n * alpha ** (1.0 / k))
    w = max(min(w, n - 1), 2)
    dev_sum, done, attempts = 0.0, 0, 0
    while done < m and attempts < 10 * m:
        attempts += 1
        chosen = sub[int(rng.integers(k))]
        mask = np.ones(n, dtype=bool)
        for j in sub:
            if j == chosen:
                continue
            start = int(rng.integers(n - w))
            r = ranks[j]
            mask &= (r >= start) & (r < start + w)
        cond = X[mask, chosen]
        if cond.size < 10:
            continue
        if stat_test == "ks":
            dev = ks_deviation(sorted_cols[chosen], cond)
        else:
            dev = welch_t_deviation(X[:, chosen], cond)
        if math.isnan(dev):
            continue
        dev_sum += dev
        done += 1
    # mean over SUCCESSFUL draws: the reference redraws until m valid
    # deviations, so dividing by m when the attempt cap truncated `done`
    # would deflate subspaces with frequently-degenerate conditionals
    return dev_sum / done if done else 0.0


def hics_search(
    X: np.ndarray,
    m: int = 50,
    alpha: float = 0.05,
    cutoff: int = 400,
    dmax: int = -1,
    stat_test: str = "welch_t",
    seed: int = 0,
    max_dim_cap: int = 5,
) -> list[tuple[tuple[int, ...], float]]:
    """The HiCS candidate lattice search over a sample matrix; returns
    [(feature_index_tuple, contrast)]. `max_dim_cap` bounds the apriori
    ascent (the reference loops until the candidate list is empty, which on
    correlated data can climb to full dimensionality; the cap keeps driver
    compute bounded — published HiCS experiments rarely use d > 5)."""
    n, dim = X.shape
    rng = np.random.default_rng(seed)
    ranks = np.argsort(np.argsort(X, axis=0), axis=0).T.copy()  # ranks[j][i]
    sorted_cols = [np.sort(X[:, j]) for j in range(dim)]

    def score(sub: tuple[int, ...]) -> float:
        return _contrast(sub, X, ranks, sorted_cols, m, alpha, rng, stat_test)

    d_list = sorted(
        ((sub, score(sub)) for sub in combinations(range(dim), 2)),
        key=lambda t: t[1],
        reverse=True,
    )[:cutoff]
    if dmax == 2:
        return d_list
    result: dict[tuple[int, ...], float] = {}
    d = 3
    while d_list and (dmax == -1 or d <= dmax) and d <= max_dim_cap:
        result.update(dict(d_list))
        cands = sorted(
            {
                tuple(sorted(set(s1) | set(s2)))
                for (s1, _), (s2, _) in combinations(d_list, 2)
                if len(set(s1) | set(s2)) == d
            }
        )
        nxt = sorted(
            ((sub, score(sub)) for sub in cands), key=lambda t: t[1], reverse=True
        )[:cutoff]
        if nxt:
            best_child = max(c for _, c in nxt)
            # drop parents beaten by some child (HiCS.java:271-279)
            for sub, c in d_list:
                if best_child > c:
                    result.pop(sub, None)
        if dmax != -1 and d == dmax:
            return nxt
        d_list = nxt
        d += 1
    result.update(dict(d_list))
    return sorted(result.items(), key=lambda t: t[1], reverse=True)


# ---------------------------------------------------------------------------
# The distributed operator
# ---------------------------------------------------------------------------


def fit_hics_models(
    sample: np.ndarray,
    feature_cols: list[str],
    m: int = 50,
    alpha: float = 0.05,
    cutoff: int = 400,
    dmax: int = -1,
    topk: int = 10,
    stat_test: str = "welch_t",
    n_trees: int = 50,
    seed: int = 42,
) -> list:
    """HiCS search + per-subspace isolation-forest fits on the sample;
    returns [(sub_cols, IForest)] for the top-k high-contrast subspaces."""
    found = hics_search(
        sample, m=m, alpha=alpha, cutoff=cutoff, dmax=dmax, stat_test=stat_test, seed=seed
    )[:topk]
    if not found:
        raise ValueError("HiCS found no subspaces (need >= 2 feature columns)")
    subs = [tuple(feature_cols[i] for i in sub) for sub, _ in found]
    col_idx = {c: i for i, c in enumerate(feature_cols)}
    return [
        (
            list(sub),
            fit_isolation_forest(
                sample[:, [col_idx[c] for c in sub]], n_trees=n_trees, subsample=256, seed=seed
            ),
        )
        for sub in subs
    ]


def hics_subspace_explain(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    m: int = 50,
    alpha: float = 0.05,
    cutoff: int = 400,
    dmax: int = -1,
    topk: int = 10,
    stat_test: str = "welch_t",
    train_rows: int = 4096,
    n_trees: int = 50,
    seed: int = 42,
    top_label: int = 2,
    models: list | None = None,
) -> DataFrame:
    """HiCS explanation: append the average detector score across the top-k
    high-contrast subspaces plus `__REL_SUBSPACES` (this point's top
    `top_label` subspaces by its own score, beam-compatible '[f0,f1]'
    format). Search + fits on the seeded driver sample; ONE Arrow scan
    scores every row against every top-k subspace."""
    if models is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        models = fit_hics_models(
            sample, feature_cols, m=m, alpha=alpha, cutoff=cutoff, dmax=dmax,
            topk=topk, stat_test=stat_test, n_trees=n_trees, seed=seed,
        )
    bc = df.sparkSession.sparkContext.broadcast(models)

    out_schema = StructType(
        [df.schema[c] for c in id_cols]
        + [
            StructField("avg_score", DoubleType()),
            StructField(REL_SUBSPACES, StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cands = bc.value
        for pdf in batches:
            S = np.empty((len(pdf), len(cands)))
            for j, (sub, model) in enumerate(cands):
                S[:, j] = iforest_scores(model, pdf[sub].to_numpy(dtype=np.float64))
            order = np.argsort(-S, axis=1)[:, :top_label]
            labels = [
                ";".join("[" + ",".join(cands[j][0]) + "]" for j in row) for row in order
            ]
            out = pdf[id_cols].copy()
            out["avg_score"] = S.mean(axis=1)
            out[REL_SUBSPACES] = labels
            yield out

    return df.select(*id_cols, *feature_cols).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# registered query (rows-only: Monte-Carlo contrast + tree ensembles are not
# SQL-expressible; the correctness gate is tests/test_hics.py's planted
# correlation-break recovery)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


@artifact("hics_model", 1)
def hics_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the HiCS top-k subspace forests as ONE flat node
    relation — (sub, label, node, feat_local, feat_abs, thr, lc, rc, size,
    depth, root, psi) — so the whole scoring pass (per-subspace iforest
    descent, cross-subspace average, per-point top-2 relevant-subspace
    labels) is SQL-stateable over the same files. The Monte-Carlo SEARCH
    that chose the subspaces stays gated by tests/test_hics.py planted
    recovery + reference-dataset parity."""
    from macrobase_spark.operators.detectors import array_col_to_features

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(6)]
    df = array_col_to_features(e, "embedding", 6)
    sample = _collect_sample(df, feats, 2048, 42)
    models = fit_hics_models(
        sample, feats, m=20, cutoff=30, dmax=2, topk=5, n_trees=50, seed=42
    )
    rows = []
    for s, (sub_cols, m_) in enumerate(models):
        label = "[" + ",".join(sub_cols) + "]"
        abs_idx = [int(c[2:]) for c in sub_cols]  # _f3 -> embedding[3]
        roots = set(int(r) for r in m_.roots)
        for i in range(len(m_.feat)):
            fl = int(m_.feat[i])
            rows.append(
                (s, label, i, fl, abs_idx[fl] if fl >= 0 else -1,
                 float(m_.thr[i]), int(m_.left[i]), int(m_.right[i]),
                 int(m_.size[i]), int(m_.depth[i]), i in roots, int(m_.psi))
            )
    spark.createDataFrame(
        rows,
        "sub long, label string, node long, feat_local long, feat_abs long, "
        "thr double, lc long, rc long, size long, depth long, root boolean, psi long",
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_hics_models(spark, path: str) -> list:
    from macrobase_spark.operators.detectors import IForest

    pdf = spark.read.parquet(path).toPandas().sort_values(["sub", "node"])
    models = []
    for s in sorted(pdf["sub"].unique()):
        g = pdf[pdf["sub"] == s]
        sub_cols = g["label"].iloc[0][1:-1].split(",")
        models.append(
            (
                sub_cols,
                IForest(
                    feat=g["feat_local"].to_numpy(dtype=np.int32),
                    thr=g["thr"].to_numpy(dtype=np.float64),
                    left=g["lc"].to_numpy(dtype=np.int32),
                    right=g["rc"].to_numpy(dtype=np.int32),
                    size=g["size"].to_numpy(dtype=np.int32),
                    depth=g["depth"].to_numpy(dtype=np.int32),
                    roots=g.loc[g["root"], "node"].to_numpy(dtype=np.int32),
                    psi=int(g["psi"].iloc[0]),
                ),
            )
        )
    return models


_HICSM = hics_model_parquet.scan()

_HICS_ORACLE = f"""
    WITH nodes AS (SELECT * FROM {_HICSM}),
    s0 AS (SELECT e.vec_id, e.embedding AS emb, n.sub, n.node
           FROM embeddings e CROSS JOIN (SELECT sub, node FROM nodes WHERE root) n),
    s1 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s0 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s2 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s1 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s3 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s2 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s4 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s3 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s5 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s4 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s6 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s5 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s7 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s6 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    s8 AS (SELECT p.vec_id, p.emb, p.sub,
                CASE WHEN n.feat_abs < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat_abs + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM s7 p JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    leaf AS (SELECT p.vec_id, p.sub, n.depth, n.size FROM s8 p
             JOIN nodes n ON n.sub = p.sub AND n.node = p.node),
    pl AS (SELECT vec_id, sub, avg(depth + CASE WHEN CAST(size AS DOUBLE) > 2 THEN 2.0 * (ln(CAST(size AS DOUBLE) - 1.0) + 0.5772156649015329) - 2.0 * (CAST(size AS DOUBLE) - 1.0) / CAST(size AS DOUBLE) WHEN CAST(size AS DOUBLE) = 2 THEN 1.0 ELSE 0.0 END) AS avg_path
           FROM leaf GROUP BY vec_id, sub),
    meta AS (SELECT sub, any_value(label) AS label,
                    greatest(CASE WHEN psi > 2 THEN 2.0 * (ln(psi - 1.0) + 0.5772156649015329) - 2.0 * (psi - 1.0) / psi WHEN psi = 2 THEN 1.0 ELSE 0.0 END, 1e-12) AS c
             FROM (SELECT sub, label, CAST(psi AS DOUBLE) AS psi FROM nodes)
             GROUP BY sub, psi),
    persub AS (SELECT pl.vec_id, pl.sub, meta.label,
                      power(2.0, -pl.avg_path / meta.c) AS s
               FROM pl JOIN meta ON meta.sub = pl.sub),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, sub) AS rn
               FROM persub),
    agg AS (SELECT vec_id, avg(s) AS avg_score FROM persub GROUP BY vec_id),
    rel AS (SELECT vec_id, string_agg(label, ';' ORDER BY rn) AS __REL_SUBSPACES
            FROM ranked WHERE rn <= 2 GROUP BY vec_id),
    rk AS (SELECT a.vec_id, a.avg_score, rel.__REL_SUBSPACES
           FROM agg a JOIN rel USING (vec_id)
           ORDER BY a.avg_score DESC, a.vec_id LIMIT 20)
    SELECT vec_id, round(avg_score, 4) AS score, __REL_SUBSPACES FROM rk
"""


@register("hics_subspace_embeddings", _HICS_ORACLE)
def hics_subspace_embeddings(spark, sf_dir: str) -> DataFrame:
    """Top-20 points by average iforest score across the materialized HiCS
    subspace forests, with per-point top-2 relevant-subspace labels; the
    oracle replays the full scoring pass in SQL."""
    from macrobase_spark.operators.detectors import array_col_to_features

    models = load_hics_models(spark, hics_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(6)]
    df = array_col_to_features(emb, "embedding", 6)
    res = hics_subspace_explain(
        df, feats, ["vec_id"], m=20, cutoff=30, dmax=2, topk=5, train_rows=2048,
        models=models,
    )
    return res.orderBy(F.desc("avg_score"), "vec_id").limit(20).select(
        "vec_id", F.round("avg_score", 4).alias("score"), REL_SUBSPACES
    )
