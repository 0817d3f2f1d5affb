"""The reference's contrib/ density-model family — KDE, BinnedKDE, EM-GMM
(scores + hard group assignment), and BayesianNormalDensity — which its
own build disables (pom.xml:43), covered anyway.

Reference semantics:
- KDE (contrib/src/main/java/macrobase/analysis/stats/KDE.java:120-209):
  Epanechnikov multiplicative kernel
  (kernel/EpanchnikovMulticativeKernel.java:19-30 — 0.75^d * prod(1-u_d^2),
  0 outside the unit box), NORMAL_SCALE per-dimension bandwidth
  h_d = (8*sqrt(pi)*norm1D / (3*secondMoment1D^2 * n * proportion))^0.2
        * IQR_d / 1.349
  (KDE.java:131-148; norm1D=0.6, secondMoment1D=0.2), a shuffled
  `proportion` subsample as the density population (KDE.java:185-197), and
  score(x) = -sum_i K(H^{-1/2}(x - x_i)) / (sqrt(det H) * n_pop)
  (KDE.java:201-209). Quantiles here are numpy linear-interpolation
  percentiles rather than commons-math's default estimator — a documented
  divergence in the bandwidth constant only.
- GMM (contrib/.../mixture/ExpectMaxGMM.java:40-150): full-covariance EM,
  Gonzalez farthest-point init from a seeded random first center,
  identity-covariance / uniform-weight start, run to a log-likelihood
  progress cutoff; score(x) = log(sum_k phi_k * N(x; mu_k, sigma_k))
  (ExpectMaxGMM.java:134-140).

Spark shape: both models fit driver-side on the seeded bounded sample
(the detectors.py contract — partitioning-invariant, a few KB of numpy),
broadcast, and score via Arrow batches. The DuckDB oracles replay the
scoring math over MATERIALIZED model relations: KDE as a sample cross
join with the product kernel stated per dimension, GMM as per-component
precision quadratic forms (the MCD recipe) inside a log-sum — so the
registered queries certify the full scoring path; the FITS are gated by
the reference's own 3-gaussians test data (tests/test_contrib_stats.py
recovers the published centers) and planted-structure tests.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.detectors import (
    _collect_sample,
    _score_with,
    _SCORERS,
    array_col_to_features,
)

_NORM_1D = 0.6
_SECOND_MOMENT_1D = 0.2


# ---------------------------------------------------------------------------
# KDE
# ---------------------------------------------------------------------------


@dataclass
class KDEModel:
    population: np.ndarray  # (m, d) density population
    h: np.ndarray  # (d,) diagonal bandwidth entries (H's diagonal)


def fit_kde(
    X: np.ndarray,
    proportion: float = 0.25,
    bandwidth_multiplier: float = 1.0,
    seed: int = 42,
) -> KDEModel:
    """NORMAL_SCALE diagonal bandwidth from the training matrix, then a
    seeded shuffle picks the `proportion` density population (the
    reference trains on the full stream and samples 1%; here X is already
    the bounded seeded sample, so the default proportion is higher)."""
    n, d = X.shape
    const_num = 8 * np.sqrt(np.pi) * _NORM_1D
    const_den = 3.0 * _SECOND_MOMENT_1D**2 * n * proportion
    scale = (const_num / const_den) ** 0.2
    q25, q75 = np.percentile(X, [25, 75], axis=0)
    h = scale * (q75 - q25) / 1.349 * bandwidth_multiplier
    h = np.where(h > 0, h, 1.0)  # degenerate dimension: unit bandwidth
    rng = np.random.default_rng(seed)
    m = max(1, int(round(proportion * n)))
    pop = X[rng.permutation(n)[:m]].copy()
    return KDEModel(population=pop, h=h)


def kde_scores(model: KDEModel, X: np.ndarray) -> np.ndarray:
    """score(x) = -sum_i K(H^{-1/2}(x-x_i)) / (sqrt(det H) * m); kernel is
    the Epanechnikov product. Vectorized: one (batch, m, d) residual
    tensor per Arrow batch (m is proportion-bounded)."""
    inv_sqrt_h = 1.0 / np.sqrt(model.h)
    u = (X[:, None, :] - model.population[None, :, :]) * inv_sqrt_h
    u2 = u * u
    inside = (u2 < 1.0).all(axis=2)
    dens = (0.75 ** X.shape[1]) * np.where(inside, np.prod(1.0 - u2, axis=2), 0.0)
    scale = 1.0 / (np.sqrt(np.prod(model.h)) * len(model.population))
    return -dens.sum(axis=1) * scale


# ---------------------------------------------------------------------------
# EM GMM (full covariance)
# ---------------------------------------------------------------------------


@dataclass
class GMMModel:
    weights: np.ndarray  # (k,)
    means: np.ndarray  # (k, d)
    covs: np.ndarray  # (k, d, d)


def _gonzalez_init(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Farthest-point init (ExpectMaxGMM.gonzalezInitializeMixtureCenters):
    a random first center, then each next center is the point farthest
    from the chosen set."""
    centers = [X[rng.integers(len(X))]]
    for _ in range(1, k):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        centers.append(X[int(np.argmax(d2))])
    return np.stack(centers)


def _gauss_log_density(X: np.ndarray, mean: np.ndarray, cov: np.ndarray) -> np.ndarray:
    d = X.shape[1]
    sign, logdet = np.linalg.slogdet(cov)
    prec = np.linalg.inv(cov)
    r = X - mean
    q = np.einsum("ni,ij,nj->n", r, prec, r)
    return -0.5 * (q + d * np.log(2 * np.pi) + logdet)


def fit_gmm(
    X: np.ndarray,
    k: int = 3,
    max_iters: int = 200,
    progress_cutoff: float = 1e-5,
    reg: float = 1e-6,
    seed: int = 42,
) -> GMMModel:
    """Full-covariance EM to a relative log-likelihood progress cutoff,
    from Gonzalez centers / identity covariances / uniform weights."""
    rng = np.random.default_rng(seed)
    n, d = X.shape
    means = _gonzalez_init(X, k, rng)
    covs = np.stack([np.eye(d)] * k)
    w = np.full(k, 1.0 / k)
    prev_ll = -np.inf
    for _ in range(max_iters):
        logp = np.stack(
            [np.log(w[j]) + _gauss_log_density(X, means[j], covs[j]) for j in range(k)],
            axis=1,
        )
        mx = logp.max(axis=1, keepdims=True)
        p = np.exp(logp - mx)
        tot = p.sum(axis=1, keepdims=True)
        resp = p / tot
        ll = float((mx.ravel() + np.log(tot.ravel())).sum())
        nk = resp.sum(axis=0)
        w = nk / n
        means = (resp.T @ X) / nk[:, None]
        for j in range(k):
            r = X - means[j]
            covs[j] = (resp[:, j][:, None] * r).T @ r / nk[j] + reg * np.eye(d)
        if np.isfinite(prev_ll) and abs(ll - prev_ll) <= progress_cutoff * abs(prev_ll):
            break
        prev_ll = ll
    return GMMModel(weights=w, means=means, covs=covs)


def gmm_scores(model: GMMModel, X: np.ndarray) -> np.ndarray:
    """log(sum_k phi_k N(x; mu_k, sigma_k)) — the reference's score."""
    logp = np.stack(
        [
            np.log(model.weights[j]) + _gauss_log_density(X, model.means[j], model.covs[j])
            for j in range(len(model.weights))
        ],
        axis=1,
    )
    mx = logp.max(axis=1)
    return mx + np.log(np.exp(logp - mx[:, None]).sum(axis=1))


_SCORERS["kde"] = kde_scores
_SCORERS["gmm"] = gmm_scores


def kde_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    proportion: float = 0.25,
    bandwidth_multiplier: float = 1.0,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: KDEModel | None = None,
) -> DataFrame:
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        # collect order follows partition order; both fits below consume
        # rows positionally (shuffle / farthest-point init), so sort the
        # sample lexicographically to keep the model partitioning-invariant
        model = fit_kde(
            sample[np.lexsort(sample.T[::-1])], proportion, bandwidth_multiplier, seed
        )
    return _score_with(df, feature_cols, id_cols, model, "kde", score_col)


def gmm_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    k: int = 3,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: GMMModel | None = None,
) -> DataFrame:
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_gmm(sample[np.lexsort(sample.T[::-1])], k=k, seed=seed)
    return _score_with(df, feature_cols, id_cols, model, "gmm", score_col)


# ---------------------------------------------------------------------------
# registered queries: scoring replayed in SQL over materialized models
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_DIMS = 8  # detectors.py convention for the embeddings feature head


@artifact("kde", 1)
def kde_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the density population (`pop`: row, dim, value) and the
    bandwidth relation (`h`: dim, h) so the product kernel is
    SQL-stateable."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_kde(sample[np.lexsort(sample.T[::-1])])
    spark.createDataFrame(
        [
            (i, j, float(m.population[i, j]))
            for i in range(len(m.population))
            for j in range(_DIMS)
        ],
        "row long, dim long, v double",
    ).coalesce(1).write.parquet(f"{out}/pop")
    spark.createDataFrame(
        [(j, float(m.h[j])) for j in range(_DIMS)], "dim long, h double"
    ).coalesce(1).write.parquet(f"{out}/h")


def load_kde_model(spark, path: str) -> KDEModel:
    pop = spark.read.parquet(f"{path}/pop").toPandas().sort_values(["row", "dim"])
    m = int(pop["row"].max()) + 1
    hh = spark.read.parquet(f"{path}/h").toPandas().sort_values("dim")
    return KDEModel(
        population=pop["v"].to_numpy(dtype=np.float64).reshape(m, _DIMS),
        h=hh["h"].to_numpy(dtype=np.float64),
    )


_KDEP = kde_model_parquet.scan("pop")
_KDEH = kde_model_parquet.scan("h")

_KDE_ORACLE = f"""
    WITH pop AS (SELECT * FROM {_KDEP}),
    hb AS (SELECT * FROM {_KDEH}),
    scale AS (
      SELECT 1.0 / (sqrt(exp(sum(ln(h)))) *
                    (SELECT count(DISTINCT row) FROM pop)) AS s
      FROM hb),
    feat AS (
      SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS x
      FROM embeddings, range(0, {_DIMS}) t(dim)),
    terms AS (  -- per (point, population row): the product kernel
      SELECT f.vec_id, p.row,
             CASE WHEN max((f.x - p.v) * (f.x - p.v) / hb.h) >= 1.0 THEN 0.0
                  ELSE pow(0.75, {_DIMS}) *
                       product(1.0 - (f.x - p.v) * (f.x - p.v) / hb.h)
             END AS kern
      FROM feat f
      JOIN pop p ON p.dim = f.dim
      JOIN hb ON hb.dim = f.dim
      GROUP BY f.vec_id, p.row),
    scored AS (
      SELECT vec_id, -sum(kern) * (SELECT s FROM scale) AS score
      FROM terms GROUP BY vec_id),
    rk AS (SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20)
    SELECT vec_id, round(score, 6) AS score FROM rk
"""


@register("kde_outliers_embeddings", _KDE_ORACLE)
def kde_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest-density points under the materialized KDE (score is the
    reference's negative density, so the largest scores are the
    outliers); the oracle restates the Epanechnikov product kernel, the
    determinant scale, and the population sum in SQL."""
    model = load_kde_model(spark, kde_model_parquet(spark, sf_dir))
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    scored = kde_score(df, feats, ["vec_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 6).alias("score")
    )


@artifact("gmm_model", 1)
def gmm_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted mixture as one relation: per component k,
    log-weight, log-normalizer, mean vector and precision matrix entries
    (k, i, j, p, mu_i, logw, logz) — the MCD quadratic-form recipe per
    component."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_gmm(sample[np.lexsort(sample.T[::-1])], k=3, seed=42)
    rows = []
    for c in range(len(m.weights)):
        prec = np.linalg.inv(m.covs[c])
        sign, logdet = np.linalg.slogdet(m.covs[c])
        logz = -0.5 * (_DIMS * np.log(2 * np.pi) + logdet)
        for i in range(_DIMS):
            for j in range(_DIMS):
                rows.append(
                    (
                        c, i, j, float(prec[i, j]), float(m.means[c, i]),
                        float(m.means[c, j]), float(np.log(m.weights[c])),
                        float(logz),
                    )
                )
    spark.createDataFrame(
        rows, "k long, i long, j long, p double, mu_i double, mu_j double, logw double, logz double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_gmm_model(spark, path: str) -> GMMModel:
    pdf = spark.read.parquet(path).toPandas().sort_values(["k", "i", "j"])
    ks = int(pdf["k"].max()) + 1
    prec = pdf["p"].to_numpy(dtype=np.float64).reshape(ks, _DIMS, _DIMS)
    means = (
        pdf.drop_duplicates(["k", "i"]).sort_values(["k", "i"])["mu_i"]
        .to_numpy(dtype=np.float64)
        .reshape(ks, _DIMS)
    )
    w = np.exp(
        pdf.drop_duplicates("k").sort_values("k")["logw"].to_numpy(dtype=np.float64)
    )
    return GMMModel(weights=w, means=means, covs=np.linalg.inv(prec))


_GMMM = gmm_model_parquet.scan()

_GMM_ORACLE = f"""
    WITH m AS (SELECT * FROM {_GMMM}),
    q AS (  -- per (point, component): the quadratic form
      SELECT e.vec_id, m.k, any_value(m.logw) AS logw, any_value(m.logz) AS logz,
             sum((CAST(e.embedding[m.i + 1] AS DOUBLE) - m.mu_i) * m.p *
                 (CAST(e.embedding[m.j + 1] AS DOUBLE) - m.mu_j)) AS quad
      FROM embeddings e, m
      GROUP BY e.vec_id, m.k),
    comp AS (
      SELECT vec_id, logw + logz - 0.5 * quad AS logp FROM q),
    mx AS (SELECT vec_id, max(logp) AS mx FROM comp GROUP BY vec_id),
    scored AS (
      SELECT c.vec_id, any_value(m.mx) + ln(sum(exp(c.logp - m.mx))) AS score
      FROM comp c JOIN mx m USING (vec_id) GROUP BY c.vec_id),
    rk AS (SELECT vec_id, score FROM scored ORDER BY score ASC, vec_id LIMIT 20)
    SELECT vec_id, round(score, 6) AS score FROM rk
"""


@register("gmm_loglik_embeddings", _GMM_ORACLE)
def gmm_loglik_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest mixture log-likelihoods under the materialized EM-GMM
    (the reference's score; low = anomalous); the oracle restates the
    per-component Gaussian quadratic forms and the log-sum-exp in SQL."""
    path = gmm_model_parquet(spark, sf_dir)
    model = load_gmm_model(spark, path)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    scored = gmm_score(df, feats, ["vec_id"], model=model)
    return scored.orderBy(F.asc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 6).alias("score")
    )


# ---------------------------------------------------------------------------
# BinnedKDE — the reference's 1-D linear-binned KDE (BinnedKDE.java:19-120),
# re-shaped for scale: the BINNING is a distributed aggregation (each row
# splits its unit mass linearly between its two neighboring grid points —
# explode + one groupBy(bin) sum, which is the part that must see all
# 10^12 rows), the kernel convolution runs driver-side over the bounded
# grid (numBins values), and scoring is a map-only broadcast interpolation.
# The reference trains driver-side on the full list and supports 1-D only;
# binning exactness under reordering is fp-additive (gated by tests), and
# the registered query scores from the MATERIALIZED density grid so the
# oracle's interpolation is arithmetic-identical.
# ---------------------------------------------------------------------------


@dataclass
class BinnedKDEModel:
    minv: float
    delta: float  # grid spacing
    density: np.ndarray  # (num_bins,) density estimate at grid points


def binned_kde_fit(
    df: DataFrame,
    col: str,
    num_bins: int = 1024,
    bandwidth_multiplier: float = 1.0,
) -> BinnedKDEModel:
    """Distributed linear binning + driver convolution. Bandwidth is the
    1-D NORMAL_SCALE rule on exact quantiles (percentile_approx is the
    10^12-row swap-in, noted here); kernel = Epanechnikov."""
    stats = df.agg(
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
        F.count(col).alias("n"),
        F.expr(f"percentile({col}, 0.25)").alias("q25"),
        F.expr(f"percentile({col}, 0.75)").alias("q75"),
    ).collect()[0]
    mn, mx, n = float(stats["mn"]), float(stats["mx"]), int(stats["n"])
    iqr = float(stats["q75"]) - float(stats["q25"])
    const_num = 8 * np.sqrt(np.pi) * _NORM_1D
    const_den = 3.0 * _SECOND_MOMENT_1D**2 * n  # proportion = 1 (reference)
    h = max((const_num / const_den) ** 0.2 * iqr / 1.349 * bandwidth_multiplier, 1e-12)
    delta = max((mx - mn) / (num_bins - 1), 1e-300)

    x = F.col(col).cast("double")
    pos = (x - F.lit(mn)) / F.lit(delta)
    lo = F.floor(pos).cast("long")
    whi = pos - F.floor(pos)
    binned = (
        df.select(
            F.explode(
                F.array(
                    F.struct(lo.alias("bin"), (F.lit(1.0) - whi).alias("w")),
                    F.struct((lo + 1).alias("bin"), whi.alias("w")),
                )
            ).alias("s")
        )
        .select("s.*")
        .filter((F.col("bin") >= 0) & (F.col("bin") < num_bins))
        .groupBy("bin")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    counts = np.zeros(num_bins)
    for r in binned:
        counts[int(r["bin"])] = float(r["w"])
    # kernel weights at grid offsets: K((l*delta)/h) / (n*h), support |u|<1
    lmax = min(int(np.ceil(h / delta)), num_bins - 1)
    offs = np.arange(-lmax, lmax + 1) * delta / h
    k = np.where(np.abs(offs) < 1.0, 0.75 * (1.0 - offs * offs), 0.0) / (n * h)
    density = np.convolve(counts, k, mode="same")
    return BinnedKDEModel(minv=mn, delta=delta, density=density)


def binned_kde_scores(model: BinnedKDEModel, x: np.ndarray) -> np.ndarray:
    """-density(x) by linear interpolation on the grid (clamped)."""
    pos = (x - model.minv) / model.delta
    lo = np.clip(np.floor(pos).astype(np.int64), 0, len(model.density) - 1)
    hi = np.clip(lo + 1, 0, len(model.density) - 1)
    w = np.clip(pos - lo, 0.0, 1.0)
    return -(model.density[lo] * (1.0 - w) + model.density[hi] * w)


def binned_kde_score(
    df: DataFrame,
    col: str,
    id_cols: list[str],
    num_bins: int = 1024,
    bandwidth_multiplier: float = 1.0,
    score_col: str = "_SCORE",
    model: BinnedKDEModel | None = None,
) -> DataFrame:
    from pyspark.sql.types import DoubleType, StructField, StructType

    if model is None:
        model = binned_kde_fit(df, col, num_bins, bandwidth_multiplier)
    bc = df.sparkSession.sparkContext.broadcast(model)
    if id_cols is None:  # classifier-chaining mode: keep every input column
        in_df = df
        keep = list(df.columns)
        out_schema = StructType(
            list(df.schema.fields) + [StructField(score_col, DoubleType())]
        )
    else:
        in_df = df.select(*id_cols, F.col(col).cast("double").alias(col))
        keep = list(id_cols)
        out_schema = StructType(
            [in_df.schema[c] for c in id_cols] + [StructField(score_col, DoubleType())]
        )

    def run(batches):
        m = bc.value
        for pdf in batches:
            out = pdf[keep].copy()
            out[score_col] = binned_kde_scores(m, pdf[col].to_numpy(dtype=np.float64))
            yield out

    return in_df.mapInPandas(run, out_schema)


@artifact("binnedkde", 1)
def binned_kde_grid_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted density grid (bin, d) plus the affine params
    so the oracle interpolates over the same numbers the engine broadcasts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    m = binned_kde_fit(ev.select("value"), "value", _BKDE_BINS)
    rows = [
        (int(i), float(d), float(m.minv), float(m.delta))
        for i, d in enumerate(m.density)
    ]
    spark.createDataFrame(
        rows, "bin long, d double, minv double, delta double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_binned_kde(spark, path: str) -> BinnedKDEModel:
    pdf = spark.read.parquet(path).toPandas().sort_values("bin")
    return BinnedKDEModel(
        minv=float(pdf["minv"].iloc[0]),
        delta=float(pdf["delta"].iloc[0]),
        density=pdf["d"].to_numpy(dtype=np.float64),
    )


_BKDE_BINS = 1024
_BKDEG = binned_kde_grid_parquet.scan()

_BKDE_ORACLE = f"""
    WITH g AS (SELECT * FROM {_BKDEG}),
    p AS (SELECT any_value(minv) AS minv, any_value(delta) AS delta,
                 CAST(count(*) AS BIGINT) AS nb FROM g),
    pos AS (
      SELECT e.event_id,
             (CAST(e.value AS DOUBLE) - p.minv) / p.delta AS pos, p.nb
      FROM events e, p),
    ix AS (
      SELECT event_id,
             least(greatest(CAST(floor(pos) AS BIGINT), 0), nb - 1) AS lo,
             least(least(greatest(CAST(floor(pos) AS BIGINT), 0), nb - 1) + 1,
                   nb - 1) AS hi,
             least(greatest(pos - floor(pos), 0.0), 1.0) AS w
      FROM pos),
    scored AS (
      SELECT i.event_id, -(gl.d * (1.0 - i.w) + gh.d * i.w) AS score
      FROM ix i JOIN g gl ON gl.bin = i.lo JOIN g gh ON gh.bin = i.hi),
    rk AS (SELECT event_id, score FROM scored ORDER BY score DESC, event_id LIMIT 25)
    SELECT event_id, round(score, 9) AS score FROM rk
"""


@register("binned_kde_events", _BKDE_ORACLE)
def binned_kde_events(spark, sf_dir: str) -> DataFrame:
    """25 lowest-density event values under the materialized binned-KDE
    grid (score = negative interpolated density, the KDE contract); the
    oracle interpolates the same grid in SQL. The grid FIT (distributed
    linear binning + kernel convolution) is gated by test_contrib_stats
    (accuracy vs the direct KDE, partition invariance)."""
    model = load_binned_kde(spark, binned_kde_grid_parquet(spark, sf_dir))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    scored = binned_kde_score(ev, "value", ["event_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "event_id").limit(25).select(
        "event_id", F.round("_SCORE", 9).alias("score")
    )


# ---------------------------------------------------------------------------
# BayesianNormalDensity — Normal-Wishart conjugate fit, Student-t predictive
# (contrib/.../stats/BayesianNormalDensity.java:18-89 +
# distribution/MultivariateTDistribution.java:20-46). The reference's prior
# is fixed (zero mean, unit scale, dof 1, identity covariance) and its
# integer N/2 truncations are reproduced as written. score = 1 / density
# (BayesianNormalDensity.java:82-84); the registered query compares in LOG
# space (monotone in the reference score) so the oracle's round-to-6 sits
# on ~O(10) magnitudes instead of the raw score's ~1/density blow-up.
# ---------------------------------------------------------------------------


@dataclass
class BayesNormalModel:
    mean: np.ndarray  # (d,) posterior/Student-t location
    prec: np.ndarray  # (d, d) precision of the Student-t scale matrix
    dof: float  # Student-t degrees of freedom
    log_mult: float  # log of the reference's density multiplier


def fit_bayesian_normal(X: np.ndarray) -> BayesNormalModel:
    from math import lgamma, log, pi

    n, d = X.shape
    prior_mean = np.zeros(d)
    prior_scale = 1.0
    prior_dof = 1
    prior_cov = np.eye(d)
    sample_sum = X.sum(axis=0)
    sample_mean = sample_sum / n
    diffs = X - sample_mean
    cov_sum = diffs.T @ diffs
    post_scale = prior_scale + n
    post_mean = (sample_sum + prior_mean * prior_scale) / post_scale
    post_dof = prior_dof + n // 2  # reference integer division
    md = sample_mean - prior_mean
    post_cov = (
        prior_cov
        + 0.5 * cov_sum
        + np.outer(md, md) * ((n // 2) * prior_scale / post_scale)
    )
    t_scale = (post_scale + 1) / post_scale / (post_dof + 1 - 0.5 * d)
    t_cov = post_cov * t_scale
    t_dof = post_dof - d + 1
    sign, logdet = np.linalg.slogdet(t_cov)
    log_mult = (
        lgamma(0.5 * (d + t_dof))
        - lgamma(0.5 * t_dof)
        - 0.5 * d * log(pi * t_dof)
        - 0.5 * logdet
    )
    return BayesNormalModel(
        mean=post_mean, prec=np.linalg.inv(t_cov), dof=float(t_dof), log_mult=log_mult
    )


def bayes_log_scores(model: BayesNormalModel, X: np.ndarray) -> np.ndarray:
    """log(reference score) = -log density = ((dof+D)/2)*log1p(quad/dof)
    - log_mult — monotone in the reference's 1/density."""
    r = X - model.mean
    quad = np.einsum("ni,ij,nj->n", r, model.prec, r)
    d = X.shape[1]
    return ((model.dof + d) / 2.0) * np.log1p(quad / model.dof) - model.log_mult


def bayes_scores(model: BayesNormalModel, X: np.ndarray) -> np.ndarray:
    """The reference's score: 1 / Student-t density."""
    return np.exp(bayes_log_scores(model, X))


_SCORERS["bayes"] = bayes_scores


def bayes_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: BayesNormalModel | None = None,
) -> DataFrame:
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_bayesian_normal(sample[np.lexsort(sample.T[::-1])])
    return _score_with(df, feature_cols, id_cols, model, "bayes", score_col)


@artifact("bayes_model", 1)
def bayes_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize (i, j, p, mu_i, mu_j, dof, log_mult) — the MCD recipe
    with the Student-t constants carried per row."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_bayesian_normal(sample[np.lexsort(sample.T[::-1])])
    rows = [
        (i, j, float(m.prec[i, j]), float(m.mean[i]), float(m.mean[j]),
         float(m.dof), float(m.log_mult))
        for i in range(_DIMS)
        for j in range(_DIMS)
    ]
    spark.createDataFrame(
        rows, "i long, j long, p double, mu_i double, mu_j double, dof double, log_mult double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_bayes_model(spark, path: str) -> BayesNormalModel:
    pdf = spark.read.parquet(path).toPandas().sort_values(["i", "j"])
    d = int(pdf["i"].max()) + 1
    return BayesNormalModel(
        mean=pdf.drop_duplicates("i").sort_values("i")["mu_i"].to_numpy(dtype=np.float64),
        prec=pdf["p"].to_numpy(dtype=np.float64).reshape(d, d),
        dof=float(pdf["dof"].iloc[0]),
        log_mult=float(pdf["log_mult"].iloc[0]),
    )


_BAYM = bayes_model_parquet.scan()

_BAYES_ORACLE = f"""
    WITH m AS (SELECT * FROM {_BAYM}),
    c AS (SELECT any_value(dof) AS dof, any_value(log_mult) AS log_mult FROM m),
    terms AS (
      SELECT e.vec_id,
             (CAST(e.embedding[m.i + 1] AS DOUBLE) - m.mu_i) * m.p *
             (CAST(e.embedding[m.j + 1] AS DOUBLE) - m.mu_j) AS term
      FROM embeddings e CROSS JOIN m),
    q AS (SELECT vec_id, sum(term) AS quad FROM terms GROUP BY vec_id),
    scored AS (
      SELECT q.vec_id,
             ((c.dof + {_DIMS}) / 2.0) * ln(1.0 + q.quad / c.dof) - c.log_mult AS log_score
      FROM q, c),
    rk AS (SELECT vec_id, log_score FROM scored ORDER BY log_score DESC, vec_id LIMIT 20)
    SELECT vec_id, round(log_score, 6) AS log_score FROM rk
"""


@register("bayes_density_embeddings", _BAYES_ORACLE)
def bayes_density_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest Student-t predictive densities under the materialized
    Normal-Wishart posterior (log of the reference's 1/density score —
    same ranking); the oracle restates the precision quadratic form and
    the log-density constants in SQL."""
    model = load_bayes_model(spark, bayes_model_parquet(spark, sf_dir))
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    bc = spark.sparkContext.broadcast(model)
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("vec_id", LongType()), StructField("log_score", DoubleType())]
    )

    def run(batches):
        m = bc.value
        for pdf in batches:
            X = pdf[feats].to_numpy(dtype=np.float64)
            yield __import__("pandas").DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "log_score": bayes_log_scores(m, X)}
            )

    scored = df.select("vec_id", *feats).mapInPandas(run, schema)
    return scored.orderBy(F.desc("log_score"), "vec_id").limit(20).select(
        "vec_id", F.round("log_score", 6).alias("log_score")
    )


def gmm_assign(model: GMMModel, X: np.ndarray) -> np.ndarray:
    """Hard component assignment: argmax_k log(phi_k) + log N_k(x) — the
    contrib MixtureGroupClassifier's grouping rule (it labels each datum
    with the mixture component responsible for it)."""
    logp = np.stack(
        [
            np.log(model.weights[j]) + _gauss_log_density(X, model.means[j], model.covs[j])
            for j in range(len(model.weights))
        ],
        axis=1,
    )
    return logp.argmax(axis=1)


def gmm_group_classify(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    k: int = 3,
    train_rows: int = 4096,
    seed: int = 42,
    out_col: str = "_GROUP",
    model: GMMModel | None = None,
) -> DataFrame:
    """Label every row with its responsible mixture component (map-only,
    broadcast model) — the group column then feeds the explainers like any
    other attribute."""
    from pyspark.sql.types import LongType, StructField, StructType

    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_gmm(sample[np.lexsort(sample.T[::-1])], k=k, seed=seed)
    bc = df.sparkSession.sparkContext.broadcast(model)
    if id_cols is None:
        in_df = df
        keep = list(df.columns)
        out_schema = StructType(list(df.schema.fields) + [StructField(out_col, LongType())])
    else:
        in_df = df.select(*id_cols, *feature_cols)
        keep = list(id_cols)
        out_schema = StructType(
            [in_df.schema[c] for c in id_cols] + [StructField(out_col, LongType())]
        )

    def run(batches):
        m = bc.value
        for pdf in batches:
            out = pdf[keep].copy()
            out[out_col] = gmm_assign(m, pdf[feature_cols].to_numpy(dtype=np.float64))
            yield out

    return in_df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# TreeKDE — KD-tree-pruned KDE (contrib/.../stats/TreeKDE.java:14-106 +
# analysis/index/KDTree.java:40-131): the tree splits the density
# population on the widest dimension at the median (leaf capacity 2); a
# node whose kernel bounds agree within `accuracy` contributes
# 0.5*(wMin+wMax)*count without descending (with the compact Epanechnikov
# support this prunes whole out-of-bandwidth subtrees exactly), leaves sum
# exactly. Same -density score scale as kde_scores, so accuracy -> 0
# recovers the exact KDE (pinned in tests).
# ---------------------------------------------------------------------------


class _KDNode:
    __slots__ = ("lo_b", "hi_b", "n", "items", "lo", "hi")

    def __init__(self, lo_b, hi_b, n, items=None, lo=None, hi=None):
        self.lo_b, self.hi_b, self.n = lo_b, hi_b, n
        self.items, self.lo, self.hi = items, lo, hi


def _build_kdtree(X: np.ndarray, leaf_capacity: int = 2) -> _KDNode:
    lo_b, hi_b = X.min(axis=0), X.max(axis=0)
    if len(X) <= leaf_capacity:
        return _KDNode(lo_b, hi_b, len(X), items=X)
    dim = int(np.argmax(hi_b - lo_b))
    order = np.argsort(X[:, dim], kind="stable")
    mid = len(X) // 2
    return _KDNode(
        lo_b, hi_b, len(X),
        lo=_build_kdtree(X[order[:mid]], leaf_capacity),
        hi=_build_kdtree(X[order[mid:]], leaf_capacity),
    )


def tree_kde_scores(
    model: KDEModel,
    X: np.ndarray,
    accuracy: float = 1e-5,
    leaf_capacity: int = 2,
    _tree: _KDNode | None = None,
) -> np.ndarray:
    """KD-tree-pruned scores on the kde_scores scale (-density)."""
    d = X.shape[1]
    inv_h = 1.0 / model.h  # u^2 = diff^2 / h
    k0 = 0.75**d
    tree = _tree if _tree is not None else _build_kdtree(model.population, leaf_capacity)
    scale = 1.0 / (np.sqrt(np.prod(model.h)) * len(model.population))

    def kern(diff: np.ndarray) -> float:
        u2 = diff * diff * inv_h
        if (u2 >= 1.0).any():
            return 0.0
        return k0 * float(np.prod(1.0 - u2))

    def visit(node: _KDNode, x: np.ndarray) -> float:
        d_lo = x - node.lo_b
        d_hi = node.hi_b - x
        min_d = np.where((d_lo > 0) & (d_hi > 0), 0.0, np.minimum(np.abs(d_lo), np.abs(d_hi)))
        max_d = np.maximum(np.abs(d_lo), np.abs(d_hi))
        w_min = kern(min_d)  # the LARGEST possible kernel value in the box
        w_max = kern(max_d)  # the smallest
        if w_min - w_max < accuracy:
            return 0.5 * (w_min + w_max) * node.n
        if node.items is not None:
            return float(sum(kern(x - it) for it in node.items))
        return visit(node.lo, x) + visit(node.hi, x)

    return np.array([-visit(tree, x) * scale for x in X])


def tree_kde_log_scores(
    model: KDEModel, X: np.ndarray, accuracy: float = 1e-5, leaf_capacity: int = 2
) -> np.ndarray:
    """The reference TreeKDE.score scale: -(log unscaled + log scale) —
    the negative log pdf (underflow-safe; TreeKDE.java:94-102)."""
    dens = -tree_kde_scores(model, X, accuracy, leaf_capacity)
    with np.errstate(divide="ignore"):
        return -np.log(dens)
