"""The reference's variational mixture family — FiniteGMM (mean-field
variational Bayes over a finite Gaussian mixture) and DPGMM (truncated
Dirichlet-process stick-breaking mixture) — covered in pure numpy.

Reference semantics (contrib/src/main/java/macrobase/analysis/stats/
mixture/):
- VariationalInference.trainTestMeanField (VariationalInference.java:86-111):
  per iteration compute responsibilities
  r_nk ∝ exp(E[ln pi_k] + 0.5 E[ln det Lambda_k] + E_q[ln N(x_n)]), then
  update the mixing components and Normal-Wishart atoms; terminate on the
  BatchMixtureModel rule (BatchMixtureModel.java:95-112): average
  per-point predictive log-likelihood improves < 1e-5 relative, or 100
  iterations.
- NormalWishartClusters (NormalWishartClusters.java:170-250):
  E_q[ln N] = -D/2 ln 2pi - 0.5 (D/beta_k + nu_k (x-m_k)^T W_k (x-m_k));
  updates beta_k = beta0 + N_k, m_k = (beta0 m0 + sum_n r_nk x_n)/beta_k,
  nu_k = nu0 + 1 + N_k, W_k^{-1} = W0^{-1} + S_k + (beta0 N_k/(beta0+N_k))
  (xbar_k - m0)(xbar_k - m0)^T. Finite base: nu0 = beta0 = 0.1, m0 = 0,
  W0 = I (`initializeBaseForFinite`); DP base (`initializeBaseForDP`):
  nu0 = D, beta0 = R^-2 with R the widest bounding-box side, m0 =
  boundingBox_lo + width per dimension (the reference computes lo+width,
  i.e. the MAX corner, not the midpoint — reproduced as written), W0 = I.
  Atom init: Gonzalez farthest-point centers; finite atoms start at
  (beta0, nu0, W0), DP atoms at (beta=1, nu=nu0, W=I)
  (`initializeAtomsFor{Finite,DP}`).
- MultiComponents (MultiComponents.java:29-54): Dirichlet with prior
  alpha0 = 0.1/K… the reference passes 0.1 as the full prior per
  component; E[ln pi_k] = digamma(alpha_k) - digamma(sum alpha);
  alpha_k = alpha0 + N_k.
- DPComponents (DPComponents.java:33-77): truncated stick-breaking with
  Beta(1, alpha) sticks; E[ln pi_t] accumulates
  digamma(b_t)-digamma(a_t+b_t) over earlier sticks; updates a_t = 1 +
  N_t, b_t = alpha + sum_{j>t} N_j; expected proportions break the
  remaining stick by a_t/(a_t+b_t).
- Wishart.getExpectationLogDeterminantLambda (Wishart.java:54-61):
  D ln 2 + ln det W + sum_{i=0}^{D-1} digamma((nu - i)/2).
- Scoring (VarGMM.java:66-78): the posterior-predictive Student-t mixture
  density(x) = sum_k w_k t(x; m_k, ((nu_k+1-D) beta_k/(1+beta_k) W_k)^-1,
  nu_k+1-D) with w the normalized proportions; score = ln density, or
  -10000 when the density underflows to zero (ZERO_LOG_SCORE).
- Stochastic variational inference (StochVarFiniteGMM.java /
  StochVarDPGMM.java → VariationalInference.trainTestStochastic:32-82):
  per outer iteration pace = (iter + delay)^-forgettingRate; the data is
  cut into `partitions = N / min(N, minibatchSize)` STRIDED minibatches
  (element i of partition p is trainData[p + i*partitions]); each
  minibatch does a local responsibility pass then natural-gradient steps
  `moveNatural(r, pace, N/|minibatch|)` on both the mixing components
  (MultiComponents.java:47-54, DPComponents.java:60-74) and the
  Normal-Wishart atoms (NormalWishartClusters.java:227-256); termination
  is the same BatchMixtureModel rule evaluated once per outer iteration.
  Defaults minibatch=10000, delay=1.0, forgettingRate=0.9
  (GMMConf.java:18-20).

Spark shape: fit driver-side on the seeded bounded sample (the
detectors.py contract — partitioning-invariant, a few KB of numpy),
broadcast, Arrow-scored map-only. The DuckDB oracles replay the full
t-mixture scoring over a MATERIALIZED per-component model relation
(per-component precision quadratic forms inside a weighted density sum —
the gmm/bayes recipe); the fits are gated by planted-cluster recovery and
a digamma/Wishart identity test in tests/test_vargmm.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from math import lgamma, log, pi

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.contrib_stats import _gonzalez_init
from macrobase_spark.operators.detectors import (
    _collect_sample,
    _SCORERS,
    _score_with,
    array_col_to_features,
)

ZERO_LOG_SCORE = -10000.0  # VarGMM.java:21


def digamma(x):
    """Vectorized digamma, commons-math semantics: the psi(x) = psi(x+1) -
    1/x recurrence (valid for negative non-integer x too) until x >= 49,
    then the asymptotic series — matches org.apache.commons.math3.special
    .Gamma.digamma to ~1e-12 on the domains the fits touch."""
    x = np.asarray(x, dtype=np.float64).copy()
    scalar = x.ndim == 0
    x = np.atleast_1d(x)
    out = np.zeros_like(x)
    while True:
        small = x < 49.0
        if not small.any():
            break
        out[small] -= 1.0 / x[small]
        x[small] += 1.0
    inv2 = 1.0 / (x * x)
    out += np.log(x) - 0.5 / x - inv2 * (
        1.0 / 12.0 - inv2 * (1.0 / 120.0 - inv2 / 252.0)
    )
    return float(out[0]) if scalar else out


def wishart_e_logdet(omega: np.ndarray, nu: float) -> float:
    """E[ln det Lambda] for Lambda ~ Wishart(omega, nu) (Wishart.java:54-61)."""
    d = omega.shape[0]
    sign, logdet = np.linalg.slogdet(omega)
    return d * log(2.0) + logdet + float(np.sum(digamma((nu - np.arange(d)) / 2.0)))


@dataclass
class VarGMMModel:
    kind: str  # "finite" | "dp"
    weights: np.ndarray  # (K,) normalized cluster proportions
    locs: np.ndarray  # (K, D) t locations
    precs: np.ndarray  # (K, D, D) t precision matrices
    dofs: np.ndarray  # (K,) t degrees of freedom
    log_mults: np.ndarray  # (K,) log t normalizing constants


class _NormalWishart:
    """Numpy port of NormalWishartClusters (shared by finite and DP)."""

    def __init__(self, X: np.ndarray, k: int, kind: str, rng: np.random.Generator):
        n, d = X.shape
        self.d = d
        if kind == "finite":
            self.base_nu, self.base_beta = 0.1, 0.1
            self.base_loc = np.zeros(d)
            self.base_w_inv = np.eye(d)
            self.beta = np.full(k, self.base_beta)
            self.nu = np.full(k, self.base_nu)
        else:  # DP (initializeBaseForDP/initializeAtomsForDP)
            lo, hi = X.min(axis=0), X.max(axis=0)
            width = hi - lo
            r = float(width.max())
            self.base_nu = float(d)
            self.base_beta = r**-2 if r > 0 else 1.0
            self.base_loc = lo + width  # the reference's lo+width, as written
            self.base_w_inv = np.eye(d)
            self.beta = np.ones(k)
            self.nu = np.full(k, self.base_nu)
        self.loc = _gonzalez_init(X, k, rng).astype(np.float64)
        self.omega = np.stack([np.eye(d)] * k)

    def e_log_precision(self) -> np.ndarray:
        return np.array(
            [0.5 * wishart_e_logdet(self.omega[k], self.nu[k]) for k in range(len(self.nu))]
        )

    def log_likely_fixed_prec(self, X: np.ndarray) -> np.ndarray:
        """(N, K) E_q[ln N(x_n | ·)] (NormalWishartClusters.java:196-207)."""
        n, d = X.shape
        out = np.empty((n, len(self.nu)))
        half = 0.5 * d * log(2 * pi)
        for k in range(len(self.nu)):
            r = X - self.loc[k]
            quad = np.einsum("ni,ij,nj->n", r, self.omega[k], r)
            out[:, k] = -half - 0.5 * (d / self.beta[k] + self.nu[k] * quad)
        return out

    def update(self, X: np.ndarray, r: np.ndarray) -> None:
        nk = r.sum(axis=0)  # cluster weights
        wsum = r.T @ X  # (K, D) weighted sums
        xbar = np.where(nk[:, None] > 0, wsum / np.maximum(nk[:, None], 1e-300), wsum)
        for k in range(len(self.nu)):
            diff = X - xbar[k]
            s = (r[:, k][:, None] * diff).T @ diff  # quadratic form
            self.beta[k] = self.base_beta + nk[k]
            self.loc[k] = (self.base_loc * self.base_beta + wsum[k]) / self.beta[k]
            self.nu[k] = self.base_nu + 1 + nk[k]
            am = xbar[k] - self.base_loc
            w_inv = (
                self.base_w_inv
                + s
                + np.outer(am, am)
                * (self.base_beta * nk[k] / (self.base_beta + nk[k]))
            )
            self.omega[k] = np.linalg.inv(w_inv)

    def move_natural(self, X: np.ndarray, r: np.ndarray, pace: float, repeat: float) -> None:
        """Stochastic natural-gradient step (NormalWishartClusters.
        moveNatural:233-253): targets computed from the minibatch scaled by
        `repeat` = N/minibatch, blended at `pace`; the loc target divides by
        the ALREADY-STEPPED beta, as the reference does."""
        nk_raw = r.sum(axis=0)
        wsum = r.T @ X
        xbar = np.where(
            nk_raw[:, None] > 0, wsum / np.maximum(nk_raw[:, None], 1e-300), wsum
        )
        nk = nk_raw * repeat
        wsum = wsum * repeat
        for k in range(len(self.nu)):
            diff = X - xbar[k]
            s = ((r[:, k][:, None] * diff).T @ diff) * repeat
            self.beta[k] = (1 - pace) * self.beta[k] + pace * (self.base_beta + nk[k])
            self.loc[k] = (1 - pace) * self.loc[k] + pace * (
                (self.base_loc * self.base_beta + wsum[k]) / self.beta[k]
            )
            self.nu[k] = (1 - pace) * self.nu[k] + pace * (self.base_nu + 1 + nk[k])
            am = xbar[k] - self.base_loc
            w_inv = (
                self.base_w_inv
                + s
                + np.outer(am, am)
                * (self.base_beta * nk[k] / (self.base_beta + nk[k]))
            )
            self.omega[k] = (1 - pace) * self.omega[k] + pace * np.linalg.inv(w_inv)

    def predictive(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Student-t params per atom (constructPredictiveDistributions)."""
        k, d = len(self.nu), self.d
        dofs = self.nu + 1 - d
        precs = np.empty_like(self.omega)
        log_mults = np.empty(k)
        for i in range(k):
            if dofs[i] <= 0:
                # a collapsed atom (N_k ~ 0 with nu0 < D): the reference's
                # MultivariateTDistribution returns density 0 at dof == 0
                # and NaN below it — extend the 0 convention so the mixture
                # stays total; the component re-populates or stays weightless
                precs[i] = np.eye(d)
                dofs[i] = 1.0
                log_mults[i] = -np.inf
                continue
            scale = dofs[i] * self.beta[i] / (1 + self.beta[i])
            precs[i] = self.omega[i] * scale  # t precision = inv(cov)
            sign, logdet_cov = np.linalg.slogdet(np.linalg.inv(precs[i]))
            log_mults[i] = (
                lgamma(0.5 * (d + dofs[i]))
                - lgamma(0.5 * dofs[i])
                - 0.5 * d * log(pi * dofs[i])
                - 0.5 * logdet_cov
            )
        return self.loc.copy(), precs, dofs, log_mults


def _t_mixture_log_density(
    X: np.ndarray, w, locs, precs, dofs, log_mults
) -> np.ndarray:
    """ln sum_k w_k t_k(x), with the reference's ZERO_LOG_SCORE on
    underflow (VarGMM.java:66-78 computes in raw density space; so do we)."""
    d = X.shape[1]
    dens = np.zeros(len(X))
    for k in range(len(w)):
        r = X - locs[k]
        quad = np.einsum("ni,ij,nj->n", r, precs[k], r)
        dens += w[k] * np.exp(
            log_mults[k] - 0.5 * (dofs[k] + d) * np.log1p(quad / dofs[k])
        )
    out = np.full(len(X), ZERO_LOG_SCORE)
    pos = dens > 0
    out[pos] = np.log(dens[pos])
    return out


class _FiniteMixing:
    """MultiComponents.java — Dirichlet mixing weights."""

    def __init__(self, k: int):
        self.alpha0 = 0.1  # MultiComponents prior (FiniteGMM.java:32)
        self.alpha = np.full(k, 1.0 / k)

    def e_log(self) -> np.ndarray:
        return digamma(self.alpha) - digamma(self.alpha.sum())

    def update(self, r: np.ndarray) -> None:
        self.alpha = self.alpha0 + r.sum(axis=0)

    def move_natural(self, r: np.ndarray, pace: float, repeat: float) -> None:
        """MultiComponents.moveNatural:47-54 — step toward
        alpha0 + repeat * N_k."""
        self.alpha = (1 - pace) * self.alpha + pace * (
            self.alpha0 + repeat * r.sum(axis=0)
        )

    def proportions(self) -> np.ndarray:
        return self.alpha / self.alpha.sum()


class _DPMixing:
    """DPComponents.java — truncated stick-breaking weights."""

    def __init__(self, k: int, concentration: float):
        self.conc = concentration
        self.a = np.ones(k)
        self.b = np.full(k, concentration)

    def e_log(self) -> np.ndarray:
        dig_ab = digamma(self.a + self.b)
        term = digamma(self.a) - dig_ab
        cum = np.concatenate([[0.0], np.cumsum(digamma(self.b) - dig_ab)[:-1]])
        return cum + term

    @staticmethod
    def _tail(nk: np.ndarray) -> np.ndarray:
        return np.concatenate([np.cumsum(nk[::-1])[::-1][1:], [0.0]])

    def update(self, r: np.ndarray) -> None:
        nk = r.sum(axis=0)
        self.a = 1.0 + nk
        self.b = self.conc + self._tail(nk)

    def move_natural(self, r: np.ndarray, pace: float, repeat: float) -> None:
        """DPComponents.moveNatural:60-74 — step the Beta shape params
        toward (1 + repeat*N_t, conc + repeat*tail_t)."""
        nk = r.sum(axis=0)
        self.a = (1 - pace) * self.a + pace * (1.0 + repeat * nk)
        self.b = (1 - pace) * self.b + pace * (self.conc + repeat * self._tail(nk))

    def proportions(self) -> np.ndarray:
        brk = 1.0 / (1.0 + self.b / self.a)
        stick = np.concatenate([[1.0], np.cumprod(1.0 - brk)[:-1]])
        return stick * brk


def _make_mixing(kind: str, k: int, concentration: float):
    return _FiniteMixing(k) if kind == "finite" else _DPMixing(k, concentration)


def _responsibilities(mix, nw: _NormalWishart, X: np.ndarray) -> np.ndarray:
    """VariationalInference.normalizeLogProbabilities:15-30."""
    r = np.exp(
        mix.e_log()[None, :]
        + nw.e_log_precision()[None, :]
        + nw.log_likely_fixed_prec(X)
    )
    norm = r.sum(axis=1, keepdims=True)
    return np.where(norm > 0, r / np.maximum(norm, 1e-300), r)


def _finish(kind: str, mix, nw: _NormalWishart) -> VarGMMModel:
    locs, precs, dofs, log_mults = nw.predictive()
    return VarGMMModel(
        kind=kind,
        weights=mix.proportions(),
        locs=locs,
        precs=precs,
        dofs=dofs,
        log_mults=log_mults,
    )


def _mean_loglik(mix, nw: _NormalWishart, X: np.ndarray) -> float:
    locs, precs, dofs, log_mults = nw.predictive()
    return float(
        np.mean(
            _t_mixture_log_density(X, mix.proportions(), locs, precs, dofs, log_mults)
        )
    )


def fit_vargmm(
    X: np.ndarray,
    k: int = 2,
    kind: str = "finite",
    concentration: float = 1.0,
    max_iter: int = 100,
    progress_cutoff: float = 1e-5,
    seed: int = 42,
) -> VarGMMModel:
    """Mean-field VB fit (FiniteGMM / DPGMM via `kind`), the reference's
    iteration and termination behavior."""
    rng = np.random.default_rng(seed)
    nw = _NormalWishart(X, k, kind, rng)
    mix = _make_mixing(kind, k, concentration)
    loglik = -np.inf
    for it in range(1, max_iter + 1):
        r = _responsibilities(mix, nw, X)
        mix.update(r)
        nw.update(X, r)
        new_ll = _mean_loglik(mix, nw, X)
        improvement = (new_ll - loglik) / (-new_ll) if np.isfinite(loglik) else np.inf
        done = it >= max_iter or (0 <= improvement < progress_cutoff)
        loglik = new_ll
        if done:
            break
    return _finish(kind, mix, nw)


def fit_vargmm_stochastic(
    X: np.ndarray,
    k: int = 2,
    kind: str = "finite",
    concentration: float = 1.0,
    minibatch: int = 10000,
    delay: float = 1.0,
    forgetting_rate: float = 0.9,
    max_iter: int = 100,
    progress_cutoff: float = 1e-5,
    seed: int = 42,
) -> VarGMMModel:
    """Stochastic VI fit (StochVarFiniteGMM / StochVarDPGMM semantics,
    VariationalInference.trainTestStochastic:32-82): strided minibatches,
    pace = (iter + delay)^-forgettingRate, natural-gradient `moveNatural`
    global steps scaled by N/|minibatch|, the batch termination rule
    evaluated once per outer sweep."""
    rng = np.random.default_rng(seed)
    nw = _NormalWishart(X, k, kind, rng)
    mix = _make_mixing(kind, k, concentration)
    n = len(X)
    partitions = n // min(n, minibatch)
    loglik = -np.inf
    for it in range(1, max_iter + 1):
        pace = (it + delay) ** (-forgetting_rate)
        for p in range(partitions):
            mb = X[p::partitions]  # the reference's i = p; i < N; i += partitions
            r = _responsibilities(mix, nw, mb)
            repeat = n / len(mb)
            mix.move_natural(r, pace, repeat)
            nw.move_natural(mb, r, pace, repeat)
        new_ll = _mean_loglik(mix, nw, X)
        improvement = (new_ll - loglik) / (-new_ll) if np.isfinite(loglik) else np.inf
        done = it >= max_iter or (0 <= improvement < progress_cutoff)
        loglik = new_ll
        if done:
            break
    return _finish(kind, mix, nw)


def vargmm_log_scores(model: VarGMMModel, X: np.ndarray) -> np.ndarray:
    return _t_mixture_log_density(
        X, model.weights, model.locs, model.precs, model.dofs, model.log_mults
    )


_SCORERS["vargmm"] = vargmm_log_scores


def vargmm_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    k: int = 2,
    kind: str = "finite",
    concentration: float = 1.0,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: VarGMMModel | None = None,
    stochastic: bool = False,
    minibatch: int = 10000,
) -> DataFrame:
    """Broadcast-model Arrow scoring (map-only); the sample is lex-sorted
    for partitioning invariance, the detectors.py contract. `stochastic`
    selects the StochVar* natural-gradient fit."""
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        xs = sample[np.lexsort(sample.T[::-1])]
        if stochastic:
            model = fit_vargmm_stochastic(
                xs, k, kind, concentration, minibatch=minibatch, seed=seed
            )
        else:
            model = fit_vargmm(xs, k, kind, concentration, seed=seed)
    return _score_with(df, feature_cols, id_cols, model, "vargmm", score_col)


# ---------------------------------------------------------------------------
# registered queries: finite-VB and DP mixtures over the embeddings head
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import Artifact, artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_DIMS = 8  # detectors.py convention for the embeddings feature head
_K_FINITE = 3
_T_DP = 8


def _mixture_artifact(kind: str, k: int, stoch: bool = False):
    """Register the fitted `kind` mixture with k components as an artifact:
    (k, w, dof, log_mult, i, j, p, mu_i) per component — the bayes/gmm
    materialized-model recipe, one row per precision entry."""
    tag = f"stoch_{kind}" if stoch else kind

    @artifact(f"vargmm_{tag}{k}", 1)
    def build(spark, sf_dir: str, out: str) -> None:
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        feats = [f"_f{i}" for i in range(_DIMS)]
        df = array_col_to_features(e, "embedding", _DIMS)
        sample = _collect_sample(df, feats, 4096, 42)
        fit = fit_vargmm_stochastic if stoch else fit_vargmm
        kwargs = {"minibatch": 512} if stoch else {}
        m = fit(sample[np.lexsort(sample.T[::-1])], k, kind, seed=42, **kwargs)
        rows = [
            (c, float(m.weights[c]), float(m.dofs[c]), float(m.log_mults[c]),
             i, j, float(m.precs[c, i, j]), float(m.locs[c, i]),
             float(m.locs[c, j]))
            for c in range(k)
            for i in range(_DIMS)
            for j in range(_DIMS)
        ]
        spark.createDataFrame(
            rows,
            "k long, w double, dof double, log_mult double, "
            "i long, j long, p double, mu_i double, mu_j double",
        ).coalesce(1).write.parquet(out)

    return build


vargmm_model_parquet = _mixture_artifact("finite", _K_FINITE)
dpgmm_model_parquet = _mixture_artifact("dp", _T_DP)
stochvargmm_model_parquet = _mixture_artifact("finite", _K_FINITE, stoch=True)
stochdpgmm_model_parquet = _mixture_artifact("dp", _T_DP, stoch=True)


def _load_model(spark, path: str, kind: str) -> VarGMMModel:
    pdf = spark.read.parquet(path).toPandas().sort_values(["k", "i", "j"])
    ks = int(pdf["k"].max()) + 1
    precs = pdf["p"].to_numpy(dtype=np.float64).reshape(ks, _DIMS, _DIMS)
    per_k = pdf.drop_duplicates("k").sort_values("k")
    locs = (
        pdf.drop_duplicates(["k", "i"]).sort_values(["k", "i"])["mu_i"]
        .to_numpy(dtype=np.float64)
        .reshape(ks, _DIMS)
    )
    return VarGMMModel(
        kind=kind,
        weights=per_k["w"].to_numpy(dtype=np.float64),
        locs=locs,
        precs=precs,
        dofs=per_k["dof"].to_numpy(dtype=np.float64),
        log_mults=per_k["log_mult"].to_numpy(dtype=np.float64),
    )


def _mixture_oracle(model_glob: str) -> str:
    return f"""
    WITH m AS (SELECT * FROM {model_glob}),
    terms AS (
      SELECT e.vec_id, m.k,
             (CAST(e.embedding[m.i + 1] AS DOUBLE) - m.mu_i) * m.p *
             (CAST(e.embedding[m.j + 1] AS DOUBLE) - m.mu_j) AS term
      FROM embeddings e CROSS JOIN m),
    q AS (SELECT vec_id, k, sum(term) AS quad FROM terms GROUP BY vec_id, k),
    comp AS (
      SELECT q.vec_id,
             c.w * exp(c.log_mult
                       - 0.5 * (c.dof + {_DIMS}) * ln(1.0 + q.quad / c.dof))
               AS dens
      FROM q JOIN (SELECT DISTINCT k, w, dof, log_mult FROM m) c USING (k)),
    scored AS (
      SELECT vec_id,
             CASE WHEN sum(dens) > 0 THEN ln(sum(dens)) ELSE -10000.0 END
               AS log_score
      FROM comp GROUP BY vec_id),
    rk AS (SELECT vec_id, log_score FROM scored
           ORDER BY log_score ASC, vec_id LIMIT 20)
    SELECT vec_id, round(log_score, 6) AS log_score FROM rk
"""


def _mixture_query(spark, sf_dir: str, model: Artifact, kind: str) -> DataFrame:
    fitted = _load_model(spark, model(spark, sf_dir), kind)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    scored = vargmm_score(df, feats, ["vec_id"], model=fitted, score_col="log_score")
    return scored.orderBy(F.asc("log_score"), "vec_id").limit(20).select(
        "vec_id", F.round("log_score", 6).alias("log_score")
    )


@register("vargmm_loglik_embeddings", _mixture_oracle(vargmm_model_parquet.scan()))
def vargmm_loglik_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest predictive log-likelihoods under the mean-field
    variational Bayes finite mixture (FiniteGMM semantics, K=3) — the
    oracle replays the full Student-t mixture density over the
    materialized per-component relation."""
    return _mixture_query(spark, sf_dir, vargmm_model_parquet, "finite")


@register("dpgmm_loglik_embeddings", _mixture_oracle(dpgmm_model_parquet.scan()))
def dpgmm_loglik_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest predictive log-likelihoods under the truncated
    Dirichlet-process mixture (DPGMM semantics, T=8, concentration 1)."""
    return _mixture_query(spark, sf_dir, dpgmm_model_parquet, "dp")


@register(
    "stochvargmm_loglik_embeddings", _mixture_oracle(stochvargmm_model_parquet.scan())
)
def stochvargmm_loglik_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest predictive log-likelihoods under the stochastic-VI finite
    mixture (StochVarFiniteGMM semantics, K=3, minibatch 512, delay 1,
    forgetting rate 0.9) — strided minibatches + paced moveNatural steps."""
    return _mixture_query(spark, sf_dir, stochvargmm_model_parquet, "finite")


@register(
    "stochdpgmm_loglik_embeddings", _mixture_oracle(stochdpgmm_model_parquet.scan())
)
def stochdpgmm_loglik_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest predictive log-likelihoods under the stochastic-VI
    Dirichlet-process mixture (StochVarDPGMM semantics, T=8)."""
    return _mixture_query(spark, sf_dir, stochdpgmm_model_parquet, "dp")
