"""Vectorized anomaly-detector scorers: Isolation Forest and LOF.

Reference semantics (what these compute):
- IsolationForest  reference alexp/.../outlier/iforest/IsolationForest.java:52-260
  (Liu et al.: 100 trees, subsample 256, score 2^(-E[h]/c(psi)))
- LOF              reference alexp/.../outlier/lof/bkaluza/LOF.java:14-60+
  (k-NN local outlier factor; here in the fit-on-sample / score-anywhere
  "novelty" formulation so scoring distributes)

How they run (Spark-first, per BASELINE input_hint: "vectorized pandas/Arrow
UDFs (no per-row Python)"):
- TRAIN on the driver from a seeded sample (the model is a few KB of numpy
  arrays — sampling 256..4096 rows of a 10^12-row table is the textbook
  iforest/LOF regime; the reference trains on `trainSize` head rows the
  same way);
- BROADCAST the packed model;
- SCORE in mapInPandas: per Arrow batch, trees are traversed level-
  synchronously with pure numpy indexing (8 vector ops per tree), LOF
  distances are one GEMM per batch. No Python-per-row anywhere.

Determinism: all randomness is np.random.default_rng(seed); same model at
any partitioning. The reference retrains per batch with an unseeded RNG
(IsolationForest.java:91) — we deliberately fix seeds (SURVEY §7.4).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

_EULER = 0.5772156649015329


def _c(n) -> np.ndarray | float:
    """Average unsuccessful-search path length in a BST of n nodes."""
    n = np.asarray(n, dtype=np.float64)
    out = np.zeros_like(n)
    m = n > 2
    nm = n[m]
    out[m] = 2.0 * (np.log(nm - 1.0) + _EULER) - 2.0 * (nm - 1.0) / nm
    out[n == 2] = 1.0
    return out


# ---------------------------------------------------------------------------
# Isolation Forest
# ---------------------------------------------------------------------------


@dataclass
class IForest:
    """Packed forest: per-tree flat node arrays (feature, threshold, child
    pointers, node size) concatenated, with per-tree offsets."""

    feat: np.ndarray  # int32, -1 for external nodes
    thr: np.ndarray  # float64
    left: np.ndarray  # int32 (absolute index)
    right: np.ndarray  # int32
    size: np.ndarray  # int32 (points in node; used at external nodes)
    depth: np.ndarray  # int32 node depth
    roots: np.ndarray  # int32 per-tree root index
    psi: int  # subsample size


def fit_isolation_forest(
    X: np.ndarray, n_trees: int = 100, subsample: int = 256, seed: int = 42
) -> IForest:
    rng = np.random.default_rng(seed)
    n, d = X.shape
    psi = min(subsample, n)
    max_depth = int(np.ceil(np.log2(max(psi, 2))))

    feat, thr, left, right, size, depth, roots = [], [], [], [], [], [], []

    def new_node(dep: int, sz: int) -> int:
        i = len(feat)
        feat.append(-1)
        thr.append(0.0)
        left.append(-1)
        right.append(-1)
        size.append(sz)
        depth.append(dep)
        return i

    for _ in range(n_trees):
        idx = rng.choice(n, size=psi, replace=False)
        root = new_node(0, psi)
        roots.append(root)
        stack = [(root, idx, 0)]
        while stack:
            node, pts, dep = stack.pop()
            if dep >= max_depth or len(pts) <= 1:
                continue
            lo = X[pts].min(axis=0)
            hi = X[pts].max(axis=0)
            usable = np.where(hi > lo)[0]
            if len(usable) == 0:
                continue
            f = int(rng.choice(usable))
            t = float(rng.uniform(lo[f], hi[f]))
            mask = X[pts, f] <= t
            l_pts, r_pts = pts[mask], pts[~mask]
            feat[node] = f
            thr[node] = t
            li = new_node(dep + 1, len(l_pts))
            ri = new_node(dep + 1, len(r_pts))
            left[node], right[node] = li, ri
            stack.append((li, l_pts, dep + 1))
            stack.append((ri, r_pts, dep + 1))

    return IForest(
        np.asarray(feat, np.int32),
        np.asarray(thr, np.float64),
        np.asarray(left, np.int32),
        np.asarray(right, np.int32),
        np.asarray(size, np.int32),
        np.asarray(depth, np.int32),
        np.asarray(roots, np.int32),
        psi,
    )


def iforest_scores(model: IForest, X: np.ndarray) -> np.ndarray:
    """Anomaly score in (0,1]; >0.5 ≈ isolated. Level-synchronous vectorized
    traversal: every tree advances all points one level per numpy step."""
    n = X.shape[0]
    total = np.zeros(n)
    for root in model.roots:
        cur = np.full(n, root, dtype=np.int64)
        active = model.feat[cur] >= 0
        while active.any():
            ci = cur[active]
            f = model.feat[ci]
            go_left = X[active, :][np.arange(len(ci)), f] <= model.thr[ci]
            nxt = np.where(go_left, model.left[ci], model.right[ci])
            cur[active] = nxt
            active = model.feat[cur] >= 0
        # path length = depth + c(node size) correction
        total += model.depth[cur] + _c(model.size[cur])
    avg = total / len(model.roots)
    return np.power(2.0, -avg / max(float(_c(np.array([model.psi]))[0]), 1e-12))


# ---------------------------------------------------------------------------
# LOF (fit on sample, score anywhere)
# ---------------------------------------------------------------------------


@dataclass
class LOFModel:
    S: np.ndarray  # sample matrix (m, d)
    k: int
    kdist: np.ndarray  # (m,) k-distance of each sample point
    lrd: np.ndarray  # (m,) local reachability density of each sample point


def _pairwise_sq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Squared Euclidean distances via one GEMM."""
    aa = (A * A).sum(axis=1)[:, None]
    bb = (B * B).sum(axis=1)[None, :]
    return np.maximum(aa + bb - 2.0 * (A @ B.T), 0.0)


def fit_lof(X: np.ndarray, k: int = 20, seed: int = 42, max_sample: int = 4096) -> LOFModel:
    rng = np.random.default_rng(seed)
    if X.shape[0] > max_sample:
        X = X[rng.choice(X.shape[0], size=max_sample, replace=False)]
    m = X.shape[0]
    k = min(k, m - 1)
    D = np.sqrt(_pairwise_sq(X, X))
    np.fill_diagonal(D, np.inf)
    nn = np.argsort(D, axis=1)[:, :k]  # (m, k) neighbor indices
    ndist = np.take_along_axis(D, nn, axis=1)  # (m, k)
    kdist = ndist[:, -1]
    reach = np.maximum(ndist, kdist[nn])  # reach-dist(p, o) = max(d, kdist(o))
    lrd = k / np.maximum(reach.sum(axis=1), 1e-300)
    return LOFModel(X.astype(np.float64), k, kdist, lrd)


def lof_scores(model: LOFModel, X: np.ndarray) -> np.ndarray:
    """LOF of each row of X w.r.t. the fitted sample (≈1 inlier, >1 outlier)."""
    D = np.sqrt(_pairwise_sq(X.astype(np.float64), model.S))
    k = model.k
    nn = np.argpartition(D, k - 1, axis=1)[:, :k]
    ndist = np.take_along_axis(D, nn, axis=1)
    reach = np.maximum(ndist, model.kdist[nn])
    lrd_x = k / np.maximum(reach.sum(axis=1), 1e-300)
    return model.lrd[nn].mean(axis=1) / np.maximum(lrd_x, 1e-300)


# ---------------------------------------------------------------------------
# LOF search-range variant (lof-chen) and LOCI
# ---------------------------------------------------------------------------


@dataclass
class LOFChenModel:
    models: list  # one LOFModel per k in the search range


def fit_lof_chen(
    X: np.ndarray, k_lb: int = 3, k_ub: int = 10, seed: int = 42, max_sample: int = 4096
) -> LOFChenModel:
    """lof-chen (reference alexp/.../outlier/lof/chen/LOF.java via
    Pipelines.java:218-224, search range minPtsLB..minPtsUB): the score is
    the MAX LOF over every k in the range — one fitted model per k, all on
    the same sample."""
    return LOFChenModel([fit_lof(X, k=k, seed=seed, max_sample=max_sample) for k in range(k_lb, k_ub + 1)])


def lof_chen_scores(model: LOFChenModel, X: np.ndarray) -> np.ndarray:
    s = np.full(X.shape[0], -np.inf)
    for m in model.models:
        s = np.maximum(s, lof_scores(m, X))
    return s


@dataclass
class LOCIModel:
    S: np.ndarray  # sample matrix (m, d)
    alpha: float
    k_sigma: float
    radii: np.ndarray  # radius grid (g,)
    s_cnt: np.ndarray  # (m, g) per-sample-point neighbor counts at alpha*r


def fit_loci(
    X: np.ndarray,
    alpha: float = 0.5,
    k_sigma: float = 3.0,
    n_radii: int = 16,
    seed: int = 42,
    max_sample: int = 2048,
) -> LOCIModel:
    """LOCI multi-granularity MDEF (reference alexp/.../outlier/lof/chen/
    LOCI.java:18-155). Two deliberate scale adaptations, both documented:
    the neighborhood statistics come from a seeded SAMPLE (the reference
    builds the full O(n²) distance matrix of the batch — impossible
    distributed), and the radius sweep runs over a GEOMETRIC GRID between
    the sample's min/max non-zero distances instead of every pairwise
    distance (the aLOCI discretization; the reference's per-point radius
    loop is O(n³))."""
    rng = np.random.default_rng(seed)
    if X.shape[0] > max_sample:
        X = X[rng.choice(X.shape[0], size=max_sample, replace=False)]
    m = X.shape[0]
    D = np.sqrt(_pairwise_sq(X, X))
    off = D[~np.eye(m, dtype=bool)]
    d_lo = max(float(off[off > 0].min()) if (off > 0).any() else 1e-6, 1e-12)
    d_hi = max(float(off.max()), d_lo * 1.0001)
    radii = np.geomspace(d_lo, d_hi, n_radii)
    # per sample point: count of sample points within alpha*r (incl. itself)
    s_cnt = np.empty((m, len(radii)))
    for k, r in enumerate(radii):
        s_cnt[:, k] = (D < alpha * r).sum(axis=1)  # diagonal 0 < alpha*r → self
    return LOCIModel(X.astype(np.float64), alpha, k_sigma, radii, s_cnt)


def loci_scores(model: LOCIModel, X: np.ndarray) -> np.ndarray:
    """Max MDEF z-score over the radius grid (> k_sigma ⇒ the reference
    flags the point): MDEF = 1 − n(x, αr)/n̂(r), σ_MDEF = σ_n̂/n̂, with n̂/σ
    over the sample's r-neighborhood counts (reference LOCI.java:43-130,
    D_i taken at r_max ⇒ the whole sample)."""
    d = np.sqrt(_pairwise_sq(X.astype(np.float64), model.S))
    m = model.S.shape[0]
    out = np.full(X.shape[0], -np.inf)
    for k, r in enumerate(model.radii):
        cnt = model.s_cnt[:, k]
        n_hat = cnt.sum() / (m + 1)
        sigma = np.sqrt(((cnt - n_hat) ** 2).sum() / (m + 1))
        if n_hat <= 0:
            continue
        n_x = 1.0 + (d < model.alpha * r).sum(axis=1)
        mdef = 1.0 - n_x / n_hat
        sigma_mdef = max(sigma / n_hat, 1e-12)
        out = np.maximum(out, mdef / sigma_mdef)
    return out


# ---------------------------------------------------------------------------
# MinCovDet (FastMCD C-steps + Mahalanobis scoring)
# ---------------------------------------------------------------------------


@dataclass
class MCDModel:
    mean: np.ndarray  # (d,)
    inv_cov: np.ndarray  # (d, d)


def fit_mcd(
    X: np.ndarray,
    alpha: float = 0.5,
    stopping_delta: float = 0.001,
    seed: int = 42,
) -> MCDModel:
    """Minimum Covariance Determinant via C-steps (reference
    alexp/.../outlier/MinCovDet.java:11-160: h = floor((n+p+1)·alpha) random
    start, then repeatedly refit mean/cov on the h Mahalanobis-closest rows
    until the determinant stops shrinking by stopping_delta)."""
    rng = np.random.default_rng(seed)
    n, p = X.shape
    h = min(int(np.floor((n + p + 1) * alpha)), n)
    h = max(h, p + 1)

    def mean_cov(idx):
        S = X[idx]
        mu = S.mean(axis=0)
        C = np.cov(S, rowvar=False, bias=False)
        C = np.atleast_2d(C)
        # ridge for numerical rank-deficiency (the reference relies on
        # commons-math LU solve failing; we keep the fit usable instead)
        C = C + 1e-9 * np.eye(p)
        return mu, C

    idx = rng.choice(n, size=h, replace=False)
    mu, C = mean_cov(idx)
    inv = np.linalg.inv(C)
    det = float(np.linalg.det(C))
    for _ in range(100):
        d2 = _mahalanobis_sq(X, mu, inv)
        idx = np.argpartition(d2, h - 1)[:h]
        mu, C = mean_cov(idx)
        inv = np.linalg.inv(C)
        new_det = float(np.linalg.det(C))
        if new_det == 0 or det - new_det < stopping_delta:
            break
        det = new_det
    return MCDModel(mu, inv)


def _mahalanobis_sq(X: np.ndarray, mu: np.ndarray, inv: np.ndarray) -> np.ndarray:
    D = X - mu
    return np.einsum("ij,jk,ik->i", D, inv, D)


def mcd_scores(model: MCDModel, X: np.ndarray) -> np.ndarray:
    """Mahalanobis distance to the robust (MCD) center — the reference's
    score() (MinCovDet.java:score/getMahalanobis)."""
    return np.sqrt(np.maximum(_mahalanobis_sq(X, model.mean, model.inv_cov), 0.0))


# ---------------------------------------------------------------------------
# Spark-side: sample → fit → broadcast → score via mapInPandas
# ---------------------------------------------------------------------------


def _collect_sample(
    df: DataFrame, feature_cols: list[str], max_rows: int, seed: int
) -> np.ndarray:
    """Seeded driver sample as a feature matrix — the only row data that ever
    reaches the driver, bounded by max_rows."""
    n = df.count()
    frac = min(1.0, (max_rows * 1.5) / max(n, 1))
    pdf = (
        df.select(*feature_cols)
        .sample(fraction=frac, seed=seed)
        .limit(max_rows)
        .toPandas()
    )
    return pdf.to_numpy(dtype=np.float64)


_SCORERS = {
    "iforest": iforest_scores,
    "lof": lof_scores,
    "mcd": mcd_scores,
    "lof_chen": lof_chen_scores,
    "loci": loci_scores,
}


def _score_with(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    model,
    kind: str,
    score_col: str,
) -> DataFrame:
    """id_cols=None keeps EVERY input column (classifier-chaining mode:
    downstream classifiers/summarizers need the attributes too)."""
    if id_cols is None:
        in_df = df
        out_schema = StructType(list(df.schema.fields) + [StructField(score_col, DoubleType())])
        id_cols = [c for c in df.columns]
    else:
        in_df = df.select(*id_cols, *feature_cols)
        out_schema = StructType(
            [in_df.schema[c] for c in id_cols] + [StructField(score_col, DoubleType())]
        )
    # broadcast the packed model (a few KB of numpy arrays); workers look up
    # the scorer by name — sc.broadcast pickles with plain pickle
    bc = df.sparkSession.sparkContext.broadcast((kind, model))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k, m = bc.value
        fn = _SCORERS[k]
        for pdf in batches:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            out = pdf[id_cols].copy()
            out[score_col] = fn(m, X)
            yield out

    return in_df.mapInPandas(run, out_schema)


def iforest_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    n_trees: int = 100,
    subsample: int = 256,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: IForest | None = None,
) -> DataFrame:
    """Isolation-forest scores for every row; model fit on a seeded sample
    (or passed pre-fit via `model`)."""
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_isolation_forest(sample, n_trees=n_trees, subsample=subsample, seed=seed)
    return _score_with(df, feature_cols, id_cols, model, "iforest", score_col)


def lof_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    k: int = 20,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: LOFModel | None = None,
) -> DataFrame:
    """LOF scores for every row w.r.t. a seeded fitted sample (or a
    pre-fit model)."""
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_lof(sample, k=k, seed=seed, max_sample=train_rows)
    return _score_with(df, feature_cols, id_cols, model, "lof", score_col)


def mcd_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    alpha: float = 0.5,
    stopping_delta: float = 0.001,
    train_rows: int = 10000,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: MCDModel | None = None,
) -> DataFrame:
    """Robust Mahalanobis scores from a FastMCD fit on a seeded sample
    (reference MinCovDet trainSize default 10000 — the same fit-on-head,
    score-everything contract, but with a seeded sample instead of head
    rows so the fit is partitioning-invariant)."""
    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_mcd(sample, alpha=alpha, stopping_delta=stopping_delta, seed=seed)
    return _score_with(df, feature_cols, id_cols, model, "mcd", score_col)


def lof_chen_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    k_lb: int = 3,
    k_ub: int = 10,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
) -> DataFrame:
    """Max-over-k LOF (reference lof-chen search range)."""
    sample = _collect_sample(df, feature_cols, train_rows, seed)
    model = fit_lof_chen(sample, k_lb=k_lb, k_ub=k_ub, seed=seed, max_sample=train_rows)
    return _score_with(df, feature_cols, id_cols, model, "lof_chen", score_col)


def loci_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    alpha: float = 0.5,
    k_sigma: float = 3.0,
    n_radii: int = 16,
    train_rows: int = 2048,
    seed: int = 42,
    score_col: str = "_SCORE",
) -> DataFrame:
    """LOCI MDEF z-scores (> k_sigma ⇒ outlier per the reference flag)."""
    sample = _collect_sample(df, feature_cols, train_rows, seed)
    model = fit_loci(
        sample, alpha=alpha, k_sigma=k_sigma, n_radii=n_radii, seed=seed,
        max_sample=train_rows,
    )
    return _score_with(df, feature_cols, id_cols, model, "loci", score_col)


def array_col_to_features(df: DataFrame, array_col: str, dims: int, prefix: str = "_f") -> DataFrame:
    """Expand the first `dims` entries of an array<float> column into scalar
    feature columns (pure projection — stays in codegen)."""
    return df.select(
        "*", *[F.col(array_col)[i].cast("double").alias(f"{prefix}{i}") for i in range(dims)]
    )


# ---------------------------------------------------------------------------
# registered queries (rows-only: tree ensembles aren't SQL-expressible;
# correctness gates live in tests/test_detectors.py with planted anomalies)
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_DIMS = 8


IFOREST_MODEL_SCHEMA = (
    "node long, feat long, thr double, lc long, rc long, "
    "size long, depth long, root boolean, psi long"
)


@artifact("iforest_model", 1)
def iforest_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted isolation forest as a flat node relation so
    the scoring walk — variable-depth descent to an external node, path
    length depth + c(size), score 2^(-avg/c(psi)) — is SQL-expressible:
    the DuckDB oracle unrolls max_depth (=log2(psi)=8) leaf-stay-put steps
    over the SAME files (the HST recipe, VERDICT r2 item 9). The FIT stays
    gated by tests/test_detectors.py planted-AUC + shuttle parity."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_isolation_forest(sample, n_trees=100, subsample=256, seed=42)
    roots = set(int(r) for r in m.roots)
    rows = [
        (i, int(m.feat[i]), float(m.thr[i]), int(m.left[i]), int(m.right[i]),
         int(m.size[i]), int(m.depth[i]), i in roots, int(m.psi))
        for i in range(len(m.feat))
    ]
    spark.createDataFrame(rows, IFOREST_MODEL_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)


def load_iforest_model(spark, path: str) -> IForest:
    pdf = spark.read.parquet(path).toPandas().sort_values("node")
    return IForest(
        feat=pdf["feat"].to_numpy(dtype=np.int32),
        thr=pdf["thr"].to_numpy(dtype=np.float64),
        left=pdf["lc"].to_numpy(dtype=np.int32),
        right=pdf["rc"].to_numpy(dtype=np.int32),
        size=pdf["size"].to_numpy(dtype=np.int32),
        depth=pdf["depth"].to_numpy(dtype=np.int32),
        roots=pdf.loc[pdf["root"], "node"].to_numpy(dtype=np.int32),
        psi=int(pdf["psi"].iloc[0]),
    )


def iforest_descent_oracle(
    model_rel: str, base_sql: str, id_col: str, k: int = 20
) -> str:
    """The unrolled-descent DuckDB oracle over a materialized forest,
    parameterized by the input relation: `base_sql` must yield
    (`id_col`, emb LIST<DOUBLE>). 8 leaf-stay-put steps cover
    max_depth = log2(psi=256); shared by the embeddings query and the
    clips-suite anomaly query."""
    steps = []
    prev = "s0"
    for si in range(1, 9):
        steps.append(
            f"""s{si} AS (SELECT p.{id_col}, p.emb, p.root,
                CASE WHEN n.feat < 0 THEN p.node
                     WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr THEN n.lc
                     ELSE n.rc END AS node
         FROM {prev} p JOIN nodes n ON n.node = p.node)"""
        )
        prev = f"s{si}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH nodes AS (SELECT * FROM {model_rel}),
    base AS ({base_sql}),
    s0 AS (SELECT b.{id_col}, b.emb, n.node AS root, n.node
           FROM base b CROSS JOIN (SELECT node FROM nodes WHERE root) n),
    {chain},
    leaf AS (SELECT p.{id_col}, n.depth, n.size FROM s8 p
             JOIN nodes n ON n.node = p.node),
    pl AS (SELECT {id_col},
                  avg(depth + CASE WHEN CAST(size AS DOUBLE) > 2 THEN 2.0 * (ln(CAST(size AS DOUBLE) - 1.0) + 0.5772156649015329) - 2.0 * (CAST(size AS DOUBLE) - 1.0) / CAST(size AS DOUBLE) WHEN CAST(size AS DOUBLE) = 2 THEN 1.0 ELSE 0.0 END) AS avg_path
           FROM leaf GROUP BY {id_col}),
    cpsi AS (SELECT greatest(CASE WHEN psi > 2 THEN 2.0 * (ln(psi - 1.0) + 0.5772156649015329) - 2.0 * (psi - 1.0) / psi WHEN psi = 2 THEN 1.0 ELSE 0.0 END, 1e-12) AS c
             FROM (SELECT CAST(any_value(psi) AS DOUBLE) AS psi FROM nodes)),
    sc AS (SELECT {id_col}, power(2.0, -avg_path / c) AS s FROM pl, cpsi),
    rk AS (SELECT {id_col}, s FROM sc ORDER BY s DESC, {id_col} LIMIT {k})
    SELECT {id_col}, round(s, 4) AS score FROM rk
"""


_IFM = iforest_model_parquet.scan()

_IFOREST_ORACLE = iforest_descent_oracle(
    _IFM, "SELECT vec_id, embedding AS emb FROM embeddings", "vec_id"
)


@register("iforest_outliers_embeddings", _IFOREST_ORACLE)
def iforest_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 most-isolated vectors under the materialized forest; the oracle
    replays the exact descent + path-length correction in SQL."""
    model = load_iforest_model(spark, iforest_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(emb, "embedding", _DIMS)
    scored = iforest_score(df, feats, ["vec_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 4).alias("score")
    )


@artifact("lof_model", 1)
def lof_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted LOF sample — (sid, feat[8], kdist, lrd) —
    so the novelty-LOF scoring (k-NN against the sample, reach-distance
    sum, lrd ratio) is one window-ranked SQL query over the same files.
    The FIT (pairwise k-distance/lrd over the sample) stays gated by
    tests/test_detectors.py planted-AUC."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_lof(sample, k=20, seed=42, max_sample=4096)
    rows = [
        (i, [float(v) for v in m.S[i]], float(m.kdist[i]), float(m.lrd[i]))
        for i in range(m.S.shape[0])
    ]
    spark.createDataFrame(
        rows, "sid long, feat array<double>, kdist double, lrd double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_lof_model(spark, path: str, k: int = 20) -> LOFModel:
    pdf = spark.read.parquet(path).toPandas().sort_values("sid")
    return LOFModel(
        S=np.stack(pdf["feat"].to_numpy()),
        k=k,
        kdist=pdf["kdist"].to_numpy(dtype=np.float64),
        lrd=pdf["lrd"].to_numpy(dtype=np.float64),
    )


_LOFM = lof_model_parquet.scan()

_LOF_ORACLE = f"""
    WITH s AS (SELECT * FROM {_LOFM}),
    d AS (SELECT e.vec_id, s.sid, s.kdist, s.lrd,
                 sqrt(pow(CAST(e.embedding[1] AS DOUBLE) - s.feat[1], 2) + pow(CAST(e.embedding[2] AS DOUBLE) - s.feat[2], 2) + pow(CAST(e.embedding[3] AS DOUBLE) - s.feat[3], 2) + pow(CAST(e.embedding[4] AS DOUBLE) - s.feat[4], 2) + pow(CAST(e.embedding[5] AS DOUBLE) - s.feat[5], 2) + pow(CAST(e.embedding[6] AS DOUBLE) - s.feat[6], 2) + pow(CAST(e.embedding[7] AS DOUBLE) - s.feat[7], 2) + pow(CAST(e.embedding[8] AS DOUBLE) - s.feat[8], 2)) AS dist
          FROM embeddings e CROSS JOIN s),
    nn AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, sid) AS rn FROM d),
    kn AS (SELECT * FROM nn WHERE rn <= 20),
    agg AS (SELECT vec_id,
                   sum(greatest(dist, kdist)) AS reach_sum,
                   avg(lrd) AS lrd_nn
            FROM kn GROUP BY vec_id),
    sc AS (SELECT vec_id,
                  lrd_nn / greatest(20.0 / greatest(reach_sum, 1e-300), 1e-300) AS s
           FROM agg),
    rk AS (SELECT vec_id, s FROM sc ORDER BY s DESC, vec_id LIMIT 20)
    SELECT vec_id, round(s, 4) AS score FROM rk
"""


@register("lof_outliers_embeddings", _LOF_ORACLE)
def lof_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 largest LOF scores against the materialized fitted sample; the
    oracle replays the k-NN + reach-distance scoring in SQL."""
    model = load_lof_model(spark, lof_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(emb, "embedding", _DIMS)
    scored = lof_score(df, feats, ["vec_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 4).alias("score")
    )


@artifact("mcd_model", 1)
def mcd_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the FastMCD robust center: a 64-row (i, j, p, mu_i,
    mu_j) relation (precision matrix with the mean denormalized in) so the
    Mahalanobis form x'->sqrt((x-mu)' P (x-mu)) is one SQL cross join +
    grouped sum. The C-step FIT stays gated by tests (shuttle parity)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(e, "embedding", _DIMS)
    sample = _collect_sample(df, feats, 10000, 42)
    m = fit_mcd(sample, seed=42)
    rows = [
        (i, j, float(m.inv_cov[i, j]), float(m.mean[i]), float(m.mean[j]))
        for i in range(_DIMS)
        for j in range(_DIMS)
    ]
    spark.createDataFrame(
        rows, "i long, j long, p double, mu_i double, mu_j double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_mcd_model(spark, path: str) -> MCDModel:
    pdf = spark.read.parquet(path).toPandas().sort_values(["i", "j"])
    d = int(pdf["i"].max()) + 1
    return MCDModel(
        mean=pdf.drop_duplicates("i").sort_values("i")["mu_i"].to_numpy(dtype=np.float64),
        inv_cov=pdf["p"].to_numpy(dtype=np.float64).reshape(d, d),
    )


_MCDM = mcd_model_parquet.scan()

_MCD_ORACLE = f"""
    WITH m AS (SELECT * FROM {_MCDM}),
    terms AS (
      SELECT e.vec_id,
             (CAST(e.embedding[m.i + 1] AS DOUBLE) - m.mu_i) * m.p *
             (CAST(e.embedding[m.j + 1] AS DOUBLE) - m.mu_j) AS term
      FROM embeddings e CROSS JOIN m),
    sc AS (SELECT vec_id, sqrt(greatest(sum(term), 0.0)) AS s
           FROM terms GROUP BY vec_id),
    rk AS (SELECT vec_id, s FROM sc ORDER BY s DESC, vec_id LIMIT 20)
    SELECT vec_id, round(s, 4) AS score FROM rk
"""


@register("mcd_outliers_embeddings", _MCD_ORACLE)
def mcd_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 largest robust-Mahalanobis distances under the materialized MCD
    center; the oracle evaluates the quadratic form directly in SQL."""
    model = load_mcd_model(spark, mcd_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_DIMS)]
    df = array_col_to_features(emb, "embedding", _DIMS)
    scored = mcd_score(df, feats, ["vec_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 4).alias("score")
    )
