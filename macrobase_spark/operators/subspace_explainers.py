"""LookOut and RefOut — the alexp fork's remaining subspace explainers.

LookOut (reference alexp/.../explanation/lookOut/LookOut.java:13-160;
Pipelines.java:245-253, defaults budget=3 dimensionality=2): score the
detector in EVERY `dimensionality`-dim subspace; greedily pick `budget`
subspaces maximizing the marginal gain of Σ over points-of-interest of
their max score across chosen subspaces (the LookOut max-coverage
objective); a POI's output score is its average across the chosen
subspaces, and its relevant-subspace column lists them.

RefOut (reference alexp/.../explanation/refOut/RefOut.java:26-296;
Pipelines.java:274-283, defaults d1=0.7 d2=2 psize=100 beamSize=100
topk=50): (1) score a random pool of `psize` ceil(d·d1)-dim subspaces,
z-normalizing each subspace's scores over the WHOLE relation; (2) per POI,
refine: beam-search the d2-dim feature set whose presence/absence best
separates that POI's pool scores (Welch-t deviation between the two
partitions); (3) re-score the refined pool, z-normalize, keep each POI's
top-k refined subspaces; output the average normalized score.

Spark-first: detectors are fit once on a seeded driver sample (a few KB
each) and the points-of-interest are a bounded set (the flagged outliers),
so POI scoring is driver-side numpy; the only distributed work RefOut needs
is the z-normalization moments over the full relation — ONE Arrow pass per
pool emitting per-batch (subspace, n, Σs, Σs²) partials (tiny output), no
row data collected. LookOut needs no full pass at all (raw scores, no
normalization — as the reference).
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.detectors import (
    _collect_sample,
    fit_isolation_forest,
    iforest_scores,
)
from macrobase_spark.operators.hics import _t_cdf, welch_t_deviation


def _fit_models(sample, subspaces, col_idx, n_trees, seed):
    """One isolation forest per subspace. The fits are independent and each
    seeds its own rng, so they parallelize across executors with identical
    results: broadcast the (small, bounded) trainer sample once, fan the
    subspace list out as an RDD, collect the pickled forests back in input
    order. This was the r3 bench tail — 100+ serial driver-side fits
    dominated refout/lookout wall time."""
    subs = [list(sub) for sub in subspaces]

    def fit_one(sub, X):
        return fit_isolation_forest(
            X[:, [col_idx[c] for c in sub]], n_trees=n_trees, subsample=256, seed=seed
        )

    if len(subs) <= 4:  # not worth a job
        return [(sub, fit_one(sub, sample)) for sub in subs]
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return [(sub, fit_one(sub, sample)) for sub in subs]
    sc = spark.sparkContext
    bc = sc.broadcast(sample)
    fitted = dict(
        sc.parallelize(list(enumerate(subs)), min(len(subs), 64)).map(
            lambda t: (t[0], fit_one(t[1], bc.value))
        ).collect()
    )
    return [(subs[i], fitted[i]) for i in range(len(subs))]


def _collect_pois(
    df: DataFrame, feature_cols: list[str], id_cols: list[str], poi_col: str, max_pois: int
):
    rows = df.filter(F.col(poi_col)).select(*id_cols, *feature_cols).limit(max_pois).collect()
    ids = [tuple(r[c] for c in id_cols) for r in rows]
    X = np.array([[float(r[c]) for c in feature_cols] for r in rows], dtype=np.float64)
    return ids, X


def _moments_pass(df: DataFrame, feature_cols: list[str], models) -> list[tuple[float, float, float]]:
    """One Arrow pass: per subspace, (n, Σscore, Σscore²) over every row —
    the z-normalization statistics, with only per-batch partials leaving
    the executors."""
    bc = df.sparkSession.sparkContext.broadcast(models)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ms = bc.value
        for pdf in batches:
            out = []
            for j, (sub, model) in enumerate(ms):
                s = iforest_scores(model, pdf[sub].to_numpy(dtype=np.float64))
                out.append((j, float(len(s)), float(s.sum()), float((s * s).sum())))
            yield pd.DataFrame(out, columns=["j", "n", "s", "ss"])

    parts = (
        df.select(*feature_cols)
        .mapInPandas(run, "j long, n double, s double, ss double")
        .groupBy("j")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("ss").alias("ss"))
        .collect()
    )
    stats = [(0.0, 0.0, 0.0)] * len(models)
    for r in parts:
        stats[int(r["j"])] = (float(r["n"]), float(r["s"]), float(r["ss"]))
    return stats


def _znorm_params(stats):
    """(mean, std) per subspace — reference normalizeScores (ddof=1)."""
    out = []
    for n, s, ss in stats:
        mean = s / n if n else 0.0
        var = (ss - n * mean * mean) / (n - 1) if n > 1 else 1.0
        out.append((mean, float(np.sqrt(max(var, 1e-300)))))
    return out


def _poi_schema(df: DataFrame, id_cols: list[str]) -> str:
    return ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["avg_score double", "__REL_SUBSPACES string"]
    )


def _lookout_search(
    df, feature_cols, id_cols, poi_col, budget, dimensionality, n_trees,
    train_rows, max_pois, seed,
):
    """Shared LookOut fit + search — the engine (`lookout_explain`) and the
    oracle materializer (`lookout_artifacts_parquet`) both run exactly THIS
    function, so the greedy choice the oracle replays in SQL cannot drift
    from the one the registered query scores with. Fit one detector per
    `dimensionality`-dim subspace, score the POIs, greedily choose `budget`
    subspaces by marginal max-coverage gain. Returns (models, ids, S,
    chosen); S is None and chosen empty when there are no POIs."""
    col_idx = {c: i for i, c in enumerate(feature_cols)}
    sample = _collect_sample(df, feature_cols, train_rows, seed)
    subspaces = list(combinations(feature_cols, dimensionality))
    models = _fit_models(sample, subspaces, col_idx, n_trees, seed)
    ids, X = _collect_pois(df, feature_cols, id_cols, poi_col, max_pois)
    if not ids:
        return models, ids, None, []
    S = np.column_stack(
        [iforest_scores(m, X[:, [col_idx[c] for c in sub]]) for sub, m in models]
    )  # (pois, subspaces)
    # greedy max-coverage: marginal gain of Σ_i max over chosen
    cur = np.zeros(len(ids))
    chosen: list[int] = []
    for _ in range(min(budget, len(models))):
        gains = np.maximum(S - cur[:, None], 0.0).sum(axis=0)
        gains[chosen] = -np.inf
        j = int(np.argmax(gains))
        chosen.append(j)
        cur = np.maximum(cur, S[:, j])
    return models, ids, S, chosen


def lookout_explain(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    poi_col: str,
    budget: int = 3,
    dimensionality: int = 2,
    n_trees: int = 50,
    train_rows: int = 2048,
    max_pois: int = 10000,
    seed: int = 42,
) -> DataFrame:
    """Returns one row per point-of-interest: (id_cols..., avg_score,
    __REL_SUBSPACES) over the greedily-chosen budget of subspaces."""
    models, ids, S, chosen = _lookout_search(
        df, feature_cols, id_cols, poi_col, budget, dimensionality, n_trees,
        train_rows, max_pois, seed,
    )
    spark = df.sparkSession
    schema = _poi_schema(df, id_cols)
    if not ids:
        return spark.createDataFrame([], schema)
    rows = []
    for i, pid in enumerate(ids):
        label = ";".join(
            "[" + ",".join(models[j][0]) + f"]:{S[i, j]:.4f}" for j in chosen
        )
        rows.append((*pid, float(S[i, chosen].mean()), label))
    return spark.createDataFrame(rows, schema)


class _WelchQualityTable:
    """Lazy ALL-POIs-at-once Welch quality columns, one per candidate
    feature set. The containment split of the pool is POI-independent, so
    for a candidate set the (n_pois,) quality vector is ONE vectorized
    moment pass over the score matrix instead of n_pois list-comprehension
    + scalar-welch rounds — this is what batches RefOut's refine stage
    (the r4 verdict's per-model-loop finding). Lazy: only candidate sets
    some POI's beam actually evaluates are ever computed, which keeps
    memory bounded for high-dim feature spaces."""

    def __init__(self, pool_feats: list[list[str]], S: np.ndarray):
        self._pool_sets = [set(pf) for pf in pool_feats]
        self._S = S
        self._cols: dict[frozenset, np.ndarray] = {}

    def col(self, feats: frozenset) -> np.ndarray:
        got = self._cols.get(feats)
        if got is not None:
            return got
        mask = np.array([feats.issubset(pf) for pf in self._pool_sets], dtype=bool)
        n2 = int(mask.sum())
        n1 = len(self._pool_sets) - n2
        n_pois = self._S.shape[0]
        if n2 <= 2 or n1 <= 2:
            out = np.full(n_pois, -1.0)
        else:
            # identical arithmetic to welch_t_deviation(left, right),
            # vectorized over POI rows (row slices are the same values in
            # the same order the scalar path saw, so results are
            # bit-identical and the beam trajectory cannot drift)
            L, R = self._S[:, ~mask], self._S[:, mask]
            m1, m2 = L.mean(axis=1), R.mean(axis=1)
            r1, r2 = L.var(axis=1, ddof=1) / n1, R.var(axis=1, ddof=1) / n2
            denom = np.sqrt(r1 + r2)
            div = r1 * r1 / (n1 - 1) + r2 * r2 / (n2 - 1)
            out = np.full(n_pois, -1.0)
            valid = np.nonzero((denom > 0.0) & (div > 0.0))[0]
            for i in valid:
                t = (float(m1[i]) - float(m2[i])) / float(denom[i])
                v = int((float(r1[i]) + float(r2[i])) ** 2 / float(div[i]))
                d = 1.0 - 2.0 * (1.0 - _t_cdf(abs(t), v))
                if not np.isnan(d):
                    out[i] = d
        self._cols[feats] = out
        return out


def _refine_beam(q, feature_cols, d2, beam_size):
    """The reference's 1-dim → d2 beam (RefOut.java:150-230) over a
    quality lookup `q(frozenset) -> float`. Sort/t tie order matches the
    original per-POI formulation exactly (stable sorts, same enumeration
    order)."""
    cands = sorted(
        (({f}, q(frozenset((f,)))) for f in feature_cols),
        key=lambda t: t[1], reverse=True,
    )[:beam_size]
    for stage in range(2, d2 + 1):
        feats = [c for c, _ in cands]
        merged: dict[frozenset, float] = {}
        for a, b in combinations(feats, 2):
            u = a | b
            if len(u) < stage:
                continue
            if len(u) > stage:
                best = max(
                    (frozenset(c) for c in combinations(sorted(u), stage)),
                    key=q,
                )
                u = set(best)
            fu = frozenset(u)
            if fu not in merged:
                merged[fu] = q(fu)
        cands = sorted(
            ((set(k), v) for k, v in merged.items()), key=lambda t: t[1], reverse=True
        )[:beam_size]
        if not cands:
            return None
    return tuple(sorted(cands[0][0])) if cands else None


def _refine_batch(
    pool_feats: list[list[str]], S: np.ndarray, feature_cols, d2, beam_size
) -> list[tuple | None]:
    """Batched RefOut refinement for ALL POIs: quality columns are computed
    vectorized across POIs (lazily, per candidate set); each POI's beam is
    then pure lookups."""
    table = _WelchQualityTable(pool_feats, S)
    out = []
    for i in range(S.shape[0]):
        out.append(
            _refine_beam(lambda fs: float(table.col(fs)[i]), feature_cols, d2, beam_size)
        )
    return out


def _refout_search(
    df, feature_cols, id_cols, poi_col, d1, d2, psize, beam_size, n_trees,
    train_rows, max_pois, seed,
):
    """Shared RefOut fit + search — run by both `refout_explain` and the
    oracle materializer (`refout_artifacts_parquet`) so the refined pool
    and z-moments the oracle replays cannot drift from the engine's.
    Stage 1: seeded ceil(d·d1)-dim pool, fit + z-normalized pool scores
    (moments: one Arrow pass). Stage 2: per-POI Welch-beam refinement.
    Refit + re-normalize the refined pool. Returns (ids, X, col_idx,
    ref_models, zr); ref_models is empty when there are no POIs or no
    refinements survive."""
    rng = np.random.default_rng(seed)
    dim = len(feature_cols)
    col_idx = {c: i for i, c in enumerate(feature_cols)}
    pool_dim = max(min(int(np.ceil(dim * d1)), dim), 1)
    pool: set = set()
    while len(pool) < min(psize, _ncomb(dim, pool_dim)):
        pool.add(tuple(sorted(rng.choice(dim, size=pool_dim, replace=False))))
    pool_subs = [tuple(feature_cols[i] for i in s) for s in sorted(pool)]

    sample = _collect_sample(df, feature_cols, train_rows, seed)
    models = _fit_models(sample, pool_subs, col_idx, n_trees, seed)
    ids, X = _collect_pois(df, feature_cols, id_cols, poi_col, max_pois)
    if not ids:
        return ids, X, col_idx, [], []

    zp = _znorm_params(_moments_pass(df, feature_cols, models))
    S = np.column_stack(
        [
            (iforest_scores(m, X[:, [col_idx[c] for c in sub]]) - zp[j][0]) / zp[j][1]
            for j, (sub, m) in enumerate(models)
        ]
    )
    pool_feats = [list(sub) for sub, _ in models]
    refined: set[tuple] = set(
        r for r in _refine_batch(pool_feats, S, feature_cols, d2, beam_size) if r
    )
    if not refined:
        return ids, X, col_idx, [], []
    ref_models = _fit_models(sample, sorted(refined), col_idx, n_trees, seed)
    zr = _znorm_params(_moments_pass(df, feature_cols, ref_models))
    return ids, X, col_idx, ref_models, zr


def refout_explain(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    poi_col: str,
    d1: float = 0.7,
    d2: int = 2,
    psize: int = 100,
    beam_size: int = 100,
    topk: int = 5,
    n_trees: int = 50,
    train_rows: int = 2048,
    max_pois: int = 10000,
    seed: int = 42,
) -> DataFrame:
    """Returns one row per point-of-interest: (id_cols..., avg_score,
    __REL_SUBSPACES) over its top-k refined subspaces (z-normalized
    detector scores)."""
    ids, X, col_idx, ref_models, zr = _refout_search(
        df, feature_cols, id_cols, poi_col, d1, d2, psize, beam_size, n_trees,
        train_rows, max_pois, seed,
    )
    spark = df.sparkSession
    schema = _poi_schema(df, id_cols)
    if not ids or not ref_models:
        return spark.createDataFrame([], schema)
    # z-normalized refined scores, per-POI top-k
    R = np.column_stack(
        [
            (iforest_scores(m, X[:, [col_idx[c] for c in sub]]) - zr[j][0]) / zr[j][1]
            for j, (sub, m) in enumerate(ref_models)
        ]
    )
    rows = []
    k = min(topk, R.shape[1])
    for i, pid in enumerate(ids):
        order = np.argsort(-R[i])[:k]
        label = ";".join(
            "[" + ",".join(ref_models[j][0]) + f"]:{R[i, j]:.4f}" for j in order
        )
        rows.append((*pid, float(R[i, order].mean()), label))
    return spark.createDataFrame(rows, schema)


def _ncomb(n: int, k: int) -> int:
    from math import comb

    return comb(n, k)


# ---------------------------------------------------------------------------
# registered queries (rows-only: detector ensembles + greedy/beam searches
# are not SQL-expressible; gates = tests/test_subspace_explainers.py)
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import Artifact, artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


def _emb_with_poi(spark, sf_dir: str, dims: int = 6):
    from macrobase_spark.operators.detectors import array_col_to_features, iforest_score

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(dims)]
    df = array_col_to_features(emb, "embedding", dims)
    scored = iforest_score(df, feats, None, score_col="_S")
    cut = scored.agg(F.percentile_approx("_S", 0.99, 10000)).collect()[0][0]
    return scored.withColumn("poi", F.col("_S") >= F.lit(float(cut))), feats


_FOREST_SCHEMA = (
    "sub long, label string, node long, feat_local long, feat_abs long, "
    "thr double, lc long, rc long, size long, depth long, root boolean, "
    "psi long, zmean double, zstd double"
)


def _forest_rows(models, zparams=None):
    """Flatten [(sub_cols, IForest)] into the shared oracle node-relation
    (absolute embedding indices for SQL, local ones kept for reload;
    optional per-subspace z-normalization parameters)."""
    rows = []
    for s, (sub_cols, m_) in enumerate(models):
        label = "[" + ",".join(sub_cols) + "]"
        abs_idx = [int(c[2:]) for c in sub_cols]  # _f3 -> embedding[3]
        zm, zs = zparams[s] if zparams else (0.0, 1.0)
        roots = set(int(r) for r in m_.roots)
        for i in range(len(m_.feat)):
            fl = int(m_.feat[i])
            rows.append(
                (s, label, i, fl, abs_idx[fl] if fl >= 0 else -1,
                 float(m_.thr[i]), int(m_.left[i]), int(m_.right[i]),
                 int(m_.size[i]), int(m_.depth[i]), i in roots, int(m_.psi),
                 float(zm), float(zs))
            )
    return rows


# the ONE registered-query hyperparameter set: the artifact materializers
# and the registered queries below must search with identical settings or
# the oracle replay diverges — so they are stated once
_Q_COMMON = dict(n_trees=40, train_rows=2048, max_pois=10000, seed=42)
_Q_LOOKOUT = dict(budget=3, dimensionality=2, **_Q_COMMON)
_Q_REFOUT = dict(d1=0.7, d2=2, psize=20, beam_size=100, **_Q_COMMON)


@artifact("lookout", 1)
def lookout_artifacts_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize LookOut's outputs-defining state: the POI id set (`pois`;
    the percentile cut is engine-side) and the GREEDILY-CHOSEN budget of
    subspace forests, in chosen order (`model`) — so the per-POI scoring,
    plot labels, and averages are SQL-stateable. The greedy max-coverage
    SEARCH itself is `_lookout_search` — the same code path the registered
    query runs — and stays gated by tests/test_subspace_explainers.py."""
    df, feats = _emb_with_poi(spark, sf_dir)
    models, ids, _, chosen = _lookout_search(
        df, feats, ["vec_id"], "poi", **_Q_LOOKOUT
    )
    _write_subspace_artifact(spark, out, _forest_rows([models[j] for j in chosen]), ids)


@artifact("refout", 1)
def refout_artifacts_parquet(spark, sf_dir: str, out: str) -> None:
    """Same recipe for RefOut: POI ids + the REFINED subspace forests with
    their z-normalization moments (computed over the full relation), via
    the same `_refout_search` the registered query runs. The pool sampling
    + per-POI Welch-refinement SEARCH stays test-gated."""
    df, feats = _emb_with_poi(spark, sf_dir)
    ids, _, _, ref_models, zr = _refout_search(
        df, feats, ["vec_id"], "poi", **_Q_REFOUT
    )
    _write_subspace_artifact(spark, out, _forest_rows(ref_models, zr), ids)


def _write_subspace_artifact(spark, out: str, forest_rows: list, ids) -> None:
    spark.createDataFrame(forest_rows, _FOREST_SCHEMA).coalesce(1).write.parquet(
        f"{out}/model"
    )
    spark.createDataFrame(
        [(int(i[0]),) for i in ids], "vec_id long"
    ).coalesce(1).write.parquet(f"{out}/pois")


def _subspace_oracle(model: Artifact, znorm: bool, per_poi_topk: int | None) -> str:
    """Shared oracle text: POI rows descend every materialized subspace
    forest (leaf-stay-put, 8 steps = log2(psi)); per-(poi, sub) score
    2^(-avg path/c(psi)), optionally z-normalized; labels aggregate in
    chosen order (LookOut) or per-POI rank order (RefOut)."""
    z = "(power(2.0, -pl.avg_path / meta.c) - meta.zmean) / meta.zstd" if znorm else "power(2.0, -pl.avg_path / meta.c)"
    if per_poi_topk is None:
        rel = "string_agg(label || ':' || printf('%.4f', s), ';' ORDER BY sub)"
        agg_src, rel_src = "persub", "persub"
        where = ""
    else:
        rel = "string_agg(label || ':' || printf('%.4f', s), ';' ORDER BY rn)"
        agg_src, rel_src = "topk", "topk"
        where = f"WHERE rn <= {per_poi_topk}"
    return f"""
    WITH nodes AS (SELECT * FROM {model.scan("model")}),
    pois AS (SELECT vec_id FROM {model.scan("pois")}),
    e AS (SELECT p.vec_id, emb.embedding AS emb
          FROM pois p JOIN embeddings emb USING (vec_id)),
    s0 AS (SELECT e.vec_id, e.emb, n.sub, n.node
           FROM e CROSS JOIN (SELECT sub, node FROM nodes WHERE root) n),
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
    meta AS (SELECT sub, any_value(label) AS label, any_value(zmean) AS zmean,
                    any_value(zstd) AS zstd, greatest(CASE WHEN psi > 2 THEN 2.0 * (ln(psi - 1.0) + 0.5772156649015329) - 2.0 * (psi - 1.0) / psi WHEN psi = 2 THEN 1.0 ELSE 0.0 END, 1e-12) AS c
             FROM (SELECT sub, label, zmean, zstd, CAST(psi AS DOUBLE) AS psi
                   FROM nodes)
             GROUP BY sub, psi),
    persub AS (SELECT pl.vec_id, pl.sub, meta.label, {z} AS s
               FROM pl JOIN meta ON meta.sub = pl.sub),
    topk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, sub) AS rn FROM persub)
             {where}),
    agg AS (SELECT vec_id, avg(s) AS avg_score FROM {agg_src} GROUP BY vec_id),
    rel AS (SELECT vec_id, {rel} AS __REL_SUBSPACES
            FROM {rel_src} GROUP BY vec_id),
    rk AS (SELECT a.vec_id, a.avg_score, rel.__REL_SUBSPACES
           FROM agg a JOIN rel USING (vec_id)
           ORDER BY a.avg_score DESC, a.vec_id LIMIT 20)
    SELECT vec_id, avg_score, __REL_SUBSPACES FROM rk
"""


_LOOKOUT_ORACLE = _subspace_oracle(
    lookout_artifacts_parquet, znorm=False, per_poi_topk=None
)
_REFOUT_ORACLE = _subspace_oracle(refout_artifacts_parquet, znorm=True, per_poi_topk=3)


@register("lookout_explain_embeddings", _LOOKOUT_ORACLE)
def lookout_explain_embeddings(spark, sf_dir: str) -> DataFrame:
    """LookOut explanation rows; the greedy plot choice is materialized and
    the per-POI scoring/labels are replayed by the oracle in SQL."""
    lookout_artifacts_parquet(spark, sf_dir)
    df, feats = _emb_with_poi(spark, sf_dir)
    res = lookout_explain(df, feats, ["vec_id"], "poi", **_Q_LOOKOUT)
    return res.orderBy(F.desc("avg_score"), "vec_id").limit(20)


@register("refout_explain_embeddings", _REFOUT_ORACLE)
def refout_explain_embeddings(spark, sf_dir: str) -> DataFrame:
    """RefOut explanation rows; the refined subspaces + z-moments are
    materialized and the top-k scoring/labels replayed by the oracle."""
    refout_artifacts_parquet(spark, sf_dir)
    df, feats = _emb_with_poi(spark, sf_dir)
    res = refout_explain(df, feats, ["vec_id"], "poi", topk=3, **_Q_REFOUT)
    return res.orderBy(F.desc("avg_score"), "vec_id").limit(20)
