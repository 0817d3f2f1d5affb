"""HST — streaming Half-Space Trees mass estimation (Tan/Ting/Liu IJCAI'11),
the alexp fork's registry ids `hst` / `hstf` (forgetting variant).

Reference semantics (alexp/.../outlier/hst/HSTClassifier.java:1-720, wired
via Pipelines.java:121-144 with defaults treesCount=100 subSampleSize=256
subDimensionSize=0 depthLimit=10 contamination=1.0 trainSize=256;
forgetThreshold 0 for `hst`, 256 for `hstf`):

- TRAIN: build numTree perfect binary trees of depth depthLimit over a
  reference window; each tree draws a subsample (with replacement) and a
  dim subset, takes the subsample's per-dim [min,max] workspace, and every
  internal node splits a random dim at the MIDPOINT of its current bounds
  (value <= split → left). Node mass = subsample points routed through it.
- SCORE: a point's per-tree score is its leaf's `depth + ln(mass)` (just
  `depth` when mass < 2); the point score is the SUM over trees. Mass is
  an inlier measure: LOW total score = anomalous (HSTClassifier.java:
  score 696-702, scoreAccumulator 271-280).
- UPDATE (streaming): each window's points traverse the trees incrementing
  every node on their path; with forgetting, numInst decrements are applied
  to random leaves untouched this window, then internal masses re-sync to
  leaf sums (massUpdate 318-345, forgetENMP/synchronizeINMP 376-400).

Spark-first: the forest is a few-hundred-KB packed numpy structure — a
PERFECT binary heap per tree (children of i are 2i+1/2i+2), so scoring is a
level-synchronous vectorized traversal (one gather per level), the mass
update is one np.add.at per level, and the model broadcasts to every
executor. Batch scoring is mapInPandas; the streaming update keeps the
per-key leaf-mass vector in `keyed_fold` state (the tree
STRUCTURE never changes after train — only masses do — so the state is just
the flattened mass arrays). Randomness is seeded (the reference uses
unseeded Random; SURVEY §7.4 determinism policy).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.streaming.stateful import keyed_fold


@dataclass
class HSTModel:
    """Perfect-heap forest: arrays shaped (n_trees, 2^(depth+1)-1)."""

    feat: np.ndarray  # int32 split dim per node (-1 at leaves)
    thr: np.ndarray  # float64 split point per node
    mass: np.ndarray  # float64 node mass
    depth_limit: int

    @property
    def n_trees(self) -> int:
        return self.feat.shape[0]

    @property
    def n_leaves(self) -> int:
        return 1 << self.depth_limit

    def leaf_slice(self) -> slice:
        """Leaves occupy the heap tail [2^d - 1, 2^(d+1) - 1)."""
        return slice((1 << self.depth_limit) - 1, (1 << (self.depth_limit + 1)) - 1)


def fit_hst(
    X: np.ndarray,
    n_trees: int = 100,
    subsample: int = 256,
    n_dims: int = 0,
    depth_limit: int = 10,
    seed: int = 42,
) -> HSTModel:
    n, dim = X.shape
    rng = np.random.default_rng(seed)
    n_nodes = (1 << (depth_limit + 1)) - 1
    feat = np.full((n_trees, n_nodes), -1, dtype=np.int32)
    thr = np.zeros((n_trees, n_nodes), dtype=np.float64)
    mass = np.zeros((n_trees, n_nodes), dtype=np.float64)

    for t in range(n_trees):
        if 0 < subsample < n:
            idx = rng.integers(0, n, size=subsample)  # with replacement
        else:
            idx = np.arange(n)
        if 0 < n_dims < dim:
            dims = rng.integers(0, dim, size=n_dims)
        else:
            dims = np.arange(dim)
        S = X[idx]
        lo, hi = S.min(axis=0).copy(), S.max(axis=0).copy()

        # iterative DFS over the perfect heap, carrying (node, depth,
        # member rows, bounds overrides along the path)
        stack = [(0, 0, np.arange(len(S)), lo, hi)]
        while stack:
            node, d, members, blo, bhi = stack.pop()
            mass[t, node] = len(members)
            if d >= depth_limit:
                continue
            q = int(dims[rng.integers(len(dims))])
            sp = (bhi[q] + blo[q]) / 2.0
            feat[t, node] = q
            thr[t, node] = sp
            go_left = S[members, q] <= sp
            l_hi = bhi.copy()
            l_hi[q] = sp
            r_lo = blo.copy()
            r_lo[q] = sp
            stack.append((2 * node + 1, d + 1, members[go_left], blo, l_hi))
            stack.append((2 * node + 2, d + 1, members[~go_left], r_lo, bhi))
    return HSTModel(feat, thr, mass, depth_limit)


def _leaf_indices(model: HSTModel, X: np.ndarray) -> np.ndarray:
    """(n_trees, n_points) leaf heap-index per tree — level-synchronous
    vectorized descent (the heap layout makes children pure arithmetic)."""
    n = X.shape[0]
    out = np.empty((model.n_trees, n), dtype=np.int64)
    rows = np.arange(n)
    for t in range(model.n_trees):
        cur = np.zeros(n, dtype=np.int64)
        feat_t, thr_t = model.feat[t], model.thr[t]
        for _ in range(model.depth_limit):
            f = feat_t[cur]
            go_left = X[rows, f] <= thr_t[cur]
            cur = 2 * cur + np.where(go_left, 1, 2)
        out[t] = cur
    return out


def hst_scores(model: HSTModel, X: np.ndarray, leaves: np.ndarray | None = None) -> np.ndarray:
    """Summed mass scores (LOW = anomalous)."""
    if X.shape[0] == 0:
        return np.zeros(0)
    if leaves is None:
        leaves = _leaf_indices(model, X)
    d = float(model.depth_limit)
    total = np.zeros(X.shape[0])
    for t in range(model.n_trees):
        m = model.mass[t][leaves[t]]
        total += np.where(m < 2, d, d + np.log(np.maximum(m, 1e-300)))
    return total


def hst_mass_update(
    model: HSTModel,
    X: np.ndarray,
    forget_threshold: int = 0,
    rng: np.random.Generator | None = None,
    leaves: np.ndarray | None = None,
) -> None:
    """In-place window mass update + optional forgetting (reference
    massUpdate/forgetENMP/synchronizeINMP). Vectorized: per tree, count
    points per leaf, add counts up the heap (parent sums), then decrement
    len(X) random UNTOUCHED leaves and re-sync internal masses."""
    if X.shape[0] == 0:
        return
    if leaves is None:
        leaves = _leaf_indices(model, X)
    n_nodes = model.mass.shape[1]
    leaf_lo = (1 << model.depth_limit) - 1
    for t in range(model.n_trees):
        leaf_counts = np.bincount(leaves[t] - leaf_lo, minlength=model.n_leaves).astype(
            np.float64
        )
        # increment every node on the paths: leaf counts roll up the heap
        add = np.zeros(n_nodes)
        add[leaf_lo:] = leaf_counts
        for node in range(leaf_lo - 1, -1, -1):
            add[node] = add[2 * node + 1] + add[2 * node + 2]
        model.mass[t] += add
        if forget_threshold > 0 and model.mass[t, 0] > forget_threshold:
            old = np.where(leaf_counts == 0)[0]  # untouched this window
            if len(old):
                r = rng if rng is not None else np.random.default_rng(0)
                picks = r.integers(0, len(old), size=X.shape[0])
                dec = np.bincount(picks, minlength=len(old)).astype(np.float64)
                leaf_masses = model.mass[t, leaf_lo:]
                leaf_masses[old] = np.maximum(leaf_masses[old] - dec, 0.0)
                # re-sync internal masses to leaf sums
                full = model.mass[t]
                full[leaf_lo:] = leaf_masses
                for node in range(leaf_lo - 1, -1, -1):
                    full[node] = full[2 * node + 1] + full[2 * node + 2]


# ---------------------------------------------------------------------------
# Spark batch scoring (fit on seeded sample, score anywhere)
# ---------------------------------------------------------------------------


def hst_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    n_trees: int = 100,
    subsample: int = 256,
    n_dims: int = 0,
    depth_limit: int = 10,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    model: HSTModel | None = None,
) -> DataFrame:
    """HST mass scores for every row (LOW = anomalous); forest fit on a
    seeded driver sample (or passed pre-fit via `model`), broadcast,
    scored via mapInPandas."""
    from macrobase_spark.operators.detectors import _collect_sample

    if model is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        model = fit_hst(
            sample, n_trees=n_trees, subsample=subsample, n_dims=n_dims,
            depth_limit=depth_limit, seed=seed,
        )
    if id_cols is None:
        in_df = df
        out_schema = StructType(list(df.schema.fields) + [StructField(score_col, DoubleType())])
        id_cols = list(df.columns)
    else:
        in_df = df.select(*id_cols, *feature_cols)
        out_schema = StructType(
            [in_df.schema[c] for c in id_cols] + [StructField(score_col, DoubleType())]
        )
    bc = df.sparkSession.sparkContext.broadcast(model)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for pdf in batches:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            out = pdf[id_cols].copy()
            out[score_col] = hst_scores(m, X)
            yield out

    return in_df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Structured-Streaming rendering: evolving masses per stream key
# ---------------------------------------------------------------------------


def stream_hst(
    stream_df: DataFrame,
    key_col: str,
    feature_cols: list[str],
    time_col: str,
    model: HSTModel,
    window_size: int = 256,
    forget_threshold: int = 0,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key evolving HST: the forest structure is static; the per-key
    leaf-mass vector lives in the fold state. Each completed count window
    is scored with the masses as of its start, then the masses update
    (score-then-update, the reference's process/update call order).
    Emits (key, window_id, t, score); on a stream use
    outputMode('append')."""
    W = window_size
    d = len(feature_cols)
    feat, thr, depth_limit = model.feat, model.thr, model.depth_limit
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("window_id", LongType()),
            StructField("t", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def step(st, key, pdf):
        wid, buf_t, X, mass = st
        m = HSTModel(feat, thr, mass, depth_limit)
        buf_t = buf_t + pdf[time_col].tolist()
        X = np.vstack([X, pdf[feature_cols].to_numpy(dtype=np.float64)])
        # deterministic forget RNG per (key, window) — no hash():
        # PYTHONHASHSEED varies across interpreters
        kseed = int.from_bytes(key[0].encode()[:8].ljust(8, b"\0"), "little")
        rows = []
        while len(buf_t) >= W:
            win_t, win_X = buf_t[:W], X[:W]
            leaves = _leaf_indices(m, win_X)
            scores = hst_scores(m, win_X, leaves)
            rng = np.random.default_rng((kseed ^ (wid * 0x9E3779B9)) % (2**32))
            hst_mass_update(m, win_X, forget_threshold, rng, leaves)
            rows.extend((key[0], wid, win_t[j], float(scores[j])) for j in range(W))
            wid += 1
            buf_t, X = buf_t[W:], X[W:]
        out = pd.DataFrame(rows, columns=out_schema.fieldNames())
        return (wid, buf_t, X, m.mass), out

    # an idle key (idle_timeout_ms) restarts from the trained masses
    return keyed_fold(
        stream_df.selectExpr(
            f"cast({key_col} as string) as key",
            f"cast({time_col} as long) as {time_col}",
            *feature_cols,
        ),
        ["key"],
        [time_col],
        lambda: (0, [], np.empty((0, d)), model.mass.copy()),
        step,
        out_schema,
        idle_timeout_ms,
    )


# ---------------------------------------------------------------------------
# registered query (rows-only: tree ensembles are not SQL-expressible;
# correctness gate = tests/test_hst.py planted recovery + stream==replay)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


@artifact("hst_model", 1)
def hst_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted HST forest as a (tree, node, feat, thr, mass)
    relation — a few hundred KB — so the depth+ln(mass) scoring walk is
    SQL-expressible: the DuckDB oracle below unrolls the fixed-depth
    midpoint descent as 8 chained node-table joins over the SAME files
    (VERDICT r2 item 9). The registered query loads the model back from
    this parquet, so Spark and oracle provably score with one model; the
    FIT stays gated by tests/test_hst.py + shuttle parity."""
    from macrobase_spark.operators.detectors import _collect_sample, array_col_to_features

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(8)]
    df = array_col_to_features(e, "embedding", 8)
    sample = _collect_sample(df, feats, 4096, 42)
    model = fit_hst(sample, n_trees=50, depth_limit=8, seed=42)
    rows = [
        (int(t), int(node), int(model.feat[t, node]), float(model.thr[t, node]),
         float(model.mass[t, node]))
        for t in range(model.n_trees)
        for node in range(model.feat.shape[1])
    ]
    spark.createDataFrame(
        rows, "tree long, node long, feat long, thr double, mass double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_hst_model(spark, path: str, depth_limit: int = 8) -> HSTModel:
    pdf = spark.read.parquet(path).toPandas().sort_values(["tree", "node"])
    n_trees = int(pdf["tree"].max()) + 1
    n_nodes = (1 << (depth_limit + 1)) - 1
    return HSTModel(
        feat=pdf["feat"].to_numpy(dtype=np.int32).reshape(n_trees, n_nodes),
        thr=pdf["thr"].to_numpy(dtype=np.float64).reshape(n_trees, n_nodes),
        mass=pdf["mass"].to_numpy(dtype=np.float64).reshape(n_trees, n_nodes),
        depth_limit=depth_limit,
    )


_HSTM = hst_model_parquet.scan()

_HST_ORACLE = f"""
    WITH nodes AS (SELECT tree, node, feat, thr, mass FROM {_HSTM}),
    trees AS (SELECT DISTINCT tree FROM nodes),
    s0 AS (SELECT e.vec_id, e.embedding AS emb, t.tree, 0 AS node
           FROM embeddings e CROSS JOIN trees t),
    s1 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s0 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s2 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s1 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s3 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s2 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s4 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s3 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s5 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s4 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s6 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s5 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s7 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s6 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s8 AS (SELECT p.vec_id, p.emb, p.tree,
                2*p.node + CASE WHEN CAST(p.emb[n.feat + 1] AS DOUBLE) <= n.thr
                           THEN 1 ELSE 2 END AS node
         FROM s7 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    leaf AS (SELECT p.vec_id, n.mass FROM s8 p
             JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    sc AS (SELECT vec_id,
                  sum(CASE WHEN mass < 2 THEN 8.0
                           ELSE 8.0 + ln(greatest(mass, 1e-300)) END) AS s
           FROM leaf GROUP BY vec_id),
    rk AS (SELECT vec_id, s FROM sc ORDER BY s ASC, vec_id LIMIT 20)
    SELECT vec_id, round(s, 4) AS score FROM rk
"""


@register("hst_outliers_embeddings", _HST_ORACLE)
def hst_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 lowest-mass (most anomalous) vectors under the materialized HST
    forest; the oracle replays the exact midpoint descent in SQL."""
    from macrobase_spark.operators.detectors import array_col_to_features

    model = load_hst_model(spark, hst_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(8)]
    df = array_col_to_features(emb, "embedding", 8)
    scored = hst_score(df, feats, ["vec_id"], model=model)
    # LOW mass = anomalous -> ascending
    return scored.orderBy(F.asc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 4).alias("score")
    )
