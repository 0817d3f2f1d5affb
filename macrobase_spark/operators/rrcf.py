"""RRCF — Robust Random Cut Forest with insert/forget and collusive
displacement, the alexp registry id `rrcf`.

Reference semantics (alexp/.../outlier/rrcf/RCFClassifier.java:1-886, wired
via Pipelines.java:145-154, defaults treesCount=100 subSampleSize=256
forgetThreshold=256 trainSize=256):

- BUILD: each tree random-cuts a with-replacement subsample: split dim is
  chosen with probability ∝ its value RANGE, split point uniform in that
  range; identical-point groups collapse into one leaf with a count
  (treeBuilder:132-158, randomChoice/weightFeatures:628-660).
- INSERT (addPoint:225-266 + addSubTree:313-321): walk down; while the new
  point lies inside the branch's stored bounding box ON THE SPLIT DIM,
  descend by the cut; otherwise (or at a non-duplicate leaf) graft a new
  branch above the node whose bbox is node ∪ x, with a fresh range-weighted
  cut; exact duplicates just increment the leaf count. Existing branch
  bboxes are NOT refreshed on insert (faithfully mirrored).
- FORGET (forgetPoint:327-352): splice out the OLDEST leaf (FIFO by leaf
  age) whenever the tree holds more than forgetThreshold points.
- SCORE (disp/coDisp:397-424): walk the point down by cuts; at each branch
  the displacement is sibling_count / own_side_count; CoDisp = max along
  the path; the final score is the mean CoDisp over trees (high =
  anomalous). The reference scores each point AFTER inserting it.

Spark-first: the forest is a driver-fit, broadcast model. Batch scoring
(`rrcf_score`) is the STATIONARY rendering — CoDisp against the trained
forest, no insertion (embarrassingly parallel; the evolving semantics are
inherently sequential per stream). The EVOLVING rendering (`stream_rrcf`)
runs per stream key in a `keyed_fold` whose state is the whole forest —
pointer structure, rng state and all; each point is
forget-if-over-threshold → insert → CoDisp, exactly
the reference's updateAndScore loop. Randomness is seeded (the reference
uses Math.random()); determinism is asserted by the stream==replay test.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.streaming.stateful import keyed_fold


class Leaf:
    __slots__ = ("u", "x", "n", "age")

    def __init__(self, x, n=1, age=-1, u=None):
        self.x, self.n, self.age, self.u = x, n, age, u


class Branch:
    __slots__ = ("u", "q", "p", "l", "r", "n", "blo", "bhi")

    def __init__(self, q, p, l, r, n, blo, bhi, u=None):
        self.q, self.p, self.l, self.r, self.n = q, p, l, r, n
        self.blo, self.bhi, self.u = blo, bhi, u


class RRCFTree:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.root = None
        self.max_age = 0  # next leaf age to assign
        self.min_age = 0  # oldest live age cursor
        self.leaves_by_age: dict[int, Leaf] = {}

    # -- build --------------------------------------------------------------
    def build(self, X: np.ndarray) -> None:
        self.root = self._build(None, X)

    def _choose_dim(self, lo: np.ndarray, hi: np.ndarray) -> int:
        w = hi - lo
        total = float(w.sum())
        if total <= 0:
            return int(self.rng.integers(len(w)))
        r = float(self.rng.uniform(0, total))
        for i, wi in enumerate(w):
            r -= float(wi)
            if r <= 0:
                return i
        return len(w) - 1

    def _build(self, parent, X: np.ndarray):
        if len(X) > 1 and not (X == X[0]).all():
            lo, hi = X.min(axis=0), X.max(axis=0)
            q = self._choose_dim(lo, hi)
            p = float(self.rng.uniform(lo[q], hi[q]))
            mask = X[:, q] <= p
            b = Branch(q, p, None, None, len(X), lo, hi, parent)
            b.r = self._build(b, X[~mask])
            b.l = self._build(b, X[mask])
            return b
        leaf = Leaf(X[0].copy(), n=len(X), age=self.max_age, u=parent)
        self.leaves_by_age[leaf.age] = leaf
        self.max_age += 1
        return leaf

    # -- insert -------------------------------------------------------------
    def insert(self, x: np.ndarray) -> None:
        if self.root is None:
            self.root = self._new_leaf(x, None)
            return
        node = self.root
        while True:
            if isinstance(node, Branch):
                if node.blo[node.q] <= x[node.q] <= node.bhi[node.q]:
                    node = node.l if x[node.q] <= node.p else node.r
                    continue
                self._graft(node, x)
                return
            if np.array_equal(node.x, x):
                node.n += 1
                self._bump_ancestors(node)
                return
            self._graft(node, x)
            return

    def _new_leaf(self, x, parent) -> Leaf:
        leaf = Leaf(np.asarray(x, dtype=np.float64).copy(), 1, self.max_age, parent)
        self.leaves_by_age[leaf.age] = leaf
        self.max_age += 1
        return leaf

    def _graft(self, node, x) -> None:
        new_leaf = self._new_leaf(x, None)
        if isinstance(node, Branch):
            lo = np.minimum(node.blo, x)
            hi = np.maximum(node.bhi, x)
        elif isinstance(node.u, Branch):
            lo = np.minimum(node.u.blo, x)
            hi = np.maximum(node.u.bhi, x)
        else:
            lo = np.minimum(node.x, x)
            hi = np.maximum(node.x, x)
        q = self._choose_dim(lo, hi)
        p = float(self.rng.uniform(lo[q], hi[q]))
        if isinstance(node, Leaf):
            a, b = float(x[q]), float(node.x[q])
            lo_q, hi_q = min(a, b), max(a, b)
            if not (lo_q <= p <= hi_q):
                p = float(self.rng.uniform(lo_q, hi_q))
        parent = node.u
        if float(x[q]) <= p:
            nb = Branch(q, p, new_leaf, node, node.n + 1, lo, hi, parent)
        else:
            nb = Branch(q, p, node, new_leaf, node.n + 1, lo, hi, parent)
        new_leaf.u = nb
        node.u = nb
        if parent is None:
            self.root = nb
        elif parent.l is node:
            parent.l = nb
        else:
            parent.r = nb
        self._bump_ancestors(nb)

    def _bump_ancestors(self, node) -> None:
        """+1 on every ancestor (the grafted branch / duplicated leaf already
        carries its own updated n)."""
        cur = node.u
        while cur is not None:
            cur.n += 1
            cur = cur.u

    # -- forget -------------------------------------------------------------
    def forget(self) -> None:
        """Splice out the oldest live leaf (age cursor may skip ages that
        belong to duplicate-increment inserts, as in the reference)."""
        leaf = self.leaves_by_age.pop(self.min_age, None)
        self.min_age += 1
        if leaf is None:
            return
        parent = leaf.u
        if parent is None:  # tree held exactly one leaf
            self.root = None
            return
        sibling = parent.l if parent.r is leaf else parent.r
        grand = parent.u
        sibling.u = grand
        if grand is None:
            self.root = sibling
        elif grand.l is parent:
            grand.l = sibling
        else:
            grand.r = sibling
        cur = grand
        while cur is not None:
            cur.n -= leaf.n
            cur = cur.u

    # -- score --------------------------------------------------------------
    def codisp(self, x: np.ndarray) -> float:
        node = self.root
        best = 0.0
        while isinstance(node, Branch):
            if float(x[node.q]) <= node.p:
                best = max(best, node.r.n / max(node.l.n, 1))
                node = node.l
            else:
                best = max(best, node.l.n / max(node.r.n, 1))
                node = node.r
        return best


class RRCFForest:
    def __init__(self, trees: list[RRCFTree], forget_threshold: int):
        self.trees = trees
        self.forget_threshold = forget_threshold

    def score(self, x: np.ndarray) -> float:
        return float(np.mean([t.codisp(x) for t in self.trees]))

    def update_and_score(self, x: np.ndarray) -> float:
        """The reference's evolving loop: forget-if-over-threshold, insert,
        then CoDisp (updateAndScore:191-208)."""
        s = 0.0
        for t in self.trees:
            if (
                self.forget_threshold > 0
                and t.root is not None
                and isinstance(t.root, Branch)
                and t.root.n > self.forget_threshold
            ):
                t.forget()
            t.insert(x)
            s += t.codisp(x)
        return s / len(self.trees)


def fit_rrcf(
    X: np.ndarray,
    n_trees: int = 100,
    subsample: int = 256,
    forget_threshold: int = 256,
    seed: int = 42,
) -> RRCFForest:
    n = X.shape[0]
    trees = []
    for t in range(n_trees):
        rng = np.random.default_rng(seed + 7919 * t)
        tree = RRCFTree(rng)
        if 0 < subsample < n:
            idx = rng.integers(0, n, size=subsample)
        else:
            idx = np.arange(n)
        tree.build(X[idx])
        trees.append(tree)
    return RRCFForest(trees, forget_threshold)


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------


def rrcf_score(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str] | None,
    n_trees: int = 100,
    subsample: int = 256,
    train_rows: int = 4096,
    seed: int = 42,
    score_col: str = "_SCORE",
    forest: RRCFForest | None = None,
) -> DataFrame:
    """Stationary CoDisp scores against a forest fit on a seeded sample
    (high = anomalous; a pre-fit forest can be passed). The evolving/
    forgetting semantics are `stream_rrcf`."""
    from macrobase_spark.operators.detectors import _collect_sample

    if forest is None:
        sample = _collect_sample(df, feature_cols, train_rows, seed)
        forest = fit_rrcf(sample, n_trees=n_trees, subsample=subsample, seed=seed)
    if id_cols is None:
        in_df = df
        out_schema = StructType(list(df.schema.fields) + [StructField(score_col, DoubleType())])
        id_cols = list(df.columns)
    else:
        in_df = df.select(*id_cols, *feature_cols)
        out_schema = StructType(
            [in_df.schema[c] for c in id_cols] + [StructField(score_col, DoubleType())]
        )
    bc = df.sparkSession.sparkContext.broadcast(forest)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = bc.value
        for pdf in batches:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            out = pdf[id_cols].copy()
            out[score_col] = [f.score(X[i]) for i in range(len(X))]
            yield out

    return in_df.mapInPandas(run, out_schema)


def _init_blob(forest: RRCFForest, forget_threshold: int | None) -> bytes:
    """Pickled per-key initial state: the threshold override is applied on
    a COPY before pickling, so new stream keys start with the requested
    forgetting behavior and the caller's fitted forest stays untouched
    (ADVICE r2: the override used to be applied after the dump and was
    silently ignored)."""
    if forget_threshold is not None:
        forest = pickle.loads(pickle.dumps(forest))
        forest.forget_threshold = forget_threshold
    return pickle.dumps(forest)


def stream_rrcf(
    stream_df: DataFrame,
    key_col: str,
    feature_cols: list[str],
    time_col: str,
    forest: RRCFForest,
    forget_threshold: int | None = None,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key evolving RRCF: the forest (pointer structure + rng state)
    is the key's fold state; every point runs the reference's
    forget→insert→CoDisp loop in time order. On a stream use
    outputMode('append')."""
    init_blob = _init_blob(forest, forget_threshold)
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("t", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def step(f: RRCFForest, key, pdf):
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        rows = [
            (key[0], int(t), f.update_and_score(x))
            for t, x in zip(pdf[time_col].to_numpy(), X)
        ]
        return f, pd.DataFrame(rows, columns=out_schema.fieldNames())

    # an idle key (idle_timeout_ms) restarts from the trained forest
    return keyed_fold(
        stream_df.selectExpr(
            f"cast({key_col} as string) as key",
            f"cast({time_col} as long) as {time_col}",
            *feature_cols,
        ),
        ["key"],
        [time_col],
        lambda: pickle.loads(init_blob),
        step,
        out_schema,
        idle_timeout_ms,
    )


# ---------------------------------------------------------------------------
# registered query (rows-only: evolving tree ensembles are not
# SQL-expressible; correctness gate = tests/test_rrcf.py)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


@artifact("rrcf_model", 1)
def rrcf_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted RRCF forest as a flat node relation — (tree,
    node, is_leaf, q, p, lc, rc, ln, rn) — so the stationary CoDisp walk
    (descend by cut, carry max sibling-size ratio) is SQL-stateable as a
    fixed-depth leaf-stay-put unroll (max tree depth is checked against the
    unroll). The randomized BUILD stays gated by tests/test_rrcf.py."""
    from macrobase_spark.operators.detectors import _collect_sample, array_col_to_features

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(8)]
    df = array_col_to_features(e, "embedding", 8)
    sample = _collect_sample(df, feats, 4096, 42)
    forest = fit_rrcf(sample, n_trees=40, subsample=256, seed=42)
    rows = []
    max_depth = 0
    for t, tree in enumerate(forest.trees):
        ids: dict[int, int] = {}

        def nid(node):
            if id(node) not in ids:
                ids[id(node)] = len(ids)
            return ids[id(node)]

        stack = [(tree.root, 0)]
        while stack:
            node, d = stack.pop()
            max_depth = max(max_depth, d)
            if isinstance(node, Branch):
                rows.append(
                    (t, nid(node), False, int(node.q), float(node.p),
                     nid(node.l), nid(node.r), int(node.l.n), int(node.r.n),
                     int(node.n))
                )
                stack.append((node.l, d + 1))
                stack.append((node.r, d + 1))
            else:
                # nn carries the leaf's duplicate-collapse count — the
                # parent's ln/rn ratio depends on it at reload time
                rows.append((t, nid(node), True, -1, 0.0, -1, -1, 0, 0,
                             int(node.n)))
    if max_depth > 30:
        raise ValueError(
            f"rrcf oracle unrolls 30 descent steps but the forest is "
            f"{max_depth} deep — bump the unroll"
        )
    spark.createDataFrame(
        rows,
        "tree long, node long, is_leaf boolean, q long, p double, "
        "lc long, rc long, ln long, rn long, nn long",
    ).coalesce(1).write.mode("overwrite").parquet(out)


def load_rrcf_forest(spark, path: str, forget_threshold: int = 256) -> RRCFForest:
    """Rebuild the pointer forest for batch CoDisp scoring (bounding boxes
    are not rebuilt — batch scoring never touches them)."""
    pdf = spark.read.parquet(path).toPandas()
    trees = []
    for t in sorted(pdf["tree"].unique()):
        g = pdf[pdf["tree"] == t].set_index("node")
        nodes: dict[int, object] = {}

        def build(i: int):
            if i in nodes:
                return nodes[i]
            r = g.loc[i]
            if r["is_leaf"]:
                node = Leaf(x=None, n=int(r["nn"]))
            else:
                node = Branch(
                    int(r["q"]), float(r["p"]), build(int(r["lc"])),
                    build(int(r["rc"])), int(r["nn"]), None, None,
                )
            nodes[i] = node
            return node

        tree = RRCFTree(np.random.default_rng(0))
        tree.root = build(0)
        trees.append(tree)
    return RRCFForest(trees, forget_threshold)


_RRCFM = rrcf_model_parquet.scan()

_RRCF_ORACLE = f"""
    WITH nodes AS (SELECT * FROM {_RRCFM}),
    s0 AS (SELECT e.vec_id, e.embedding AS emb, t.tree, 0 AS node,
                  0.0 AS best
           FROM embeddings e CROSS JOIN (SELECT DISTINCT tree FROM nodes) t),
    s1 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s0 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s2 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s1 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s3 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s2 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s4 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s3 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s5 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s4 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s6 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s5 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s7 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s6 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s8 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s7 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s9 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s8 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s10 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s9 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s11 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s10 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s12 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s11 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s13 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s12 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s14 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s13 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s15 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s14 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s16 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s15 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s17 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s16 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s18 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s17 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s19 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s18 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s20 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s19 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s21 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s20 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s22 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s21 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s23 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s22 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s24 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s23 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s25 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s24 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s26 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s25 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s27 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s26 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s28 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s27 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s29 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s28 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    s30 AS (SELECT p.vec_id, p.emb, p.tree,
                CASE WHEN n.is_leaf THEN p.node
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p THEN n.lc
                     ELSE n.rc END AS node,
                CASE WHEN n.is_leaf THEN p.best
                     WHEN CAST(p.emb[n.q + 1] AS DOUBLE) <= n.p
                       THEN greatest(p.best, CAST(n.rn AS DOUBLE) / greatest(n.ln, 1))
                     ELSE greatest(p.best, CAST(n.ln AS DOUBLE) / greatest(n.rn, 1)) END AS best
         FROM s29 p JOIN nodes n ON n.tree = p.tree AND n.node = p.node),
    sc AS (SELECT vec_id, avg(best) AS s FROM s30 GROUP BY vec_id),
    rk AS (SELECT vec_id, s FROM sc ORDER BY s DESC, vec_id LIMIT 20)
    SELECT vec_id, round(s, 4) AS score FROM rk
"""


@register("rrcf_outliers_embeddings", _RRCF_ORACLE)
def rrcf_outliers_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 largest stationary CoDisp scores under the materialized forest;
    the oracle replays the ratio-carrying descent in SQL."""
    from macrobase_spark.operators.detectors import array_col_to_features

    forest = load_rrcf_forest(spark, rrcf_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(8)]
    df = array_col_to_features(emb, "embedding", 8)
    scored = rrcf_score(df, feats, ["vec_id"], forest=forest)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 4).alias("score")
    )
