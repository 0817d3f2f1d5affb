"""PCA whitening / dimensionality reduction for embedding columns.

A training-data pipeline staple the reference engine predates: before
near-duplicate detection or ANN indexing, embedding spaces are centered,
rotated onto principal axes and (optionally) whitened — it equalizes
per-direction variance so cosine/L2 thresholds mean the same thing in
every direction, and it drops dead directions. This operator fits exact
PCA distributed-ly and exposes the projection as a declarative plan.

Fit (`fit_pca`): ONE map-only Arrow pass emits per-batch moment partials
(n, Σx, Σxxᵀ as a flattened k×k) — a few hundred doubles per batch —
which the driver combines into the exact covariance (the same
one-aggregate discipline as legacy_transforms.gaussian_fit, but Arrow
partials instead of k(k+3)/2 codegen expressions because k=64 here).
`numpy.linalg.eigh` on the driver (64×64), eigenvectors sign-fixed
(largest-|component| positive) so the model is deterministic.

Model is materialized as a NORMALIZED relation (comp, dim, w, mu,
eigval, var_ratio) so the projection z[v,c] = Σ_dim (x[v,dim]-mu[dim])·w[c,dim]
is a plain explode→broadcast-join→groupBy in Spark AND replays verbatim
in DuckDB — the registered query certifies the whole relational layer
(projection, realized variance vs eigenvalue, explained-variance
ratios). Eigendecomposition itself is pinned by tests
(orthonormality, whitened covariance ≈ I, reconstruction-error
monotonicity, realized variance == eigval).

Scale: the fit is one scan with k(k+1)-double partials per batch
(map-side; no shuffle of anything wider). The projection explodes to
(vec, dim) and broadcast-joins a k·d-row model — one hash Exchange on
vec_id for the final combine. At 10^12 rows both stages are the same
shape; top_k prunes the model side, not the data side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact
from macrobase_spark.queries import register

_DIM = 64
_TOP_K = 8


def _moment_partials(df: DataFrame, array_col: str, dim: int) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, Σx, Σxxᵀ) over the whole table from per-batch Arrow partials."""

    def run(batches):
        import pyarrow as pa

        for b in batches:
            arr = b.column(0)
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            m = flat.reshape(-1, dim)
            s1 = m.sum(axis=0)
            s2 = m.T @ m
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([m.shape[0]], type=pa.int64()),
                    pa.array([s1.tolist()]),
                    pa.array([s2.ravel().tolist()]),
                ],
                names=["n", "s1", "s2"],
            )

    parts = df.select(array_col).mapInArrow(
        run, "n long, s1 array<double>, s2 array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s1 = np.sum([np.array(r["s1"]) for r in parts], axis=0)
    s2 = np.sum([np.array(r["s2"]).reshape(dim, dim) for r in parts], axis=0)
    return n, s1, s2


def fit_pca(df: DataFrame, array_col: str = "embedding", dim: int = _DIM):
    """Exact PCA fit: returns (mu[dim], eigvals desc, W rows=components)."""
    n, s1, s2 = _moment_partials(df, array_col, dim)
    mu = s1 / n
    cov = (s2 - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    vals = np.maximum(vals[order], 0.0)
    W = vecs[:, order].T  # rows = components
    # deterministic sign: largest-|w| entry of every component positive
    for r in range(W.shape[0]):
        j = int(np.argmax(np.abs(W[r])))
        if W[r, j] < 0:
            W[r] = -W[r]
    return mu, vals, W


def pca_project(df: DataFrame, model: DataFrame, id_col: str = "vec_id", array_col: str = "embedding") -> DataFrame:
    """(id, comp, proj) via explode + broadcast model join — the plan the
    registered query certifies against DuckDB."""
    x = df.select(
        F.col(id_col), F.posexplode(array_col).alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    return (
        x.join(F.broadcast(model), "dim")
        .groupBy(id_col, "comp")
        .agg(F.sum((F.col("v") - F.col("mu")) * F.col("w")).alias("proj"))
    )


@artifact("pca_model", 1)
def pca_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted model as (comp, dim, w, mu, eigval,
    var_ratio) rows for the top _TOP_K components."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mu, vals, W = fit_pca(emb)
    total = float(vals.sum()) or 1.0
    rows = [
        (
            c,
            d,
            float(W[c, d]),
            float(mu[d]),
            float(vals[c]),
            float(vals[c] / total),
        )
        for c in range(_TOP_K)
        for d in range(_DIM)
    ]
    spark.createDataFrame(
        rows, "comp int, dim int, w double, mu double, eigval double, var_ratio double"
    ).coalesce(1).write.mode("overwrite").parquet(out)


_EMB = "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
_MODEL = pca_model_parquet.scan()

_PCA_ORACLE = f"""
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {_EMB}
), p AS (
  SELECT x.vec_id, m.comp,
         sum((x.v - m.mu) * m.w) AS proj,
         max(m.eigval) AS eigval,
         max(m.var_ratio) AS var_ratio
  FROM x JOIN {_MODEL} m ON x.dim = m.dim
  GROUP BY x.vec_id, m.comp
)
SELECT comp,
       round(max(eigval), 6) AS eigval,
       round(max(var_ratio), 6) AS var_ratio,
       round(sum(proj * proj) / (count(*) - 1), 6) AS realized_var,
       round(max(abs(proj)), 4) AS max_abs_proj
FROM p GROUP BY comp
"""


@register("pca_variance_embeddings", _PCA_ORACLE)
def pca_variance_embeddings(spark, sf_dir: str) -> DataFrame:
    """Per-component explained variance + realized projection variance over
    the materialized PCA model: realized_var replays the full distributed
    projection (and equals eigval up to fp, certifying the fit), while
    the oracle certifies every relational step in DuckDB."""
    model = spark.read.parquet(pca_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(model), "dim")
        .groupBy("vec_id", "comp")
        .agg(
            F.sum((F.col("v") - F.col("mu")) * F.col("w")).alias("proj"),
            F.max("eigval").alias("eigval"),
            F.max("var_ratio").alias("var_ratio"),
        )
    )
    return p.groupBy("comp").agg(
        F.round(F.max("eigval"), 6).alias("eigval"),
        F.round(F.max("var_ratio"), 6).alias("var_ratio"),
        F.round(
            F.sum(F.col("proj") * F.col("proj")) / (F.count(F.lit(1)) - 1), 6
        ).alias("realized_var"),
        F.round(F.max(F.abs("proj")), 4).alias("max_abs_proj"),
    )
