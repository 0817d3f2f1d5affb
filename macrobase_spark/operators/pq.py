"""IVF-PQ: product-quantized approximate nearest neighbors with
asymmetric-distance (ADC) scoring and exact re-ranking.

The reference engine (myrtakis/macrobase) has no similarity search at all —
this module belongs to the build brief's training-data-pipeline family, as
the scale path past `operators/similarity.py`:

- `ivf_topk` prunes WHICH rows are scored (probe ~n_probe/n_centroids of
  the corpus via inverted lists / partition pruning);
- PQ compresses WHAT is scored: each vector is stored as `m` one-byte-ish
  codes (here `m=8` codes of `ks<=256`), so the ANN scan reads ~8-16 bytes
  per vector instead of the full float embedding (64 dims * 4 B = 256 B —
  a 16-32x I/O reduction, which at 10^12 vectors is the difference between
  scanning terabytes and scanning hundreds of terabytes).

Scoring is classic ADC (Jegou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011): per query, precompute a lookup table
LUT[sub, code] = <q_sub, codebook[sub][code]>; a candidate's approximate
inner product is the sum of `m` LUT gathers — no float vector is touched.
The true top-k is then recovered by exactly re-ranking a top-`refine`
ADC shortlist against the real embeddings (a broadcast join of a tiny
candidate set, never a second corpus scan).

Spark shape (the 100 TB plan):
- codebooks + coarse quantizer fit once on a deterministic, partitioning-
  independent driver sample (same xxhash64-order sampling as IVF), then
  broadcast — a few KB;
- ONE mapInPandas pass computes (centroid, codes) per row; with
  `ivf_pq_build_index` that relation is materialized to parquet
  partitioned by centroid, so probe-time `centroid IN (...)` is partition
  pruning and the per-vector scan cost is the 8-byte code row;
- the ADC pass is map-only (LUT gathers per Arrow batch, per-group
  top-`refine` preselection bounds its output);
- only the global shortlist (n_queries x refine rows) crosses a shuffle,
  and the exact re-rank broadcasts it against the corpus.

Determinism / oracle contract: with `lut_scale` set, LUT entries are
quantized to integers (`round(dot * lut_scale)`), making the ADC sum
order-independent and exactly replayable by DuckDB `SUM(...)` over the
materialized (codes, LUT) parquet — the registered query runs this flavor
(real PQ deployments quantize LUTs to int8/int16 for SIMD anyway).
Production default is float64 LUTs with a fixed sequential accumulation
order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from macrobase_spark.operators.similarity import (
    IVF_ASSIGN,
    IVF_PROBE,
    _as_matrix,
    _normalize,
    fit_ivf_centroids,
    ivf_centroids,
)


# ---------------------------------------------------------------------------
# codebook training + encoding
# ---------------------------------------------------------------------------


def _kmeans_l2(X: np.ndarray, k: int, iters: int = 15, seed: int = 7) -> np.ndarray:
    """Seeded Lloyd k-means under squared-Euclidean distance — the PQ
    sub-quantizer trainer (subvectors are NOT unit vectors, so the cosine
    k-means used for the IVF coarse quantizer does not apply here)."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        # argmin ||x - c||^2 = argmax (x.c - ||c||^2 / 2)
        assign = (X @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def fit_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ks: int = 16,
    train_rows: int = 8192,
    seed: int = 7,
) -> np.ndarray:
    """Train the `m` sub-quantizer codebooks (shape (m, ks, dim/m)) on the
    same deterministic, partitioning-independent sample recipe as the IVF
    coarse quantizer: rows ordered by xxhash64(id), TakeOrderedAndProject
    (per-partition top-k, no full sort). Vectors are unit-normalized before
    splitting, matching the cosine/IP scoring convention."""
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(train_rows)
        .select(vec_col)
        .toPandas()
    )
    X = _normalize(_as_matrix(sample[vec_col]))
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            _kmeans_l2(np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub]),
                       ks, seed=seed + 31 * j)
            for j in range(m)
        ]
    )


def _encode_matrix(Xn: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) int16 PQ codes for unit-normalized rows: per subspace,
    argmin ||x_sub - c||^2 via the dot-product identity."""
    n, dim = Xn.shape
    m, ks, dsub = codebooks.shape
    codes = np.empty((n, m), dtype=np.int16)
    for j in range(m):
        C = codebooks[j]
        sub = Xn[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = (sub @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
    return codes


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(id, codes array<int>) for every corpus row — map-only, broadcast
    codebooks, vectorized argmin per Arrow batch."""
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    schema = StructType(
        [corpus.schema[id_col], StructField("codes", ArrayType(IntegerType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _encode_matrix(_normalize(_as_matrix(pdf[vec_col])), B)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": [c.tolist() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def pq_decode_matrix(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Reconstruct (approximate) vectors from codes — testing/diagnostics."""
    m, ks, dsub = codebooks.shape
    return np.concatenate(
        [codebooks[j][codes[:, j]] for j in range(m)], axis=1
    )


# ---------------------------------------------------------------------------
# the combined one-pass relation + on-disk index
# ---------------------------------------------------------------------------


def _ivf_pq_relation(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """(id, centroid, codes) computed in ONE mapInPandas pass over the
    vectors — the barrier keeps the probe filter above it as a Catalyst
    Filter node (same rationale as similarity._ivf_assigned_relation)."""
    bc = corpus.sparkSession.sparkContext.broadcast((centroids, codebooks))
    schema = StructType(
        [
            corpus.schema[id_col],
            StructField("centroid", LongType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xn = _normalize(_as_matrix(pdf[vec_col]))
            codes = _encode_matrix(Xn, B)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "centroid": (Xn @ C.T).argmax(axis=1),
                    "codes": [c.tolist() for c in codes],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def ivf_pq_build_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
) -> None:
    """Materialize the IVF-PQ index: (id, codes) rows partitioned by
    centroid. Probe-time `centroid IN (...)` is partition pruning, and the
    scan reads ONLY code rows (~8-16 B/vector) — never the embeddings.
    Built once per corpus snapshot, amortized over every query batch."""
    _ivf_pq_relation(corpus, id_col, vec_col, centroids, codebooks).write.mode(
        "overwrite"
    ).partitionBy("centroid").parquet(path)


# ---------------------------------------------------------------------------
# ADC scoring + exact re-rank
# ---------------------------------------------------------------------------


def _query_luts(
    q_mat: np.ndarray, codebooks: np.ndarray, lut_scale: int | None
) -> np.ndarray:
    """(nq, m, ks) LUTs: LUT[q, j, c] = <q_sub_j, codebook[j][c]>. With
    `lut_scale`, quantized to int64 (order-independent exact ADC sums)."""
    m, ks, dsub = codebooks.shape
    nq = len(q_mat)
    lut = np.empty((nq, m, ks), dtype=np.float64)
    for j in range(m):
        lut[:, j, :] = q_mat[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T
    if lut_scale is not None:
        return np.rint(lut * lut_scale).astype(np.int64)
    return lut


def _adc(lut_q: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """ADC scores for one query over a code matrix (n, m): sequential
    left-to-right accumulation (deterministic order regardless of numpy's
    pairwise-sum blocking)."""
    acc = lut_q[0][codes[:, 0]].copy()
    for j in range(1, codes.shape[1]):
        acc += lut_q[j][codes[:, j]]
    return acc


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    m: int = 8,
    ks: int = 16,
    refine: int = 50,
    train_rows: int = 8192,
    seed: int = 7,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    index_path: str | None = None,
    lut_scale: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k cosine neighbors with exact re-ranking.

    1. coarse quantizer + PQ codebooks (fit on a seeded deterministic
       sample unless supplied), broadcast;
    2. probe: each query's `n_probe` nearest centroids; `centroid IN (...)`
       filters the (id, centroid, codes) relation BEFORE scoring (partition
       pruning with `index_path`);
    3. ADC: map-only LUT-gather scoring of each surviving inverted list
       against the queries that probe it, per-group top-`refine`
       preselection;
    4. shortlist: global per-query top-`refine` by (adc desc, id) —
       n_queries x refine rows, the only shuffled relation;
    5. exact re-rank: broadcast the shortlist against the corpus vectors,
       true cosine, top-k.

    Returns (query_id, nbr_id, rnk, cos, adc) — `adc` is the approximate
    inner product the shortlist was cut on (quantized-LUT exact when
    `lut_scale` is set)."""
    from pyspark.sql import Window

    spark = corpus.sparkSession
    C = (
        centroids
        if centroids is not None
        else fit_ivf_centroids(corpus, id_col, vec_col, n_centroids, train_rows, seed)
    )
    B = (
        codebooks
        if codebooks is not None
        else fit_pq_codebooks(corpus, id_col, vec_col, m, ks, train_rows, seed)
    )

    qrows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in qrows])
    q_mat = _normalize(
        np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    )
    probe = np.argsort(-(q_mat @ C.T), axis=1)[:, : min(n_probe, len(C))]
    by_centroid: dict[int, list[int]] = {}
    for qi, p in enumerate(probe):
        for c in p:
            by_centroid.setdefault(int(c), []).append(qi)
    probe_union = sorted(by_centroid)

    luts = _query_luts(q_mat, B, lut_scale)

    if index_path is not None:
        relation = spark.read.parquet(index_path)
    else:
        relation = _ivf_pq_relation(corpus, id_col, vec_col, C, B)
    pruned = relation.filter(F.col("centroid").isin(probe_union))

    bc = spark.sparkContext.broadcast((q_ids, luts, by_centroid, lut_scale))
    cand_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("nbr_id", LongType()),
            StructField("adc", DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, L, probers, scale = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for c, grp in pdf.groupby("centroid"):
                qis = probers.get(int(c))
                if not qis:
                    continue
                ids = grp[id_col].to_numpy()
                codes = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                keep = min(refine + 1, len(ids))
                for qi in qis:
                    adc = _adc(L[qi], codes)
                    # deterministic under ties: PQ codes collide (identical
                    # codes -> identical adc), and argpartition's tie pick
                    # depends on row order, which differs between the inline
                    # relation and the partitioned on-disk index. Preselect
                    # by the SAME (adc desc, id asc) order the global
                    # shortlist window uses, so the per-group cut provably
                    # contains the global top-`refine` whatever the scan
                    # order. (lexsort: last key is primary)
                    top = np.lexsort((ids, -adc))[:keep]
                    out = adc[top].astype(np.float64)
                    if scale is not None:
                        out = out / scale  # exact: int / power of two
                    yield pd.DataFrame(
                        {
                            "query_id": np.repeat(qids[qi], len(top)),
                            "nbr_id": ids[top],
                            "adc": out,
                        }
                    )

    cand = pruned.mapInPandas(score, cand_schema).filter(
        F.col("nbr_id") != F.col("query_id")
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("nbr_id"))
    shortlist = (
        cand.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= refine)
        .drop("_r")
    )

    # exact re-rank: broadcast the tiny shortlist against the corpus vectors
    joined = corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("_v")
    ).join(F.broadcast(shortlist), "nbr_id")
    bq = spark.sparkContext.broadcast((q_ids, q_mat))
    rer_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("nbr_id", LongType()),
            StructField("adc", DoubleType()),
            StructField("cos", DoubleType()),
        ]
    )

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qm = bq.value
        qpos = {int(q): i for i, q in enumerate(qids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mtx = _normalize(_as_matrix(pdf["_v"]))
            qi = np.array([qpos[int(q)] for q in pdf["query_id"]])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "nbr_id": pdf["nbr_id"].to_numpy(),
                    "adc": pdf["adc"].to_numpy(),
                    "cos": (mtx * qm[qi]).sum(axis=1),
                }
            )

    rer = joined.mapInPandas(rerank, rer_schema)
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "nbr_id",
            "rnk",
            F.round("cos", 6).alias("cos"),
            F.col("adc"),
        )
    )


# ---------------------------------------------------------------------------
# registered query: IVF-PQ over the embeddings table, ADC replayed by DuckDB
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_PQ_M, _PQ_KS, _PQ_SCALE, _PQ_REFINE = 8, 16, 1 << 20, 50


@artifact("pq", 1)
def pq_artifacts_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the PQ relations the oracle replays: exploded codes
    (`codes`: vec_id, sub, code) and the quantized per-query LUTs (`lut`:
    query_id, sub, code, dot_q BIGINT), plus the fitted codebooks
    (`codebooks.npy`) — so DuckDB can restate the EXACT integer ADC sum,
    shortlist cut, and re-rank over the same files (the
    ivf_artifacts_parquet recipe). The registered query prunes with the
    IVF artifact's quantizer, so it probes the same inverted lists the
    certified IVF query does."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    B = fit_pq_codebooks(e, "vec_id", "embedding", m=_PQ_M, ks=_PQ_KS)
    (
        pq_encode(e, "vec_id", "embedding", B)
        .select("vec_id", F.posexplode("codes").alias("sub", "code"))
        .coalesce(1)
        .write.parquet(f"{out}/codes")
    )
    qrows = e.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_mat = _normalize(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    )
    luts = _query_luts(q_mat, B, _PQ_SCALE)  # (nq, m, ks) int64
    rows = [
        (q_ids[qi], j, c, int(luts[qi, j, c]))
        for qi in range(len(q_ids))
        for j in range(_PQ_M)
        for c in range(_PQ_KS)
    ]
    spark.createDataFrame(
        rows, "query_id long, sub long, code long, dot_q long"
    ).coalesce(1).write.parquet(f"{out}/lut")
    np.save(f"{out}/codebooks.npy", B)


def pq_codebooks(spark, sf_dir: str) -> np.ndarray:
    return np.load(f"{pq_artifacts_parquet(spark, sf_dir)}/codebooks.npy")


_PQ_K = pq_artifacts_parquet.scan("codes")
_PQ_L = pq_artifacts_parquet.scan("lut")

_DOT = (
    "list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
)
_NORM_A = "sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(a.embedding, x -> CAST(x AS DOUBLE))))"
_NORM_B = "sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))))"


@register(
    "ann_ivf_pq_topk",
    f"""
    WITH cand AS (
      SELECT p.query_id, asg.vec_id AS nbr_id
      FROM {IVF_PROBE} p JOIN {IVF_ASSIGN} asg ON asg.centroid = p.centroid
      WHERE asg.vec_id != p.query_id),
    adc AS (
      SELECT c.query_id, c.nbr_id, SUM(l.dot_q) AS adc_q
      FROM cand c
      JOIN {_PQ_K} k ON k.vec_id = c.nbr_id
      JOIN {_PQ_L} l ON l.query_id = c.query_id AND l.sub = k.sub AND l.code = k.code
      GROUP BY 1, 2),
    short AS (
      SELECT query_id, nbr_id, adc_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_q DESC, nbr_id) AS sr
      FROM adc),
    scored AS (
      SELECT s.query_id, s.nbr_id, s.adc_q,
             {_DOT} / ({_NORM_A} * {_NORM_B}) AS cos
      FROM short s
      JOIN embeddings a ON a.vec_id = s.query_id
      JOIN embeddings b ON b.vec_id = s.nbr_id
      WHERE s.sr <= {_PQ_REFINE}),
    ranked AS (
      SELECT query_id, nbr_id, adc_q, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, nbr_id) AS rnk
      FROM scored)
    SELECT query_id, nbr_id, rnk, round(cos, 6) AS cos,
           CAST(adc_q AS DOUBLE) / {_PQ_SCALE} AS adc
    FROM ranked WHERE rnk <= 5
    """,
)
def ann_ivf_pq_topk_q(spark, sf_dir):
    """IVF-PQ top-k with every approximation materialized: the oracle
    replays the integer ADC sum over the same (codes, LUT) parquet, cuts
    the same top-`refine` shortlist, and re-ranks by exact cosine — so the
    registered result certifies the probe set, the quantized scoring, the
    shortlist boundary, AND the final ranking."""
    C, B = ivf_centroids(spark, sf_dir), pq_codebooks(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(
        e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding",
        k=5, n_centroids=32, n_probe=8, m=_PQ_M, ks=_PQ_KS,
        refine=_PQ_REFINE, centroids=C, codebooks=B, lut_scale=_PQ_SCALE,
    )


@artifact("ivfpq_index", 1)
def ivf_pq_index_dir(spark, sf_dir: str, out: str) -> None:
    """Build (once) the centroid-PARTITIONED on-disk IVF-PQ code index for
    the embeddings table — the amortized 100 TB shape: probes prune at the
    scan (PartitionFilters) and the scanned rows are ~8-byte code rows,
    never the float vectors. Reuses the certified quantizer/codebooks."""
    C, B = ivf_centroids(spark, sf_dir), pq_codebooks(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf_pq_build_index(e, "vec_id", "embedding", C, B, out)
