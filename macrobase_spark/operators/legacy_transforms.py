"""Legacy v0.x feature transforms and stats (the remaining analysis
surface of the reference's legacy/ module, each a Spark-first rendering):

- ZScore (legacy analysis/stats/ZScore.java:16-45): |x - mean| / std with
  the POPULATION std (/n). One aggregate, broadcast scalars, codegen
  expression.
- Winsorizer (stats/Winsorizer.java:10-46): per-dimension clamp to
  [P(trim), P(100-trim)] with commons-math's default percentile
  (R-6: position p(n+1) — evaluated as quantile_cont at the adjusted
  fraction, the same trick the percentile classifier uses).
- Truncate (stats/Truncate.java:9-41): keep the first k feature columns.
- LinearMetricNormalizer (transform/LinearMetricNormalizer.java:12-55):
  (x - min) / (max - min) per dimension — with the reference's
  zero-initialized extrema (min = min(0, data min), max = max(0, data
  max)), mirrored bug-for-bug; degenerate range maps to 0.
- LowMetricTransform (transform/LowMetricTransform.java:14-45):
  x -> 1 / max(x, 0.1) on the configured metric columns.
- RandomProjection (stats/RandomProjection.java:20-66): k x n Gaussian
  matrix with entries ~ N(0, 1/n) (the reference samples a diagonal-
  covariance MVN), applied as PURE COLUMN EXPRESSIONS (k,n are small,
  so the matmul stays inside whole-stage codegen; no UDF). The matrix
  is seeded numpy (the reference seeds commons-math — same determinism
  contract, different generator; documented divergence).
- Autocorrelation (stats/Autocorrelation.java:10-100): FFT-based linear
  autocorrelation — zero-mean, zero-pad to 2^ceil(log2(2n-1)), R(t) =
  IFFT(|FFT|^2), acf(t) = R(t)/R(0) for t in [1, maxLag) — plus the
  reference's peak-finding walk (direction flips, ACF_THRESH gate).
  One series per key via applyInPandas.
- Gaussian (stats/Gaussian.java:16-77): exact distributed fit (mean +
  UNBIASED covariance from one aggregate of sums/products), LU inverse
  with SVD pseudo-inverse fallback for singular covariance, Mahalanobis
  quadratic form as codegen expressions.
- SpaceSavingList (summary/count/SpaceSavingList.java:14-356): the
  classic Space-Saving heavy-hitter summary (capacity-bounded counters,
  miss evicts a minimum-count item and inherits its count). Ties on the
  minimum evict the most recently added counter (the reference's head-
  of-group token); count semantics are identical off ties.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact
from macrobase_spark.queries import register


# ---------------------------------------------------------------------------
# scalar transforms (expression-based)
# ---------------------------------------------------------------------------


def _r6_fraction(p_pct: float, n: int) -> float:
    """commons-math Percentile position p(n+1) as an R-7 fraction."""
    if n <= 1:
        return 0.5
    return min(max((p_pct / 100.0 * (n + 1) - 1.0) / (n - 1.0), 0.0), 1.0)


def z_score(df: DataFrame, col: str, score_col: str = "_SCORE") -> DataFrame:
    """ZScore.java:16-45 — |x - mean| / std_pop."""
    # two passes on purpose: the second matches the reference's (and the
    # oracle's) E[(mean-x)^2] summation exactly, avoiding the fp
    # cancellation of the one-pass E[x^2]-mean^2 form
    mean = float(df.agg(F.avg(F.col(col)).alias("m")).collect()[0]["m"])
    # population variance E[(x-m)^2] computed the reference's way
    var = df.agg(F.avg(F.pow(F.lit(mean) - F.col(col), 2))).collect()[0][0]
    std = float(var) ** 0.5
    return df.withColumn(score_col, F.abs(F.col(col) - F.lit(mean)) / F.lit(std))


def winsorize(df: DataFrame, cols: list, trim_pct: float) -> DataFrame:
    """Winsorizer.java:10-46 — clamp each column to its [trim, 100-trim]
    R-6 percentiles (one aggregate for all bounds)."""
    n = df.count()
    flo, fhi = _r6_fraction(trim_pct, n), _r6_fraction(100 - trim_pct, n)
    aggs = []
    for c in cols:
        aggs.append(F.percentile(F.col(c), flo).alias(f"__lo_{c}"))
        aggs.append(F.percentile(F.col(c), fhi).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = df
    for c in cols:
        lo, hi = float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"])
        out = out.withColumn(
            c, F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
        )
    return out


def truncate_features(df: DataFrame, feature_cols: list, k: int) -> DataFrame:
    """Truncate.java:9-41 — keep the first k feature columns."""
    drop = feature_cols[k:]
    return df.drop(*drop)


def linear_normalize(df: DataFrame, cols: list) -> DataFrame:
    """LinearMetricNormalizer.java:12-55 — (x-min)/(max-min) with the
    reference's ZERO-initialized extrema (min<=0, max>=0), mirrored."""
    aggs = []
    for c in cols:
        aggs.append(F.least(F.min(F.col(c)), F.lit(0.0)).alias(f"__lo_{c}"))
        aggs.append(F.greatest(F.max(F.col(c)), F.lit(0.0)).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = df
    for c in cols:
        lo, hi = float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"])
        if hi - lo == 0:
            out = out.withColumn(c, F.lit(0.0))
        else:
            out = out.withColumn(c, (F.col(c) - F.lit(lo)) / F.lit(hi - lo))
    return out


def low_metric_transform(df: DataFrame, cols: list) -> DataFrame:
    """LowMetricTransform.java:14-45 — x -> 1/max(x, 0.1)."""
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.pow(F.greatest(F.col(c).cast("double"), F.lit(0.1)), -1.0)
        )
    return out


def projection_matrix(n: int, k: int, seed: int = 42) -> np.ndarray:
    """RandomProjection.java:44-51 — k x n with entries ~ N(0, 1/n)."""
    rng = np.random.default_rng(seed)
    return rng.normal(0.0, np.sqrt(1.0 / n), size=(k, n))


def random_projection(
    df: DataFrame, feature_cols: list, k: int, seed: int = 42,
    prefix: str = "rp",
) -> DataFrame:
    """RandomProjection.java:20-66 as codegen expressions — one output
    column per projected dimension; no UDF, no shuffle."""
    m = projection_matrix(len(feature_cols), k, seed)
    out = df
    for j in range(k):
        expr = None
        for i, c in enumerate(feature_cols):
            term = F.col(c).cast("double") * F.lit(float(m[j, i]))
            expr = term if expr is None else expr + term
        out = out.withColumn(f"{prefix}{j}", expr)
    return out


# ---------------------------------------------------------------------------
# autocorrelation
# ---------------------------------------------------------------------------


def acf_fft(values: np.ndarray, max_lag: int) -> np.ndarray:
    """Autocorrelation.evaluate:56-70 — linear ACF via zero-padded FFT;
    returns correlations[0..max_lag) with [0] = 0 (the reference leaves
    index 0 unset)."""
    v = np.asarray(values, dtype=float)
    n = len(v)
    v = v - v.mean()
    pad = 1 << int(2 * n - 1).bit_length()
    fft = np.fft.fft(v, pad)
    r = np.fft.ifft(fft * np.conj(fft)).real
    out = np.zeros(max_lag)
    upto = min(max_lag, len(r))
    out[1:upto] = r[1:upto] / r[0]
    return out


def acf_peaks(correlations: np.ndarray, acf_thresh: float = 0.2) -> tuple:
    """Autocorrelation.findPeaks:72-99 — direction-flip peak walk."""
    peaks = []
    max_acf = 0.0
    c = correlations
    mx = 1
    if len(c) > 1:
        positive = c[1] > c[0]
        for i in range(2, len(c)):
            if not positive and c[i] > c[i - 1]:
                mx = i
                positive = not positive
            elif positive and c[i] > c[mx]:
                mx = i
            elif positive and c[i] < c[i - 1]:
                if mx > 1 and c[mx] > acf_thresh:
                    peaks.append(mx)
                    if c[mx] > max_acf:
                        max_acf = float(c[mx])
                positive = not positive
    return peaks, max_acf


def autocorrelation_df(
    df: DataFrame,
    key_cols: list,
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-key linear ACF (lags 1..max_lag-1) via one applyInPandas pass —
    each key's series is a bounded per-group state, keys hash-partition."""
    import pandas as pd

    keys = list(key_cols)
    schema = (
        ", ".join(f"`{k}` string" for k in keys)
        + (", " if keys else "")
        + "lag int, acf double"
    )

    def fn(pdf):
        pdf = pdf.sort_values(order_col)
        c = acf_fft(pdf[value_col].to_numpy(dtype=float), max_lag)
        out = pd.DataFrame(
            {"lag": np.arange(1, max_lag), "acf": c[1:max_lag]}
        )
        for k in reversed(keys):
            out.insert(0, k, str(pdf[k].iloc[0]))
        return out

    sel = df.select(
        *[F.col(k).cast("string").alias(k) for k in keys], order_col, value_col
    )
    grouped = sel.groupBy(*keys) if keys else sel.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(fn, schema)


# ---------------------------------------------------------------------------
# Gaussian (exact distributed fit + expression Mahalanobis)
# ---------------------------------------------------------------------------


def gaussian_fit(df: DataFrame, cols: list) -> tuple:
    """Gaussian.fit:29-46 — mean + UNBIASED covariance, from ONE aggregate
    of per-pair product sums (no sample collection; exact at any scale)."""
    k = len(cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"__s{i}"))
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(
                    F.col(cols[i]).cast("double") * F.col(cols[j]).cast("double")
                ).alias(f"__p{i}_{j}")
            )
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    mean = np.array([row[f"__s{i}"] / n for i in range(k)])
    cov = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            cov[i, j] = cov[j, i] = (
                row[f"__p{i}_{j}"] - n * mean[i] * mean[j]
            ) / (n - 1)
    try:
        inv = np.linalg.inv(cov)
        singular = False
    except np.linalg.LinAlgError:
        inv = np.linalg.pinv(cov)  # the SVD fallback (Gaussian.java:35-40)
        singular = True
    return mean, cov, inv, singular


def gaussian_mahalanobis(
    df: DataFrame, cols: list, mean: np.ndarray, inv: np.ndarray,
    score_col: str = "_SCORE",
) -> DataFrame:
    """Gaussian.mahalanobis:48-63 — diag + 2*offdiag quadratic form as
    codegen expressions (k is small; stays JVM-side)."""
    k = len(cols)
    deltas = [F.col(c).cast("double") - F.lit(float(mean[i])) for i, c in enumerate(cols)]
    expr = None
    for i in range(k):
        for j in range(i, k):
            coef = float(inv[i, j]) * (1.0 if i == j else 2.0)
            term = deltas[i] * deltas[j] * F.lit(coef)
            expr = term if expr is None else expr + term
    return df.withColumn(score_col, expr)


# ---------------------------------------------------------------------------
# SpaceSaving heavy hitters
# ---------------------------------------------------------------------------


class SpaceSaving:
    """SpaceSavingList.java:14-356 — capacity-bounded counters; a miss at
    capacity evicts a minimum-count counter and the new item inherits its
    count (the classic overreport bound: true <= est <= true + min)."""

    def __init__(self, max_size: int):
        self.max_size = max_size
        self.counts: dict = {}
        self._order = 0
        self._ins: dict = {}  # item -> recency stamp for the tie-break
        self.total_count = 0.0

    def observe(self, item, count: float = 1.0) -> None:
        self.total_count += count
        if item in self.counts:
            self.counts[item] += count
        elif len(self.counts) < self.max_size:
            self.counts[item] = count
            self._order += 1
            self._ins[item] = self._order
        else:
            # evict the most recently added minimum (head-of-group token)
            victim = min(
                self.counts, key=lambda i: (self.counts[i], -self._ins[i])
            )
            base = self.counts.pop(victim)
            self._ins.pop(victim)
            self.counts[item] = base + count
            self._order += 1
            self._ins[item] = self._order

    def multiply_all_counts(self, by: float) -> None:
        for k in self.counts:
            self.counts[k] *= by
        self.total_count *= by

    def get_count(self, item) -> float:
        if item in self.counts:
            return self.counts[item]
        return min(self.counts.values()) if self.counts else 0.0

    def get_counts(self) -> dict:
        return dict(self.counts)

    def get_total_count(self) -> float:
        return self.total_count


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

_RP_SEED = 42
_RPM = projection_matrix(2, 2, _RP_SEED)  # features (user_id, value)
_TRIM = 2.0

_LEGACY_ORACLE = f"""
WITH p AS (
  SELECT COUNT(*) AS n, AVG(value) AS m FROM events
),
v AS (
  SELECT SQRT(AVG(POW(p.m - e.value, 2))) AS sd FROM events e, p
),
srt AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS r FROM events
),
pos AS (
  SELECT {_TRIM} / 100.0 * (n + 1) AS plo,
         (100 - {_TRIM}) / 100.0 * (n + 1) AS phi, n
  FROM p
),
b AS (
  -- commons-math R-6 percentile: v[floor(pos)] + frac * (v[floor+1] - v)
  SELECT
    (SELECT CASE WHEN pos.plo < 1 THEN (SELECT MIN(value) FROM events)
                 WHEN pos.plo >= pos.n THEN (SELECT MAX(value) FROM events)
                 ELSE (SELECT s1.value + (pos.plo - FLOOR(pos.plo))
                              * (s2.value - s1.value)
                       FROM srt s1 JOIN srt s2 ON s2.r = s1.r + 1
                       WHERE s1.r = CAST(FLOOR(pos.plo) AS BIGINT)) END
     FROM pos) AS lo,
    (SELECT CASE WHEN pos.phi < 1 THEN (SELECT MIN(value) FROM events)
                 WHEN pos.phi >= pos.n THEN (SELECT MAX(value) FROM events)
                 ELSE (SELECT s1.value + (pos.phi - FLOOR(pos.phi))
                              * (s2.value - s1.value)
                       FROM srt s1 JOIN srt s2 ON s2.r = s1.r + 1
                       WHERE s1.r = CAST(FLOOR(pos.phi) AS BIGINT)) END
     FROM pos) AS hi
),
nrm AS (
  SELECT LEAST(MIN(value), 0.0) AS nlo, GREATEST(MAX(value), 0.0) AS nhi
  FROM events
)
SELECT e.event_id,
       ROUND(ABS(e.value - p.m) / v.sd, 6) AS zscore,
       ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS winsorized,
       ROUND(POW(GREATEST(e.value, 0.1), -1.0), 6) AS low_t,
       ROUND((e.value - nrm.nlo) / (nrm.nhi - nrm.nlo), 6) AS normalized,
       ROUND(CAST(e.user_id AS DOUBLE) * {float(_RPM[0, 0])!r}
             + e.value * {float(_RPM[0, 1])!r}, 6) AS rp0,
       ROUND(CAST(e.user_id AS DOUBLE) * {float(_RPM[1, 0])!r}
             + e.value * {float(_RPM[1, 1])!r}, 6) AS rp1
FROM events e, p, v, b, nrm
ORDER BY e.event_id
"""


@register("legacy_transforms_events", _LEGACY_ORACLE)
def legacy_transforms_events(spark, sf_dir: str) -> DataFrame:
    """The legacy transform family over events in one relation: ZScore,
    Winsorizer (2%), LowMetricTransform, LinearMetricNormalizer (with the
    zero-extrema quirk), and a seeded 2x2 RandomProjection of
    (user_id, value) — every transform replayed in the oracle SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    zs = z_score(ev, "value", "zscore")
    win = winsorize(zs.withColumn("winsorized", F.col("value")), ["winsorized"], _TRIM)
    low = low_metric_transform(
        win.withColumn("low_t", F.col("value")), ["low_t"]
    )
    nrm = linear_normalize(
        low.withColumn("normalized", F.col("value")), ["normalized"]
    )
    rp = random_projection(nrm, ["user_id", "value"], 2, _RP_SEED)
    return rp.select(
        "event_id",
        F.round("zscore", 6).alias("zscore"),
        F.round("winsorized", 6).alias("winsorized"),
        F.round("low_t", 6).alias("low_t"),
        F.round("normalized", 6).alias("normalized"),
        F.round("rp0", 6).alias("rp0"),
        F.round("rp1", 6).alias("rp1"),
    )


_ACF_LAG = 16

_ACF_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         value - AVG(value) OVER (PARTITION BY event_type) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events
),
lags AS (SELECT UNNEST(RANGE(1, {_ACF_LAG})) AS lag),
r0 AS (SELECT event_type, SUM(v * v) AS r FROM s GROUP BY event_type),
rt AS (
  SELECT a.event_type, l.lag, SUM(a.v * b.v) AS r
  FROM s a
  JOIN lags l ON TRUE
  JOIN s b ON b.event_type = a.event_type AND b.rn = a.rn + l.lag
  GROUP BY a.event_type, l.lag
)
SELECT rt.event_type, CAST(rt.lag AS INT) AS lag,
       ROUND(rt.r / r0.r, 6) AS acf
FROM rt JOIN r0 USING (event_type)
ORDER BY event_type, lag
"""


@register("autocorr_events", _ACF_ORACLE)
def autocorr_events(spark, sf_dir: str) -> DataFrame:
    """Per-event-type linear autocorrelation (lags 1..15) of the value
    series in event_id order — the FFT rendering vs the oracle's direct
    lagged-product sums (identical up to fp round-off; both round to 6)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = autocorrelation_df(ev, ["event_type"], "event_id", "value", _ACF_LAG)
    return res.select(
        "event_type", F.col("lag").cast("int").alias("lag"),
        F.round("acf", 6).alias("acf"),
    )


_GAUSS_DIMS = 8


@artifact("gaussian_model", 1)
def gaussian_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize (i, j, p, mu_i, mu_j) — p the inverse covariance — for
    the SQL quadratic form."""
    from macrobase_spark.operators.detectors import array_col_to_features

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_GAUSS_DIMS)]
    df = array_col_to_features(emb, "embedding", _GAUSS_DIMS)
    mean, _, inv, _ = gaussian_fit(df, feats)
    rows = [
        (i, j, float(inv[i, j]), float(mean[i]), float(mean[j]))
        for i in range(_GAUSS_DIMS)
        for j in range(_GAUSS_DIMS)
    ]
    spark.createDataFrame(
        rows, "i int, j int, p double, mu_i double, mu_j double"
    ).coalesce(1).write.parquet(out)


def load_gaussian_model(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """(mean, inverse covariance) back from the materialized relation, so
    callers never fit twice."""
    mean = np.zeros(_GAUSS_DIMS)
    inv = np.zeros((_GAUSS_DIMS, _GAUSS_DIMS))
    for r in spark.read.parquet(path).toPandas().itertuples(index=False):
        inv[r.i, r.j] = r.p
        mean[r.i] = r.mu_i
    return mean, inv


_GM = gaussian_model_parquet.scan()

_GAUSS_ORACLE = f"""
WITH m AS (SELECT * FROM {_GM}),
terms AS (
  SELECT e.vec_id,
         (CAST(e.embedding[m.i + 1] AS DOUBLE) - m.mu_i) * m.p *
         (CAST(e.embedding[m.j + 1] AS DOUBLE) - m.mu_j) AS term
  FROM embeddings e CROSS JOIN m),
sc AS (SELECT vec_id, SUM(term) AS s FROM terms GROUP BY vec_id)
SELECT vec_id, ROUND(s, 5) AS score
FROM sc ORDER BY s DESC, vec_id LIMIT 20
"""


@register("gaussian_mahalanobis_embeddings", _GAUSS_ORACLE)
def gaussian_mahalanobis_embeddings(spark, sf_dir: str) -> DataFrame:
    """20 largest Mahalanobis distances under the exact-fit Gaussian
    (legacy Gaussian.java) — the oracle evaluates the quadratic form over
    the materialized (mean, inverse-covariance) relation."""
    from macrobase_spark.operators.detectors import array_col_to_features

    mean, inv = load_gaussian_model(spark, gaussian_model_parquet(spark, sf_dir))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = [f"_f{i}" for i in range(_GAUSS_DIMS)]
    df = array_col_to_features(emb, "embedding", _GAUSS_DIMS)
    scored = gaussian_mahalanobis(df, feats, mean, inv)
    return scored.orderBy(F.desc("_SCORE"), "vec_id").limit(20).select(
        "vec_id", F.round("_SCORE", 5).alias("score")
    )
