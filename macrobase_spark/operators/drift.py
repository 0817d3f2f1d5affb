"""Histogram drift: the distribution-level complement to the suite's
MAD-over-group-medians drift check (checks.py), on numeric metrics (dur_ms,
sr_hz) and categorical columns (codec).

A reference `Histogram` is fit once — `fit_bins`: quantile edges plus the
row count of every bin; `fit_categories`: the top-K categories plus one
bucket pooling the rest — and baked into the comparison plan as literals.
`histogram_drift` then puts one conditional counter per bucket into a
single groupBy(group_cols) aggregate and scores each group's counts
against the reference with stateless arithmetic:

- psi  = Σ (a_i − e_i)·ln(a_i / e_i), shares floored at 1e-6; PSI ≥ 0.2 is
  the conventional "significant shift" bar;
- ks_d = max_j |CDF_g(e_j) − CDF_ref(e_j)| at the edges — on the quantile
  grid a deterministic lower bound of the exact two-sample KS statistic
  that tightens as n_bins grows (exact KS needs the distinct-value grid, a
  |groups|×|values| blowup);
- w1   = Σ_j |CDF_g(e_j) − CDF_ref(e_j)|·(e_{j+1} − e_j), Wasserstein-1 over
  the interior edge span, in the METRIC'S OWN UNITS (milliseconds of
  shifted duration) — the quantity a data-quality SLA can bound;
- chi2 = n·Σ (a_i − e_i)² / e_i, the raw Pearson statistic (df = k − 1).

One plan serves every drift form. "Vs global" fits the reference on the
frame itself (the planted aac duration drift, sources/clips.py dur_ms × 3,
scores far above the bar while clean codecs sit near 0); a two-snapshot
monitor fits it on a reference frame (train table vs incoming batch); and
`window=(time_col, duration)` adds an event-time window key, so a stream
whose caller set `withWatermark` runs the same aggregate in append mode
(state = |windows|×|groups| rows of B counters). Bin assignment is a chain
of codegen'd comparisons — no UDF; the only shuffle is the one
partial-aggregated groupBy. The reference CDF is cumulative integer counts
over the total, so vs-global rows equal the oracles' dense groups × bins
grid bit for bit.

Exact `percentile` edges here so the DuckDB oracles match bit-for-bit;
swap `approx_percentile` at 10^12 rows.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import reduce
from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.clips_suite import scored_parquet
from macrobase_spark.queries import register

EPS = 1e-6
STATS = ("psi", "ks_d", "w1", "chi2")


def quantile_edges(df: DataFrame, metric: str, n_bins: int = 10) -> list[float]:
    """Global interior quantile edges (n_bins−1 cut points). Exact
    percentile (R-7, matches DuckDB quantile_cont); use approx_percentile
    for cluster-scale inputs."""
    ps = [k / n_bins for k in range(1, n_bins)]
    row = df.agg(F.percentile(metric, ps).alias("qs")).collect()[0]
    return [float(x) for x in row["qs"]]


@dataclass(frozen=True)
class Histogram:
    """A reference histogram of `column`: `counts[b]` rows in bucket b.

    Numeric (`edges`, the B−1 interior cut points): bucket = the number of
    edges below the value; a NULL value falls in no bucket. Categorical
    (`categories`): bucket i is categories[i], and the last bucket pools
    every other value and NULL."""

    column: str
    counts: tuple[int, ...]
    edges: tuple[float, ...] | None = None
    categories: tuple[str, ...] | None = None

    def bucket(self) -> Column:
        if self.edges is not None:
            v = F.col(self.column)
            return reduce(lambda acc, e: acc + (v > F.lit(e)).cast("int"), self.edges, F.lit(0))
        cat = F.col(self.column).cast("string")
        return reduce(
            lambda acc, ic: F.when(cat == F.lit(ic[1]), ic[0]).otherwise(acc),
            reversed(list(enumerate(self.categories))),
            F.lit(len(self.categories)),
        )

    @property
    def shares(self) -> list[float]:
        total = sum(self.counts)
        return [c / total for c in self.counts]

    @property
    def cdf(self) -> list[float]:
        total = sum(self.counts)
        return [c / total for c in accumulate(self.counts)]


def fit_bins(
    df: DataFrame, metric: str, n_bins: int, edges: list[float] | None = None
) -> Histogram:
    """Fit a numeric reference on `df`: `edges` (default: its exact quantile
    cut points, one job) and every bin's row count (one |bins|-row job)."""
    if edges is None:
        edges = quantile_edges(df, metric, n_bins)
    elif len(edges) != n_bins - 1:
        raise ValueError(f"need {n_bins - 1} edges for {n_bins} bins, got {len(edges)}")
    hist = Histogram(metric, (), edges=tuple(edges))
    got = dict(df.groupBy(hist.bucket().alias("b")).count().collect())
    return replace(hist, counts=tuple(got.get(b, 0) for b in range(n_bins)))


def fit_categories(df: DataFrame, column: str, top_k: int) -> Histogram:
    """Fit a categorical reference on `df`: the `top_k` most frequent values
    of `column` (ties broken by value, so the fit is deterministic) plus one
    bucket for everything else and NULL. The top-K bound runs inside the
    Spark job, so at 10^12 rows only k rows reach the driver."""
    top = [
        r
        for r in df.groupBy(F.col(column).cast("string").alias("cat"))
        .count()
        .orderBy(F.desc("count"), F.asc_nulls_last("cat"))
        .limit(top_k)
        .collect()
        if r["cat"] is not None
    ]
    other = df.count() - sum(r["count"] for r in top)
    return Histogram(
        column,
        (*(r["count"] for r in top), other),
        categories=tuple(r["cat"] for r in top),
    )


def histogram_drift(
    df: DataFrame,
    group_cols: list[str],
    ref: Histogram,
    stats: list[str],
    window: tuple[str, str] | None = None,
) -> DataFrame:
    """Score every group's histogram of `ref.column` in `df` against `ref`
    with `stats` (a subset of STATS; w1 needs numeric edges).

    ONE groupBy(group_cols) aggregate of per-bucket conditional counters,
    then stateless arithmetic. `window=(time_col, duration)` also groups by
    the event-time window; on a stream, set the watermark on `df` first.
    Returns ([ws, we,] group_cols…, n, *stats), each stat rounded to 6 dp;
    threshold flags are the caller's comparison columns."""
    unknown = set(stats) - set(STATS)
    if unknown or ("w1" in stats and ref.edges is None):
        raise ValueError(f"stats must be drawn from {STATS} (w1 needs edges), got {stats}")
    keys = (["w"] if window else []) + list(group_cols)
    binned = df.select(
        *([F.window(*window).alias("w")] if window else []),
        *group_cols,
        ref.bucket().alias("_bin"),
    )
    agg = binned.groupBy(*keys).agg(
        *[F.sum((F.col("_bin") == b).cast("long")).alias(f"c{b}") for b in range(len(ref.counts))]
    )
    c = [F.col(f"c{b}") for b in range(len(ref.counts))]
    n = sum(c)
    a = [F.greatest(cb / n, F.lit(EPS)) for cb in c]
    e = [F.lit(max(s, EPS)) for s in ref.shares]
    # |CDF_g − CDF_ref| at every edge (the last bucket's gap is 0)
    gaps = [F.abs(cum / n - F.lit(r)) for cum, r in zip(accumulate(c), ref.cdf)]
    edges = ref.edges or ()
    formulas = {
        "psi": sum((ai - ei) * F.log(ai / ei) for ai, ei in zip(a, e)),
        "ks_d": F.greatest(*gaps) if len(gaps) > 1 else gaps[0],
        "w1": sum((g * F.lit(hi - lo) for g, lo, hi in zip(gaps, edges, edges[1:])), F.lit(0.0)),
        "chi2": sum((cb / n - F.lit(s)) ** 2 / ei for cb, s, ei in zip(c, ref.shares, e)) * n,
    }
    return agg.select(
        *([F.col("w.start").alias("ws"), F.col("w.end").alias("we")] if window else []),
        *group_cols,
        n.cast("long").alias("n"),
        *[F.round(formulas[s], 6).alias(s) for s in stats],
    )


_S = scored_parquet.scan()


def _dur_drift(spark, sf_dir: str, n_bins: int, stat: str, bar: float) -> DataFrame:
    """`stat` of dur_ms by codec against the whole scored relation, flagged
    at `bar`."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    ref = fit_bins(scored, "dur_ms", n_bins)
    return histogram_drift(scored, ["codec"], ref, [stat]).withColumn(
        "drifted", F.col(stat) >= bar
    )


@register(
    "psi_drift_clips",
    f"""
    WITH e AS (
      SELECT unnest(quantile_cont(dur_ms, [
        0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9
      ])) AS edge FROM {_S}
    ),
    binned AS (
      SELECT codec,
             (SELECT CAST(count(*) FILTER (s.dur_ms > e.edge) AS INT) FROM e) AS bin
      FROM {_S} s
    ),
    gshare AS (
      SELECT bin, count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM binned) AS e
      FROM binned GROUP BY bin
    ),
    groups AS (SELECT codec, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY codec),
    counts AS (SELECT codec, bin, count(*) AS c FROM binned GROUP BY codec, bin),
    dense AS (
      SELECT g.codec, g.n, gs.bin, coalesce(c.c, 0) AS c, gs.e
      FROM groups g CROSS JOIN gshare gs
      LEFT JOIN counts c ON c.codec = g.codec AND c.bin = gs.bin
    )
    SELECT codec, n,
           round(sum((greatest(c / CAST(n AS DOUBLE), 1e-6) - greatest(e, 1e-6))
                     * ln(greatest(c / CAST(n AS DOUBLE), 1e-6) / greatest(e, 1e-6))), 6)
             AS psi,
           round(sum((greatest(c / CAST(n AS DOUBLE), 1e-6) - greatest(e, 1e-6))
                     * ln(greatest(c / CAST(n AS DOUBLE), 1e-6) / greatest(e, 1e-6))), 6)
             >= 0.2 AS drifted
    FROM dense GROUP BY codec, n
    """,
)
def psi_drift_clips_q(spark, sf_dir):
    """PSI of dur_ms by codec over the scored clips relation — recovers the
    planted aac duration drift (×3) as the only flagged group."""
    return _dur_drift(spark, sf_dir, 10, "psi", 0.2)


@register(
    "ks_drift_clips",
    f"""
    WITH e AS (
      SELECT unnest(quantile_cont(dur_ms, [
        0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5,
        0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95
      ])) AS edge FROM {_S}
    ),
    binned AS (
      SELECT codec,
             (SELECT CAST(count(*) FILTER (s.dur_ms > e.edge) AS INT) FROM e) AS bin
      FROM {_S} s
    ),
    gtot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM binned),
    gcnt AS (SELECT bin, count(*) AS gc FROM binned GROUP BY bin),
    groups AS (SELECT codec, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY codec),
    counts AS (SELECT codec, bin, count(*) AS c FROM binned GROUP BY codec, bin),
    dense AS (
      SELECT g.codec, g.n, gc.bin, coalesce(c.c, 0) AS c, gc.gc
      FROM groups g CROSS JOIN gcnt gc
      LEFT JOIN counts c ON c.codec = g.codec AND c.bin = gc.bin
    ),
    cum AS (
      SELECT codec, n,
             sum(c)  OVER (PARTITION BY codec ORDER BY bin) / CAST(n AS DOUBLE) AS cum_a,
             sum(gc) OVER (PARTITION BY codec ORDER BY bin) / (SELECT t FROM gtot) AS cum_e
      FROM dense
    )
    SELECT codec, n,
           round(max(abs(cum_a - cum_e)), 6) AS ks_d,
           round(max(abs(cum_a - cum_e)), 6) >= 0.1 AS drifted
    FROM cum GROUP BY codec, n
    """,
)
def ks_drift_clips_q(spark, sf_dir):
    """Quantile-grid KS of dur_ms by codec over the scored clips relation —
    flags the planted aac duration drift (×3) like PSI, via CDF distance."""
    return _dur_drift(spark, sf_dir, 20, "ks_d", 0.1)


@register(
    "w1_drift_clips",
    f"""
    WITH e AS (
      SELECT unnest(quantile_cont(dur_ms, [
        0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5,
        0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95
      ])) AS edge FROM {_S}
    ),
    widths AS (
      SELECT row_number() OVER (ORDER BY edge) - 1 AS bin,
             coalesce(lead(edge) OVER (ORDER BY edge) - edge, 0.0) AS wd
      FROM e
    ),
    binned AS (
      SELECT codec,
             (SELECT CAST(count(*) FILTER (s.dur_ms > e.edge) AS INT) FROM e) AS bin
      FROM {_S} s
    ),
    gtot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM binned),
    gcnt AS (
      SELECT b.bin, count(x.bin) AS gc
      FROM (SELECT CAST(range AS INT) AS bin FROM range(20)) b
      LEFT JOIN binned x ON x.bin = b.bin GROUP BY b.bin
    ),
    groups AS (SELECT codec, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY codec),
    counts AS (SELECT codec, bin, count(*) AS c FROM binned GROUP BY codec, bin),
    dense AS (
      SELECT g.codec, g.n, gc.bin, coalesce(c.c, 0) AS c, gc.gc,
             coalesce(w.wd, 0.0) AS wd
      FROM groups g CROSS JOIN gcnt gc
      LEFT JOIN counts c ON c.codec = g.codec AND c.bin = gc.bin
      LEFT JOIN widths w ON w.bin = gc.bin
    ),
    cum AS (
      SELECT codec, n, wd,
             sum(c)  OVER (PARTITION BY codec ORDER BY bin) / CAST(n AS DOUBLE) AS cum_a,
             sum(gc) OVER (PARTITION BY codec ORDER BY bin) / (SELECT t FROM gtot) AS cum_e
      FROM dense
    )
    SELECT codec, n,
           round(sum(abs(cum_a - cum_e) * wd), 6) AS w1,
           round(sum(abs(cum_a - cum_e) * wd), 6) >= 50.0 AS drifted
    FROM cum GROUP BY codec, n
    """,
)
def w1_drift_clips_q(spark, sf_dir):
    """Quantile-grid Wasserstein-1 of dur_ms by codec over the scored clips
    relation — reports the planted aac duration drift (×3) in
    MILLISECONDS of shifted duration mass. The oracle's grid spans every
    bin, populated or not, as the kernel's counters do."""
    return _dur_drift(spark, sf_dir, 20, "w1", 50.0)


@register(
    "snapshot_drift_clips",
    f"""
    WITH ref AS (SELECT dur_ms FROM {_S} WHERE codec = 'opus'),
    e AS (
      SELECT unnest(quantile_cont(dur_ms, [
        0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9
      ])) AS edge FROM ref
    ),
    rb AS (
      SELECT (SELECT CAST(count(*) FILTER (r.dur_ms > e.edge) AS INT) FROM e) AS bin
      FROM ref r
    ),
    rshare AS (
      SELECT bin, count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM rb) AS share
      FROM rb GROUP BY bin
    ),
    cb AS (
      SELECT codec,
             (SELECT CAST(count(*) FILTER (s.dur_ms > e.edge) AS INT) FROM e) AS bin
      FROM {_S} s
    ),
    counts AS (SELECT codec, bin, count(*) AS c FROM cb GROUP BY codec, bin),
    groups AS (SELECT codec, CAST(count(*) AS BIGINT) AS n FROM cb GROUP BY codec),
    dense AS (
      SELECT g.codec, g.n, rs.bin, rs.share AS e, coalesce(c.c, 0) AS c
      FROM groups g CROSS JOIN rshare rs
      LEFT JOIN counts c ON c.codec = g.codec AND c.bin = rs.bin
    ),
    scored AS (
      SELECT codec, n,
             round(sum((greatest(c / CAST(n AS DOUBLE), 1e-6) - greatest(e, 1e-6))
                       * ln(greatest(c / CAST(n AS DOUBLE), 1e-6) / greatest(e, 1e-6))), 6)
               AS psi,
             round(max(CASE WHEN bin < 9 THEN abs(cum_c / CAST(n AS DOUBLE) - cum_e) END), 6)
               AS ks_d
      FROM (
        SELECT *,
               sum(c) OVER (PARTITION BY codec ORDER BY bin) AS cum_c,
               sum(e) OVER (PARTITION BY codec ORDER BY bin) AS cum_e
        FROM dense
      ) GROUP BY codec, n
    )
    SELECT codec, n, psi, ks_d,
           psi >= 0.2 AS psi_drifted, ks_d >= 0.1 AS ks_drifted
    FROM scored
    """,
)
def snapshot_drift_clips_q(spark, sf_dir):
    """Two-snapshot drift demo: reference = the majority codec's (opus)
    duration distribution; current = every codec. The planted aac ×3
    duration drift flags on both PSI and KS; clean codecs stay quiet."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    ref = fit_bins(scored.filter(F.col("codec") == "opus"), "dur_ms", 10)
    return histogram_drift(scored, ["codec"], ref, ["psi", "ks_d"]).withColumns(
        {"psi_drifted": F.col("psi") >= 0.2, "ks_drifted": F.col("ks_d") >= 0.1}
    )


@register(
    "categorical_drift_clips",
    f"""
    WITH s AS (SELECT * FROM {_S}),
    ref AS (
      SELECT codec AS cat, count(*) / CAST((SELECT count(*) FROM s) AS DOUBLE) AS share
      FROM s GROUP BY codec
    ),
    cur AS (
      SELECT (NOT decode_ok) AS failed, codec AS cat, count(*) AS c
      FROM s GROUP BY failed, codec
    ),
    tot AS (SELECT failed, sum(c) AS n FROM cur GROUP BY failed),
    dense AS (
      SELECT t.failed, t.n, r.share AS e, coalesce(c.c, 0) AS c
      FROM tot t CROSS JOIN ref r
      LEFT JOIN cur c ON c.failed = t.failed AND c.cat = r.cat
    )
    SELECT failed, CAST(n AS BIGINT) AS n,
           round(sum((greatest(c / CAST(n AS DOUBLE), 1e-6) - greatest(e, 1e-6))
                     * ln(greatest(c / CAST(n AS DOUBLE), 1e-6) / greatest(e, 1e-6))), 6) AS psi,
           round(sum(pow(c / CAST(n AS DOUBLE) - e, 2) / greatest(e, 1e-6)) * n, 6) AS chi2,
           sum((greatest(c / CAST(n AS DOUBLE), 1e-6) - greatest(e, 1e-6))
               * ln(greatest(c / CAST(n AS DOUBLE), 1e-6) / greatest(e, 1e-6))) >= 0.2 AS psi_drifted
    FROM dense GROUP BY failed, n
    ORDER BY failed
    """,
)
def categorical_drift_clips_q(spark, sf_dir):
    """Codec-histogram drift of failing vs passing clips against the full
    table's codec shares: the planted flac-correlated corruption
    (sources/clips.py `_is_corrupt`: codec='flac' AND id%13==3) makes the
    failing population flac-heavy, so the failed group's codec histogram
    drifts hard while the passing group's stays at the reference."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    ref = fit_categories(scored, "codec", 50)
    cur = scored.withColumn("failed", ~F.col("decode_ok"))
    return (
        histogram_drift(cur, ["failed"], ref, ["psi", "chi2"])
        .withColumn("psi_drifted", F.col("psi") >= 0.2)
        .orderBy("failed")
    )
