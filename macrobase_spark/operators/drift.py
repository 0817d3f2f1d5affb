"""PSI (population stability index) histogram drift — the distribution-level
complement to the suite's MAD-over-group-medians drift check (checks.py).

For a metric column and a grouping (e.g. dur_ms by codec): bin the metric on
the GLOBAL quantile edges, compare each group's bin-share vector a_i to the
global share vector e_i, and score PSI = Σ (a_i − e_i)·ln(a_i / e_i).
PSI ≥ 0.2 is the conventional "significant shift" bar; the planted aac
duration drift (sources/clips.py: dur_ms × 3) scores far above it while the
clean codecs sit near 0.

Scale design: two partial-agg shuffles, both tiny after the map side —
(1) one pass for the global edges (exact `percentile` here so the DuckDB
oracle matches bit-for-bit; swap `approx_percentile` at 10^12 rows — the
t-digest sketch path the column-stats check already uses), (2) one
groupBy(group, bin) count whose output is |groups|×|bins| rows. The bin
assignment is a chain of codegen'd comparisons against broadcast scalar
edges — no UDF, no shuffle. Densification (groups × bins grid) happens on
the already-tiny aggregate.

Reference parity: the reference engine's drift analogue is the classify →
summarize pipeline over batch metrics; PSI serves the build brief's
"distribution-drift detection on dur_ms/sr_hz/codec histograms" contract.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.clips_suite import scored_parquet
from macrobase_spark.queries import register

EPS = 1e-6


def quantile_edges(df: DataFrame, metric: str, n_bins: int = 10) -> list[float]:
    """Global interior quantile edges (n_bins−1 cut points). Exact
    percentile (R-7, matches DuckDB quantile_cont); use approx_percentile
    for cluster-scale inputs."""
    ps = [k / n_bins for k in range(1, n_bins)]
    row = df.agg(F.percentile(metric, ps).alias("qs")).collect()[0]
    return [float(x) for x in row["qs"]]


def _bin_expr(metric: str, edges: list[float]):
    return reduce(
        lambda acc, e: acc + (F.col(metric) > F.lit(e)).cast("int"),
        edges,
        F.lit(0),
    ).alias("bin")


def psi_drift(
    df: DataFrame,
    metric: str,
    group_cols: list[str],
    n_bins: int = 10,
    min_psi: float = 0.2,
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-group PSI of `metric` against the global distribution.

    Returns (group_cols…, n, psi, drifted) — one row per group, psi rounded
    to 6 dp, drifted = psi ≥ min_psi."""
    if edges is None:
        edges = quantile_edges(df, metric, n_bins)
    binned = df.select(*group_cols, _bin_expr(metric, edges))
    counts = binned.groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("c"))
    # global bin shares (e_i) — |bins| rows, broadcast into the join
    gtot = binned.count()
    gshare = (
        binned.groupBy("bin")
        .agg((F.count(F.lit(1)) / F.lit(float(gtot))).alias("e"))
    )
    # densify: every group × every bin (both sides are tiny aggregates)
    groups = counts.groupBy(*group_cols).agg(F.sum("c").alias("n"))
    grid = groups.crossJoin(F.broadcast(gshare.select("bin")))
    dense = (
        grid.join(counts, [*group_cols, "bin"], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(gshare), "bin")
    )
    a = F.greatest(F.col("c") / F.col("n"), F.lit(EPS))
    e = F.greatest(F.col("e"), F.lit(EPS))
    return (
        dense.groupBy(*group_cols, "n")
        .agg(F.round(F.sum((a - e) * F.log(a / e)), 6).alias("psi"))
        .select(
            *group_cols,
            F.col("n").cast("long").alias("n"),
            "psi",
            (F.col("psi") >= F.lit(min_psi)).alias("drifted"),
        )
    )


_S = scored_parquet.scan()


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
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return psi_drift(scored, "dur_ms", ["codec"], n_bins=10, min_psi=0.2)


def ks_drift(
    df: DataFrame,
    metric: str,
    group_cols: list[str],
    n_bins: int = 20,
    min_d: float = 0.1,
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov drift of `metric` vs the
    global distribution, evaluated on the global quantile grid.

    D_g = max over grid cut points x of |CDF_g(x) − CDF_global(x)|. On the
    quantile grid this is a deterministic lower bound of the exact KS
    statistic that tightens as n_bins grows; exact KS needs the full
    distinct-value grid (|groups|×|values| blowup — wrong at 10^12 rows),
    while the grid version reuses PSI's shape: one edges pass, one
    groupBy(group, bin) count, then window cumsums over the already-tiny
    |groups|×|bins| aggregate. Complements PSI: KS is sensitive to
    location/shape shifts even when per-bin shares stay small.

    Returns (group_cols…, n, ks_d, drifted) — drifted = ks_d ≥ min_d.
    """
    from pyspark.sql import Window

    if edges is None:
        edges = quantile_edges(df, metric, n_bins)
    binned = df.select(*group_cols, _bin_expr(metric, edges))
    counts = binned.groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("c"))
    gtot = binned.count()
    gcnt = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("gc"))
    groups = counts.groupBy(*group_cols).agg(F.sum("c").alias("n"))
    grid = groups.crossJoin(F.broadcast(gcnt.select("bin")))
    dense = (
        grid.join(counts, [*group_cols, "bin"], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(gcnt), "bin")
    )
    w = Window.partitionBy(*group_cols).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dense.select(
        *group_cols,
        "n",
        (F.sum("c").over(w) / F.col("n")).alias("cum_a"),
        (F.sum("gc").over(w) / F.lit(float(gtot))).alias("cum_e"),
    )
    return (
        cum.groupBy(*group_cols, "n")
        .agg(F.round(F.max(F.abs(F.col("cum_a") - F.col("cum_e"))), 6).alias("ks_d"))
        .select(
            *group_cols,
            F.col("n").cast("long").alias("n"),
            "ks_d",
            (F.col("ks_d") >= F.lit(min_d)).alias("drifted"),
        )
    )


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
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return ks_drift(scored, "dur_ms", ["codec"], n_bins=20, min_d=0.1)


def w1_drift(
    df: DataFrame,
    metric: str,
    group_cols: list[str],
    n_bins: int = 20,
    min_w1: float = 50.0,
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-group Wasserstein-1 (earth-mover) drift of `metric` vs the
    global distribution, on the global quantile grid.

    W1 = ∫|CDF_g − CDF_global| dt, discretized over the interior edge
    span: Σ_j |CDF_g(e_j) − CDF_global(e_j)|·(e_{j+1} − e_j). Unlike KS
    (max CDF gap, unitless) and PSI (log-share divergence), W1 reads in
    the METRIC'S OWN UNITS (here: milliseconds of duration shifted) —
    the quantity a data-quality SLA can actually bound. Same plan shape
    as ks_drift: one edges pass, one groupBy(group, bin) count, window
    cumsums over the tiny |groups|×|bins| aggregate; the edge widths
    enter as a broadcast literal array. Exact-percentile edges here so
    the DuckDB oracle matches; swap approx_percentile at cluster scale.

    Returns (group_cols…, n, w1, drifted) — drifted = w1 ≥ min_w1.
    """
    from pyspark.sql import Window

    if edges is None:
        edges = quantile_edges(df, metric, n_bins)
    widths = [edges[j + 1] - edges[j] for j in range(len(edges) - 1)]
    binned = df.select(*group_cols, _bin_expr(metric, edges))
    counts = binned.groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("c"))
    gtot = binned.count()
    gcnt = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("gc"))
    groups = counts.groupBy(*group_cols).agg(F.sum("c").alias("n"))
    grid = groups.crossJoin(F.broadcast(gcnt.select("bin")))
    dense = (
        grid.join(counts, [*group_cols, "bin"], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(gcnt), "bin")
    )
    w = Window.partitionBy(*group_cols).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # bin b's cumulative share is the CDF at edge e_{b+1}; its weight is
    # the span to the next edge (0 past the last interior edge)
    warr = F.array(*[F.lit(float(x)) for x in widths])
    cum = dense.select(
        *group_cols,
        "n",
        (F.sum("c").over(w) / F.col("n")).alias("cum_a"),
        (F.sum("gc").over(w) / F.lit(float(gtot))).alias("cum_e"),
        F.coalesce(F.try_element_at(warr, F.col("bin") + 1), F.lit(0.0)).alias("wd"),
    )
    return (
        cum.groupBy(*group_cols, "n")
        .agg(
            F.round(
                F.sum(F.abs(F.col("cum_a") - F.col("cum_e")) * F.col("wd")), 6
            ).alias("w1")
        )
        .select(
            *group_cols,
            F.col("n").cast("long").alias("n"),
            "w1",
            (F.col("w1") >= F.lit(min_w1)).alias("drifted"),
        )
    )


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
    gcnt AS (SELECT bin, count(*) AS gc FROM binned GROUP BY bin),
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
    MILLISECONDS of shifted duration mass."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return w1_drift(scored, "dur_ms", ["codec"], n_bins=20, min_w1=50.0)


def snapshot_shares(
    ref_df: DataFrame, metric: str, n_bins: int = 10
) -> tuple[list[float], list[float]]:
    """Fit (edges, bin shares) of `metric` on a reference snapshot — the
    train-time distribution a monitor compares incoming batches against.
    Two tiny jobs (quantile pass + one |bins|-row aggregate); the result is
    baked into the comparison plan as broadcast literals."""
    edges = quantile_edges(ref_df, metric, n_bins)
    rb = ref_df.select(_bin_expr(metric, edges))
    rn = rb.count()
    cnt = {
        r["bin"]: r["c"]
        for r in rb.groupBy("bin").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    return edges, [cnt.get(b, 0) / rn for b in range(n_bins)]


def snapshot_drift(
    ref_df: DataFrame,
    cur_df: DataFrame,
    metric: str,
    group_cols: list[str],
    n_bins: int = 10,
    min_psi: float = 0.2,
    min_d: float = 0.1,
    edges: list[float] | None = None,
    ref_shares: list[float] | None = None,
) -> DataFrame:
    """Two-snapshot drift: PSI and quantile-grid KS of the CURRENT
    DataFrame's `metric` distribution (per group) against a REFERENCE
    snapshot — the production monitor form (train table vs incoming batch),
    where psi_drift/ks_drift compare groups against their own pooled
    global.

    One shuffle over the current table: per-bin conditional counters inside
    a single groupBy(group_cols) aggregate (the windowed_psi shape without
    the window); PSI and the KS maximum are stateless arithmetic against
    the broadcast reference shares. Returns
    (group_cols…, n, psi, ks_d, psi_drifted, ks_drifted)."""
    if edges is None or ref_shares is None:
        edges, ref_shares = snapshot_shares(ref_df, metric, n_bins)
    n_bins = len(ref_shares)
    binned = cur_df.select(*group_cols, _bin_expr(metric, edges))
    bin_counts = [
        F.sum((F.col("bin") == b).cast("long")).alias(f"c{b}") for b in range(n_bins)
    ]
    agg = binned.groupBy(*group_cols).agg(*bin_counts)
    n = sum(F.col(f"c{b}") for b in range(n_bins))
    psi = sum(
        (
            F.greatest(F.col(f"c{b}") / n, F.lit(EPS))
            - F.lit(max(ref_shares[b], EPS))
        )
        * F.log(
            F.greatest(F.col(f"c{b}") / n, F.lit(EPS))
            / F.lit(max(ref_shares[b], EPS))
        )
        for b in range(n_bins)
    )
    ref_cum = 0.0
    obs_cum = None
    diffs = []
    for b in range(n_bins - 1):
        ref_cum += ref_shares[b]
        obs_cum = F.col(f"c{b}") if obs_cum is None else obs_cum + F.col(f"c{b}")
        diffs.append(F.abs(obs_cum / n - F.lit(ref_cum)))
    ks = F.greatest(*diffs) if len(diffs) > 1 else diffs[0]
    return agg.select(
        *group_cols,
        n.cast("long").alias("n"),
        F.round(psi, 6).alias("psi"),
        F.round(ks, 6).alias("ks_d"),
    ).withColumns(
        {
            "psi_drifted": F.col("psi") >= F.lit(min_psi),
            "ks_drifted": F.col("ks_d") >= F.lit(min_d),
        }
    )


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
    return snapshot_drift(
        scored.filter(F.col("codec") == "opus"), scored, "dur_ms", ["codec"]
    )


# ---- categorical drift (codec/sr_hz histograms) ------------------------------


def categorical_shares(
    ref_df: DataFrame, column: str, top_k: int = 50
) -> list[tuple[str, float]]:
    """Fit the reference share of each category of `column`: top_k
    categories by count (ties broken by category value so the fit is
    deterministic), everything else pooled into '__other__'. One tiny
    aggregate; the result is baked into the comparison plan as broadcast
    literals — at 10^12 rows the category list must be bounded, which is
    exactly what the top-K + other pooling guarantees."""
    rows = (
        ref_df.groupBy(F.col(column).cast("string").alias("cat"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc_nulls_last("cat"))
        .limit(top_k)
        .collect()
    )
    total = ref_df.count()
    shares = [(r["cat"], r["c"] / total) for r in rows if r["cat"] is not None]
    tail = 1.0 - sum(s for _, s in shares)
    shares.append(("__other__", max(tail, 0.0)))
    return shares


def categorical_drift(
    ref_df: DataFrame,
    cur_df: DataFrame,
    column: str,
    group_cols: list[str],
    top_k: int = 50,
    min_psi: float = 0.2,
    shares: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """Drift of a CATEGORICAL column's histogram (the north rule names
    codec histograms explicitly; quantile-bin PSI/KS only cover numeric
    metrics). Compares each group's category-share vector in `cur_df`
    against the reference snapshot's shares.

    Plan shape = snapshot_drift's: ONE groupBy(group_cols) aggregate whose
    per-category conditional counters are baked from the broadcast
    reference fit (categories not in the fit count as '__other__'), then
    PSI and the chi-square statistic are stateless arithmetic over the
    |groups|×|categories| counters. NULL category counts as '__other__'.

    Returns (group_cols…, n, psi, chi2, psi_drifted). chi2 is the Pearson
    statistic n·Σ(obs_share−ref_share)²/ref_share (df = k−1), reported raw
    so callers pick their own critical value; psi_drifted applies the
    conventional PSI ≥ min_psi bar."""
    if shares is None:
        shares = categorical_shares(ref_df, column, top_k)
    known = [c for c, _ in shares if c != "__other__"]
    cat = F.col(column).cast("string")
    bucket = F.when(cat.isin(known), cat).otherwise(F.lit("__other__"))
    counters = [
        F.sum((bucket == F.lit(c)).cast("long")).alias(f"c{i}")
        for i, (c, _) in enumerate(shares)
    ]
    agg = cur_df.groupBy(*group_cols).agg(*counters)
    n = sum(F.col(f"c{i}") for i in range(len(shares)))
    psi = sum(
        (F.greatest(F.col(f"c{i}") / n, F.lit(EPS)) - F.lit(max(s, EPS)))
        * F.log(F.greatest(F.col(f"c{i}") / n, F.lit(EPS)) / F.lit(max(s, EPS)))
        for i, (_, s) in enumerate(shares)
    )
    chi2 = sum(
        (F.col(f"c{i}") / n - F.lit(s)) ** 2 / F.lit(max(s, EPS))
        for i, (_, s) in enumerate(shares)
    ) * n
    return agg.select(
        *group_cols,
        n.cast("long").alias("n"),
        F.round(psi, 6).alias("psi"),
        F.round(chi2, 6).alias("chi2"),
    ).withColumn("psi_drifted", F.col("psi") >= F.lit(min_psi))


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
    cur = scored.withColumn("failed", ~F.col("decode_ok"))
    return categorical_drift(scored, cur, "codec", ["failed"], top_k=50).orderBy(
        "failed"
    )
