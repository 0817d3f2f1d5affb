"""The engine's query surface: every operator exposed as a
(spark, sf_dir) -> DataFrame callable, each with a matching ANSI-SQL oracle
(DuckDB dialect) computing the same relation on the same parquet tables.

Conventions that make the Spark/oracle pair hash-identical:
- every computed double is rounded identically on both sides (fp summation
  order differs between engines);
- integer aggregates are cast to BIGINT on the oracle side (DuckDB sums
  integers into HUGEINT) and long on the Spark side;
- every computed column carries the same alias in both dialects.

Scale notes inline per query; the common themes: filters/projections are
pushed to the parquet scan, small sides are broadcast, all Python stays in
Arrow-vectorized batches, and aggregations rely on Spark's partial
(map-side) combine for skew absorption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from macrobase_spark.functions.metrics import ratio_metric_sql
from macrobase_spark.operators.classify import (
    count_mean_shift_classify,
    mad_classify,
    percentile_classify,
)
from macrobase_spark.operators.explain import ExplainParams, diff_split, explain

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _exact_pct(df: DataFrame, col: str, p: float) -> float:
    """Exact percentile as a broadcast scalar (R-7 interpolation — identical
    to DuckDB quantile_cont). Use percentile_approx at cluster scale."""
    return float(df.agg(F.percentile(col, p).alias("p")).collect()[0]["p"])


# ===========================================================================
# Relational spine (scan → filter → agg / join / window / sort / limit)
# ===========================================================================


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                    AS avg_qty,
           round(avg(l_extendedprice), 6)                               AS avg_price,
           round(avg(l_discount), 6)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: single scan, partial+final hash agg; the date filter
    and 7-column projection push down to the parquet reader."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "revenue_by_segment",
    """
    SELECT c_mktsegment,
           round(sum(o_totalprice), 2) AS revenue,
           count(*)                    AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def revenue_by_segment(spark, sf_dir):
    """Fact-to-dimension equi-join: the customer side is broadcast (dims stay
    tiny relative to facts at every SF), so no fact shuffle for the join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_q(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 2
    """,
)
def top_orders_per_customer(spark, sf_dir):
    """Partitioned window ranking — one shuffle on the partition key; ties
    broken deterministically by orderkey."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@_q(
    "percent_rank_fn",
    """
    SELECT event_id,
           round(CAST(rank() OVER (ORDER BY value) AS DOUBLE)
                 / (SELECT count(*) FROM events), 6) AS pct
    FROM events
    """,
)
def percent_rank_fn(spark, sf_dir):
    """The reference's percentile UDF: rank_min(v)/n (min position in the
    sorted column, 1-based; reference sql/.../MBFunction.java:133-161).
    Global rank is a single-partition sort — fine for the UDF's intended
    post-aggregation use; at raw-table scale use percent_rank over
    pre-bucketed ranges instead."""
    e = _t(spark, sf_dir, "events")
    n = e.count()
    w = Window.orderBy("value")
    return e.select(
        "event_id",
        F.round(F.rank().over(w).cast("double") / F.lit(float(n)), 6).alias("pct"),
    )


@_q(
    "normalize_fn",
    """
    WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
    SELECT event_id,
           round((value + (CASE WHEN lo > 0 THEN 0.0 ELSE -lo END))
                 / (hi + (CASE WHEN lo > 0 THEN 0.0 ELSE -lo END)), 6) AS nrm
    FROM events, s
    """,
)
def normalize_fn(spark, sf_dir):
    """The reference's normalize UDF: shift-to-positive then divide by the
    shifted max (reference sql/.../MBFunction.java:102-126)."""
    e = _t(spark, sf_dir, "events")
    row = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(row["lo"]), float(row["hi"])
    off = 0.0 if lo > 0 else -lo
    return e.select(
        "event_id", F.round((F.col("value") + F.lit(off)) / F.lit(hi + off), 6).alias("nrm")
    )


# ===========================================================================
# Validation checks (the north-rule operators, over oracle-visible tables)
# ===========================================================================


@_q(
    "column_stats",
    """
    SELECT source,
           count(*)                                   AS n_rows,
           round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
           CAST(min(n_chars) AS BIGINT)               AS min_chars,
           CAST(max(n_chars) AS BIGINT)               AS max_chars,
           round(avg(n_chars), 6)                     AS avg_chars,
           round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 6) AS med_chars
    FROM documents
    GROUP BY source
    """,
)
def column_stats(spark, sf_dir):
    """Per-group column profile in ONE aggregation pass: count, null rate,
    min/max, mean, median. At cluster scale swap the exact percentile for
    percentile_approx (a mergeable sketch) — exact here to match the oracle."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg(F.col("text").isNull().cast("double")), 6).alias("null_rate"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.percentile("n_chars", 0.5), 6).alias("med_chars"),
    )


@_q(
    "uniqueness_violations",
    """
    SELECT o_orderkey, count(*) AS n_dup
    FROM orders GROUP BY o_orderkey HAVING count(*) > 1
    """,
)
def uniqueness_violations(spark, sf_dir):
    """Key-uniqueness check = hash aggregation on the key; Spark's partial
    agg pre-collapses hot keys map-side (the 'salting' is built into the
    two-phase hash agg). Emits the violating keys (expected empty here)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


@_q(
    "ref_unreferenced_parts",
    """
    SELECT p_partkey FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def ref_unreferenced_parts(spark, sf_dir):
    """Referential check via LEFT ANTI join. The probe side (lineitem keys)
    is reduced to distinct keys first so the anti-join's build input is
    minimal; AQE turns it into a broadcast when small."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey")


@_q(
    "ref_orphan_lineitems",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_orphans FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    """,
)
def ref_orphan_lineitems(spark, sf_dir):
    """Fact-side orphan check: fact LEFT ANTI dim, dim broadcast — the
    100 TB-scale shape (never shuffle the fact table for an FK check)."""
    p = _t(spark, sf_dir, "part").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    orphans = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_anti")
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


@_q(
    "percentile_classify_events",
    """
    WITH cuts AS (
      SELECT CAST(quantile_cont(value, 0.01) AS DOUBLE) lo,
             CAST(quantile_cont(value, 0.99) AS DOUBLE) hi
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN value > hi OR value < lo THEN 1.0 ELSE 0.0 END), 1)
             AS n_outliers,
           round(avg(CASE WHEN value > hi OR value < lo THEN 1.0 ELSE 0.0 END), 6)
             AS outlier_rate
    FROM events, cuts
    GROUP BY event_type
    """,
)
def percentile_classify_events(spark, sf_dir):
    """PercentileClassifier (reference lib/.../PercentileClassifier.java:27-44)
    at percentile=1.0, aggregated per event_type."""
    e = _t(spark, sf_dir, "events")
    flagged = percentile_classify(e, "value", 1.0)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("_OUTLIER"), 1).alias("n_outliers"),
        F.round(F.avg("_OUTLIER"), 6).alias("outlier_rate"),
    )


@_q(
    "mad_classify_events",
    """
    WITH med AS (SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) m FROM events),
    r AS (SELECT event_type, abs(value - m) AS resid FROM events, med),
    sc AS (SELECT CAST(quantile_cont(resid, 0.5) AS DOUBLE) mad, avg(resid) meanad FROM r),
    s AS (SELECT event_type,
                 resid / (CASE WHEN mad > 0 THEN 1.4826 * mad
                               ELSE 1.253314 * meanad END) AS score
          FROM r, sc)
    SELECT event_type,
           round(sum(CASE WHEN score > 3.0 THEN 1.0 ELSE 0.0 END), 1) AS n_flagged,
           round(avg(score), 6) AS avg_score,
           round(max(score), 6) AS max_score
    FROM s GROUP BY event_type
    """,
)
def mad_classify_events(spark, sf_dir):
    """MAD robust-z classifier (reference alexp/.../outlier/MAD.java:27-91)
    with the 1.4826/MAD consistency scale and mean-AD fallback, aggregated
    per event_type."""
    e = _t(spark, sf_dir, "events")
    scored = mad_classify(e, "value", threshold=3.0)
    return scored.groupBy("event_type").agg(
        F.round(F.sum("_OUTLIER"), 1).alias("n_flagged"),
        F.round(F.avg("_SCORE"), 6).alias("avg_score"),
        F.round(F.max("_SCORE"), 6).alias("max_score"),
    )


def _explain_oracle(
    table: str,
    attrs: list[str],
    outlier_case: str,
    min_support: float,
    min_ratio: float,
    metric: str,
) -> str:
    sets = ",".join(
        f"({', '.join(c)})"
        for c in __import__("itertools").chain.from_iterable(
            __import__("itertools").combinations(attrs, k) for k in (1, 2, 3) if k <= len(attrs)
        )
    )
    ratio = ratio_metric_sql(metric, "a", "m", "O", "N")
    return f"""
    WITH t AS (SELECT {', '.join(attrs)}, {outlier_case} AS o FROM {table}),
    g AS (SELECT CAST(sum(o) AS DOUBLE) AS O, CAST(count(*) AS DOUBLE) AS N FROM t),
    agg AS (
      SELECT {', '.join(attrs)}, CAST(sum(o) AS DOUBLE) AS a, CAST(count(*) AS DOUBLE) AS m
      FROM t GROUP BY GROUPING SETS ({sets})
    )
    SELECT {', '.join(attrs)},
           round(a / O, 6) AS support,
           round({ratio}, 6) AS {metric},
           a AS outlier_count, m AS total_count
    FROM agg, g
    WHERE a >= {min_support} * O AND {ratio} >= {min_ratio}
    """


@_q(
    "explain_risk_ratio_events",
    _explain_oracle(
        "events",
        ["event_type", "props"],
        "CASE WHEN value > (SELECT CAST(quantile_cont(value, 0.95) AS DOUBLE) FROM events)"
        " THEN 1.0 ELSE 0.0 END",
        0.05,
        1.0,
        "risk_ratio",
    ),
)
def explain_risk_ratio_events(spark, sf_dir):
    """The flagship classify-then-explain: SPLIT events on value > p95, then
    APriori order-1..2 risk-ratio explanations over (event_type, props).
    The emitted rows equal a support+ratio-filtered CUBE — the oracle states
    it that way; the Spark plan earns its keep by *pruning* the lattice
    between rounds instead of materializing the full cube."""
    e = _t(spark, sf_dir, "events")
    cut = _exact_pct(e, "value", 0.95)
    res = diff_split(
        e,
        F.col("value") > cut,
        attributes=["event_type", "props"],
        min_support=0.05,
        min_ratio_metric=1.0,
        ratio_metric="risk_ratio",
        max_order=2,
        prune_containment=False,  # oracle = support+ratio filtered CUBE
    )
    return res.select(
        "event_type",
        "props",
        F.round("support", 6).alias("support"),
        F.round("risk_ratio", 6).alias("risk_ratio"),
        "outlier_count",
        "total_count",
    )


@_q(
    "explain_global_ratio_orders",
    _explain_oracle(
        "orders",
        ["o_orderstatus", "o_orderpriority"],
        "CASE WHEN o_totalprice > (SELECT CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE)"
        " FROM orders) THEN 1.0 ELSE 0.0 END",
        0.05,
        0.8,
        "global_ratio",
    ),
)
def explain_global_ratio_orders(spark, sf_dir):
    """Same kernel, global_ratio metric, orders table."""
    o = _t(spark, sf_dir, "orders")
    cut = _exact_pct(o, "o_totalprice", 0.9)
    res = diff_split(
        o,
        F.col("o_totalprice") > cut,
        attributes=["o_orderstatus", "o_orderpriority"],
        min_support=0.05,
        min_ratio_metric=0.8,
        ratio_metric="global_ratio",
        max_order=2,
        prune_containment=False,  # oracle = support+ratio filtered CUBE
    )
    return res.select(
        "o_orderstatus",
        "o_orderpriority",
        F.round("support", 6).alias("support"),
        F.round("global_ratio", 6).alias("global_ratio"),
        "outlier_count",
        "total_count",
    )


@_q(
    "cube_predicate_classify",
    """
    WITH cube AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt,
             avg(value) AS mean
      FROM events GROUP BY event_type)
    SELECT event_type, cnt, round(mean, 6) AS mean_r,
           CASE WHEN mean > 100.0 THEN cnt ELSE 0.0 END AS outlier_est
    FROM cube
    """,
)
def cube_predicate_classify(spark, sf_dir):
    """Cube (pre-aggregated group) classifier: groups matching the predicate
    contribute their whole count as outliers (reference
    lib/.../classify/PredicateCubeClassifier.java:68-111)."""
    e = _t(spark, sf_dir, "events")
    cube = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"), F.avg("value").alias("mean")
    )
    from macrobase_spark.operators.classify import predicate_cube_classify

    out = predicate_cube_classify(cube, "mean", ">", 100.0, count_col="cnt", output_col="outlier_est")
    return out.select("event_type", "cnt", F.round("mean", 6).alias("mean_r"), "outlier_est")


@_q(
    "mean_shift_explain",
    """
    WITH cut AS (SELECT CAST(quantile_cont(value, 0.9) AS DOUBLE) c FROM events),
    t AS (SELECT event_type,
                 CASE WHEN value > c THEN 1.0 ELSE 0.0 END o, value
          FROM events, cut)
    SELECT event_type,
           round(sum(o), 1)       AS outlier_cnt,
           round(sum(1.0 - o), 1) AS inlier_cnt,
           round((sum(CASE WHEN o = 1.0 THEN value ELSE 0.0 END) / sum(o))
               / (sum(CASE WHEN o = 0.0 THEN value ELSE 0.0 END) / sum(1.0 - o)), 6)
             AS mean_shift
    FROM t GROUP BY event_type
    """,
)
def mean_shift_explain(spark, sf_dir):
    """CountMeanShift classifier + mean-shift quality metric (reference
    lib/.../classify/CountMeanShiftClassifier.java:67-96,
    qualitymetrics/MeanShiftQualityMetric.java:32-35): outlier-mean over
    inlier-mean per group, from the 4 accumulator columns."""
    e = _t(spark, sf_dir, "events")
    cut = _exact_pct(e, "value", 0.9)
    t = count_mean_shift_classify(e, "value", F.col("value") > cut)
    return t.groupBy("event_type").agg(
        F.round(F.sum("_OUTLIERCOUNT"), 1).alias("outlier_cnt"),
        F.round(F.sum("_INLIERCOUNT"), 1).alias("inlier_cnt"),
        F.round(
            (F.sum("_OUTLIERMEANSUM") / F.sum("_OUTLIERCOUNT"))
            / (F.sum("_INLIERMEANSUM") / F.sum("_INLIERCOUNT")),
            6,
        ).alias("mean_shift"),
    )


# ===========================================================================
# Windowed / time-bucketed semantics
# ===========================================================================


@_q(
    "window_tumbling_events",
    """
    SELECT date_trunc('hour', ts) AS ws, event_type,
           count(*)              AS n,
           round(avg(value), 6)  AS avg_value,
           round(sum(value), 2)  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling_events(spark, sf_dir):
    """Tumbling time window (pane) aggregation — the batch rendering of the
    reference's WindowedOperator panes (lib/.../operator/WindowedOperator.java
    :73-102). Streaming variant lives in macrobase_spark.streaming."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@_q(
    "windowed_explain_risk",
    """
    WITH t AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CASE WHEN value > 90.0 THEN 1.0 ELSE 0.0 END AS o
      FROM events),
    per AS (SELECT ws, event_type,
                   CAST(sum(o) AS DOUBLE) oc, CAST(count(*) AS DOUBLE) tc
            FROM t GROUP BY 1, 2),
    tot AS (SELECT ws, CAST(sum(o) AS DOUBLE) O, CAST(count(*) AS DOUBLE) N
            FROM t GROUP BY 1)
    SELECT per.ws, event_type AS value,
           round(oc / O, 6) AS support,
           round(CASE WHEN tc = 0 THEN 0.0 WHEN N - tc = 0 THEN 0.0
                      WHEN O - oc = 0 THEN CAST('Infinity' AS DOUBLE)
                      ELSE (oc / tc) / ((O - oc) / (N - tc)) END, 6) AS risk_ratio,
           oc AS outlier_count, tc AS total_count
    FROM per JOIN tot ON per.ws = tot.ws
    WHERE oc / O >= 0.1
      AND (CASE WHEN tc = 0 THEN 0.0 WHEN N - tc = 0 THEN 0.0
                WHEN O - oc = 0 THEN CAST('Infinity' AS DOUBLE)
                ELSE (oc / tc) / ((O - oc) / (N - tc)) END) >= 1.0
    """,
)
def windowed_explain_risk(spark, sf_dir):
    """Per-window (1h tumbling) order-1 risk-ratio explanation over
    event_type — the windowed classify-then-explain as ONE declarative plan
    (streaming-identical, see macrobase_spark.streaming)."""
    from macrobase_spark.streaming import windowed_explain

    e = _t(spark, sf_dir, "events")
    res = windowed_explain(
        e, "ts", "1 hour", None, F.col("value") > 90.0, ["event_type"],
        min_support=0.1, min_ratio_metric=1.0, ratio_metric="risk_ratio",
    )
    return res.select(
        "ws", "value",
        F.round("support", 6).alias("support"),
        F.round("risk_ratio", 6).alias("risk_ratio"),
        "outlier_count", "total_count",
    )


@_q(
    "meanshift_explain_events",
    """
    WITH t AS (
      SELECT event_type,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END o, value
      FROM events),
    g AS (SELECT event_type,
                 CAST(sum(o) AS DOUBLE) oc,
                 CAST(sum(1.0 - o) AS DOUBLE) ic,
                 sum(CASE WHEN o = 1.0 THEN value ELSE 0.0 END) oms,
                 sum(CASE WHEN o = 0.0 THEN value ELSE 0.0 END) ims
          FROM t GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS DOUBLE) tot_o FROM t)
    SELECT event_type,
           round(oc / tot_o, 6) AS support,
           round((oms / oc) / (ims / ic), 6) AS mean_shift,
           oc AS outlier_count, ic AS inlier_count
    FROM g, tot
    WHERE oc >= 0.05 * tot_o AND (oms / oc) / (ims / ic) >= 0.5
    """,
)
def meanshift_explain_events(spark, sf_dir):
    """CountMeanShift classify + mean-shift summarizer (order 1, full set)."""
    from macrobase_spark.operators.classify import count_mean_shift_classify
    from macrobase_spark.operators.explain import meanshift_explain

    e = _t(spark, sf_dir, "events")
    t = count_mean_shift_classify(e, "value", F.col("event_id") % 2 == 0)
    res = meanshift_explain(
        t, ["event_type"], min_support=0.05, min_mean_shift=0.5,
        max_order=1, prune_containment=False,
    )
    return res.select(
        "event_type",
        F.round("support", 6).alias("support"),
        F.round("mean_shift", 6).alias("mean_shift"),
        "outlier_count", "inlier_count",
    )


@_q(
    "explain_meandev_events",
    """
    WITH t AS (SELECT event_type, props, value FROM events),
    g AS (SELECT CAST(count(*) AS DOUBLE) AS g_n, sum(value) AS g_m1,
                 sum(value * value) AS g_m2 FROM t),
    gs AS (SELECT event_type, props, CAST(count(*) AS DOUBLE) AS c,
                  sum(value) AS m1
           FROM t GROUP BY GROUPING SETS ((event_type), (props),
                                          (event_type, props)))
    SELECT event_type, props,
           round(c / g_n, 6) AS support,
           round(abs(m1 / c - g_m1 / g_n)
                 / sqrt(g_m2 / g_n - (g_m1 / g_n) * (g_m1 / g_n)), 6) AS mean_dev,
           c AS count
    FROM gs, g
    WHERE c >= 0.05 * g_n
      AND abs(m1 / c - g_m1 / g_n)
          / sqrt(g_m2 / g_n - (g_m1 / g_n) * (g_m1 / g_n)) >= 0.3
    """,
)
def explain_meandev_events(spark, sf_dir):
    """APLMeanSummarizer mean-deviation explanation over the per-
    (event_type, props) cube of events: subgroups whose mean sits
    >= 0.3 global-stds from the global mean (reference
    APLMeanSummarizer.java:28-101). The cube carries (count, mean,
    population std); m1/m2 reconstruct Σx/Σx² exactly."""
    from macrobase_spark.operators.explain import meandev_explain

    e = _t(spark, sf_dir, "events")
    cube = e.groupBy("event_type", "props").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.avg("value").alias("mean"),
        F.stddev_pop("value").alias("std"),
    )
    res = meandev_explain(
        cube,
        ["event_type", "props"],
        count_col="cnt",
        mean_col="mean",
        std_col="std",
        min_support=0.05,
        min_std_dev=0.3,
        max_order=2,
        prune_containment=False,
    )
    return res.select(
        "event_type",
        "props",
        F.round("support", 6).alias("support"),
        F.round("mean_dev", 6).alias("mean_dev"),
        "count",
    )


@_q(
    "explain_fpgrowth_orders",
    _explain_oracle(
        "orders",
        ["o_orderstatus", "o_orderpriority"],
        "CASE WHEN o_totalprice > (SELECT CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE)"
        " FROM orders) THEN 1.0 ELSE 0.0 END",
        0.05,
        0.8,
        "global_ratio",
    ),
)
def explain_fpgrowth_orders(spark, sf_dir):
    """Same relation as explain_global_ratio_orders but via the FPGrowth
    kernel (pyspark.ml.fpm) — cross-engine equivalence at the driver gate."""
    from macrobase_spark.operators.classify import OUTLIER_COL
    from macrobase_spark.operators.explain import ExplainParams
    from macrobase_spark.operators.fpg import fpgrowth_explain

    o = _t(spark, sf_dir, "orders")
    cut = _exact_pct(o, "o_totalprice", 0.9)
    tagged = o.withColumn(OUTLIER_COL, F.when(F.col("o_totalprice") > cut, 1.0).otherwise(0.0))
    res = fpgrowth_explain(
        tagged,
        ExplainParams(
            attributes=["o_orderstatus", "o_orderpriority"],
            min_support=0.05, min_ratio_metric=0.8,
            ratio_metric="global_ratio", max_order=2,
        ),
    )
    return res.select(
        "o_orderstatus", "o_orderpriority",
        F.round("support", 6).alias("support"),
        F.round("global_ratio", 6).alias("global_ratio"),
        "outlier_count", "total_count",
    )


@_q(
    "moving_average_users",
    """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_avg
    FROM events WHERE user_id < 10
    """,
)
def moving_average_users(spark, sf_dir):
    """Per-user moving average over the last 5 events (reference
    MovingAverage as a window frame)."""
    from macrobase_spark.streaming import moving_average

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    res = moving_average(e, "value", "event_id", 5, partition_cols=["user_id"])
    return res.select(
        "user_id", "event_id", F.round("moving_avg", 6).alias("moving_avg")
    )


@_q(
    "count_tumbling_events",
    """
    WITH o AS (SELECT event_type,
                      row_number() OVER (ORDER BY event_id) - 1 AS ord
               FROM events)
    SELECT CAST(floor(ord / 1000) AS BIGINT) AS window_id,
           count(*) AS n,
           count(DISTINCT event_type) AS n_types
    FROM o GROUP BY 1
    """,
)
def count_tumbling_events(spark, sf_dir):
    """Count-based tumbling windows (reference Tumbling.java) summarized."""
    from macrobase_spark.streaming import count_tumbling_window

    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    w = count_tumbling_window(e, "event_id", 1000)
    return w.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_type").alias("n_types"),
    )


def register(name: str, oracle: str | None = None):
    """Decorator hook for extension modules (dedup/text/similarity) to add
    their queries to the same registry."""
    return _q(name, oracle)


# every extension module that registers queries (or artifacts) on import,
# in the order their queries are registered
_EXTENSIONS = """
    operators.audio operators.audio_fp operators.dedup operators.similarity
    operators.pq operators.text operators.clips_suite operators.detectors
    operators.contrib_stats operators.drift operators.kalman operators.arima
    operators.vargmm operators.contextual operators.ew operators.legacy_transforms
    operators.loudness operators.bandwidth operators.pitch operators.ecod
    operators.copod operators.mp3 operators.aac operators.ogg operators.gate
    operators.srt operators.alignment operators.pca operators.hbos
    operators.components operators.pii operators.scorecard operators.hics
    operators.hst operators.image operators.mcod operators.profile
    operators.silence operators.sniff operators.rrcf
    operators.subspace_explainers operators.transcript operators.temporal
    operators.resample operators.mfcc operators.constraints
    plans.metrics_repo sources.icetable functions.skew functions.sampling
""".split()


def load_all() -> None:
    """Import every extension module, filling QUERIES, ORACLES and the
    artifact registry. A plain `import macrobase_spark.queries` loads only
    the relational spine, so callers that need a few operators stay
    cheap."""
    import importlib

    for mod in _EXTENSIONS:
        importlib.import_module(f"macrobase_spark.{mod}")
