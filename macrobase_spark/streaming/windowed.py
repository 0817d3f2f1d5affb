"""Windowed / streaming operators.

Reference semantics mapped here:
- time panes + sliding windows  reference lib/.../operator/WindowedOperator.java:47-102
  (buffer minibatches into [start, start+slide) panes; window = panes×slide)
- pane-wise incremental summarizer  reference lib/.../fpg/IncrementalSummarizer.java:23-120
  (v1 strategy per SURVEY §2.10: recompute per window — correct and simple)
- count-based tumbling/sliding windows  reference alexp/.../streaming/Windows/
  Tumbling.java:9-34, Sliding.java:11-40
- MovingAverage  reference lib/.../summary/MovingAverage.java:9-59

Spark-first rendering:
- a time window IS a group key (`F.window(ts, len, slide)`) — the windowed
  classify-then-explain becomes ONE aggregation job whose metrics are column
  expressions joined against per-window totals; no driver loop over panes.
- the same plan runs unchanged under Structured Streaming (`readStream` →
  `withWatermark` → groupBy window) because it is pure groupBy/agg — that is
  the point of expressing the pane semantics declaratively.
- count windows have no native Spark equivalent (SURVEY §2.10); the batch
  rendering numbers rows once with a window function and maps ordinals to
  window ids arithmetically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from macrobase_spark.operators.classify import OUTLIER_COL


def _support_ratio_exprs(oc, tc, O, N, ratio_metric: str):
    """support + ratio columns with zero-division guards (a window with no
    outliers gets support/ratio 0 and is threshold-filtered away)."""
    support = F.when(O > 0, oc / O).otherwise(F.lit(0.0))
    if ratio_metric == "global_ratio":
        ratio = F.when(O > 0, (oc / tc) / (O / N)).otherwise(F.lit(0.0))
    elif ratio_metric == "risk_ratio":
        ratio = (
            F.when(O == 0, F.lit(0.0))
            .when(tc == 0, F.lit(0.0))
            .when(N - tc == 0, F.lit(0.0))
            .when(O - oc == 0, F.lit(float("inf")))
            .otherwise((oc / tc) / ((O - oc) / (N - tc)))
        )
    else:
        raise ValueError(f"unsupported windowed ratio metric {ratio_metric!r}")
    return support, ratio


def windowed_explain(
    df: DataFrame,
    ts_col: str,
    window_len: str,
    slide: str | None,
    outlier_predicate: Column,
    attributes: list[str],
    min_support: float = 0.2,
    min_ratio_metric: float = 1.5,
    ratio_metric: str = "global_ratio",
) -> DataFrame:
    """Per-window order-1 classify-then-explain as ONE declarative plan.

    For every (window, attribute, value): outlier count, total count,
    support and ratio metric measured against THAT window's totals —
    the windowed rendering of the reference's per-pane summarization.
    Output: (ws, we, attribute, value, support, <metric>, outlier_count,
    total_count), filtered by the support + ratio thresholds.

    Two shuffles total (per-attr-value agg, per-window totals), both
    partial-aggregated map-side; works identically on a stream whose
    caller set `withWatermark(ts_col, …)`, with slide=None: streaming joins
    of two windowed aggregates need matching watermarks, which tumbling
    windows give for free. The reference assumes in-order arrival and has
    no watermarking (WindowedOperator.java:84).
    """
    win = F.window(F.col(ts_col), window_len, slide) if slide else F.window(
        F.col(ts_col), window_len
    )
    flagged = df.withColumn(OUTLIER_COL, F.when(outlier_predicate, 1.0).otherwise(0.0))
    items = F.explode(
        F.array(
            *[
                F.struct(F.lit(a).alias("attribute"), F.col(a).cast("string").alias("value"))
                for a in attributes
            ]
        )
    ).alias("it")
    per_item = (
        flagged.select(win.alias("w"), F.col(OUTLIER_COL).alias("_o"), items)
        .filter(F.col("it.value").isNotNull())
        .groupBy("w", "it")
        .agg(F.sum("_o").alias("outlier_count"), F.count(F.lit(1)).cast("double").alias("total_count"))
    )
    totals = (
        flagged.select(win.alias("w"), F.col(OUTLIER_COL).alias("_o"))
        .groupBy("w")
        .agg(F.sum("_o").alias("O"), F.count(F.lit(1)).cast("double").alias("N"))
    )
    j = per_item.join(totals, "w")
    oc, tc, O, N = (F.col(c) for c in ["outlier_count", "total_count", "O", "N"])
    support, ratio = _support_ratio_exprs(oc, tc, O, N, ratio_metric)
    return (
        j.select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            F.col("it.attribute").alias("attribute"),
            F.col("it.value").alias("value"),
            support.alias("support"),
            ratio.alias(ratio_metric),
            oc,
            tc,
        )
        .filter((F.col("support") >= min_support) & (F.col(ratio_metric) >= min_ratio_metric))
    )


def paned_windowed_explain(
    df: DataFrame,
    ts_col: str,
    pane: str,
    num_panes: int,
    outlier_predicate: Column,
    attributes: list[str],
    min_support: float = 0.2,
    min_ratio_metric: float = 1.5,
    ratio_metric: str = "global_ratio",
) -> DataFrame:
    """Pane-incremental sliding-window explanation — the Spark rendering of
    the reference's IncrementalSummarizer (lib/.../fpg/IncrementalSummarizer
    .java:23-120: per-pane itemset counts combined into windows, panes
    retired as the window slides).

    The raw table is aggregated ONCE at pane grain (pane × attribute ×
    value); each pane aggregate is then exploded into the `num_panes`
    sliding windows that contain it and re-summed. The second shuffle moves
    only aggregates — at any scale its input is bounded by
    panes × attrs × values, never by row count. Sliding windows therefore
    cost one raw-data pass total instead of one per overlapping window
    (which is what `windowed_explain` with slide < window does).

    Windows are labeled by their LAST pane start; only complete windows
    (num_panes panes deep) are emitted.
    """
    import re as _re

    m = _re.match(r"(\d+)\s*(\w+)", pane)
    if not m:
        raise ValueError(f"bad pane spec {pane!r}")
    pane_expr = F.window(F.col(ts_col), pane)
    flagged = df.withColumn(OUTLIER_COL, F.when(outlier_predicate, 1.0).otherwise(0.0))
    items = F.explode(
        F.array(
            *[
                F.struct(F.lit(a).alias("attribute"), F.col(a).cast("string").alias("value"))
                for a in attributes
            ]
        )
    ).alias("it")
    # ONE raw-data pass: per-pane per-item partials + per-pane totals (the
    # totals ride along as a null-item sentinel in the same aggregation)
    per_pane = (
        flagged.select(pane_expr.alias("w"), F.col(OUTLIER_COL).alias("_o"), items)
        .select(
            F.col("w.start").alias("ps"),
            "_o",
            F.explode(
                F.array(F.col("it"), F.lit(None).cast("struct<attribute:string,value:string>"))
            ).alias("it"),
        )
        .filter(F.col("it").isNull() | F.col("it.value").isNotNull())
        .groupBy("ps", "it")
        .agg(F.sum("_o").alias("oc"), F.count(F.lit(1)).cast("double").alias("tc"))
    )
    # each pane contributes to num_panes sliding windows (window id = the
    # start of its last pane); aggregate-only shuffle
    pane_secs = F.unix_timestamp(F.col("ps"))
    # pane length in seconds from the spec string
    unit = m.group(2).lower()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60, "hour": 3600,
            "hours": 3600, "day": 86400, "days": 86400}[unit]
    plen = int(m.group(1)) * mult
    wins = per_pane.withColumn(
        "wid",
        F.explode(
            F.sequence(pane_secs, pane_secs + F.lit((num_panes - 1) * plen), F.lit(plen))
        ),
    )
    agg = wins.groupBy("wid", "it").agg(
        F.sum("oc").alias("outlier_count"), F.sum("tc").alias("total_count")
    )
    totals = agg.filter(F.col("it").isNull()).select(
        "wid",
        F.col("outlier_count").alias("O"),
        F.col("total_count").alias("N"),
        F.lit(1).alias("_npanes"),
    )
    # count panes per window to keep only complete windows
    pane_counts = wins.filter(F.col("it").isNull()).groupBy("wid").agg(
        F.count(F.lit(1)).alias("n_panes")
    )
    j = (
        agg.filter(F.col("it").isNotNull())
        .join(totals.drop("_npanes"), "wid")
        .join(pane_counts.filter(F.col("n_panes") == num_panes).select("wid"), "wid")
    )
    oc, tc, O, N = (F.col(c) for c in ["outlier_count", "total_count", "O", "N"])
    support, ratio = _support_ratio_exprs(oc, tc, O, N, ratio_metric)
    return (
        j.select(
            F.to_timestamp(F.from_unixtime("wid")).alias("window_last_pane"),
            F.col("it.attribute").alias("attribute"),
            F.col("it.value").alias("value"),
            support.alias("support"),
            ratio.alias(ratio_metric),
            oc,
            tc,
        )
        .filter((F.col("support") >= min_support) & (F.col(ratio_metric) >= min_ratio_metric))
    )


def moving_average(
    df: DataFrame,
    value_col: str,
    order_col: str,
    n: int,
    partition_cols: list[str] | None = None,
    out_col: str = "moving_avg",
) -> DataFrame:
    """Mean over the last n rows (inclusive) in `order_col` order — the
    reference's deque-based MovingAverage as a window frame."""
    w = Window.orderBy(order_col).rowsBetween(-(n - 1), 0)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col).rowsBetween(-(n - 1), 0)
    return df.withColumn(out_col, F.avg(value_col).over(w))


def count_tumbling_window(df: DataFrame, order_col: str, size: int) -> DataFrame:
    """Assign each row a tumbling count-window id (0,1,2,…) in `order_col`
    order. Global row numbering is a single-partition sort — count windows
    are a bench/compat construct (SURVEY §2.10), not a 100 TB operator."""
    w = Window.orderBy(order_col)
    return df.withColumn(
        "window_id", ((F.row_number().over(w) - 1) / size).cast("long")
    )


def count_sliding_window(df: DataFrame, order_col: str, size: int, slide: int) -> DataFrame:
    """Explode each row into every sliding count-window that contains it
    (window w covers ordinals [w*slide, w*slide+size)). When slide > size,
    gap rows belong to NO window — guarded explicitly, since sequence(a, b)
    with a > b generates a DESCENDING range (it would silently assign every
    gap row to two bogus windows)."""
    w = Window.orderBy(order_col)
    ord_ = F.col("_ord")
    first = F.greatest(
        F.lit(0).cast("long"), F.ceil((ord_ - size + 1) / F.lit(slide)).cast("long")
    )
    last = F.floor(ord_ / F.lit(slide)).cast("long")
    return (
        df.withColumn("_ord", F.row_number().over(w) - 1)
        .withColumn("_first", first)
        .withColumn("_last", last)
        .filter(F.col("_first") <= F.col("_last"))
        .withColumn("window_id", F.explode(F.sequence("_first", "_last")))
        .drop("_ord", "_first", "_last")
    )
