"""MacroBase-style risk-ratio attribute explanation (the DIFF operator),
re-expressed as driver-orchestrated Spark aggregation rounds.

What it computes (reference semantics):
- bounded APriori over attribute-value itemsets of order 1..3
  (reference lib/.../aplinear/APrioriLinear.java:47-339)
- support measured over outliers: an itemset survives a round iff its
  outlier count >= min_support * total_outliers
  (reference lib/.../summary/util/AttributeEncoder.java:83-88)
- emitted iff it additionally passes the ratio metric
  (KEEP/NEXT/PRUNE lattice, reference qualitymetrics/QualityMetric.java:13-58)
- order-3 candidates require all three order-2 subsets to have survived
  (reference APrioriLinear.java:347-367)
- output is the null-padded violation-row relation of
  APLExplanation.toDataFrame (reference aplinear/APLExplanation.java:84-142):
  one column per attribute (null where not part of the itemset), plus
  support, <ratio_metric>, outlier_count, total_count.

How it runs (Spark-first, 100 TB-ready):
- one shared KEEP/NEXT/PRUNE engine (`_lattice`) decides, round by round,
  what to emit, what to expand and which candidates the next round counts;
  only a round's "sum the aggregates per k-itemset" differs by input.
- a DataFrame input (`explain`): round k = ONE shuffle — explode each row's
  k-combinations of its *frequent* singleton values, hash-aggregate
  sum(outlier), sum(count). Spark's partial (map-side) aggregation absorbs
  key skew. The ONLY data on the driver is per-round survivor aggregates —
  itemsets that hold >= min_support of all outliers, so their count is
  bounded by (#attrs choose k) / min_support regardless of input row
  count. Candidate sets flow back into round k+1 as broadcast literals;
  the final violation relation is assembled from those same aggregates,
  so each round's shuffle executes exactly once. The narrow (outlier,
  count, attrs) projection is cached across the <=3 rounds.
- rows already on the driver (`explain_rows`, the reference's cube mode:
  APLSummarizer over group counts, as the clips suite's (codec, sr_hz)
  rollup hands it over): each round is a dict sum in plain Python, and
  no Spark job runs.
- every result is a local relation (`functions.rows.local_rows`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from macrobase_spark.functions.metrics import ratio_metric_py
from macrobase_spark.functions.rows import local_rows
from macrobase_spark.operators.classify import OUTLIER_COL

_ITEMS = "_mb_items"
# the most order-3 candidate keys a round filters with a literal isin list;
# past it, a broadcast semi join against the keys
_ISIN_MAX = 5000


@dataclass
class ExplainParams:
    attributes: list[str]
    outlier_col: str = OUTLIER_COL
    count_col: str | None = None  # None → every row weighs 1.0
    min_support: float = 0.2
    min_ratio_metric: float = 1.5
    ratio_metric: str = "global_ratio"
    max_order: int = 3
    extra_ratio_metrics: list[str] = field(default_factory=list)
    # set False when the caller's input is already cached/checkpointed and
    # cheap to rescan (e.g. run_suite's scored relation)
    cache_base: bool = True
    # KEEP/NEXT/PRUNE containment pruning (reference QualityMetric.java:13-58,
    # APrioriLinear.java:279-322): an itemset that already passes the ratio
    # threshold is emitted and NOT expanded, so no redundant supersets appear
    # (golden corpus depends on this). False → emit the full support+ratio
    # filtered cube (SQL-oracle-expressible mode).
    prune_containment: bool = True


def _combos_expr(arr: str, k: int) -> Column:
    """k-combinations (k in 1..3) of an array column, as a pure SQL lambda
    expression — order-preserving, no UDF."""
    if k == 1:
        return F.expr(f"transform({arr}, x -> array(x))")
    if k == 2:
        return F.expr(
            f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), y -> array(x, y))))"
        )
    if k == 3:
        return F.expr(
            f"flatten(flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), (y, j) -> "
            f"transform(slice({arr}, i + j + 3, size({arr})), z -> array(x, y, z))))))"
        )
    raise ValueError(f"order {k} not supported (max_order <= 3, as in the reference)")


def _result_schema(p: ExplainParams) -> StructType:
    fields = [StructField(a, StringType()) for a in p.attributes]
    fields.append(StructField("support", DoubleType()))
    for m in [p.ratio_metric, *p.extra_ratio_metrics]:
        fields.append(StructField(m, DoubleType()))
    fields += [
        StructField("outlier_count", DoubleType()),
        StructField("total_count", DoubleType()),
    ]
    return StructType(fields)


def explain(df: DataFrame, params: ExplainParams) -> DataFrame:
    """Run classify-then-explain's explanation phase; returns violation rows."""
    p = params
    attrs = list(p.attributes)
    if not attrs:
        raise ValueError("explain needs at least one attribute column")
    out = F.col(p.outlier_col).cast("double")
    cnt = (
        F.coalesce(F.col(p.count_col).cast("double"), F.lit(1.0))
        if p.count_col
        else F.lit(1.0)
    )

    spark = df.sparkSession
    # narrow projection cached across the (global, round-1..3) scans — the
    # rounds re-read ~20 bytes/row instead of re-running the upstream plan
    base = df.select(out.alias("_o"), cnt.alias("_c"), *attrs)
    if p.cache_base:
        base = base.persist(StorageLevel.MEMORY_ONLY)
    try:
        return _explain_rounds(spark, base, attrs, p)
    finally:
        if p.cache_base:
            base.unpersist()


def _lattice(
    sum_round,
    support_thresh: float,
    metric_fn,
    min_metric: float,
    max_order: int,
    prune: bool,
) -> list[tuple[tuple, tuple[float, ...]]]:
    """The shared APriori KEEP/NEXT/PRUNE engine over itemset orders 1..3.

    An item is (attr_idx, value); an itemset is a tuple of items in
    attribute order. `sum_round(orders, freq, cands)` sums the aggregate
    columns per itemset of each order in `orders`, over the items whose
    value is in `freq[attr_idx]` (every non-null value when `freq` is
    None) and, when `cands` is given, only for the itemsets in it; aggs[0]
    is the outlier-count-like sum the support threshold applies to.
    `_spark_sums` runs a round as a Spark aggregation, `_row_sums` over
    rows already on the driver.

    `metric_fn(aggs) -> float` is the (non-monotonic) quality metric;
    itemsets with aggs[0] >= support_thresh AND metric >= min_metric are
    emitted (KEEP). Under `prune`, KEEP stops expansion, order-2 itemsets
    pair the values of the order-1 NEXT itemsets, and an order-3 candidate
    needs all three 2-subsets among the order-2 NEXT itemsets (reference
    APrioriLinear.java:279-322, validateCandidate:347-367). Without
    `prune` every order is summed in one round: the full support- and
    metric-filtered cube (the oracle-expressible mode).

    Returns [(items, aggs)]."""

    def survivors(orders, freq=None, cands=None):
        return [
            (items, aggs)
            for items, aggs in sum_round(orders, freq, cands)
            if aggs[0] >= support_thresh
        ]

    if not prune:
        # no inter-round dependency: rounds would only add sequential job
        # latency. With high-cardinality attribute sets prefer prune=True
        # (the reference default), whose round-wise support pruning bounds
        # the group count.
        return [
            (items, aggs)
            for items, aggs in survivors(tuple(range(1, max_order + 1)))
            if metric_fn(aggs) >= min_metric
        ]
    emitted: list[tuple[tuple, tuple[float, ...]]] = []
    level = survivors((1,))
    for k in range(1, max_order + 1):
        nxt = []
        for items, aggs in level:
            if metric_fn(aggs) >= min_metric:
                emitted.append((items, aggs))
            else:
                nxt.append(items)
        if k == max_order or not nxt:
            break
        if k == 1:
            freq: dict[int, set[str]] = {}
            for ((ai, val),) in nxt:
                freq.setdefault(ai, set()).add(val)
            level = survivors((2,), freq)
            continue
        # order-3 candidates: x < y < z in attribute order with (x, y),
        # (x, z) and (y, z) all NEXT pairs
        above: dict[tuple, set[tuple]] = {}
        for x, y in nxt:
            above.setdefault(x, set()).add(y)
        cands = {
            (x, y, z) for x, y in nxt for z in above.get(x, set()) & above.get(y, set())
        }
        if not cands:
            break
        level = survivors((3,), freq, cands)
    return emitted


def _row_sums(rows: list[tuple], n_aggs: int):
    """`sum_round` over driver rows (agg_0, .., agg_{n-1}, attr values..)."""

    def sum_round(orders, freq, cands):
        acc: dict[tuple, list[float]] = {}
        for row in rows:
            aggs = row[:n_aggs]
            items = [
                (i, v)
                for i, v in enumerate(row[n_aggs:])
                if v is not None and (freq is None or v in freq.get(i, ()))
            ]
            for k in orders:
                for its in combinations(items, k):
                    if cands is not None and its not in cands:
                        continue
                    s = acc.setdefault(its, [0.0] * n_aggs)
                    for j, a in enumerate(aggs):
                        s[j] += a
        return [(its, tuple(s)) for its, s in acc.items()]

    return sum_round


def _spark_sums(base: DataFrame, attrs: list[str], n_aggs: int, support_thresh: float):
    """`sum_round` as ONE Spark aggregation per round over `base`, which
    carries aggregate columns _g0.._g{n-1} plus the attribute columns:
    explode each row's k-combinations of its (frequent) items, hash-sum
    the aggregates per itemset, and collect only the itemsets that reach
    the support threshold."""
    gcols = [f"_g{i}" for i in range(n_aggs)]

    def sum_round(orders, freq, cands):
        item_cols = []
        for i, a in enumerate(attrs):
            if freq is not None and i not in freq:
                continue
            c = F.col(a).cast("string")
            keep = c.isNotNull() if freq is None else c.isin(sorted(freq[i]))
            item_cols.append(
                F.when(keep, F.struct(F.lit(i).alias("ai"), c.alias("val")))
            )
        combos = F.concat(*[_combos_expr(_ITEMS, k) for k in orders])
        exploded = (
            base.select(*gcols, F.array_compact(F.array(*item_cols)).alias(_ITEMS))
            .filter(F.size(_ITEMS) >= min(orders))
            .select(*gcols, F.explode(combos).alias("its"))
        )
        if cands is not None:
            its = F.col("its")
            key = F.concat_ws("\x00", *[its[j][f] for j in range(3) for f in ("ai", "val")])
            keys = sorted("\x00".join(f"{ai}\x00{v}" for ai, v in c) for c in cands)
            if len(keys) <= _ISIN_MAX:
                exploded = exploded.filter(key.isin(keys))
            else:
                # a literal isin list this long would bloat the plan string
                # and codegen: a broadcast LEFT SEMI join against the
                # (support-bounded) candidate keys instead
                kdf = local_rows(base.sparkSession, [(k,) for k in keys], "_sk string")
                exploded = exploded.join(F.broadcast(kdf), key == F.col("_sk"), "left_semi")
        rows = (
            exploded.groupBy("its")
            .agg(*[F.sum(c).alias(c) for c in gcols])
            .filter(F.col("_g0") >= support_thresh)
            .collect()
        )
        return [
            (tuple((x["ai"], x["val"]) for x in r["its"]), tuple(float(r[c]) for c in gcols))
            for r in rows
        ]

    return sum_round


def _explain_rounds(spark, base: DataFrame, attrs: list[str], p: ExplainParams) -> DataFrame:
    g = base.agg(F.sum("_o").alias("o"), F.sum("_c").alias("n")).collect()[0]
    total_outliers, total_rows = float(g["o"] or 0.0), float(g["n"] or 0.0)
    sums = _spark_sums(
        base.select(F.col("_o").alias("_g0"), F.col("_c").alias("_g1"), *attrs),
        attrs,
        2,
        p.min_support * total_outliers,
    )
    return _explanation(spark, sums, total_outliers, total_rows, p)


def explain_rows(spark, rows: list[tuple], p: ExplainParams) -> DataFrame:
    """`explain` over rows already on the driver, each
    (outlier_count, count, *values of p.attributes): the reference's cube
    mode (APLSummarizer over group counts). The lattice runs in plain
    Python and the result is a local relation, so no Spark job runs; the
    rows equal `explain` over the same rows as a DataFrame with
    count_col set."""
    rows = [(float(r[0]), float(r[1]), *r[2:]) for r in rows]
    total_outliers = sum(r[0] for r in rows)
    total_rows = sum(r[1] for r in rows)
    return _explanation(spark, _row_sums(rows, 2), total_outliers, total_rows, p)


def _explanation(
    spark, sum_round, total_outliers: float, total_rows: float, p: ExplainParams
) -> DataFrame:
    """The violation-row relation of the risk-ratio lattice whose rounds
    `sum_round` sums, given the global outlier and row totals."""
    schema = _result_schema(p)
    if total_outliers == 0.0 or total_rows == 0.0:
        return local_rows(spark, [], schema)

    def primary(aggs: tuple[float, ...]) -> float:
        return ratio_metric_py(p.ratio_metric, aggs[0], aggs[1], total_outliers, total_rows)

    emitted = _lattice(
        sum_round,
        p.min_support * total_outliers,
        primary,
        p.min_ratio_metric,
        p.max_order,
        p.prune_containment,
    )

    metrics = [p.ratio_metric, *p.extra_ratio_metrics]
    out_rows = []
    for items, (oc, tc) in emitted:
        mvals = [ratio_metric_py(m, oc, tc, total_outliers, total_rows) for m in metrics]
        padded: list = [None] * len(p.attributes)
        for ai, val in items:
            padded[ai] = val
        out_rows.append((*padded, oc / total_outliers, *mvals, oc, tc))
    return local_rows(spark, out_rows, schema)


def meanshift_explain(
    df: DataFrame,
    attributes: list[str],
    min_support: float = 0.2,
    min_mean_shift: float = 1.5,
    max_order: int = 3,
    prune_containment: bool = True,
) -> DataFrame:
    """APLCountMeanShiftSummarizer (reference lib/.../aplinear/
    APLCountMeanShiftSummarizer.java:27-88 + MeanShiftQualityMetric.java:32-35):
    itemset aggregates are the 4 CountMeanShift accumulator columns; metric =
    (outlier mean) / (inlier mean); support over outlier counts."""
    attrs = list(attributes)
    spark = df.sparkSession
    base = df.select(
        F.col("_OUTLIERCOUNT").cast("double").alias("_g0"),
        F.col("_INLIERCOUNT").cast("double").alias("_g1"),
        F.col("_OUTLIERMEANSUM").cast("double").alias("_g2"),
        F.col("_INLIERMEANSUM").cast("double").alias("_g3"),
        *attrs,
    ).persist(StorageLevel.MEMORY_ONLY)
    try:
        total_oc = float(base.agg(F.sum("_g0")).collect()[0][0] or 0.0)
        fields = [StructField(a, StringType()) for a in attrs]
        fields += [
            StructField("support", DoubleType()),
            StructField("mean_shift", DoubleType()),
            StructField("outlier_count", DoubleType()),
            StructField("inlier_count", DoubleType()),
        ]
        schema = StructType(fields)
        if total_oc == 0.0:
            return local_rows(spark, [], schema)

        def mean_shift(aggs: tuple[float, ...]) -> float:
            oc, ic, oms, ims = aggs
            if oc == 0.0 or ic == 0.0 or ims == 0.0:
                return 0.0
            return (oms / oc) / (ims / ic)

        emitted = _lattice(
            _spark_sums(base, attrs, 4, min_support * total_oc),
            min_support * total_oc,
            mean_shift,
            min_mean_shift,
            max_order,
            prune_containment,
        )
        rows = []
        for items, (oc, ic, oms, ims) in emitted:
            padded: list = [None] * len(attrs)
            for ai, val in items:
                padded[ai] = val
            rows.append((*padded, oc / total_oc, mean_shift((oc, ic, oms, ims)), oc, ic))
        return local_rows(spark, rows, schema)
    finally:
        base.unpersist()


def meandev_explain(
    df: DataFrame,
    attributes: list[str],
    count_col: str | None = None,
    mean_col: str = "mean",
    std_col: str = "std",
    min_support: float = 0.2,
    min_std_dev: float = 3.0,
    max_order: int = 3,
    prune_containment: bool = False,
) -> DataFrame:
    """APLMeanSummarizer (reference lib/.../aplinear/APLMeanSummarizer.java
    :28-101 + MeanDevQualityMetric.java:1-50): itemset aggregates are
    [count, m1 = mean·count, m2 = (std² + mean²)·count] (std = population
    std, so m1/m2 are plain Σx/Σx²); metric = |subgroup mean − global mean|
    / global std; support = count share of ALL rows
    (SupportQualityMetric(0)).

    prune_containment defaults False: the reference marks mean_deviation
    non-monotonic (MeanDevQualityMetric.isMonotonic), so emit-and-stop
    containment pruning could hide a stronger superset; the full
    support+threshold-filtered lattice is also what the SQL oracle states."""
    attrs = list(attributes)
    spark = df.sparkSession
    cnt = (
        F.coalesce(F.col(count_col).cast("double"), F.lit(1.0))
        if count_col
        else F.lit(1.0)
    )
    mean = F.col(mean_col).cast("double")
    std = F.col(std_col).cast("double")
    base = df.select(
        cnt.alias("_g0"),
        (mean * cnt).alias("_g1"),
        ((std * std + mean * mean) * cnt).alias("_g2"),
        *attrs,
    ).persist(StorageLevel.MEMORY_ONLY)
    try:
        g = base.agg(
            F.sum("_g0").alias("n"), F.sum("_g1").alias("m1"), F.sum("_g2").alias("m2")
        ).collect()[0]
        total = float(g["n"] or 0.0)
        fields = [StructField(a, StringType()) for a in attrs]
        fields += [
            StructField("support", DoubleType()),
            StructField("mean_dev", DoubleType()),
            StructField("count", DoubleType()),
        ]
        schema = StructType(fields)
        if total == 0.0:
            return local_rows(spark, [], schema)
        g_mean = float(g["m1"]) / total
        g_var = float(g["m2"]) / total - g_mean * g_mean
        g_std = g_var**0.5 if g_var > 0 else 0.0

        def mean_dev(aggs: tuple[float, ...]) -> float:
            c, m1, _ = aggs
            if c == 0.0 or g_std == 0.0:
                return 0.0
            return abs(m1 / c - g_mean) / g_std

        emitted = _lattice(
            _spark_sums(base, attrs, 3, min_support * total),
            min_support * total,
            mean_dev,
            min_std_dev,
            max_order,
            prune_containment,
        )
        rows = []
        for items, (c, m1, m2) in emitted:
            padded: list = [None] * len(attrs)
            for ai, val in items:
                padded[ai] = val
            rows.append((*padded, c / total, mean_dev((c, m1, m2)), c))
        return local_rows(spark, rows, schema)
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# DIFF / SPLIT query forms (reference sql/.../QueryEngine.executeDiffQuerySpec
# QueryEngine.java:121-200): classify-then-explain packaged as one call.
# ---------------------------------------------------------------------------


def diff(
    outliers: DataFrame,
    inliers: DataFrame,
    attributes: list[str],
    **kwargs,
) -> DataFrame:
    """DIFF (SELECT ...) outliers, (SELECT ...) inliers ON attrs."""
    tagged = outliers.withColumn(OUTLIER_COL, F.lit(1.0)).unionByName(
        inliers.withColumn(OUTLIER_COL, F.lit(0.0))
    )
    return explain(tagged, ExplainParams(attributes=attributes, **kwargs))


def diff_split(df: DataFrame, predicate: Column, attributes: list[str], **kwargs) -> DataFrame:
    """SPLIT form: one relation, a predicate marks the outliers."""
    tagged = df.withColumn(OUTLIER_COL, F.when(predicate, 1.0).otherwise(0.0))
    return explain(tagged, ExplainParams(attributes=attributes, **kwargs))
