"""FPGrowth-based emerging-itemset explainer — the alternative explanation
kernel (reference lib/.../fpg/FPGrowthSummarizer.java:44-80,
FPGrowthEmerging.java:20-182, FPGrowth.java:381-445).

Spark-first: the FP-tree mining is `pyspark.ml.fpm.FPGrowth` (distributed,
built-in). The reference's emerging-itemset flow is preserved:

1. transactions = attribute=value item sets of the OUTLIER rows;
2. FPGrowth with minSupport = min_support (fraction of outlier
   transactions — the same support-over-outliers semantics as APriori,
   reference AttributeEncoder.java:83-88);
3. mined itemsets are re-checked against the FULL relation for their total
   counts (ratio denominator), in ONE conditional-aggregation pass — the
   itemset list is support-bounded, so the aggregate fan-out is small;
4. emit the same null-padded violation relation as operators.explain, with
   the same edge-case-exact ratio metrics.

Equivalence with the APriori kernel (same params, max_order<=3) is asserted
by tests/test_fpg.py — mirroring the reference's FPGrowth-vs-Apriori
cross-check (lib/src/test/.../FPGrowthTest.java)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.functions.metrics import ratio_metric_py
from macrobase_spark.functions.rows import local_rows
from macrobase_spark.operators.explain import ExplainParams, _result_schema
from macrobase_spark.operators.classify import OUTLIER_COL

_SEP = "\x1f"


def fpgrowth_explain(df: DataFrame, params: ExplainParams) -> DataFrame:
    """Classify-then-explain with the FPGrowth kernel; returns the same
    violation-row relation as operators.explain.explain."""
    from pyspark.ml.fpm import FPGrowth

    p = params
    attrs = list(p.attributes)
    spark = df.sparkSession
    out = F.col(p.outlier_col).cast("double")
    cnt = (
        F.coalesce(F.col(p.count_col).cast("double"), F.lit(1.0))
        if p.count_col
        else F.lit(1.0)
    )
    base = df.select(out.alias("_o"), cnt.alias("_c"), *attrs)
    g = base.agg(F.sum("_o").alias("o"), F.sum("_c").alias("n")).collect()[0]
    total_outliers, total_rows = float(g["o"] or 0.0), float(g["n"] or 0.0)
    schema = _result_schema(p)
    if total_outliers == 0.0:
        return local_rows(spark, [], schema)

    # transactions: "i<SEP>value" items (attribute index embedded so equal
    # values in different columns stay distinct), outlier rows only
    items = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(a).isNotNull(),
                    F.concat(F.lit(f"{i}{_SEP}"), F.col(a).cast("string")),
                )
                for i, a in enumerate(attrs)
            ]
        )
    )
    tx = base.filter(F.col("_o") > 0).select(items.alias("items"))
    # discovery support: exact for raw 0/1 rows. For weighted cube rows an
    # itemset's weighted support can exceed min_support while appearing in
    # arbitrarily few TRANSACTIONS (one heavy cube row), so no transaction-
    # fraction threshold above 1/n_tx is sound — mine at 1/n_tx, which
    # enumerates every itemset present in any outlier transaction (cube
    # relations are group-grained, so n_tx is bounded by cube cardinality),
    # and let the authoritative weighted re-check below prune.
    if p.count_col is None:
        disc_sup = p.min_support
    else:
        n_tx = tx.count()
        disc_sup = 0.5 / max(n_tx, 1)
    model = FPGrowth(itemsCol="items", minSupport=disc_sup, minConfidence=0.5).fit(tx)
    freq = [
        (tuple(sorted(r["items"])), float(r["freq"]))
        for r in model.freqItemsets.collect()
        if len(r["items"]) <= p.max_order
    ]
    if not freq:
        return local_rows(spark, [], schema)

    # ONE pass over the full relation: per-itemset outlier + total weights
    # via conditional aggregates. FPGrowth is the candidate DISCOVERY kernel
    # (its transaction counts ignore cube weights); the authoritative counts
    # come from this pass, so raw and cube inputs behave identically. The
    # itemset list is support-bounded → the aggregate fan-out is small.
    aggs = []
    for i, (iset, _) in enumerate(freq):
        c = F.lit(True)
        for item in iset:
            ai, val = item.split(_SEP, 1)
            c = c & (F.col(attrs[int(ai)]).cast("string") == val)
        aggs.append(F.sum(F.when(c, F.col("_c")).otherwise(0.0)).alias(f"t{i}"))
        # _o is already an (estimated, possibly fractional) outlier COUNT —
        # cube classifiers emit counts, matching operators.explain's sum(_o)
        aggs.append(F.sum(F.when(c, F.col("_o")).otherwise(0.0)).alias(f"o{i}"))
    counts_row = base.agg(*aggs).collect()[0]

    metrics = [p.ratio_metric, *p.extra_ratio_metrics]
    rows = []
    for i, (iset, _) in enumerate(freq):
        oc = float(counts_row[f"o{i}"])
        if oc < p.min_support * total_outliers:
            continue
        tc = float(counts_row[f"t{i}"])
        mvals = [ratio_metric_py(m, oc, tc, total_outliers, total_rows) for m in metrics]
        if mvals[0] < p.min_ratio_metric:
            continue
        padded: list = [None] * len(attrs)
        for item in iset:
            ai, val = item.split(_SEP, 1)
            padded[int(ai)] = val
        rows.append((*padded, oc / total_outliers, *mvals, oc, tc))
    return local_rows(spark, rows, schema)
