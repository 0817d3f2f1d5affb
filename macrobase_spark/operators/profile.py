"""Skew diagnosis and sketch-based column profiling — the 10^12-row stats
path.

`hot_keys`: EXACT heavy hitters (share > threshold) via the two-phase hash
aggregate — map-side partials absorb the hot keys themselves, and the
HAVING filter bounds the output, so it is safe at any scale. This is the
input to the engine's salting/AQE-skew decisions (the clips fixture plants
the skew it finds: ~60% opus, ~70% 16 kHz). Oracle-able exactly.

`sketch_column_stats`: per-column profile using Spark's built-in Apache
DataSketches aggregates — HLL for distinct counts, KLL for quantiles —
which are JVM-side, single-pass, and MERGEABLE (executor partials union
associatively), the property the north_star's "exact-merge sketches"
contract names. Estimates are sketch-accurate, not exact, so the query
registers rows-only with the driver; tests gate the relative error vs
exact at small scale instead.

Reference parity: the reference's per-batch `Stats`/profiler only tracks
memory (BasicMemoryProfiler); column profiling at scale is the build
brief's addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.operators.clips_suite import scored_parquet
from macrobase_spark.queries import register


def hot_keys(
    df: DataFrame, cols: list[str], min_share: float = 0.2
) -> DataFrame:
    """Exact heavy hitters per column: every (column, value) whose share of
    rows exceeds `min_share`. ONE scan for any number of columns — each row
    explodes into len(cols) (column, value) pairs inside the projection
    (a union of per-column projections would re-scan the source once per
    column, which is wrong at 10^12 rows), then one partial+final hash
    aggregate whose map-side combine absorbs the hot keys themselves;
    output bounded by len(cols)/min_share rows by construction.
    Returns (column, value, n, share)."""
    total = df.count()
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"), F.col(c).cast("string").alias("value")
                )
                for c in cols
            ]
        )
    ).alias("kv")
    parts = df.select(pairs).select("kv.column", "kv.value")
    return (
        parts.groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > F.lit(int(total * min_share)))
        .select(
            "column",
            "value",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.lit(float(total)), 6).alias("share"),
        )
    )


def sketch_column_stats(
    df: DataFrame, numeric_cols: list[str], quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """Single-pass mergeable column profile: count, null count, min/max,
    HLL-sketch distinct estimate, KLL-sketch quantiles. Everything is a
    JVM-side DataSketches aggregate — no Python, no second scan, and the
    per-partition sketch partials merge exactly (the property that makes
    the same plan correct at 10^12 rows / thousands of executors).
    Returns one row per column."""
    qnames = [f"p{int(q * 100)}" for q in quantiles]
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in numeric_cols:
        col, d = F.col(c), F.col(c).cast("double")
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"{c}__n_null"),
            F.min(d).alias(f"{c}__min"),
            F.max(d).alias(f"{c}__max"),
            F.hll_sketch_estimate(F.hll_sketch_agg(col.cast("string"))).alias(
                f"{c}__distinct"
            ),
            *[
                F.kll_sketch_get_quantile_double(
                    F.kll_sketch_agg_double(d), F.lit(q)
                ).alias(f"{c}__{qn}")
                for q, qn in zip(quantiles, qnames)
            ],
        ]
    one = df.agg(*aggs)  # ONE scan, one 1-row result
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n_rows").cast("long").alias("n_rows"),
            F.col(f"{c}__n_null").cast("long").alias("n_null"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__distinct").cast("long").alias("approx_distinct"),
            *[F.col(f"{c}__{qn}").alias(qn) for qn in qnames],
        )
        for c in numeric_cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


@register(
    "hot_keys_clips",
    f"""
    WITH s AS (SELECT * FROM {scored_parquet.scan()}),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM s),
    u AS (
      SELECT 'codec' AS "column", CAST(codec AS VARCHAR) AS value FROM s
      UNION ALL
      SELECT 'sr_hz' AS "column", CAST(sr_hz AS VARCHAR) AS value FROM s
    )
    SELECT "column", value, CAST(count(*) AS BIGINT) AS n,
           round(count(*) / (SELECT total FROM t), 6) AS share
    FROM u GROUP BY "column", value
    HAVING count(*) > (SELECT total FROM t) * 0.2
    """,
)
def hot_keys_clips_q(spark, sf_dir):
    """Skew report over the scored clips relation — recovers the planted
    hot keys (codec=opus ~60%, sr_hz=16000 ~70%) that the suite's salting
    and AQE-skew handling exist for."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return hot_keys(scored, ["codec", "sr_hz"], min_share=0.2)


@register("sketch_column_stats_clips")  # rows-only: sketch estimates are
# engine-specific (DataSketches HLL/KLL), no cross-engine oracle exists;
# accuracy is gated vs exact in tests/test_profile.py instead.
def sketch_column_stats_clips_q(spark, sf_dir):
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return sketch_column_stats(scored, ["dur_ms", "payload_bytes", "snr_db"])
