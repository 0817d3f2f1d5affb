"""Incremental metrics-state repository: per-partition MERGEABLE metric
states, persisted, so re-validating a growing table never rescans history.

The 10^12-row problem this solves: a daily append adds ~0.1% of the table,
but table-level column stats (count / null-rate / min / max / distinct /
quantiles) naively cost a full rescan. Every metric the profiler computes
is chosen to be an associative, commutative MERGE of per-partition states:

- count / null count / sum  → long/double adds (exact under merge; the
  registered query keeps summed columns integral so the merged sum is
  bit-identical to a full rescan — certified by the DuckDB oracle);
- min / max                 → exact under merge;
- distinct                  → HLL sketch binary state; `hll_union_agg` is
  register-max, so the union of per-partition sketches is IDENTICAL to the
  single-pass sketch regardless of how rows were grouped;
- quantiles                 → KLL sketch binary state via
  `kll_merge_agg_double` (merge is sketch-accurate: compaction order
  differs from the single-pass build, so estimates agree to sketch error,
  not bit-for-bit — tests gate the error).

Workflow (mirrors plans/manifest.py's resume contract):
    states = update_states(spark, df, "codec", cols, path)   # scans ONLY
                                                             # new partitions
    profile = merge_profile(spark, path, cols)               # reads states,
                                                             # never the data

`update_states` prunes with a literal `partition NOT IN (done)` filter —
on a partition-laid-out table (Iceberg / hive parquet) that reaches the
scan as a partition filter, so completed partitions are never even read.
The done-list is partition-grain (bounded: one string per partition), the
same cardinality contract the run manifest already holds.

Reference scope: the reference recomputes per-batch stats from scratch each
run (`BasicBatchPipeline.java` loads the full CSV every time); incremental
state persistence is the build brief's scale addition.
"""

from __future__ import annotations

import math
import os
import statistics

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from macrobase_spark.artifacts import artifact_path
from macrobase_spark.functions.rows import local_rows, write_rows
from macrobase_spark.operators.clips_suite import scored_parquet


def partition_states(
    df: DataFrame, partition_col: str, numeric_cols: list[str]
) -> DataFrame:
    """ONE grouped pass over `df`: a states row per partition value, with
    exact scalars (count/nulls/min/max/sum) and binary HLL + KLL sketch
    states per column. Partial aggregation combines map-side; the shuffle
    carries one row per partition."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in numeric_cols:
        d = F.col(c).cast("double")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__n_null"),
            F.min(d).alias(f"{c}__min"),
            F.max(d).alias(f"{c}__max"),
            F.sum(d).alias(f"{c}__sum"),
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"{c}__hll"),
            F.kll_sketch_agg_double(d).alias(f"{c}__kll"),
        ]
    return df.groupBy(
        F.col(partition_col).cast("string").alias("partition")
    ).agg(*aggs)


def update_states(
    spark: SparkSession,
    df: DataFrame,
    partition_col: str,
    numeric_cols: list[str],
    path: str,
) -> DataFrame:
    """Incremental update: compute states ONLY for partitions absent from
    the repository at `path`, append them, return the full states relation.
    The `NOT IN (done)` predicate is a literal partition filter — on a
    partitioned layout the scan skips completed partitions entirely."""
    done: list[str] = []
    if os.path.isfile(f"{path}/_SUCCESS"):
        done = [
            r["partition"]
            for r in spark.read.parquet(path).select("partition").distinct().collect()
        ]
    new = df
    if done:
        new = df.filter(~F.col(partition_col).cast("string").isin(done))
    fresh = partition_states(new, partition_col, numeric_cols)
    if done:
        if fresh.limit(1).count() > 0:
            fresh.write.mode("append").parquet(path)
    else:
        fresh.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def merge_states(
    states: DataFrame,
    numeric_cols: list[str],
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Merge per-partition states into the table-level profile — reads ONLY
    the states relation (one row per partition), never the data. Returns
    one row per column: exact merged scalars + sketch estimates."""
    qnames = [f"p{int(q * 100)}" for q in quantiles]
    aggs = [F.sum("n_rows").alias("__n_rows")]
    for c in numeric_cols:
        aggs += [
            F.sum(f"{c}__n_null").alias(f"{c}__n_null"),
            F.min(f"{c}__min").alias(f"{c}__min"),
            F.max(f"{c}__max").alias(f"{c}__max"),
            F.sum(f"{c}__sum").alias(f"{c}__sum"),
            F.hll_sketch_estimate(F.hll_union_agg(F.col(f"{c}__hll"))).alias(
                f"{c}__distinct"
            ),
            *[
                F.kll_sketch_get_quantile_double(
                    F.kll_merge_agg_double(F.col(f"{c}__kll")), F.lit(q)
                ).alias(f"{c}__{qn}")
                for q, qn in zip(quantiles, qnames)
            ],
        ]
    one = states.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n_rows").cast("long").alias("n_rows"),
            F.col(f"{c}__n_null").cast("long").alias("n_null"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__sum").alias("sum"),
            F.col(f"{c}__distinct").cast("long").alias("approx_distinct"),
            *[F.col(f"{c}__{qn}").alias(qn) for qn in qnames],
        )
        for c in numeric_cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def merge_profile(
    spark: SparkSession,
    path: str,
    numeric_cols: list[str],
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    return merge_states(spark.read.parquet(path), numeric_cols, quantiles)


# --------------------------------------------------------------------------
# Registered query: the merged-states profile's EXACT columns vs a DuckDB
# full rescan — certifying incremental merge == recompute, value-for-value.
# Summed columns are integral (dur_ms / sr_hz / payload_bytes), so the
# partition-then-merge double sums are exact; mean is one division on both
# sides. Sketch estimates are engine-specific and stay out of this relation
# (tests gate them instead, like the DataSketches profile).
# --------------------------------------------------------------------------

_COLS = ["dur_ms", "sr_hz", "payload_bytes"]

_S = scored_parquet.scan()

_INC_ORACLE = f"""
WITH s AS (SELECT * FROM {_S})
SELECT col AS "column", n_rows, n_null, "min", "max", "sum",
       round("sum" / (n_rows - n_null), 6) AS mean
FROM (
  SELECT 'dur_ms' AS col, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN dur_ms IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         min(CAST(dur_ms AS DOUBLE)) AS "min", max(CAST(dur_ms AS DOUBLE)) AS "max",
         sum(CAST(dur_ms AS DOUBLE)) AS "sum" FROM s
  UNION ALL
  SELECT 'sr_hz', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN sr_hz IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         min(CAST(sr_hz AS DOUBLE)), max(CAST(sr_hz AS DOUBLE)),
         sum(CAST(sr_hz AS DOUBLE)) FROM s
  UNION ALL
  SELECT 'payload_bytes', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN payload_bytes IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         min(CAST(payload_bytes AS DOUBLE)), max(CAST(payload_bytes AS DOUBLE)),
         sum(CAST(payload_bytes AS DOUBLE)) FROM s
)
"""


def _register_clips_query() -> None:
    from macrobase_spark.queries import register

    @register("clips_incremental_stats", _INC_ORACLE)
    def clips_incremental_stats(spark, sf_dir):
        """Per-partition (codec) metric states merged into the table
        profile; the DuckDB oracle is a FULL RESCAN of the same files, so a
        green row certifies that the incremental merge path loses nothing."""
        scored = spark.read.parquet(scored_parquet(spark, sf_dir))
        # a repository, not a cache: update_states appends to it in place
        path = artifact_path("metric_states", 1, sf_dir)
        states = update_states(spark, scored, "codec", _COLS, path)
        prof = merge_states(states, _COLS)
        return prof.select(
            "column",
            "n_rows",
            "n_null",
            "min",
            "max",
            "sum",
            F.round(F.col("sum") / (F.col("n_rows") - F.col("n_null")), 6).alias("mean"),
        )


_register_clips_query()


# --------------------------------------------------------------------------
# Metric history + anomaly checks (the Deequ-style anomaly gate): a table's
# profile is recorded per run, and today's metrics are judged against the
# trailing runs — "row count within tolerance of its recent median", not a
# hand-maintained absolute bound. At 10^12 rows absolute thresholds rot;
# the history relation stays tiny (runs x columns x metrics), so every
# statistic here is exact and costs no data scan: the rule runs once, over
# driver rows (`anomaly_rows`), behind both the row face and the Spark face
# (`anomaly_check`), as `explain._lattice` serves both explain faces.
# --------------------------------------------------------------------------

# the nullability Spark's writer gave the history files (run_seq and metric
# were literals)
PROFILE_HISTORY_SCHEMA = (
    "run_seq long NOT NULL, column string, metric string NOT NULL, value double"
)
ANOMALY_SCHEMA = StructType(
    [
        StructField("column", StringType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
        StructField("baseline", DoubleType()),
        StructField("deviation", DoubleType()),
        StructField("status", StringType(), False),
        StructField("n_history", LongType(), False),
    ]
)


def profile_long(profile: DataFrame, metrics: list[str]) -> DataFrame:
    """Melt a merge_profile()-shaped row-per-column relation into
    (column, metric, value) long form — the history/anomaly vocabulary."""
    structs = [
        F.struct(F.lit(m).alias("metric"), F.col(m).cast("double").alias("value"))
        for m in metrics
    ]
    return profile.select(
        "column", F.explode(F.array(*structs)).alias("s")
    ).select("column", "s.metric", "s.value")


def record_history(path: str, run_seq: int, rows) -> None:
    """Append one run's (column, metric, value) rows to the history
    relation at `path` — the same append-only parquet contract as the run
    manifest, written on the driver (`functions.rows.write_rows`)."""
    write_rows(path, [(run_seq, c, m, v) for c, m, v in rows], PROFILE_HISTORY_SCHEMA)


def record_profile(profile: DataFrame, path: str, run_seq: int, metrics: list[str]) -> None:
    """Append one run's profile (long form) to the history relation."""
    record_history(path, run_seq, profile_long(profile, metrics).collect())


def _round6(x: float | None) -> float | None:
    """Spark's round(x, 6): HALF_UP on the shortest decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None or not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def anomaly_rows(
    history,
    current,
    method: str = "mad",
    threshold: float = 3.0,
    window: int | None = None,
) -> list[Row]:
    """Judge each (column, metric, value) row of `current` against the
    trailing `window` runs (by run_seq) of the (run_seq, column, metric,
    value) rows of `history`:

    - method='relative': anomaly iff |value - median| / |median| > threshold
    - method='mad':      anomaly iff |value - median| > threshold * MAD
                         (robust z-score; MAD==0 degrades to exact-match:
                         any deviation from a constant history is anomalous)
    - method='stddev':   anomaly iff |value - mean| > threshold * stddev
                         (sample stddev; needs >= 2 runs, else never fires)

    Medians are exact; null values are skipped by the statistics but
    counted in n_history, and an undefined deviation (null value, zero
    median under 'relative') passes. Returns ANOMALY_SCHEMA rows (column,
    metric, value, baseline, deviation, status, n_history), baseline and
    deviation rounded to 6 places; metrics with no history rows pass
    (status 'ok', baseline null) so a first run never self-flags."""
    if method not in ("relative", "mad", "stddev"):
        raise ValueError(f"unknown anomaly method {method!r}")
    hist = list(history)
    if window is not None:
        top = max((r[0] for r in hist if r[0] is not None), default=None)
        hist = [r for r in hist if top is not None and r[0] is not None and r[0] > top - window]
    by_key: dict[tuple, list] = {}
    for _, col, met, v in hist:
        by_key.setdefault((col, met), []).append(v)
    out = []
    for col, met, value in current:
        rows = by_key.get((col, met), [])
        vals = [v for v in rows if v is not None]
        baseline = dev = None
        anomalous = False
        if vals:
            med, mean = statistics.median(vals), statistics.fmean(vals)
            baseline = mean if method == "stddev" else med
            if value is not None:
                dev = abs(value - baseline)
                if method == "relative":
                    dev = dev / abs(med) if med else None
                    anomalous = dev is not None and dev > threshold
                elif method == "mad":
                    mad = statistics.median([abs(v - med) for v in vals])
                    anomalous = dev > threshold * mad if mad > 0 else dev > 0
                elif len(vals) > 1:
                    anomalous = dev > threshold * statistics.stdev(vals)
        out.append(
            Row(
                column=col,
                metric=met,
                value=value,
                baseline=_round6(baseline),
                deviation=_round6(dev),
                status="anomaly" if anomalous else "ok",
                n_history=len(rows),
            )
        )
    return out


def anomaly_check(
    history: DataFrame,
    current: DataFrame,
    method: str = "mad",
    threshold: float = 3.0,
    window: int | None = None,
) -> DataFrame:
    """`anomaly_rows` over relations: `history` (run_seq, column, metric,
    value) and `current` (column, metric, value), both tiny, are collected
    and judged on the driver; the result is a local relation of
    ANOMALY_SCHEMA whose first three fields are `current`'s."""
    current = current.select("column", "metric", "value")
    rows = anomaly_rows(
        history.select("run_seq", "column", "metric", "value").collect(),
        current.collect(),
        method, threshold, window,
    )
    schema = StructType(current.schema.fields + ANOMALY_SCHEMA.fields[3:])
    return local_rows(current.sparkSession, rows, schema)


# --------------------------------------------------------------------------
# Registered query: the anomaly gate replayed by DuckDB over the same
# scored relation. History = three deterministic prefixes of the table
# (clip_id cuts), current = the full table: the row count and sums grew
# ~11% past the trailing median (> the 5% tolerance -> anomaly) while min
# stays flat (-> ok), so both verdicts are exercised. Every statistic is
# integral-exact (counts, integer sums, median-of-3), so the comparison is
# value-exact after the engine-wide round-to-6.
# --------------------------------------------------------------------------

_ANOM_COLS = ["dur_ms", "sr_hz"]
_ANOM_CUTS = [8000, 9000, 9500]


def _slice_profile_long(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(c).cast("double").alias(f"__sum_{c}"),
            F.min(c).cast("double").alias(f"__min_{c}"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("column"), F.lit(m).alias("metric"),
                 F.col(f"__{m}_{c}" if m != "n_rows" else "__n").alias("value"))
        for c in cols
        for m in ("n_rows", "sum", "min")
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def _anom_oracle() -> str:
    legs = []
    for seq, cut in enumerate(_ANOM_CUTS, 1):
        pred = f"clip_id < 'clip_{cut:012d}'"
        for c in _ANOM_COLS:
            legs += [
                f"SELECT {seq} AS run_seq, '{c}' AS \"column\", 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS value FROM s WHERE {pred}",
                f"SELECT {seq}, '{c}', 'sum', CAST(sum({c}) AS DOUBLE) FROM s WHERE {pred}",
                f"SELECT {seq}, '{c}', 'min', CAST(min({c}) AS DOUBLE) FROM s WHERE {pred}",
            ]
    cur = []
    for c in _ANOM_COLS:
        cur += [
            f"SELECT '{c}' AS \"column\", 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS value FROM s",
            f"SELECT '{c}', 'sum', CAST(sum({c}) AS DOUBLE) FROM s",
            f"SELECT '{c}', 'min', CAST(min({c}) AS DOUBLE) FROM s",
        ]
    hist = " UNION ALL ".join(legs)
    curq = " UNION ALL ".join(cur)
    return f"""
    WITH s AS (SELECT * FROM {_S}),
    hist AS ({hist}),
    cur AS ({curq}),
    med AS (SELECT "column", metric, median(value) AS m,
                   CAST(count(*) AS BIGINT) AS nh
            FROM hist GROUP BY 1, 2)
    SELECT c."column", c.metric, c.value,
           round(m, 6) AS baseline,
           round(abs(c.value - m) / abs(m), 6) AS deviation,
           CASE WHEN abs(c.value - m) / abs(m) > 0.05
                THEN 'anomaly' ELSE 'ok' END AS status,
           nh AS n_history
    FROM cur c JOIN med USING ("column", metric)
    """


def _register_anomaly_query() -> None:
    from macrobase_spark.queries import register

    @register("clips_metric_anomaly", _anom_oracle())
    def clips_metric_anomaly(spark, sf_dir):
        """Trailing-window anomaly gate: profile three deterministic
        prefixes of the scored table as the run history, then judge the
        full table's metrics against the trailing median with a 5%
        relative tolerance — counts/sums fire (the table grew ~11% past
        the median), minima stay ok. The DuckDB oracle replays history,
        median, deviation, and verdicts over the same parquet."""
        from macrobase_spark.operators.clips_suite import scored_parquet

        s = spark.read.parquet(scored_parquet(spark, sf_dir))
        hist = None
        for seq, cut in enumerate(_ANOM_CUTS, 1):
            p = _slice_profile_long(
                s.filter(F.col("clip_id") < f"clip_{cut:012d}"), _ANOM_COLS
            ).select(F.lit(seq).cast("long").alias("run_seq"), "*")
            hist = p if hist is None else hist.unionAll(p)
        current = _slice_profile_long(s, _ANOM_COLS)
        return anomaly_check(hist, current, method="relative", threshold=0.05)


_register_anomaly_query()
