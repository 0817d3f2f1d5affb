"""MCOD — distance-based outliers over count-based sliding windows.

Reference semantics (alexp/.../outlier/mcod/McodClassifier.java:16-140 +
mcod/MicroCluster_New.java; registry id `mcod`, Pipelines.java:155-166,
defaults maxDistance=1.0 minNeighborCount=30 windowSize=256 slide=256):
a stream of points is windowed by COUNT (window W points, slide S points);
when a window completes, every point with fewer than k neighbors within
Euclidean distance R among the window's points is an outlier; the score
recorded for a point is k - neighborCount, attributed to the window in
which the point ARRIVED (the reference maps each detection back onto the
newly-arrived chunk only — McodClassifier.java:73-85).

The reference's micro-cluster index is a single-node latency optimization
for exactly this semantics; distributed, the natural shape is different:

- BATCH RENDERING (`mcod_batch`): windows are materialized by exploding
  each point into the count-windows that contain it (replication factor
  W/S — the window-overlap ratio, a constant), then ONE shuffle groups
  window populations and a vectorized kernel (chunked GEMM) scores each
  window independently. Windows are embarrassingly parallel: 10^12 points
  = 10^9 independent W-point tasks.
- STREAM RENDERING (`stream_mcod`): a `keyed_fold` per stream key: the
  state carries the last W-S points' coordinates; each completed slide
  triggers one vectorized detection. Count windows are only well-defined
  per key in a distributed stream (global arrival order does not exist) —
  same contract as streaming/stateful.py.

Batch-vs-stream equality over the same per-key event sequence is asserted
in tests/test_mcod.py, mirroring the engine's batch==stream discipline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.streaming.stateful import keyed_fold


def neighbor_counts(X: np.ndarray, R: float) -> np.ndarray:
    """Per-point count of OTHER points within Euclidean distance R.

    Distances via explicit DIFFERENCES (sum over dims of (a-b)²), chunked so
    memory stays O(chunk × n × d) for any window size. Not the GEMM
    expansion ‖a‖²+‖b‖²-2a·b: its cancellation error flips pairs sitting
    exactly at distance R (common with fixed-precision fixtures), while the
    difference form reproduces the same boundary decisions as any engine
    comparing |a-b| <= R with plain fp subtraction (squaring is monotone and
    cannot cross the R² boundary for well-separated doubles)."""
    n, d = X.shape
    counts = np.zeros(n, dtype=np.int64)
    if n == 0:
        return counts
    step = max(1, (1 << 22) // max(n * d, 1))
    r2 = R * R
    for s in range(0, n, step):
        diff = X[s : s + step, None, :] - X[None, :, :]
        d2 = np.einsum("ijk,ijk->ij", diff, diff)
        counts[s : s + step] = (d2 <= r2).sum(axis=1) - 1  # minus self
    return counts


def _window_bounds_exprs(idx, W: int, S: int, n_windows):
    """Window ids containing a point: [ceil((idx-W+1)/S), floor(idx/S)],
    clamped to the complete windows [0, n_windows)."""
    lo = F.greatest(F.lit(0), F.ceil((idx - F.lit(W - 1)) / F.lit(S)).cast("long"))
    hi = F.least(F.floor(idx / F.lit(S)).cast("long"), F.lit(n_windows - 1).cast("long"))
    return lo, hi


def mcod_batch(
    df: DataFrame,
    feature_cols: list[str],
    time_col: str,
    max_distance: float = 1.0,
    min_neighbors: int = 30,
    window_size: int = 256,
    slide: int = 256,
    partition_keys: list[str] | None = None,
) -> DataFrame:
    """Batch replay of MCOD: returns one row per point per ARRIVAL window
    with (partition keys, window_id, time_col, neighbor_count,
    score = k - count, is_outlier). Points after the last complete window
    are not scored (the reference never processes a partial slide).

    partition_keys: independent streams (the 100 TB path — count windows
    per key; a global count order exists only within a key). None = one
    global stream (batch replay of the reference's single stream; the
    ordering row_number is the one unpartitioned window, over row ids only)
    — this path is inherently SINGLE-PARTITION (a global count order
    requires one total sort), so it warns loudly and should only be used
    for reference-parity replay / tests; use partition_keys at scale.
    """
    keys = list(partition_keys or [])
    if not keys:
        import warnings

        warnings.warn(
            "mcod_batch without partition_keys builds a GLOBAL count order: "
            "the whole input is row-numbered in ONE task (single-partition "
            "plan). Fine for reference-parity replay at test scale; pass "
            "partition_keys (e.g. the stream/device key) for any real data.",
            stacklevel=2,
        )
    W, S, k = window_size, slide, min_neighbors
    w = Window.partitionBy(*keys).orderBy(time_col) if keys else Window.orderBy(time_col)
    base = df.select(*keys, time_col, *feature_cols).withColumn(
        "_idx", F.row_number().over(w).cast("long") - 1
    )
    if keys:
        n_per_key = base.groupBy(*keys).agg(F.max("_idx").alias("_mx"))
        base = base.join(F.broadcast(n_per_key), keys)
        n_win = F.greatest(
            F.lit(0).cast("long"),
            (F.floor((F.col("_mx") + 1 - F.lit(W)) / F.lit(S)) + 1).cast("long"),
        )
    else:
        n = base.count()
        n_win = F.lit(max((n - W) // S + 1 if n >= W else 0, 0)).cast("long")
    lo, hi = _window_bounds_exprs(F.col("_idx"), W, S, n_win)
    exploded = (
        base.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .filter(F.col("_hi") >= F.col("_lo"))
        .withColumn("_wid", F.explode(F.sequence("_lo", "_hi")))
        .drop("_lo", "_hi", "_mx")
    )

    out_schema = StructType(
        [df.schema[c] for c in keys]
        + [
            StructField("window_id", LongType()),
            df.schema[time_col],
            StructField("neighbor_count", LongType()),
            StructField("score", DoubleType()),
            StructField("is_outlier", BooleanType()),
        ]
    )

    def score_window(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_idx")
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        counts = neighbor_counts(X, max_distance)
        wid = int(pdf["_wid"].iloc[0])
        idx = pdf["_idx"].to_numpy(dtype=np.int64)
        new = (idx >= wid * S + W - S) | (wid == 0)
        out = pdf.loc[new, keys + ["_wid", time_col]].rename(columns={"_wid": "window_id"})
        out["neighbor_count"] = counts[new]
        out["score"] = float(k) - counts[new].astype(np.float64)
        out["is_outlier"] = counts[new] < k
        return out

    return exploded.groupBy(*keys, "_wid").applyInPandas(score_window, out_schema)


# ---------------------------------------------------------------------------
# Structured-Streaming rendering
# ---------------------------------------------------------------------------


def stream_mcod(
    stream_df: DataFrame,
    key_col: str,
    feature_cols: list[str],
    time_col: str,
    max_distance: float = 1.0,
    min_neighbors: int = 30,
    window_size: int = 256,
    slide: int = 256,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key MCOD: state = (next window id, tail of W-S coordinate rows
    + their times); every completed slide runs one vectorized detection
    and emits the slide's rows. On a stream use outputMode('append').

    idle_timeout_ms: drop a key's buffered state after this much processing
    time with no arrivals — the state-GC a 10^6-key deployment needs (a key
    resuming later restarts its count windows; partial-slide points of an
    evicted key are never scored, matching the reference's never-processed
    trailing slide)."""
    W, S, k = window_size, slide, min_neighbors
    d = len(feature_cols)
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("window_id", LongType()),
            StructField("t", LongType()),
            StructField("neighbor_count", LongType()),
            StructField("score", DoubleType()),
            StructField("is_outlier", BooleanType()),
        ]
    )

    def step(st, key, pdf):
        wid, buf_t, X = st
        buf_t = buf_t + pdf[time_col].tolist()
        X = np.vstack([X, pdf[feature_cols].to_numpy(dtype=np.float64)])
        rows = []
        # fire every completed window: first at W points, then every S
        while len(buf_t) >= W:
            win_t = buf_t[:W]
            counts = neighbor_counts(X[:W], max_distance)
            new_from = 0 if wid == 0 else W - S
            for j in range(new_from, W):
                c = int(counts[j])
                rows.append((key[0], wid, win_t[j], c, float(k) - float(c), c < k))
            wid += 1
            buf_t, X = buf_t[S:], X[S:]
        return (wid, buf_t, X), pd.DataFrame(rows, columns=out_schema.fieldNames())

    return keyed_fold(
        stream_df.selectExpr(
            f"cast({key_col} as string) as key",
            f"cast({time_col} as long) as {time_col}",
            *feature_cols,
        ),
        ["key"],
        [time_col],
        lambda: (0, [], np.empty((0, d))),
        step,
        out_schema,
        idle_timeout_ms,
    )


# ---------------------------------------------------------------------------
# registered query — MCOD is fully SQL-expressible at the semantic level
# (window membership = integer arithmetic, neighbors = a distance self-join)
# ---------------------------------------------------------------------------

from macrobase_spark.queries import register  # noqa: E402

_W, _S, _R, _K = 1000, 500, 4.0, 8


@register(
    "mcod_outliers_events",
    f"""
    WITH o AS (SELECT event_id, value,
                      row_number() OVER (ORDER BY event_id) - 1 AS idx
               FROM events),
    nw AS (SELECT CAST(greatest(floor((count(*) - {_W}) / {_S}) + 1, 0) AS BIGINT) AS n
           FROM o),
    memb AS (SELECT idx, event_id, value,
                    unnest(range(
                      CAST(greatest(ceil((idx - {_W - 1}) / {_S}.0), 0) AS BIGINT),
                      least(CAST(floor(idx / {_S}.0) AS BIGINT), n - 1) + 1)) AS wid
             FROM o, nw
             WHERE least(CAST(floor(idx / {_S}.0) AS BIGINT), n - 1)
                   >= CAST(greatest(ceil((idx - {_W - 1}) / {_S}.0), 0) AS BIGINT)),
    cnt AS (SELECT a.wid, a.idx, a.event_id,
                   CAST(count(b.idx) AS BIGINT) AS neighbor_count
            FROM memb a LEFT JOIN memb b
              ON a.wid = b.wid AND a.idx != b.idx
             AND abs(a.value - b.value) <= {_R}
            GROUP BY 1, 2, 3)
    SELECT wid AS window_id, event_id, neighbor_count,
           CAST({_K} AS DOUBLE) - neighbor_count AS score,
           neighbor_count < {_K} AS is_outlier
    FROM cnt
    WHERE idx >= wid * {_S} + {_W - _S} OR wid = 0
    """,
)
def mcod_outliers_events_q(spark, sf_dir):
    """MCOD batch replay over the events stream (1-D metric `value`,
    count windows W=1000 S=500, R=4.0, k=8), oracle = the windowed
    distance self-join stated directly in SQL."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = mcod_batch(
        e.select("event_id", "value"),
        ["value"],
        "event_id",
        max_distance=_R,
        min_neighbors=_K,
        window_size=_W,
        slide=_S,
    )
    return res.select("window_id", "event_id", "neighbor_count", "score", "is_outlier")


@register(
    "mcod_outliers_keyed",
    f"""
    WITH o AS (SELECT event_type, event_id, value,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY event_id) - 1 AS idx
               FROM events),
    nw AS (SELECT event_type,
                  CAST(greatest(floor((count(*) - {_W}) / {_S}) + 1, 0) AS BIGINT) AS n
           FROM o GROUP BY event_type),
    bounds AS (SELECT o.event_type, idx, event_id, value,
                      CAST(greatest(ceil((idx - {_W - 1}) / {_S}.0), 0) AS BIGINT) AS lo,
                      least(CAST(floor(idx / {_S}.0) AS BIGINT), n - 1) AS hi
               FROM o JOIN nw ON nw.event_type = o.event_type),
    memb AS (SELECT event_type, idx, event_id, value,
                    unnest(range(lo, hi + 1)) AS wid
             FROM bounds WHERE hi >= lo),
    cnt AS (SELECT a.event_type, a.wid, a.idx, a.event_id,
                   CAST(count(b.idx) AS BIGINT) AS neighbor_count
            FROM memb a LEFT JOIN memb b
              ON a.event_type = b.event_type AND a.wid = b.wid AND a.idx != b.idx
             AND abs(a.value - b.value) <= {_R}
            GROUP BY 1, 2, 3, 4)
    SELECT event_type, wid AS window_id, event_id, neighbor_count,
           CAST({_K} AS DOUBLE) - neighbor_count AS score,
           neighbor_count < {_K} AS is_outlier
    FROM cnt
    WHERE idx >= wid * {_S} + {_W - _S} OR wid = 0
    """,
)
def mcod_outliers_keyed_q(spark, sf_dir):
    """Keyed MCOD — the 100 TB flagship shape: independent per-event_type
    count-window streams, so EVERY window (ordering included) is computed
    under partitionBy(event_type) and no unpartitioned row_number appears
    in the plan (VERDICT r2 item 7; the global entry above stays as the
    reference-parity replay of the single-stream semantics)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = mcod_batch(
        e.select("event_type", "event_id", "value"),
        ["value"],
        "event_id",
        max_distance=_R,
        min_neighbors=_K,
        window_size=_W,
        slide=_S,
        partition_keys=["event_type"],
    )
    return res.select(
        "event_type", "window_id", "event_id", "neighbor_count", "score", "is_outlier"
    )
