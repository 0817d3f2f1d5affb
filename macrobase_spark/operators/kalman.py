"""Kalman filters (scalar / vector / flattened-matrix) — batch and
streaming smoothing of keyed time series.

Reference semantics (contrib/src/main/java/macrobase/analysis/stats/
kalmanfilter/KalmanVectorFilter.java:20-80, KalmanScalarFilter.java:13-29,
KalmanFlattenedMatrixFilter.java:13-24): a constant-velocity model per
dimension with shared gains — state is a (2, D) matrix (location row,
velocity row), F = [[1, t], [0, 1]], process noise Q = qScale * g g^T with
g = [t^2/2, t], measurement noise R = rScale * t^2, H = [1, 0]; each step
is predict + gain + update and returns the filtered location row. The
scalar and flattened-matrix filters are the D=1 and D=n*m wrappings of the
same recursion.

Spark shape: the recursion is sequential PER KEY and the keys are
independent, so `kalman_filter` is one `keyed_fold` over the keys (each
group sorted by the time column, the 10^12-row layout: millions of keys x
bounded series).

Oracle recipe: with a fixed step interval the Kalman gain sequence is
DATA-INDEPENDENT (the covariance recursion never sees an observation), so
filtered_t is a fixed linear combination of the observations so far. The
registered query materializes that weight matrix by stepping the vector
filter over identity impulses — column j of the identity run carries
exactly the weight of observation j — and DuckDB replays the filter as a
(step, lag) weighted sum. That certifies the distributed per-key
application, ordering, and arithmetic against an independent linear
reconstruction; the recursion itself is additionally gated by the
reference's own 2-gaussians data (tests/test_kalman.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from macrobase_spark.streaming.stateful import keyed_fold


class KalmanVectorFilter:
    """Faithful numpy port of the reference recursion (shared scalar gain
    across dimensions; vectorized over D)."""

    def __init__(self, start: np.ndarray, q_scale: float, r_scale: float = 1.0):
        self.q = float(q_scale)
        self.r = float(r_scale)
        self.reset(np.asarray(start, dtype=np.float64))

    def reset(self, start: np.ndarray) -> None:
        d = len(start)
        self.state = np.zeros((2, d))
        self.state[0] = start
        self.cov = np.eye(2)

    def step(self, obs: np.ndarray, time: int = 1) -> np.ndarray:
        t = float(time)
        g = np.array([0.5 * t * t, t])
        q = self.q * np.outer(g, g)
        r = self.r * t * t
        f = np.array([[1.0, t], [0.0, 1.0]])
        prior_state = f @ self.state
        prior_cov = f @ self.cov @ f.T + q
        resid = np.asarray(obs, dtype=np.float64) - prior_state[0]
        s = prior_cov[0, 0] + r
        k = prior_cov[:, 0] / s  # (2,) gain column (H = [1, 0])
        self.state = prior_state + np.outer(k, resid)
        self.cov = (np.eye(2) - np.outer(k, np.array([1.0, 0.0]))) @ prior_cov
        return self.state[0].copy()


class KalmanScalarFilter(KalmanVectorFilter):
    def __init__(self, start: float, q_scale: float, r_scale: float = 1.0):
        super().__init__(np.array([start]), q_scale, r_scale)

    def step(self, obs: float, time: int = 1) -> float:  # type: ignore[override]
        return float(super().step(np.array([float(obs)]), time)[0])


class KalmanFlattenedMatrixFilter(KalmanVectorFilter):
    """Matrix observations filtered as their column-major flattening."""

    def __init__(self, start: np.ndarray, q_scale: float, r_scale: float = 1.0):
        self.shape = start.shape
        super().__init__(np.asarray(start).flatten(order="F"), q_scale, r_scale)

    def step(self, obs: np.ndarray, time: int = 1) -> np.ndarray:  # type: ignore[override]
        v = super().step(np.asarray(obs).flatten(order="F"), time)
        return v.reshape(self.shape, order="F")


def kalman_weights(n_steps: int, q_scale: float, r_scale: float = 1.0) -> np.ndarray:
    """(n_steps, n_steps) lower-triangular W with filtered_t = sum_j
    W[t, j] * obs_j for a zero start and unit step interval — the identity
    impulse runs described in the module docstring. Data-independent."""
    f = KalmanVectorFilter(np.zeros(n_steps), q_scale, r_scale)
    eye = np.eye(n_steps)
    w = np.zeros((n_steps, n_steps))
    for t in range(n_steps):
        w[t] = f.step(eye[t], 1)
    return w


def kalman_filter(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    q_scale: float,
    r_scale: float = 1.0,
    timeout_s: int | None = None,
) -> DataFrame:
    """Per-key scalar Kalman smoothing, rows ordered by `order_col`, unit
    step interval per observation (the reference's test protocol), zero
    start. Returns (keys..., order_col, value, filtered, step).

    A batch frame filters each key's whole series; a stream resumes each
    key's filter every micro-batch (cross-batch order is the source's
    append order) and emits the same rows. `timeout_s` forgets a key idle
    that long."""
    schema = StructType(
        [df.schema[c] for c in [*key_cols, order_col]]
        + [
            StructField(value_col, DoubleType()),
            StructField("filtered", DoubleType()),
            StructField("step", LongType()),
        ]
    )
    q, r = float(q_scale), float(r_scale)

    def step(st, key, pdf):
        flt, n = st
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        out = pdf[[*key_cols, order_col, value_col]].assign(
            filtered=np.array([flt.step(v, 1) for v in vals], dtype=np.float64),
            step=np.arange(n + 1, n + len(vals) + 1),
        )
        return (flt, n + len(vals)), out

    sel = df.select(*key_cols, order_col, F.col(value_col).cast("double").alias(value_col))
    return keyed_fold(
        sel,
        key_cols,
        [order_col],
        lambda: (KalmanScalarFilter(0.0, q, r), 0),
        step,
        schema,
        None if timeout_s is None else timeout_s * 1000,
    )


# ---------------------------------------------------------------------------
# registered query: per-event-type smoothing, oracle = weight-matrix replay
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_KAL_STEPS = 200
_KAL_Q, _KAL_R = 0.01, 1.0


@artifact("kalman_w", 1)
def kalman_weights_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the lower-triangular (step, lag, w) weight relation for
    the registered config — one relation shared by every key."""
    w = kalman_weights(_KAL_STEPS, _KAL_Q, _KAL_R)
    rows = [
        (t + 1, j + 1, float(w[t, j]))
        for t in range(_KAL_STEPS)
        for j in range(t + 1)
    ]
    spark.createDataFrame(rows, "step long, lag long, w double").coalesce(
        1
    ).write.mode("overwrite").parquet(out)


_KALW = kalman_weights_parquet.scan()

_KAL_ORACLE = f"""
    WITH obs AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS lag
      FROM (SELECT * FROM events
            QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY event_id)
                    <= {_KAL_STEPS})),
    flt AS (
      SELECT o.event_type, w.step, sum(w.w * o.value) AS filtered
      FROM {_KALW} w JOIN obs o ON o.lag = w.lag AND o.event_type IS NOT NULL
      WHERE w.step >= w.lag
      GROUP BY o.event_type, w.step)
    SELECT event_type, step, round(filtered, 6) AS filtered
    FROM flt WHERE step % 20 = 0
"""


@register("kalman_smooth_events", _KAL_ORACLE)
def kalman_smooth_events(spark, sf_dir: str) -> DataFrame:
    """Scalar Kalman smoothing of each event type's value series (first
    200 events by id, unit steps, zero start); the oracle reconstructs
    every 20th filtered value as the data-independent weighted sum of the
    observations so far (sampled steps keep the quadratic replay small)."""
    from pyspark.sql import Window

    kalman_weights_parquet(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    head = (
        ev.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("event_id")
            ),
        )
        .filter(F.col("_rn") <= _KAL_STEPS)
        .drop("_rn")
    )
    flt = kalman_filter(
        head, ["event_type"], "event_id", "value", _KAL_Q, _KAL_R
    )
    return flt.filter(F.col("step") % 20 == 0).select(
        "event_type", "step", F.round("filtered", 6).alias("filtered")
    )
