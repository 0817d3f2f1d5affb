"""ARIMA time-series scorer — the reference's last unported contrib
algorithm, rebuilt without the R bridge.

Reference semantics (contrib/src/main/java/macrobase/analysis/stats/
ARIMA.java:36-118 + TimeSeriesScore.java:9-53): a rolling tuple window of
size W; the first W-1 points score 0; when the window first fills, fit a
model on it and forecast the next W values; each subsequent point consumes
one forecast and scores |(value - prediction) / prediction| (relative
error); when the forecast queue drains (every W points), refit on the
current trailing window and forecast the next W. The reference delegates
the fit to R's `auto.arima` over JRI (ARIMA.java:97-105) — an environment
bridge, not an algorithm — so this port substitutes a published
pure-numpy estimator with the same model family and keeps the windowing /
scoring contract bit-faithful:

- d (differencing order) chosen by the KPSS level-stationarity test
  (Kwiatkowski et al. 1992), the same test `auto.arima` defaults to;
- ARMA(p, q) coefficients by the Hannan-Rissanen two-stage regression
  (Hannan & Rissanen 1982): a long-AR pass yields residual estimates,
  then one OLS of x_t on lagged x and lagged residuals;
- (p, q) selected by AIC over a small grid, mirroring auto.arima's
  stepwise objective.

Spark shape (same rationale as kalman.py): the recursion is sequential
PER KEY and keys are independent — `arima_score` is one `keyed_fold`
over the keys (10^12-row layout: millions of keys x bounded series, the
refit cost is O(W * grid) every W rows), resuming `arima_trace` from the
key's `ArimaWindow`.

Oracle recipe (two strengths):
- `arima_ar2_forecast_events` is FULLY SQL-replayable: a fixed AR(2) fit
  on each key's head is closed-form (2-regressor normal equations), so
  DuckDB recomputes the coefficients from raw sums and unrolls the
  h-step forecast recursion in a recursive CTE — fit AND forecast
  certified end-to-end from the data alone, no materialized model.
- `arima_score_events` (the full auto contract) materializes the
  per-ordinal forecast relation (the same recipe as the RRCF/HST model
  oracles) and DuckDB replays the window alignment + relative-error
  scoring; the estimator itself is gated by pytest (AR recovery, KPSS d
  selection, trace equality vs an independent re-implementation).
"""

from __future__ import annotations

import math
from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from macrobase_spark.streaming.stateful import keyed_fold

# ---------------------------------------------------------------------------
# numpy estimator: KPSS differencing + Hannan-Rissanen ARMA + AIC grid
# ---------------------------------------------------------------------------

_KPSS_CRIT_5PCT = 0.463  # level-stationarity critical value (KPSS Table 1)


def kpss_stat(x: np.ndarray) -> float:
    """KPSS level-stationarity statistic: partial sums of the demeaned
    series over a Bartlett-weighted long-run variance (Schwert lag rule).
    Large values reject stationarity."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    e = x - x.mean()
    s = np.cumsum(e)
    g0 = float(e @ e) / n
    if g0 <= 0.0:
        return 0.0  # constant series: stationary
    lags = min(int(4 * (n / 100.0) ** 0.25), n - 1)
    lrv = g0
    for k in range(1, lags + 1):
        lrv += 2.0 * (1.0 - k / (lags + 1.0)) * float(e[k:] @ e[:-k]) / n
    if lrv <= 0.0:
        lrv = g0
    return float(s @ s) / (n * n * lrv)


def select_d(x: np.ndarray, max_d: int = 2) -> int:
    """Smallest d in 0..max_d whose d-th difference passes KPSS at 5%."""
    w = np.asarray(x, dtype=np.float64)
    for d in range(max_d + 1):
        if len(w) < 8 or kpss_stat(w) <= _KPSS_CRIT_5PCT:
            return d
        w = np.diff(w)
    return max_d


def _ols(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    return beta


def fit_arma(x: np.ndarray, p: int, q: int) -> tuple[float, np.ndarray, np.ndarray, float]:
    """Hannan-Rissanen ARMA(p, q) with intercept on a (stationary) series.
    Returns (c, phi[p], theta[q], aic). q=0 degrades to plain AR-OLS."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if q == 0:
        if p == 0:
            c = float(x.mean())
            resid = x - c
            phi = np.zeros(0)
        else:
            X = np.column_stack(
                [np.ones(n - p)] + [x[p - 1 - i : n - 1 - i] for i in range(p)]
            )
            beta = _ols(X, x[p:])
            c, phi = float(beta[0]), beta[1:]
            resid = x[p:] - X @ beta
        theta = np.zeros(0)
    else:
        # stage 1: long AR for residual estimates (zeros before it applies)
        m = min(max(8, 2 * (p + q)), max(1, n // 3))
        Xm = np.column_stack(
            [np.ones(n - m)] + [x[m - 1 - i : n - 1 - i] for i in range(m)]
        )
        e = np.zeros(n)
        e[m:] = x[m:] - Xm @ _ols(Xm, x[m:])
        # stage 2: OLS of x_t on lagged x and lagged residuals
        s = max(p, q, m)
        X = np.column_stack(
            [np.ones(n - s)]
            + [x[s - 1 - i : n - 1 - i] for i in range(p)]
            + [e[s - 1 - j : n - 1 - j] for j in range(q)]
        )
        beta = _ols(X, x[s:])
        c = float(beta[0])
        phi = beta[1 : 1 + p]
        theta = beta[1 + p :]
        resid = x[s:] - X @ beta
    neff = max(len(resid), 1)
    sigma2 = max(float(resid @ resid) / neff, 1e-300)
    aic = neff * math.log(sigma2) + 2.0 * (p + q + 1)
    return c, phi, theta, aic


def fit_auto(
    x: np.ndarray, max_p: int = 3, max_q: int = 2, max_d: int = 2
) -> dict:
    """auto.arima-shaped order selection: KPSS picks d, an AIC grid picks
    (p, q) on the differenced series. Returns the model dict used by
    `forecast`."""
    x = np.asarray(x, dtype=np.float64)
    d = select_d(x, max_d)
    w = np.diff(x, n=d) if d else x
    best = None
    for p in range(max_p + 1):
        for q in range(max_q + 1):
            if len(w) <= max(p, q, 8 if q else p) + 2:
                continue
            try:
                c, phi, theta, aic = fit_arma(w, p, q)
            except np.linalg.LinAlgError:  # pragma: no cover - degenerate grids
                continue
            if not np.isfinite(aic):
                continue
            if best is None or aic < best["aic"]:
                best = {"c": c, "phi": phi, "theta": theta, "aic": aic, "p": p, "q": q}
    if best is None:  # constant / tiny series: mean model
        best = {"c": float(w.mean()) if len(w) else 0.0,
                "phi": np.zeros(0), "theta": np.zeros(0), "aic": 0.0, "p": 0, "q": 0}
    best["d"] = d
    return best


def _residuals(model: dict, w: np.ndarray) -> np.ndarray:
    """In-sample one-step residuals of the fitted ARMA on the differenced
    series (zeros where lags are unavailable) — the MA feedback state."""
    c, phi, theta = model["c"], model["phi"], model["theta"]
    p, q = len(phi), len(theta)
    e = np.zeros(len(w))
    for t in range(len(w)):
        pred = c
        for i in range(p):
            if t - 1 - i >= 0:
                pred += phi[i] * w[t - 1 - i]
        for j in range(q):
            if t - 1 - j >= 0:
                pred += theta[j] * e[t - 1 - j]
        e[t] = w[t] - pred
    return e


def forecast(model: dict, x: np.ndarray, h: int) -> np.ndarray:
    """h-step mean forecast of the ORIGINAL series: recurse the ARMA on the
    differenced history (future shocks = 0), then integrate d times from
    the original tail — the `forecast(fit, h)$mean` contract."""
    x = np.asarray(x, dtype=np.float64)
    d = model["d"]
    w = np.diff(x, n=d) if d else x.copy()
    c, phi, theta = model["c"], model["phi"], model["theta"]
    p, q = len(phi), len(theta)
    e = _residuals(model, w)
    wh = list(w)
    eh = list(e)
    fw = []
    for _ in range(h):
        pred = c
        for i in range(p):
            if len(wh) - 1 - i >= 0:
                pred += phi[i] * wh[len(wh) - 1 - i]
        for j in range(q):
            if len(eh) - 1 - j >= 0:
                pred += theta[j] * eh[len(eh) - 1 - j]
        fw.append(pred)
        wh.append(pred)
        eh.append(0.0)
    out = np.asarray(fw)
    # invert differencing: each integration level cumsums from its own tail
    tails = []
    xi = x
    for _ in range(d):
        tails.append(xi[-1])
        xi = np.diff(xi)
    for tail in reversed(tails):
        out = tail + np.cumsum(out)
    return out


# ---------------------------------------------------------------------------
# the reference windowing contract
# ---------------------------------------------------------------------------


class ArimaWindow:
    """Resumable state of the reference's windowing loop: the trailing
    window, the standing forecast queue, the warmup counter, the latest
    score, the ordinal of the last refit and the points consumed so far."""

    def __init__(self) -> None:
        self.win: deque = deque()
        self.preds: deque | None = None
        self.counter = 0
        self.latest: float | None = None
        self.retrain_ord = -1
        self.seen = 0


def _auto_fitter(max_p: int = 3, max_q: int = 2, max_d: int = 2):
    def fitter(w, h):
        return forecast(fit_auto(np.asarray(w), max_p, max_q, max_d), np.asarray(w), h)

    return fitter


def arima_trace(
    values: np.ndarray, window: int, fitter=None, state: ArimaWindow | None = None
) -> tuple[np.ndarray, list[tuple[int, int, float]]]:
    """Bit-faithful trace of ARIMA.addToWindow/scoreWindow over an ordered
    series: returns (scores, records) where records[(ordinal, retrain_ord,
    prediction)] logs the forecast each ordinal consumed. `fitter(window_
    values, h)` returns the h-step forecast (default: the auto fit).

    Resumable: a `state` from an earlier call (updated in place) continues
    the same series, ordinals counting from the series start."""
    fitter = fitter or _auto_fitter()
    st = state if state is not None else ArimaWindow()
    scores = np.zeros(len(values))
    records: list[tuple[int, int, float]] = []
    for j, v in enumerate(np.asarray(values, dtype=np.float64)):
        i = st.seen + j
        if len(st.win) == window:
            st.win.popleft()
        st.win.append(v)
        if st.preds is not None:
            pred = st.preds.popleft()
            st.latest = abs((v - pred) / pred)
            records.append((i, st.retrain_ord, float(pred)))
        if st.counter < window - 1:
            st.counter += 1
        elif st.preds is None or not st.preds:
            st.preds = deque(fitter(list(st.win), window))
            st.retrain_ord = i
        scores[j] = 0.0 if st.latest is None else st.latest
    st.seen += len(scores)
    return scores, records


# ---------------------------------------------------------------------------
# Spark operators: one keyed fold per series, batch or stream
# ---------------------------------------------------------------------------


def arima_score(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    window: int,
    max_p: int = 3,
    max_q: int = 2,
    max_d: int = 2,
    timeout_s: int | None = None,
) -> DataFrame:
    """Per-key ARIMA scoring, rows ordered by `order_col`, the reference's
    retrain-every-W contract. Returns (keys..., order_col, value, score,
    prediction, retrain_ord) — prediction/retrain_ord are null for the
    first W ordinals (no forecast consumed yet).

    A batch frame scores each key's whole series; a stream resumes each
    key's window every micro-batch (cross-batch order is the source's
    append order) and emits the same rows. `timeout_s` forgets a key idle
    that long."""
    schema = StructType(
        [df.schema[c] for c in [*key_cols, order_col]]
        + [
            StructField(value_col, DoubleType()),
            StructField("score", DoubleType()),
            StructField("prediction", DoubleType()),
            StructField("retrain_ord", LongType()),
        ]
    )
    fitter = _auto_fitter(max_p, max_q, max_d)

    def step(st, key, pdf):
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        first = st.seen
        scores, records = arima_trace(vals, window, fitter, st)
        pred: list = [None] * len(vals)
        ro: list = [None] * len(vals)
        for i, r, p in records:
            pred[i - first], ro[i - first] = p, r
        out = pdf[[*key_cols, order_col, value_col]].assign(
            score=scores,
            prediction=pd.array(pred, dtype="Float64"),
            retrain_ord=pd.array(ro, dtype="Int64"),
        )
        return st, out

    sel = df.select(*key_cols, order_col, F.col(value_col).cast("double").alias(value_col))
    return keyed_fold(
        sel,
        key_cols,
        [order_col],
        ArimaWindow,
        step,
        schema,
        None if timeout_s is None else timeout_s * 1000,
    )


def arima_chain_score(
    df: DataFrame,
    metric_col: str,
    order_col: str,
    key_cols: list[str] | None = None,
    window: int = 100,  # MacroBaseDefaults.TUPLE_WINDOW (legacy conf:34)
    score_col: str = "_OUTLIER",
    max_p: int = 3,
    max_q: int = 2,
    max_d: int = 2,
) -> DataFrame:
    """Chain-classifier flavor: every input column passes through and the
    ARIMA relative-error score lands in `score_col` — the contract the
    config-pipeline classifier chain expects. Unkeyed input runs as ONE
    group (faithful to the reference's single-stream scorer; keyed input
    is the scale path, like MCOD)."""
    schema = StructType(df.schema.fields + [StructField(score_col, DoubleType())])
    fitter = _auto_fitter(max_p, max_q, max_d)

    def step(st, key, pdf):
        vals = pdf[metric_col].to_numpy(dtype=np.float64)
        scores, _ = arima_trace(vals, window, fitter, st)
        return st, pdf.assign(**{score_col: scores})

    return keyed_fold(df, list(key_cols or []), [order_col], ArimaWindow, step, schema)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

_W = 60  # tuple window of the registered contract query
_HEAD = 240  # first 240 events per type -> 3 retrains consumed
_AR2_TRAIN = 50
_AR2_H = 20


@artifact("arima_pred", 1)
def arima_predictions_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the (event_type, ordinal, prediction) relation the full
    auto-contract consumed — the RRCF-style model-relation oracle input.
    Deterministic: same kernel, same data, driver-side."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "event_id", "value")
        .toPandas()
    )
    rows = []
    for et, g in ev.groupby("event_type"):
        vals = (
            g.sort_values("event_id")["value"].to_numpy(dtype=np.float64)[:_HEAD]
        )
        _, records = arima_trace(vals, _W)
        for i, _r, p in records:
            rows.append((et, i + 1, float(p)))
    spark.createDataFrame(
        rows, "event_type string, ordinal long, prediction double"
    ).coalesce(1).write.parquet(out)


_PRED = arima_predictions_parquet.scan()

_ARIMA_ORACLE = f"""
    WITH obs AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id)
               AS ordinal
      FROM events QUALIFY ordinal <= {_HEAD})
    SELECT o.event_type, o.ordinal,
           round(abs((o.value - p.prediction) / p.prediction), 6) AS score
    FROM obs o JOIN {_PRED} p
      ON p.event_type = o.event_type AND p.ordinal = o.ordinal
"""


@register("arima_score_events", _ARIMA_ORACLE)
def arima_score_events(spark, sf_dir: str) -> DataFrame:
    """The full ARIMA.java contract per event type (first 240 events by
    id, W=60): auto-fit every 60 points, score each point's relative error
    against the standing forecast. Oracle replays the window alignment +
    scoring over the materialized forecast relation; rows before the first
    consumed forecast (score-0 warmup) are excluded on both sides by the
    join."""
    from pyspark.sql import Window

    arima_predictions_parquet(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    head = (
        ev.select("event_type", "event_id", "value")
        .withColumn(
            "ordinal",
            F.row_number().over(Window.partitionBy("event_type").orderBy("event_id")),
        )
        .filter(F.col("ordinal") <= _HEAD)
    )
    scored = arima_score(head, ["event_type"], "ordinal", "value", _W)
    # forecasts are consumed from ordinal W+1 on (1-based) — a deterministic
    # bound, so the warmup drop never leans on NaN-vs-null semantics
    return scored.filter(F.col("ordinal") > _W).select(
        "event_type",
        F.col("ordinal").cast("long").alias("ordinal"),
        F.round("score", 6).alias("score"),
    )


_AR2_ORACLE = f"""
    WITH RECURSIVE obs AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id)
               AS ordinal
      FROM events QUALIFY ordinal <= {_AR2_TRAIN}),
    lagged AS (
      SELECT event_type, ordinal, value,
             lag(value, 1) OVER (PARTITION BY event_type ORDER BY ordinal) AS x1,
             lag(value, 2) OVER (PARTITION BY event_type ORDER BY ordinal) AS x2
      FROM obs),
    fit AS (  -- 2-regressor OLS via centered normal equations
      SELECT event_type,
             avg(value) AS my, avg(x1) AS m1, avg(x2) AS m2,
             sum((x1 - m1g) * (x1 - m1g)) AS s11,
             sum((x2 - m2g) * (x2 - m2g)) AS s22,
             sum((x1 - m1g) * (x2 - m2g)) AS s12,
             sum((x1 - m1g) * (value - myg)) AS s1y,
             sum((x2 - m2g) * (value - myg)) AS s2y
      FROM (SELECT *,
                   avg(value) OVER (PARTITION BY event_type) AS myg,
                   avg(x1) OVER (PARTITION BY event_type) AS m1g,
                   avg(x2) OVER (PARTITION BY event_type) AS m2g
            FROM lagged WHERE x2 IS NOT NULL)
      GROUP BY event_type),
    coefs AS (
      SELECT event_type,
             (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS phi1,
             (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS phi2,
             my - ((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12)) * m1
                - ((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12)) * m2 AS c
      FROM fit),
    tail AS (
      SELECT event_type,
             max(CASE WHEN ordinal = {_AR2_TRAIN} THEN value END) AS prev1,
             max(CASE WHEN ordinal = {_AR2_TRAIN - 1} THEN value END) AS prev2
      FROM obs GROUP BY event_type),
    rec AS (  -- unroll the h-step forecast recursion
      SELECT c.event_type, 1 AS h,
             c.c + c.phi1 * t.prev1 + c.phi2 * t.prev2 AS f,
             t.prev1 AS pprev, c.c AS c, c.phi1 AS phi1, c.phi2 AS phi2
      FROM coefs c JOIN tail t USING (event_type)
      UNION ALL
      SELECT event_type, h + 1,
             c + phi1 * f + phi2 * pprev, f, c, phi1, phi2
      FROM rec WHERE h < {_AR2_H})
    SELECT event_type, h AS step, round(f, 5) AS forecast
    FROM rec
"""


@register("arima_ar2_forecast_events", _AR2_ORACLE)
def arima_ar2_forecast_events(spark, sf_dir: str) -> DataFrame:
    """Fixed AR(2) fit on each event type's first 50 values, 20-step mean
    forecast — the one ARIMA flavor whose fit AND forecast are both exactly
    SQL-expressible, so the oracle recomputes the OLS coefficients from raw
    sums and unrolls the recursion in a recursive CTE: estimator certified
    end-to-end from the data alone. Spark side mirrors the closed-form
    normal-equation solve for arithmetic parity."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    head = (
        ev.select("event_type", "event_id", "value")
        .withColumn(
            "ordinal",
            F.row_number().over(Window.partitionBy("event_type").orderBy("event_id")),
        )
        .filter(F.col("ordinal") <= _AR2_TRAIN)
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ordinal").reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=np.float64)
        y, x1, x2 = x[2:], x[1:-1], x[:-2]
        my, m1, m2 = y.mean(), x1.mean(), x2.mean()
        s11 = float(((x1 - m1) ** 2).sum())
        s22 = float(((x2 - m2) ** 2).sum())
        s12 = float(((x1 - m1) * (x2 - m2)).sum())
        s1y = float(((x1 - m1) * (y - my)).sum())
        s2y = float(((x2 - m2) * (y - my)).sum())
        det = s11 * s22 - s12 * s12
        phi1 = (s22 * s1y - s12 * s2y) / det
        phi2 = (s11 * s2y - s12 * s1y) / det
        c = my - phi1 * m1 - phi2 * m2
        prev1, prev2 = x[-1], x[-2]
        rows = []
        for h in range(1, _AR2_H + 1):
            f = c + phi1 * prev1 + phi2 * prev2
            rows.append((pdf["event_type"].iloc[0], h, f))
            prev1, prev2 = f, prev1
        return pd.DataFrame(rows, columns=["event_type", "step", "forecast"])

    out = head.groupBy("event_type").applyInPandas(
        run, "event_type string, step int, forecast double"
    )
    return out.select("event_type", "step", F.round("forecast", 5).alias("forecast"))
