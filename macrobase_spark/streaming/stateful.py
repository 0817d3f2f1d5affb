"""Keyed state machines: one runner for every per-key sequential fold,
plus per-key COUNT-based tumbling and sliding windows on top of it.

The reference runs its per-stream detectors and summarizers one batch at a
time (StreamingPipeline semantics). The engine renders each of them as a
per-key state machine `step(state, key, pdf) -> (state, out_pdf)`;
`keyed_fold` runs it over a batch frame (one `step` per key over the
whole group, from `init()`) or over a stream (one `step` per key per
micro-batch, the state pickled between batches in
applyInPandasWithState). One definition of each recursion therefore
serves both planes, and stream == batch holds whenever a key's
micro-batches arrive in order.

The reference's count windows (alexp/.../streaming/Windows/Tumbling.java:
9-34) buffer n rows and emit when full. Spark has no native count windows
(SURVEY §2.10): here a (buffered_count, buffered_sum, next window id)
state carries partial windows across micro-batches, and a row is emitted
exactly when a window fills. Count windows are only well-defined per key
in a distributed stream (global row order does not exist); the emitted
aggregates (n, sum, avg) are order-insensitive, so the tumbling operator
is deterministic for any arrival order within a key.
"""

from __future__ import annotations

import pickle
import warnings
from collections.abc import Callable, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

Step = Callable[[Any, tuple, pd.DataFrame], "tuple[Any, pd.DataFrame]"]


def keyed_fold(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str] | None,
    init: Callable[[], Any],
    step: Step,
    out_schema: StructType | str,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Run one sequential state machine per key of `keys`.

    `step(state, key, pdf)` gets the key's rows sorted by `order_cols`
    (stable; None keeps arrival order): the whole group on a batch frame,
    this micro-batch's rows on a stream. It returns the next state and the
    rows to emit, whose columns are `out_schema`'s. `init()` must return a
    fresh state: steps may mutate it in place.

    On a stream the state is pickled into one binary column and the result
    is an append-mode stream. With `idle_timeout_ms`, a key that sees no
    rows for that long (processing time) is forgotten and emits nothing;
    its next arrival restarts from `init()`.

    `keys=[]` runs ONE global group in a single task (the reference's
    single-stream semantics), with `key == ()`."""
    keys = list(keys)
    by = list(order_cols) if order_cols else None
    if not keys:
        warnings.warn(
            "keyed fold without key columns replays ONE global sequential "
            "stream in a single task (the reference's single-threaded "
            "semantics) — pass key columns (stream/device key) for any "
            "real data volume.",
            stacklevel=3,
        )
        # a grouping expression must be an input column on a stream
        df = df.withColumn("__fold_g", F.lit(0))
    grouped = df.groupBy(*(keys or ["__fold_g"]))

    def ordered(pdf: pd.DataFrame) -> pd.DataFrame:
        if not keys:
            pdf = pdf.drop(columns="__fold_g")
        if by:
            pdf = pdf.sort_values(by, kind="stable")
        return pdf.reset_index(drop=True)

    if not df.isStreaming:

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return step(init(), key if keys else (), ordered(pdf))[1]

        return grouped.applyInPandas(run, out_schema)

    def fn(key: tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        st = pickle.loads(bytes(state.get[0])) if state.exists else init()
        pdf = ordered(pd.concat(list(pdfs), ignore_index=True))
        st, out = step(st, key if keys else (), pdf)
        state.update((pickle.dumps(st),))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield out

    return grouped.applyInPandasWithState(
        fn,
        out_schema,
        "fold_state binary",
        "append",
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout,
    )


OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_id", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("avg_value", DoubleType()),
    ]
)
_OUT_COLS = OUT_SCHEMA.fieldNames()


def _count_windows(
    df: DataFrame, key_col: str, value_col: str, init: Callable[[], Any], step: Step
) -> DataFrame:
    sel = df.selectExpr(f"cast({key_col} as string) as key", f"{value_col}")
    return keyed_fold(sel, ["key"], None, init, step, OUT_SCHEMA)


def stream_count_tumbling(
    stream_df: DataFrame, key_col: str, value_col: str, size: int
) -> DataFrame:
    """Per-key count-tumbling aggregation; emits one row per COMPLETE
    window of `size` events. On a stream use outputMode('append')."""

    def step(st, key, pdf):
        buf_n, buf_sum, wid = st
        out = []
        for v in pdf[value_col].to_numpy(dtype=float):
            buf_n += 1
            buf_sum += float(v)
            if buf_n == size:
                out.append((key[0], wid, buf_n, buf_sum, buf_sum / buf_n))
                wid += 1
                buf_n, buf_sum = 0, 0.0
        return (buf_n, buf_sum, wid), pd.DataFrame(out, columns=_OUT_COLS)

    return _count_windows(stream_df, key_col, value_col, lambda: (0, 0.0, 0), step)


def stream_count_sliding(
    stream_df: DataFrame, key_col: str, value_col: str, size: int, slide: int
) -> DataFrame:
    """Per-key count-SLIDING windows — the rendering of the reference's
    Sliding window semantics (alexp/.../streaming/Windows/Sliding.java:
    11-40): window w covers event ordinals [w*slide, w*slide+size) and
    emits exactly once, when its last event arrives. Matches the batch
    `count_sliding_window` explode (windowed.py) per key.

    State per key = (events seen, rolling buffer of the last `size`
    values): at the arrival of ordinal w*slide+size-1 the buffer holds
    exactly window w's events for ANY slide (overlap when slide<size, gaps
    when slide>size), so retired events leave state as soon as no future
    window can contain them — state is O(size), not O(stream).
    On a stream use outputMode('append')."""

    def step(st, key, pdf):
        seen, buf = st
        out = []
        for v in pdf[value_col].to_numpy(dtype=float):
            buf.append(float(v))
            if len(buf) > size:
                buf.pop(0)
            seen += 1
            if seen >= size and (seen - size) % slide == 0:
                wid = (seen - size) // slide
                s = float(sum(buf))
                out.append((key[0], wid, len(buf), s, s / len(buf)))
        return (seen, buf), pd.DataFrame(out, columns=_OUT_COLS)

    return _count_windows(stream_df, key_col, value_col, lambda: (0, []), step)
