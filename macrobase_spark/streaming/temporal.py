"""Streaming faces of the temporal joins (operators/temporal.py).

- ``stream_range_join``: Spark-NATIVE stream-stream inner join with an
  event-time interval condition and watermarks on both sides — Structured
  Streaming's own state management bounds the buffered rows to the
  watermark horizon, no custom state. This is the exact streaming
  counterpart of ``range_join_candidates`` (inner flavor): the bucketize
  trick is unnecessary on streams because the watermark already bounds
  state; the time-interval predicate IS the state-cleanup contract.

- ``stream_asof_join``: per-key most-recent-reference enrichment as a
  ``keyed_fold`` state machine: the state is ONE reference row per key
  (the latest seen), probes forward-fill from it. Correct under
  the same batch-monotonic event-time arrival the reference's streaming
  operators assume (WindowedOperator.java:84 has no watermarking either —
  documented contract, matching streaming/windowed.py); within a
  micro-batch, rows are processed in (ts, side) order so ref-then-probe
  ties resolve exactly like the batch operator. State is O(1) per key
  regardless of stream length.

Scale: both shapes shuffle ONCE on the join/group key; per-key state is
one row (asof) or watermark-bounded (range join). Hot keys salt the
range join like any equi-join; the asof state machine is sequential per
key by definition (same contract as the reference's single stream).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from macrobase_spark.streaming.stateful import keyed_fold


def stream_range_join(
    probe_stream: DataFrame,
    ref_stream: DataFrame,
    on: Sequence[str],
    probe_ts: str,
    ref_ts: str,
    lower_us: int,
    upper_us: int,
    probe_watermark: str = "0 seconds",
    ref_watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-stream inner join: ref rows with
    probe_ts + lower_us <= ref_ts < probe_ts + upper_us on the same key.
    `ref_ts` must be a different column name from `probe_ts` (rename one
    side); ref key columns are renamed ``__k_<c>`` in the output, matching
    the batch operator. Watermarks bound both sides' join state."""
    if probe_ts == ref_ts:
        raise ValueError("rename one side: probe_ts and ref_ts must differ")
    on = list(on)
    p = probe_stream.withWatermark(probe_ts, probe_watermark)
    r = ref_stream.withWatermark(ref_ts, ref_watermark)
    for c in on:
        r = r.withColumnRenamed(c, f"__k_{c}")
    cond = F.lit(True)
    for c in on:
        cond = cond & (F.col(c) == F.col(f"__k_{c}"))
    cond = cond & (
        F.col(ref_ts) >= F.expr(f"{probe_ts} + INTERVAL {int(lower_us)} MICROSECOND")
    )
    cond = cond & (
        F.col(ref_ts) < F.expr(f"{probe_ts} + INTERVAL {int(upper_us)} MICROSECOND")
    )
    return p.join(r, cond, "inner")


def stream_asof_join(
    probe_stream: DataFrame,
    ref_stream: DataFrame,
    on: Sequence[str],
    ts_col: str,
    carry_cols: Sequence[str],
    right_ts_col: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Streaming backward as-of join. Every probe row is emitted once
    (append mode), enriched with the carry columns of the most recent
    reference row at-or-before it per key — NULLs before the first
    reference. Batch-monotonic arrival contract (see module docstring).

    Output = probe columns + ``<ts_col><suffix>`` + suffixed carry
    columns, matching operators/temporal.asof_join."""
    on = list(on)
    carry = list(carry_cols)
    rts = right_ts_col or ts_col

    probe_payload = [c for c in probe_stream.columns if c not in on and c != ts_col]
    p_fields = {f.name: f.dataType for f in probe_stream.schema.fields}
    r_fields = {f.name: f.dataType for f in ref_stream.schema.fields}

    p = probe_stream.select(
        *on,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(r_fields[c]).alias(f"__c_{c}") for c in carry],
        *probe_payload,
    )
    r = ref_stream.select(
        *[F.col(c) for c in on],
        F.col(rts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__c_{c}") for c in carry],
        *[F.lit(None).cast(p_fields[c]).alias(c) for c in probe_payload],
    )
    u = p.unionByName(r)

    out_schema = StructType(
        [StructField(c, p_fields[c]) for c in on]
        + [StructField(ts_col, p_fields[ts_col])]
        + [StructField(c, p_fields[c]) for c in probe_payload]
        + [StructField(f"{ts_col}{suffix}", p_fields[ts_col])]
        + [StructField(f"{c}{suffix}", r_fields[c]) for c in carry]
    )
    out_cols = [f.name for f in out_schema.fields]

    def step(st, key, pdf):
        # st = the key's latest reference row: its time in micros, then
        # its carry payload
        rows = []
        ts_us = pdf["__ts"].astype("datetime64[us]").astype("int64").to_numpy()
        sides = pdf["__side"].to_numpy()
        for i, (_, row) in enumerate(pdf.iterrows()):
            if sides[i] == 0:
                st = [int(ts_us[i])] + [row[f"__c_{c}"] for c in carry]
            else:
                matched_ts = (
                    pd.Timestamp(st[0], unit="us") if st[0] is not None else pd.NaT
                )
                rows.append(
                    list(key)
                    + [row["__ts"]]
                    + [row[c] for c in probe_payload]
                    + [matched_ts]
                    + st[1:]
                )
        return st, pd.DataFrame(rows, columns=out_cols)

    return keyed_fold(
        u, on, ["__ts", "__side"], lambda: [None] * (1 + len(carry)), step, out_schema
    )
