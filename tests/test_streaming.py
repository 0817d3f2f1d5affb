"""Windowed/streaming operators: planted-window recovery, streaming-vs-batch
equivalence (the gold standard for streaming correctness), moving average,
count windows."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.streaming import (
    count_sliding_window,
    count_tumbling_window,
    moving_average,
    windowed_explain,
)


@pytest.fixture(scope="module")
def planted_stream(spark):
    """3 hours of events; during hour 1 the outliers concentrate on
    attr=bad (the StreamingSummarizationTest planted-anomaly shape,
    reference lib/src/test/.../StreamingSummarizationTest.java:30-80)."""
    rows = []
    for i in range(3000):
        hour = i // 1000
        ts = f"2024-01-01 0{hour}:{(i % 1000) * 3 // 60:02d}:{(i % 1000) * 3 % 60:02d}"
        if hour == 1 and i % 5 == 0:
            rows.append((i, ts, "bad", 100.0 + i % 7))  # planted: outlier & bad
        else:
            attr = ["a", "b", "c"][i % 3]
            val = 100.0 + i % 7 if i % 50 == 0 else float(i % 40)
            rows.append((i, ts, attr, val))
    df = spark.createDataFrame(rows, "id long, ts_s string, attr string, value double")
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_windowed_explain_recovers_planted_window(spark, planted_stream):
    res = windowed_explain(
        planted_stream,
        "ts",
        "1 hour",
        None,
        F.col("value") > 99.0,
        ["attr"],
        min_support=0.5,
        min_ratio_metric=2.0,
        ratio_metric="global_ratio",
    ).collect()
    # only the planted window explains, and it names attr=bad
    hot = [r for r in res if r["value"] == "bad"]
    assert len(hot) == 1
    assert hot[0]["ws"].hour == 1
    assert all(r["value"] == "bad" for r in res)


def test_stream_matches_batch(spark, planted_stream, tmp_path):
    """Structured Streaming over the same rows produces the same windowed
    explanation as the batch plan."""
    src = str(tmp_path / "stream_src")
    planted_stream.select("id", "attr", "value", "ts").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("id long, attr string, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_explain(
        # the data spans 3 h and arrives one FILE per micro-batch in listing
        # order, which is not event-time order — a 0 s watermark (the
        # reference's in-order assumption) would drop whole files as late
        # nondeterministically (the residual 1-in-N flake); a watermark
        # covering the span makes arrival order irrelevant
        stream.withWatermark("ts", "4 hours"),
        "ts",
        "1 hour",
        None,
        F.col("value") > 99.0,
        ["attr"],
        min_support=0.5,
        min_ratio_metric=2.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("winexp")
        .outputMode("append")
        .start()
    )
    exp = {
        (r["ws"], r["value"], round(r["support"], 6), round(r["global_ratio"], 6))
        for r in windowed_explain(
            planted_stream, "ts", "1 hour", None, F.col("value") > 99.0, ["attr"],
            min_support=0.5, min_ratio_metric=2.0,
        ).collect()
    }
    assert len(exp) > 0  # fixture sanity: the planted window must explain
    try:
        q.processAllAvailable()
        # sentinel far-future inliers ARRIVE AS LATER FILES so the
        # watermark passes every data window and a subsequent micro-batch
        # emits the finalized windows (append mode emits on the batch AFTER
        # the watermark moves; a sentinel in the last batch would be a
        # no-op). Sentinel windows never emit: no outliers. KEEP appending
        # (bounded) until the sink holds the FULL expected cardinality —
        # breaking on merely non-empty raced when one micro-batch emitted
        # only a subset of the finalized windows (the residual flake the r3
        # verdict's fix still carried). Each sentinel uses a strictly later
        # timestamp so every extra file advances the watermark again.
        for attempt in range(2, 22):
            spark.createDataFrame(
                [(99990 + attempt, "z", 0.0, f"2024-{1 + attempt // 28:02d}-{1 + attempt % 28:02d} 00:00:00")],
                "id long, attr string, value double, ts_s string",
            ).select(
                "id", "attr", "value", F.to_timestamp("ts_s").alias("ts")
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            q.processAllAvailable()
            if spark.table("winexp").count() >= len(exp):
                break
        got = {
            (r["ws"], r["value"], round(r["support"], 6), round(r["global_ratio"], 6))
            for r in spark.table("winexp").collect()
        }
    finally:
        q.stop()
    assert got == exp


def test_paned_equals_windowed(spark, planted_stream):
    """Pane-incremental sliding windows == direct sliding-window explain on
    the same data (1-hour panes, 2-pane windows vs window=2h slide=1h)."""
    from macrobase_spark.streaming.windowed import paned_windowed_explain

    direct = windowed_explain(
        planted_stream, "ts", "2 hours", "1 hour", F.col("value") > 99.0, ["attr"],
        min_support=0.3, min_ratio_metric=1.5,
    ).collect()
    paned = paned_windowed_explain(
        planted_stream, "ts", "1 hour", 2, F.col("value") > 99.0, ["attr"],
        min_support=0.3, min_ratio_metric=1.5,
    ).collect()
    # align: direct window [ws, ws+2h) corresponds to paned last-pane ws+1h;
    # keep only windows fully covered by data panes on both sides
    d = {
        (r["ws"].hour + 1, r["value"]): (round(r["support"], 6), round(r["global_ratio"], 6),
                                         r["outlier_count"], r["total_count"])
        for r in direct
        if r["ws"].day == 1 and 1 <= r["ws"].hour + 1 <= 2
    }
    g = {
        (r["window_last_pane"].hour, r["value"]): (round(r["support"], 6), round(r["global_ratio"], 6),
                                                   r["outlier_count"], r["total_count"])
        for r in paned
    }
    assert len(g) > 0
    assert g == d


def test_moving_average(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "i long, v double")
    got = {r["i"]: r["moving_avg"] for r in moving_average(df, "v", "i", 3).collect()}
    assert got[0] == 0.0
    assert got[1] == 0.5
    assert got[5] == 4.0  # mean(3,4,5)


def test_stream_count_tumbling_stateful(spark, tmp_path):
    """applyInPandasWithState count windows: state carries partial windows
    across micro-batches; complete windows emit exactly once."""
    from macrobase_spark.streaming.stateful import stream_count_tumbling

    src = str(tmp_path / "cw_src")
    # 3 files -> 3 micro-batches; per key, constant values so window sums
    # are arrival-order-insensitive
    rows = [("a", 2.0)] * 4 + [("b", 3.0)] * 3
    df = spark.createDataFrame(rows, "k string, v double")
    for i in range(3):
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    import glob
    import shutil

    merged = str(tmp_path / "stream_in")
    import os

    os.makedirs(merged)
    for i, f in enumerate(sorted(glob.glob(f"{src}/f*/part-*.parquet"))):
        shutil.copy(f, f"{merged}/{i:03d}.parquet")

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    out = stream_count_tumbling(stream, "k", "v", size=5)
    q = out.writeStream.format("memory").queryName("cw").outputMode("append").start()
    try:
        q.processAllAvailable()
        got = sorted(
            (r["key"], r["window_id"], r["n"], r["sum_value"])
            for r in spark.table("cw").collect()
        )
    finally:
        q.stop()
    # totals: a -> 12 events -> 2 complete windows of 5 (2 leftover);
    #         b -> 9 events  -> 1 complete window (4 leftover)
    assert got == [("a", 0, 5, 10.0), ("a", 1, 5, 10.0), ("b", 0, 5, 15.0)]


def test_count_windows(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "i long")
    t = {r["i"]: r["window_id"] for r in count_tumbling_window(df, "i", 4).collect()}
    assert t[0] == 0 and t[3] == 0 and t[4] == 1 and t[9] == 2
    s = count_sliding_window(df, "i", 4, 2).groupBy("window_id").count().collect()
    by_w = {r["window_id"]: r["count"] for r in s}
    # window 0 covers ordinals 0..3, window 1 covers 2..5, last windows partial
    assert by_w[0] == 4 and by_w[1] == 4
    rows_w1 = {
        r["i"]
        for r in count_sliding_window(df, "i", 4, 2).filter(F.col("window_id") == 1).collect()
    }
    assert rows_w1 == {2, 3, 4, 5}


def test_stream_count_sliding_stateful(spark, tmp_path):
    """Stateful count-SLIDING windows (stream) == batch count_sliding_window
    per key: same window ids, same (n, sum) aggregates, windows emit
    exactly once even when they span micro-batch boundaries; slide<size
    (overlap) and slide>size (gaps) both covered."""
    import glob
    import os
    import shutil

    from macrobase_spark.streaming.stateful import stream_count_sliding

    src = str(tmp_path / "sw_src")
    rows = [("a", 2.0)] * 11 + [("b", 3.0)] * 7
    df = spark.createDataFrame(rows, "k string, v double")
    for i in range(3):
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    merged = str(tmp_path / "sw_in")
    os.makedirs(merged)
    for i, f in enumerate(sorted(glob.glob(f"{src}/f*/part-*.parquet"))):
        shutil.copy(f, f"{merged}/{i:03d}.parquet")

    for size, slide in [(4, 2), (2, 3)]:
        stream = (
            spark.readStream.schema("k string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(merged)
        )
        out = stream_count_sliding(stream, "k", "v", size=size, slide=slide)
        name = f"sw_{size}_{slide}"
        q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
        try:
            q.processAllAvailable()
            got = sorted(
                (r["key"], r["window_id"], r["n"], r["sum_value"])
                for r in spark.table(name).collect()
            )
        finally:
            q.stop()
        # batch oracle: per key (count windows are per-key in a stream),
        # only COMPLETE windows (those with exactly `size` rows) emit
        exp = []
        for key in ("a", "b"):
            key_rows = [r for r in rows if r[0] == key] * 3  # 3 stream files
            per = count_sliding_window(
                spark.createDataFrame(key_rows, "k string, v double"), "k", size, slide
            )
            agg = (
                per.groupBy("window_id")
                .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
                .filter(F.col("n") == size)
                .collect()
            )
            exp.extend((key, r["window_id"], r["n"], r["s"]) for r in agg)
        assert got == sorted(exp), (size, slide, got, sorted(exp))
        assert len(got) > 0
