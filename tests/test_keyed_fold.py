"""The keyed state-machine runner: one step definition gives the same rows
on a batch frame and on a micro-batched stream of the same rows."""

import pandas as pd
from pyspark.sql import functions as F

from macrobase_spark.streaming.stateful import keyed_fold, stream_count_sliding


def _drain(out, name):
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sorted(map(tuple, out.sparkSession.table(name).collect()))


def test_keyed_fold_batch_equals_stream(spark, tmp_path):
    # integer-valued doubles: running sums are exact in any association
    rows = [(f"k{i % 3}", i, float(i % 7), 1.0 + i % 3) for i in range(60)]
    schema = "k string, t long, v double, c double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    for lo in (0, 20, 40):  # 3 files -> 3 micro-batches
        df.filter((F.col("t") >= lo) & (F.col("t") < lo + 20)).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def stream():
        reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        return reader.parquet(src)

    def step(total, key, pdf):
        run = total + pdf["v"].cumsum()
        out = pd.DataFrame({"k": key[0] if key else "*", "t": pdf["t"], "run": run})
        return (float(run.iloc[-1]) if len(run) else total), out

    out_schema = "k string, t long, run double"

    def fold(frame, keys):
        return keyed_fold(frame, keys, ["t"], lambda: 0.0, step, out_schema)

    # a static frame and the same rows as a stream give identical rows
    batch = sorted(map(tuple, fold(spark.read.parquet(src), ["k"]).collect()))
    assert _drain(fold(stream(), ["k"]), "fold_keyed") == batch
    sums: dict = {}
    for k, t, v, _ in rows:
        sums[k] = sums.get(k, 0.0) + v
        assert (k, t, sums[k]) in batch
    assert len(batch) == 60

    # keys=[] runs as one group, in order_cols order
    glob = sorted(map(tuple, fold(df, []).collect()))
    want, total = [], 0.0
    for _, t, v, _ in rows:
        total += v
        want.append(("*", t, total))
    assert glob == sorted(want)

    # a stream-only operator accepts a static frame and returns the
    # stream's rows (per-key constant values: windows are order-insensitive)
    sliding = stream_count_sliding(spark.read.parquet(src), "k", "c", size=4, slide=3)
    got = sorted(map(tuple, sliding.collect()))
    streamed = stream_count_sliding(stream(), "k", "c", size=4, slide=3)
    assert got == _drain(streamed, "fold_sw")
    assert len(got) == 3 * 6  # 20 rows per key -> windows 0..5
