"""Streaming face of the validation suite: stream==batch equivalence for the
scored scan, cross-batch uniqueness, windowed violation rates, and the
idempotent foreachBatch manifest runner, whose rows are `run_suite`'s."""

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.audio import score_clips
from macrobase_spark.operators.checks import SuiteConfig, run_suite
from macrobase_spark.plans.manifest import RunManifest
from macrobase_spark.sources.clips import generate_clips, generate_manifest
from macrobase_spark.streaming.validate import (
    batch_processor,
    stream_duplicate_clips,
    validate_stream,
    windowed_violation_rates,
)

N = 1200


@pytest.fixture(scope="module")
def clips_src(spark, tmp_path_factory):
    """Clips fixture written as several parquet files so maxFilesPerTrigger=1
    yields a genuinely multi-batch stream."""
    src = str(tmp_path_factory.mktemp("vstream") / "clips")
    generate_clips(spark, N).repartition(4).write.mode("overwrite").parquet(src)
    return src


def _read_stream(spark, src):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )


def _drain(out, name, mode="append"):
    q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_stream_scored_matches_batch(spark, clips_src):
    """The fused decode/SNR/silence scan over a stream produces exactly the
    batch rows — same kernel, two planes."""
    _drain(score_clips(_read_stream(spark, clips_src)), "vscored")
    got = _sorted_pdf(spark.sql("select * from vscored"))
    want = _sorted_pdf(score_clips(spark.read.parquet(clips_src)))
    assert len(got) == len(want) == N
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_duplicates_match_batch_set(spark, clips_src):
    """Cross-batch stateful uniqueness flags exactly the clip_ids the batch
    uniqueness check flags (the fixture plants id%500==7 duplicates)."""
    scored = score_clips(_read_stream(spark, clips_src))
    _drain(stream_duplicate_clips(scored), "vdups")
    got = {
        r["clip_id"]
        for r in spark.sql("select clip_id from vdups").collect()
    }
    batch = score_clips(spark.read.parquet(clips_src))
    want = {
        r["clip_id"]
        for r in batch.groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .collect()
    }
    assert want, "fixture must plant duplicates"
    assert got == want


def test_windowed_violation_rates_match_batch(spark, clips_src):
    """Event-time windowed rates over the stream equal the batch windowed
    aggregate (complete mode sidesteps watermark finalization timing)."""
    ts = F.to_timestamp(
        F.lit("2024-01-01 00:00:00").cast("timestamp")
        + F.make_interval(secs=F.substring("clip_id", 6, 12).cast("long") % 600)
    )
    stream = _read_stream(spark, clips_src).withColumn("ts", ts)
    out = windowed_violation_rates(
        score_clips(stream, carry_cols=["ts"]), "ts", "2 minutes"
    )
    _drain(out, "vrates", mode="complete")
    got = _sorted_pdf(spark.sql("select * from vrates"))
    batch = spark.read.parquet(clips_src).withColumn("ts", ts)
    want = _sorted_pdf(
        windowed_violation_rates(score_clips(batch, carry_cols=["ts"]), "ts", "2 minutes")
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_batch_processor_idempotent(spark, clips_src, tmp_path):
    """The foreachBatch body records `run_suite`'s partition rows once per
    batch_id — a replay (same id) is a no-op, the next id appends."""
    man_path = str(tmp_path / "run_manifest")
    clips = spark.read.parquet(clips_src)
    manifest = generate_manifest(spark, N)
    process = batch_processor(manifest, man_path, SuiteConfig())
    process(clips, 0)
    man = RunManifest(man_path)
    n0 = man.read(spark).count()
    assert n0 > 0
    process(clips, 0)  # replay — must be a no-op
    assert man.read(spark).count() == n0
    process(clips.limit(100), 1)
    n1 = man.read(spark).count()
    assert n1 > n0
    rows = man.read(spark).collect()
    assert {r["lineage"] for r in rows} == {"stream-batch:0", "stream-batch:1"}
    b0 = sorted(
        (r["partition"], r["n_rows"], r["n_violations"], r["passed"])
        for r in rows
        if r["lineage"] == "stream-batch:0"
    )
    want = sorted(
        (str(d["partition"]), d["n_rows"], d["n_violations"], d["passed"])
        for d in run_suite(clips, manifest, SuiteConfig()).partition_rows()
    )
    assert b0 == want
    assert sum(r[1] for r in b0) == N


def _violation_reprs(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.select("clip_id", "check", "detail").collect())


def test_validate_stream_end_to_end_and_resume(spark, clips_src, tmp_path):
    """Full runner: stream in (one file per micro-batch), manifest +
    violations sink out; the sink holds the union of `run_suite`'s
    violations over each batch's file, and a restart from the same
    checkpoint reprocesses nothing."""
    man_path = str(tmp_path / "run_manifest")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "violations")
    manifest = generate_manifest(spark, N)

    def run_once():
        q = validate_stream(
            _read_stream(spark, clips_src),
            manifest,
            man_path,
            ckpt,
            cfg=SuiteConfig(),
            violations_sink=sink,
            query_name="vall",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    man = RunManifest(man_path)
    rows1 = man.read(spark).count()
    assert rows1 > 0
    files = sorted(glob.glob(os.path.join(clips_src, "*.parquet")))
    assert len(files) > 1
    assert len({r[0] for r in man.read_rows("lineage")}) == len(files)
    want = sorted(
        v
        for f in files
        for v in _violation_reprs(
            run_suite(spark.read.parquet(f), manifest, SuiteConfig()).violations
        )
    )
    viol1 = _violation_reprs(spark.read.parquet(sink))
    assert viol1 == want
    # per-batch verdict coverage: every clip counted exactly once overall
    assert (
        man.read(spark).agg(F.sum("n_rows")).collect()[0][0] == N
    )
    run_once()  # restart from the same checkpoint: offsets committed → no-op
    assert man.read(spark).count() == rows1
    assert _violation_reprs(spark.read.parquet(sink)) == viol1
