"""Job counts of the suite, of the stream's foreachBatch body and of one
`jobs/validate.py --resume` round over an icetable append, run in-process
as the benchmark runs it; the round's manifest pruning; the partition-grain
resume of a `--table` run; and the full, incremental and streaming faces
agreeing on hostile data."""

import glob
import importlib.util
import json
import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

from macrobase_spark.operators.checks import SuiteConfig, run_suite
from macrobase_spark.plans.manifest import RunManifest
from macrobase_spark.sources.clips import generate_clips, generate_manifest
from macrobase_spark.sources.icetable import append, create_table
from macrobase_spark.streaming.validate import batch_processor, validate_stream
from tests.test_clips import hostile_clips

REPO = Path(__file__).resolve().parent.parent


def _validate_module():
    spec = importlib.util.spec_from_file_location("validate_job", REPO / "jobs" / "validate.py")
    validate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(validate)
    return validate


def _run(validate, monkeypatch, capsys, *args) -> dict:
    """One in-process `validate.py` run; its last JSON line."""
    monkeypatch.setattr(sys, "argv", ["validate.py", *args])
    capsys.readouterr()
    assert validate.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_validate_resume_round_job_count(spark, tmp_path, count_jobs, monkeypatch, capsys):
    """A create, one validate round, an append, then the counted round,
    which validates only the appended snapshot. Built on list-based
    `createDataFrame` results, a Spark-side explanation lattice, a codec
    `distinct()`, two profile-history reads and a stats job per append,
    this round launched 33 jobs. With driver-sized results local it
    launched 20. With the keyed rollup and validate's bookkeeping (lineage
    read, violation count, anomaly gate, manifest and profile writes) on
    the driver, it launches 4: the scan and the rollup's three."""
    validate = _validate_module()
    root, mdir = str(tmp_path / "ice"), str(tmp_path / "manifest")
    args = ["--iceberg-root", root, "--manifest-dir", mdir, "--resume"]
    clips = generate_clips(spark, 3000, max_payload_ms=50)
    cut = f"clip_{2000:012d}"
    create_table(
        clips.filter(f"clip_id < '{cut}'"), root, partition_by=["codec"], stat_cols=["dur_ms"]
    )
    _run(validate, monkeypatch, capsys, *args)
    append(clips.filter(f"clip_id >= '{cut}'"), root)
    out = {}
    n_jobs = count_jobs(lambda: out.update(_run(validate, monkeypatch, capsys, *args)))
    assert out["rows"] == 1000
    assert n_jobs <= 4


def test_run_suite_job_count(spark, count_jobs):
    """After the scan's one job, the suite runs one keyed rollup: a
    `clip_id` exchange for the window, an exchange for the rollup and the
    collect — 3 jobs (the row-violation checkpoint and the join back to the
    scored rows it replaced cost 4 more)."""
    clips = generate_clips(spark, 2000, max_payload_ms=50).localCheckpoint()
    manifest = generate_manifest(spark, 2000)
    assert count_jobs(lambda: run_suite(clips, manifest, SuiteConfig())) <= 1 + 3


def test_batch_processor_job_count(spark, tmp_path, count_jobs):
    """The stream's foreachBatch body is `run_suite` (the scan and the
    rollup's three jobs) plus the violations sink, whose write needs the
    keyed window's `clip_id` exchange again: 2 jobs. A replayed batch id
    launches none."""
    clips = generate_clips(spark, 2000, max_payload_ms=50).localCheckpoint()
    manifest = generate_manifest(spark, 2000)
    process = batch_processor(
        manifest, str(tmp_path / "manifest"), violations_sink=str(tmp_path / "sink")
    )
    assert count_jobs(lambda: process(clips, 0)) <= 1 + 3 + 2
    assert count_jobs(lambda: process(clips, 0)) == 0


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def test_resume_round_prunes_the_manifest_exactly(spark, tmp_path, monkeypatch, capsys):
    """A `--resume` round hands the suite only the manifest keys inside the
    delta files' clip_id range, and the suite over those keys gives the
    violation rows of the whole manifest (the delta holds planted
    duplicates and orphans)."""
    validate = _validate_module()
    root, mdir = str(tmp_path / "ice"), str(tmp_path / "manifest")
    args = ["--iceberg-root", root, "--manifest-dir", mdir, "--resume"]
    clips = generate_clips(spark, 3000, max_payload_ms=50)
    in_delta = F.col("clip_id").between(f"clip_{1000:012d}", f"clip_{1999:012d}")
    create_table(clips.filter(~in_delta), root, partition_by=["codec"])
    _run(validate, monkeypatch, capsys, *args)
    append(clips.filter(in_delta), root)
    seen = {}

    def spy(c, ref, cfg):
        seen.update(clips=c, ref=ref)
        return run_suite(c, ref, cfg)

    monkeypatch.setattr(validate, "run_suite", spy)
    out = _run(validate, monkeypatch, capsys, *args)
    full = generate_manifest(spark, 3000)
    assert seen["ref"].count() < 1000 < full.count()
    pruned = run_suite(seen["clips"], seen["ref"], SuiteConfig()).violations
    unpruned = run_suite(seen["clips"], full, SuiteConfig()).violations
    assert _rows(pruned) == _rows(unpruned)
    assert {"uniqueness", "ref_integrity"} <= {r["check"] for r in unpruned.collect()}
    assert out["violations"] == unpruned.count()


def test_three_faces_agree_on_hostile_data(spark, tmp_path, monkeypatch, capsys):
    """The hostile fixture (NULL ids, codecs and sr_hz, duplicates, orphans)
    through `run_suite`, a fresh `validate.py --iceberg-root` run over an
    icetable of the same rows, and `validate_stream` over a parquet
    directory of them drained in one micro-batch: all three record the same
    manifest rows, and the stream's sink holds `run_suite`'s violations."""
    clips, manifest = hostile_clips(spark)
    src = str(tmp_path / "clips")
    clips.write.parquet(src)
    rows = spark.read.parquet(src)
    cols = ("partition", "n_rows", "n_violations", "passed")

    res = run_suite(rows, manifest, SuiteConfig())
    suite_man = RunManifest(str(tmp_path / "m_suite"))
    suite_man.record(res.partition_rows())

    root, ice_dir = str(tmp_path / "ice"), str(tmp_path / "m_ice")
    create_table(rows, root, partition_by=["codec"])
    _run(_validate_module(), monkeypatch, capsys, "--iceberg-root", root, "--manifest-dir", ice_dir)

    stream_dir, sink = str(tmp_path / "m_stream"), str(tmp_path / "sink")
    q = validate_stream(
        spark.readStream.schema(rows.schema).parquet(src),
        manifest,
        stream_dir,
        str(tmp_path / "ckpt"),
        violations_sink=sink,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(glob.glob(os.path.join(src, "*.parquet"))) > 1
    assert {r[0] for r in RunManifest(stream_dir).read_rows("lineage")} == {"stream-batch:0"}
    faces = [
        sorted(RunManifest(d).read_rows(*cols), key=repr)
        for d in (suite_man.path, ice_dir, stream_dir)
    ]
    assert faces[0] == faces[1] == faces[2]
    assert any(r[0] == "None" for r in faces[0])  # the NULL-codec partition
    got = _rows(spark.read.parquet(sink).select("clip_id", "check", "detail"))
    assert got == _rows(res.violations)


def test_partition_resume_includes_null_codec(spark, tmp_path, monkeypatch, capsys):
    """A `--table` resume validates the NULL-codec partition too (an
    `isin` filter alone never matches NULL), records it as 'None', and the
    next run has nothing to do. The manifest and profile-history rows it
    writes on the driver have the file schema Spark's writer gives the
    same rows, and Spark and pyarrow read the same rows from them."""
    import pyarrow.parquet as pq

    from macrobase_spark.functions.rows import local_rows
    from macrobase_spark.plans.manifest import MANIFEST_SCHEMA
    from macrobase_spark.plans.metrics_repo import PROFILE_HISTORY_SCHEMA

    validate = _validate_module()
    table, mdir = str(tmp_path / "clips"), str(tmp_path / "manifest")
    idx = F.substring("clip_id", 6, 12).cast("long")
    generate_clips(spark, 600, max_payload_ms=50).withColumn(
        "codec", F.when(idx < 100, None).otherwise(F.col("codec"))
    ).write.parquet(table)
    args = ["--table", table, "--manifest-dir", mdir, "--resume"]
    first = _run(validate, monkeypatch, capsys, *args)
    assert (first["rows"], first["partitions"]) == (600, 6)
    assert _run(validate, monkeypatch, capsys, *args)["status"] == "nothing to do"

    hist = f"{mdir}_profile_history"
    for path, schema in ((mdir, MANIFEST_SCHEMA), (hist, PROFILE_HISTORY_SCHEMA)):
        ref = str(tmp_path / f"spark_{os.path.basename(path)}")
        rows = [tuple(r.values()) for r in pq.read_table(path).to_pylist()]
        local_rows(spark, rows, schema).write.parquet(ref)

        def file_schema(d):
            f = next(x for x in sorted(os.listdir(d)) if x.endswith(".parquet"))
            return pq.read_schema(os.path.join(d, f)).remove_metadata()

        assert file_schema(path) == file_schema(ref)
        assert spark.read.parquet(path).schema == spark.read.parquet(ref).schema
        got = [tuple(r) for r in spark.read.parquet(path).collect()]
        want = [tuple(r) for r in spark.read.parquet(ref).collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr) == sorted(rows, key=repr)
