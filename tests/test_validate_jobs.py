"""Job count of one `jobs/validate.py --resume` round over an icetable
append, run in-process as the benchmark runs it."""

import importlib.util
import json
import sys
from pathlib import Path

from macrobase_spark.sources.clips import generate_clips
from macrobase_spark.sources.icetable import append, create_table

REPO = Path(__file__).resolve().parent.parent


def test_validate_resume_round_job_count(spark, tmp_path, count_jobs, monkeypatch, capsys):
    """A create, one validate round, an append, then the counted round,
    which validates only the appended snapshot. Built on list-based
    `createDataFrame` results, a Spark-side explanation lattice, a codec
    `distinct()`, two profile-history reads and a stats job per append,
    this round launched 33 jobs; with driver-sized results local, it
    launches 20."""
    spec = importlib.util.spec_from_file_location("validate_job", REPO / "jobs" / "validate.py")
    validate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(validate)
    root, mdir = str(tmp_path / "ice"), str(tmp_path / "manifest")
    monkeypatch.setattr(
        sys, "argv",
        ["validate.py", "--iceberg-root", root, "--manifest-dir", mdir, "--resume"],
    )
    clips = generate_clips(spark, 3000, max_payload_ms=50)
    cut = f"clip_{2000:012d}"
    create_table(clips.filter(f"clip_id < '{cut}'"), root, partition_by=["codec"], stat_cols=["dur_ms"])
    assert validate.main() == 0
    append(clips.filter(f"clip_id >= '{cut}'"), root)
    capsys.readouterr()
    n_jobs = count_jobs(validate.main)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 1000
    assert n_jobs <= 20
