"""spark-submit entry: run the clips validation suite partition-at-a-time
with checkpointed resume.

    spark-submit --py-files engine.zip jobs/validate.py \
        --n 100000 --manifest-dir /tmp/mb_manifest [--resume]

Packaging: `python -m zipfile -c engine.zip macrobase_spark` produces the
--py-files artifact; on a real cluster the clips source is an Iceberg table
(`spark.read.table(...)`) instead of the synthetic generator, and the
partition list comes from the table's partition metadata.

The run's Spark jobs are the suite's own (the scan and one keyed rollup).
Its bookkeeping is driver work that launches none: the lineage high-water
mark and the profile history are read with pyarrow, the violation count
comes from the rollup (`SuiteResult.violation_counts`), the anomaly gate
runs over driver rows (`metrics_repo.anomaly_rows`), and the manifest and
profile-history rows are written with pyarrow.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from macrobase_spark.operators.checks import SuiteConfig, run_suite  # noqa: E402
from macrobase_spark.plans.manifest import RunManifest  # noqa: E402
from macrobase_spark.session import get_spark  # noqa: E402
from macrobase_spark.sources.clips import generate_clips, generate_manifest  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=50_000)
    ap.add_argument("--table", default=None, help="parquet/Iceberg path of an existing clips table (overrides --n synthetic)")
    ap.add_argument(
        "--iceberg-root",
        default=None,
        help="an icetable root (sources/icetable layout): validates the "
        "current snapshot; with --resume, validates ONLY the snapshots "
        "appended since the last recorded run (manifest lineage carries "
        "the high-water snapshot id, so a daily append costs one "
        "incremental scan, never a rescan)",
    )
    ap.add_argument("--manifest-dir", default="/tmp/mb_manifest")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--stream-dir",
        default=None,
        help="validate a parquet file-stream directory via Structured "
        "Streaming micro-batches instead of one batch pass; resume is "
        "automatic (Spark checkpoint offsets + per-batch manifest lineage)",
    )
    ap.add_argument("--checkpoint-dir", default="/tmp/mb_stream_ckpt")
    ap.add_argument("--violations-dir", default=None)
    ap.add_argument(
        "--constraints",
        default=None,
        help="YAML/JSON file declaring a Check suite (constraints.checks_from_config); "
        "evaluated over the scored relation in ONE aggregation pass and printed "
        "before the imperative suite runs",
    )
    args = ap.parse_args()

    spark = get_spark("mb-validate", master=args.master)
    t0 = time.time()

    if args.stream_dir:
        from macrobase_spark.streaming.validate import validate_stream

        # the referential manifest spans the directory's rows, as for --table
        static = spark.read.parquet(args.stream_dir)
        ref = generate_manifest(spark, static.count())
        stream = spark.readStream.schema(static.schema).parquet(args.stream_dir)
        q = validate_stream(
            stream,
            ref,
            args.manifest_dir,
            args.checkpoint_dir,
            cfg=SuiteConfig(),
            violations_sink=args.violations_dir,
        )
        # drain everything currently in the directory and exit (cron-style
        # incremental validation); a long-running deployment replaces this
        # with q.awaitTermination()
        q.processAllAvailable()
        q.stop()
        rows = RunManifest(args.manifest_dir).read_rows("n_rows", "n_violations")
        wall = time.time() - t0
        print(
            json.dumps(
                {
                    "mode": "stream",
                    "manifest_rows": len(rows),
                    "rows": sum(r[0] for r in rows),
                    "violations": sum(r[1] for r in rows),
                    "wall_clock_sec": round(wall, 2),
                }
            )
        )
        return 0
    ice_snap = None
    if args.iceberg_root:
        from macrobase_spark.sources.icetable import (
            current_snapshot_id,
            incremental_files,
            key_range,
            read_incremental,
            read_manifest,
        )

        ice_snap = current_snapshot_id(args.iceberg_root)
        last = None
        man = RunManifest(args.manifest_dir)
        if args.resume:
            import re as _re

            for (lineage,) in man.read_rows("lineage"):
                m = _re.search(r"#snap=(\d+)", lineage or "")
                if m:
                    last = max(last or 0, int(m.group(1)))
        if last is not None and last >= ice_snap:
            print(json.dumps({"status": "nothing to do", "snapshot": ice_snap}))
            return 0
        # snapshot grain: the delta since the last recorded run, or every
        # file of the current snapshot on a first run
        files = incremental_files(args.iceberg_root, last, ice_snap)
        clips = read_incremental(spark, args.iceberg_root, last, ice_snap)
        # the referential manifest must span the WHOLE table's id range
        # (an incremental slice is not an orphan set); the row total comes
        # from the snapshot manifest's metadata — zero extra jobs
        total_rows = sum(e["row_count"] for e in read_manifest(args.iceberg_root, ice_snap))
        ref = generate_manifest(spark, total_rows)
        # only manifest keys inside the scanned files' clip_id range can
        # share a window partition with a scored row, so the keyed stage
        # shuffles the keys the delta can match, not the whole table's
        span = key_range([e["path"] for e in files], "clip_id")
        if span is not None:
            ref = ref.filter(F.col("clip_id").between(*span))
    elif args.table:
        from macrobase_spark.sources.table_source import load_table

        clips = load_table(spark, args.table)
        n_rows = clips.count()
        ref = generate_manifest(spark, n_rows)
    else:
        clips = generate_clips(spark, args.n)
        ref = generate_manifest(spark, args.n)

    if args.constraints:
        import yaml  # PyYAML parses JSON too (JSON is a YAML subset)

        from macrobase_spark.operators.constraints import suite_status, verify_config

        conf = yaml.safe_load(Path(args.constraints).read_text())
        out: dict = {}
        if conf.get("schema"):
            from macrobase_spark.operators.constraints import (
                schema_check,
                schema_from_config,
            )

            cols, allow_extra, check_nullable = schema_from_config(conf["schema"])
            out["schema_violations"] = [
                r.asDict()
                for r in schema_check(clips, cols, allow_extra, check_nullable).collect()
            ]
        # column pruning is Catalyst's job: only columns the declared
        # constraints reference reach the scan (bytes stays out unless a
        # `satisfies` expression names it)
        res = verify_config(clips, conf)
        out["constraint_results"] = [r.asDict() for r in res.collect()]
        out["verdicts"] = {r["check"]: r["verdict"] for r in suite_status(res).collect()}
        print(json.dumps(out))

    run_manifest = RunManifest(args.manifest_dir)
    pending_clips = clips
    # only a partition-grain resume needs the codec list: icetable mode
    # resumes at SNAPSHOT grain (handled above) and checks the incremental
    # rows for every codec, and a fresh run checks every codec too
    if args.resume and not args.iceberg_root:
        all_parts = [r["codec"] for r in clips.select("codec").distinct().collect()]
        todo = run_manifest.pending(all_parts)
        if not todo:
            print(json.dumps({"status": "nothing to do", "partitions": 0}))
            return 0
        # partition pruning: the filter on the partition column prunes at
        # the source; `isin` never matches NULL, so a pending NULL codec
        # (recorded as partition 'None') needs its own conjunct
        keep = F.col("codec").isin([p for p in todo if p is not None])
        if None in todo:
            keep = keep | F.col("codec").isNull()
        pending_clips = clips.filter(keep)

    res = run_suite(pending_clips, ref, SuiteConfig())

    rows = res.partition_rows()
    if not rows:  # an empty table: no partition to record
        print(json.dumps({"status": "nothing to do", "partitions": 0}))
        return 0
    n_viol = sum(res.violation_counts.values())
    wall = time.time() - t0

    rows = [{**d, "wall_clock_sec": wall} for d in rows]
    lineage = (
        f"icetable@{args.iceberg_root}#snap={ice_snap}"
        if args.iceberg_root
        else f"synthetic-clips@n={args.n}"
    )
    run_id = run_manifest.record(rows, lineage=lineage)
    total_rows = sum(d["n_rows"] for d in rows)

    # metric-history anomaly gate: record this run's headline metrics and
    # judge them against the trailing runs (relative-to-median, 50%
    # tolerance — loose by design: a validation run's volume legitimately
    # varies, and the gate is for order-of-magnitude surprises like an
    # empty append or a violation explosion). First run never self-flags.
    from macrobase_spark.plans.metrics_repo import anomaly_rows, record_history

    hist_path = f"{args.manifest_dir.rstrip('/')}_profile_history"
    current = [
        ("run", "n_rows", float(total_rows)),
        ("run", "n_violations", float(n_viol)),
        ("run", "violation_rate", n_viol / max(total_rows, 1)),
    ]
    history = []
    if os.path.isdir(hist_path):
        import pyarrow.parquet as pq

        # the history is a few rows per run: one driver-side read feeds
        # both the anomaly gate and the next run number
        cols = pq.read_table(hist_path, columns=["run_seq", "column", "metric", "value"])
        history = list(zip(*cols.to_pydict().values()))
    anomalies = [
        r.asDict()
        for r in anomaly_rows(history, current, method="relative", threshold=0.5, window=30)
        if r["status"] == "anomaly"
    ]
    record_history(hist_path, max((r[0] for r in history), default=0) + 1, current)

    print(
        json.dumps(
            {
                "run_id": run_id,
                "partitions": len(rows),
                "rows": total_rows,
                "violations": n_viol,
                "wall_clock_sec": round(wall, 2),
                "clips_per_sec": round(total_rows / wall, 1),
                "metric_anomalies": anomalies,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
