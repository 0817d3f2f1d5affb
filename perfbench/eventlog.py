"""Layer tracing from Spark's own event log.

`EventLogTrace` attaches Spark's `EventLoggingListener` to a running
SparkContext for the traced iterations only, so the untraced and traced
iterations of one run share a warm JVM, and the untraced iterations just
before and after a traced one give the tracing overhead. The log is written uncompressed and non-rolling (Spark 4 defaults
to zstd, whose Python reader is not installed) and parsed offline.

While tracing, the PySpark actions that launch jobs are wrapped so that each
job carries, as the local property `perfbench.site`, the innermost frame of
repository code (outside this directory) that asked for it. A job is assigned
to the layer of that file; a job launched by the benchmark itself is assigned
to the layer named by the job group the benchmark set around the call.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

SITE_PROP = "perfbench.site"

# repository file (prefix) -> layer, most specific first
LAYER_FILES = [
    ("macrobase_spark/sources/", "sources"),
    ("macrobase_spark/operators/audio.py", "audio"),
    ("macrobase_spark/operators/checks.py", "checks"),
    ("macrobase_spark/operators/explain.py", "explain"),
    ("macrobase_spark/plans/", "plans"),
    ("macrobase_spark/session.py", "session"),
    ("jobs/validate.py", "validate"),
    ("macrobase_spark/", "registry"),
]
LAYERS = ["session", "sources", "audio", "checks", "explain", "plans", "validate", "registry"]
# scope names of the stages that run the Python decode/SNR scan
SCAN_SCOPES = ("MapInArrow",)

_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "collect", "count", "toPandas", "take", "head", "first", "localCheckpoint",
        "checkpoint", "toLocalIterator", "show", "isEmpty", "tail", "foreach",
        "foreachPartition",
    ),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "parquet", "json", "csv", "saveAsTable", "insertInto",
    ),
    "pyspark.sql.readwriter:DataFrameReader": ("load", "parquet"),
    "pyspark.rdd:RDD": ("collect", "count", "take", "first", "reduce", "isEmpty", "foreach"),
}


def layer_of_site(site: str) -> str | None:
    for prefix, layer in LAYER_FILES:
        if site.startswith(prefix):
            return layer
    return None


class _SiteTagger:
    """Wraps PySpark actions so each launched job is tagged with the repo
    call site that triggered it. Only the outermost action sets the tag."""

    def __init__(self, sc, repo_root: str, bench_dir: str) -> None:
        self.sc = sc
        self.repo_root = os.path.realpath(repo_root) + os.sep
        self.bench_dir = os.path.realpath(bench_dir) + os.sep
        self.depth = threading.local()
        self.saved: list[tuple[type, str, object]] = []

    def _site(self) -> str:
        f = sys._getframe(2)
        while f is not None:
            path = os.path.realpath(f.f_code.co_filename)
            if path.startswith(self.repo_root) and not path.startswith(self.bench_dir):
                return f"{path[len(self.repo_root):]}:{f.f_lineno}"
            f = f.f_back
        return ""

    def _wrap(self, fn):
        tagger = self

        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            depth = getattr(tagger.depth, "n", 0)
            if depth == 0:
                tagger.sc.setLocalProperty(SITE_PROP, tagger._site())
            tagger.depth.n = depth + 1
            try:
                return fn(*args, **kwargs)
            finally:
                tagger.depth.n = depth
                if depth == 0:
                    tagger.sc.setLocalProperty(SITE_PROP, None)

        return tagged

    def __enter__(self) -> _SiteTagger:
        import importlib

        for target, names in _ACTIONS.items():
            mod, cls_name = target.split(":")
            cls = getattr(importlib.import_module(mod), cls_name)
            for name in names:
                orig = cls.__dict__.get(name)
                if orig is None:
                    continue
                self.saved.append((cls, name, orig))
                setattr(cls, name, self._wrap(orig))
        return self

    def __exit__(self, *exc) -> None:
        for cls, name, orig in reversed(self.saved):
            setattr(cls, name, orig)
        self.saved.clear()


class EventLogTrace:
    """Captures the Spark event log of the iterations run inside `capture()`."""

    def __init__(self, spark, log_dir: str, repo_root: str, bench_dir: str) -> None:
        self.spark = spark
        self.log_dir = log_dir
        self.repo_root = repo_root
        self.bench_dir = bench_dir

    @contextmanager
    def capture(self):
        sc = self.spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        os.makedirs(self.log_dir, exist_ok=True)
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        conf.set("spark.eventLog.overwrite", "true")
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "perfbench-trace",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        try:
            with _SiteTagger(sc, self.repo_root, self.bench_dir):
                yield
        finally:
            # the listener bus delivers events asynchronously: drain it before
            # the writer is closed, or the last jobs' end events are lost
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(listener)
            listener.stop()

    def jobs(self) -> list[Job]:
        (path,) = glob.glob(os.path.join(self.log_dir, "perfbench-trace*"))
        return parse_event_log(path)


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    group: str = ""
    site: str = ""
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    scan: bool = False
    task_run_ms: list[int] = field(default_factory=list)  # of its scan stages

    @property
    def layer(self) -> str:
        if self.scan and layer_of_site(self.site) in ("checks", "audio", "validate"):
            return "audio"
        return layer_of_site(self.site) or self.group or "other"


def parse_event_log(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_scan: dict[int, bool] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    group=props.get("spark.jobGroup.id") or "",
                    site=props.get(SITE_PROP) or "",
                    stage_ids=list(ev["Stage IDs"]),
                )
                jobs[job.job_id] = job
                for si in ev["Stage Infos"]:
                    stage_job[si["Stage ID"]] = job.job_id
                    stage_scan[si["Stage ID"]] = any(
                        any(s in (r.get("Scope") or "") for s in SCAN_SCOPES)
                        for r in si["RDD Info"]
                    )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    job = jobs[stage_job[sid]]
                    job.stages += 1
                    job.scan = job.scan or stage_scan.get(sid, False)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                job = jobs[stage_job[sid]]
                job.tasks += 1
                m = ev.get("Task Metrics") or {}
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                if stage_scan.get(sid):
                    job.task_run_ms.append(m.get("Executor Run Time", 0))
    return sorted((j for j in jobs.values() if j.end_ms), key=lambda j: j.start_ms)


def union_s(spans: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def window_jobs(jobs: list[Job], t0: float, t1: float) -> list[Job]:
    """Jobs submitted inside the wall-clock window [t0, t1] (epoch seconds)."""
    return [j for j in jobs if t0 * 1000 <= j.start_ms <= t1 * 1000]


def layer_breakdown(jobs: list[Job], t0: float, t1: float) -> dict[str, float]:
    """Per-layer counts and spans of one traced iteration, its driver self
    time (wall minus the union of its job spans) and how much of the wall
    the layers' spans plus that self time account for."""
    js = window_jobs(jobs, t0, t1)
    wall = t1 - t0
    busy = union_s([(j.start_ms, j.end_ms) for j in js])
    out: dict[str, float] = {"wall_s": wall, "jobs": len(js), "driver_self_s": wall - busy}
    accounted = wall - busy
    for layer in LAYERS + ["other"]:
        lj = [j for j in js if j.layer == layer]
        span = union_s([(j.start_ms, j.end_ms) for j in lj])
        accounted += span
        out[f"{layer}.jobs"] = len(lj)
        out[f"{layer}.stages"] = sum(j.stages for j in lj)
        out[f"{layer}.tasks"] = sum(j.tasks for j in lj)
        out[f"{layer}.job_s"] = span
        out[f"{layer}.shuffle_write_mb"] = sum(j.shuffle_write_bytes for j in lj) / 2**20
    out["accounted_frac"] = accounted / wall if wall > 0 else 0.0
    scan = [j for j in js if j.layer == "audio" and j.scan]
    runs = sorted(t for j in scan for t in j.task_run_ms)
    out["scan_job_s"] = sum((j.end_ms - j.start_ms) / 1000.0 for j in scan)
    out["scan_tasks"] = len(runs)
    med = runs[len(runs) // 2] if runs else 0
    out["scan_task_skew"] = runs[-1] / med if med else 0.0
    return out
