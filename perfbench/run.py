"""End-to-end benchmark of the clips validation engine, one workload per run.

    python3 perfbench/run.py --workload suite_full --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one Python process driving one
Spark session at local[$(nproc)]:

- suite_full: the north-rule path, `checks.run_suite_files` over a parquet
  clips table (the pyarrow-in-worker scan), every output forced with a
  `noop` write;
- suite_incremental: the daily-append path, `icetable.append` of a fixed
  10k-clip delta followed by `jobs/validate.py` `main()` with `--resume`;
- query_mix: registry queries the suites bypass, each forced with `noop`.

Iterations before the first timed one (session start, worker warm-up, cold
iterations) are set-up. `--seconds` buys one timed iteration per slot of
the workload, so every run times the same iterations.
Every iteration's output is checked against ground truth outside the timed
span. The last stdout line is one JSON object: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (the run then also
attaches Spark's event log for further iterations; see eventlog.py).

Fixtures are built on first use under perfbench/.fixtures, keyed by a hash of
the generator source; per-run state lives under perfbench/.work.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
FIXTURES = os.path.join(BENCH_DIR, ".fixtures")
WORK = os.path.join(BENCH_DIR, ".work")
MIX_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")

SUITE_N = 20_000
DELTA_N = 10_000
# (query, operator family). The headline queries that read or write the
# shared /tmp model caches (iforest_outliers_embeddings,
# lof_outliers_embeddings) are left out; see BASELINE.md for the rest.
MIX = [
    ("q1_pricing_summary", "relational"),
    ("top_orders_per_customer", "relational"),
    ("uniqueness_violations", "relational"),
    ("mad_classify_events", "classify"),
    ("explain_risk_ratio_events", "explain"),
    ("mean_shift_explain", "explain"),
    ("dedup_minhash_lsh", "dedup"),
    ("dedup_clusters_documents", "dedup"),
    ("ann_brute_force_topk", "similarity"),
    ("doc_fingerprint", "text"),
]
MIX_GROUPS = ["relational", "classify", "explain", "dedup", "similarity", "text"]
MIX_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _source_hash(*files: str) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(os.path.join(REPO, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _materialize(name: str, key: str, build) -> str:
    """Build a fixture once: into a temp dir, renamed into place when
    complete. Stale versions of the same fixture are removed."""
    final = os.path.join(FIXTURES, f"{name}-{key}")
    if os.path.isdir(final):
        return final
    os.makedirs(FIXTURES, exist_ok=True)
    for old in os.listdir(FIXTURES):
        if old.startswith(f"{name}-") or old.startswith(f".{name}-"):
            shutil.rmtree(os.path.join(FIXTURES, old), ignore_errors=True)
    tmp = os.path.join(FIXTURES, f".{name}-{key}.tmp{os.getpid()}")
    build(tmp)
    os.rename(tmp, final)
    return final


def clips_fixture(spark, n: int, files: int) -> str:
    """A clips parquet table of `n` rows in `files` files, plus the sorted
    ground-truth (clip_id, check) pairs of its planted row violations."""
    from macrobase_spark.sources.clips import expected_violations, write_clips_table

    key = _source_hash("macrobase_spark/sources/clips.py", "macrobase_spark/operators/audio.py")

    def build(tmp: str) -> None:
        write_clips_table(spark, n, os.path.join(tmp, "table"), max_payload_ms=100, partitions=files)
        ev = expected_violations(n)
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(sorted(map(list, zip(ev["clip_id"], ev["check"]))), fh)

    return _materialize(f"clips{n}x{files}", key, build)


def _expected(fixture: str) -> list[tuple[str, str]]:
    with open(os.path.join(fixture, "expected.json")) as fh:
        return [tuple(r) for r in json.load(fh)]


def _drift_ok(drift_details: list[str]) -> bool:
    """The planted drift is aac's tripled duration: one drift row per aac
    sample-rate group, and no other group flagged."""
    from macrobase_spark.sources.clips import SR_VALUES

    return len(drift_details) == len(SR_VALUES) and all(
        d.startswith("drifted dur_ms in (aac,") for d in drift_details
    )


class SuiteFull:
    """`run_suite_files` over the SUITE_N-clip table; checks every
    violation row against the generator's ground truth."""

    cold_iters = 1
    # each timed iteration takes a slot of this many --seconds; slots are
    # sized so that a run at --seconds 16 fits the benchmark's time budget
    slot_s = 6.0

    def __init__(self, spark, seed: int) -> None:
        from macrobase_spark.sources.clips import generate_manifest

        self.spark = spark
        self.fixture = clips_fixture(spark, SUITE_N, files=16)
        self.table = os.path.join(self.fixture, "table")
        self.expected = set(_expected(self.fixture))
        self.manifest = generate_manifest(spark, SUITE_N)

    def op(self):
        from macrobase_spark.operators.checks import SuiteConfig, run_suite_files

        sc = self.spark.sparkContext
        sc.setJobGroup("checks", "suite")
        res = run_suite_files(self.spark, self.table, self.manifest, SuiteConfig())
        for df in (res.violations, res.verdicts, res.column_stats):
            noop(df)
        sc.setJobGroup("explain", "suite explanation")
        noop(res.explanation)
        return res

    def check(self, res) -> tuple[int, int]:
        rows = res.violations.select("clip_id", "check", "detail").collect()
        got = {(r["clip_id"], r["check"]) for r in rows if r["check"] != "drift"}
        drift = [r["detail"] for r in rows if r["check"] == "drift"]
        return 1, int(got != self.expected or not _drift_ok(drift))

    def clips(self) -> int:
        return SUITE_N


class SuiteIncremental:
    """Each round appends the same DELTA_N-clip delta to an icetable and
    runs `jobs/validate.py --resume`, which validates only that snapshot.
    The cold round creates the table with the delta as snapshot 1."""

    cold_iters = 1
    slot_s = 8.0

    def __init__(self, spark, seed: int) -> None:
        from macrobase_spark.sources.clips import SR_VALUES

        self.spark = spark
        self.fixture = clips_fixture(spark, DELTA_N, files=4)
        # planted row violations of the delta plus one aac drift row per rate
        self.expected_count = len(_expected(self.fixture)) + len(SR_VALUES)
        spec = importlib.util.spec_from_file_location(
            "perfbench_validate", os.path.join(REPO, "jobs", "validate.py")
        )
        self.validate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.validate)
        base = os.path.join(WORK, "incremental")
        self.root = os.path.join(base, "ice")
        self.manifest_dir = os.path.join(base, "manifest")
        self.append_s: list[float] = []
        self.runs = 0
        # fresh icetable, run manifest and profile history, so round k is
        # the same work in every run
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self.delta = spark.read.parquet(os.path.join(self.fixture, "table"))

    def _validate(self) -> dict:
        argv = sys.argv
        sys.argv = [
            "validate.py", "--iceberg-root", self.root, "--manifest-dir", self.manifest_dir,
            "--resume",
        ]
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                self.spark.sparkContext.setJobGroup("validate", "validate --resume")
                self.validate.main()
        finally:
            sys.argv = argv
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def _runs_recorded(self) -> int:
        import pyarrow.parquet as pq

        return len(set(pq.read_table(self.manifest_dir, columns=["run_id"]).column(0).to_pylist()))

    def op(self):
        from macrobase_spark.sources import icetable

        t0 = time.time()
        self.spark.sparkContext.setJobGroup("sources", "icetable append")
        if not os.path.isdir(self.root):
            icetable.create_table(self.delta, self.root, partition_by=["codec"])
        else:
            icetable.append(self.delta, self.root)
        self.append_s.append(time.time() - t0)
        return self._validate()

    def check(self, out) -> tuple[int, int]:
        runs = self._runs_recorded()
        ok = out.get("violations") == self.expected_count and runs == self.runs + 1
        self.runs = runs
        return 1, int(not ok)

    def clips(self) -> int:
        return DELTA_N


class QueryMix:
    """One round runs every MIX query once, in an order fixed by the seed.
    The cold round collects each query's rows and checks their count against
    the query's DuckDB oracle over the same files; timed rounds write `noop`."""

    cold_iters = 1
    slot_s = 16.0

    def __init__(self, spark, seed: int) -> None:
        import macrobase_spark.operators.components  # noqa: F401  (registers queries)
        import macrobase_spark.operators.dedup  # noqa: F401
        import macrobase_spark.operators.similarity  # noqa: F401
        import macrobase_spark.operators.text  # noqa: F401
        from macrobase_spark import queries

        self.spark = spark
        self.queries = queries
        self.order = [q for q, _ in MIX]
        random.Random(seed).shuffle(self.order)
        self.times: dict[str, list[float]] = {q: [] for q in self.order}
        self.oracle_rows = self._oracle_rows()
        self.verified = False

    def _oracle_rows(self) -> dict[str, int]:
        import duckdb

        con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(WORK, "duckdb")})
        try:
            for t in MIX_TABLES:
                con.execute(f"create view {t} as select * from read_parquet('{MIX_DATA}/{t}.parquet')")
            return {
                q: con.execute(f"select count(*) from ({self.queries.ORACLES[q]})").fetchone()[0]
                for q in self.order
            }
        finally:
            con.close()

    def op(self):
        verify = not self.verified
        failed, rows = 0, {}
        for q in self.order:
            self.spark.sparkContext.setJobGroup("registry", q)
            t0 = time.time()
            try:
                df = self.queries.QUERIES[q](self.spark, MIX_DATA)
                if verify:
                    rows[q] = len(df.collect())
                else:
                    noop(df)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
            self.times[q].append(time.time() - t0)
        return failed, rows

    def check(self, res) -> tuple[int, int]:
        failed, rows = res
        if rows:
            self.verified = True
            for q, n in rows.items():
                if n != self.oracle_rows[q]:
                    print(f"# oracle mismatch {q}: spark {n} vs duckdb {self.oracle_rows[q]}",
                          file=sys.stderr)
                    failed += 1
        return len(self.order), failed

    def clips(self) -> int:
        return 0


WORKLOADS = {
    "suite_full": SuiteFull,
    "suite_incremental": SuiteIncremental,
    "query_mix": QueryMix,
}


def start_session():
    from macrobase_spark.session import get_spark

    cpus = os.cpu_count() or 1
    t0 = time.time()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a bounded heap keeps the JVM's resident size, and the machine's
            # memory, from following GC timing up to the 8g default
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no /tmp/hsperfdata_* file; JVM temp files stay in the checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )
    start_s = time.time() - t0

    def ident(it):
        yield from it

    # fork every Python worker and import its modules once, so no timed
    # iteration pays interpreter start-up
    t0 = time.time()
    spark.range(0, cpus * 2, numPartitions=cpus * 2).mapInPandas(ident, "id long").count()
    return spark, start_s, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark (and with it the Python workers), then the JVM that
    PySpark launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Ops:
    """Operations attempted and failed in one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, wl) -> tuple[float, object]:
        """One iteration: timed op, then its untimed correctness check."""
        t0 = time.time()
        try:
            res = wl.op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return time.time() - t0, None
        wall = time.time() - t0
        try:
            a, f = wl.check(res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            a, f = 1, 1
        self.attempted += a
        self.failed += f
        return wall, res


def kernel_micro(table: str, rows: int = 8000, reps: int = 3) -> tuple[float, float]:
    """L1 and L2 alone, single-threaded in this process: pyarrow read of the
    suite table including `bytes` (MB of Arrow data per second) and the
    decode/SNR kernel on in-memory batches (clips per second)."""
    import glob

    import pyarrow.parquet as pq

    from macrobase_spark.operators.audio import score_record_batch

    files = sorted(glob.glob(os.path.join(table, "part-*.parquet")))
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "bytes"]
    read_rates = []
    for _ in range(reps):
        t0, nbytes = time.perf_counter(), 0
        for f in files:
            for b in pq.ParquetFile(f).iter_batches(batch_size=2000, columns=cols, use_threads=False):
                nbytes += b.nbytes
        read_rates.append(nbytes / 2**20 / (time.perf_counter() - t0))
    batches, n = [], 0
    for f in files:
        for b in pq.ParquetFile(f).iter_batches(batch_size=2000, columns=cols, use_threads=False):
            batches.append(b)
            n += b.num_rows
        if n >= rows:
            break
    kernel_rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for b in batches:
            score_record_batch(b)
        kernel_rates.append(n / (time.perf_counter() - t0))
    return statistics.median(read_rates), statistics.median(kernel_rates)


def per_layer(wl, traced, jobs, untraced_walls, session, rss, host, micro) -> dict:
    """Per-layer metrics of the traced iterations; a layer the workload does
    not run reads 0."""
    from eventlog import layer_breakdown

    parts = [layer_breakdown(jobs, t0, t1) for t0, t1 in traced]

    def med(key: str) -> float:
        return statistics.median(p[key] for p in parts)

    def traced_median(samples: list[float]) -> float:
        return statistics.median(samples[-len(traced):]) if samples else 0.0

    traced_med = statistics.median(t1 - t0 for t0, t1 in traced)
    m = {
        "session.start_s": (session[0], "s"),
        "session.worker_warm_s": (session[1], "s"),
        "sources.read_mb_per_s": (micro[0], "MB/s"),
        "sources.append_s": (traced_median(getattr(wl, "append_s", [])), "s"),
        "sources.append_jobs": (med("sources.jobs"), "count"),
        "sources.job_s": (med("sources.job_s"), "s"),
        "audio.kernel_clips_per_s": (micro[1], "clips/s"),
        "audio.scan_job_s": (med("scan_job_s"), "s"),
        "audio.scan_tasks": (med("scan_tasks"), "count"),
        "audio.scan_task_skew": (med("scan_task_skew"), "ratio"),
        "checks.jobs": (med("checks.jobs"), "count"),
        "checks.stages": (med("checks.stages"), "count"),
        "checks.tasks": (med("checks.tasks"), "count"),
        "checks.job_s": (med("checks.job_s"), "s"),
        "checks.shuffle_write_mb": (med("checks.shuffle_write_mb"), "MB"),
        "explain.jobs": (med("explain.jobs"), "count"),
        "explain.job_s": (med("explain.job_s"), "s"),
        "plans.jobs": (med("plans.jobs"), "count"),
        "plans.job_s": (med("plans.job_s"), "s"),
        "registry.jobs": (med("registry.jobs"), "count"),
        "registry.job_s": (med("registry.job_s"), "s"),
        "validate.jobs": (med("validate.jobs"), "count"),
        "validate.job_s": (med("validate.job_s"), "s"),
        "driver.self_s": (med("driver_self_s"), "s"),
        "iter.jobs": (med("jobs"), "count"),
        "iter.traced_s": (traced_med, "s"),
        "trace.other_job_s": (med("other.job_s"), "s"),
        "trace.accounted_frac": (med("accounted_frac"), "ratio"),
        "trace.overhead_frac": (traced_med / statistics.mean(untraced_walls) - 1.0, "ratio"),
        "jvm_rss_mb": (rss.peak_mb("jvm"), "MB"),
        "worker_rss_mb": (rss.peak_mb("worker"), "MB"),
        "driver_rss_mb": (rss.peak_mb("driver"), "MB"),
        "host.steal_frac": (host.steal_frac, "ratio"),
        "host.load1": (host.load1_after, "load"),
    }
    times = getattr(wl, "times", {})
    for q, _ in MIX:
        m[f"query.{q}_s"] = (traced_median(times.get(q, [])), "s")
    for g in MIX_GROUPS:
        m[f"mix.{g}_s"] = (sum(m[f"query.{q}_s"][0] for q, gg in MIX if gg == g), "s")
    return m


def prepare_env() -> bool:
    """Make the engine importable here and in Spark's Python workers, and
    keep Spark's and Python's scratch space inside the checkout. False when
    this is not a repository checkout."""
    for need in ("macrobase_spark/__init__.py", "jobs/validate.py"):
        if not os.path.isfile(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a repository checkout",
                  file=sys.stderr)
            return False
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not prepare_env():
        return 2
    from sysmon import HostWindow, RssSampler, process_start_epoch

    proc_start = process_start_epoch()
    host = HostWindow()
    ops = Ops()
    with RssSampler() as rss:
        spark, start_s, warm_s = start_session()
        try:
            # the first run in a checkout builds every workload's fixtures;
            # that one-off build is not set-up time
            t_fix = time.time()
            suite_fixture = clips_fixture(spark, SUITE_N, files=16)
            clips_fixture(spark, DELTA_N, files=4)
            fixture_s = time.time() - t_fix
            wl = WORKLOADS[args.workload](spark, args.seed)
            for _ in range(wl.cold_iters):
                ops.run(wl)
            setup_s = time.time() - proc_start - fixture_s

            # a fixed number of timed iterations per --seconds, so that every run
            # times the same iterations whatever the host's speed
            walls = [ops.run(wl)[0] for _ in range(max(1, int(args.seconds // wl.slot_s)))]

            traced, jobs, micro = [], [], (0.0, 0.0)
            if args.trace:
                from eventlog import EventLogTrace

                tr = EventLogTrace(spark, os.path.join(WORK, "eventlog"), REPO, BENCH_DIR)
                shutil.rmtree(tr.log_dir, ignore_errors=True)
                with tr.capture():
                    t0 = time.time()
                    ops.run(wl)
                    traced.append((t0, time.time()))
                # an untraced iteration after the traced one: with the last timed
                # one it brackets the traced iteration, so a warm-up trend does
                # not read as tracing overhead
                after = ops.run(wl)[0]
                jobs = tr.jobs()
                micro = kernel_micro(os.path.join(suite_fixture, "table"))
        finally:
            stop_session(spark)
    host.close()

    p50 = statistics.median(walls)
    print(f"# workload={args.workload} seed={args.seed} timed_iterations={len(walls)} "
          f"walls_s={[round(w, 3) for w in walls]}")
    if wl.clips():
        print(f"# clips_per_s={wl.clips() / p50:.1f} clips/s")
    print(f"# failed_frac={ops.failed / max(ops.attempted, 1):.4f} "
          f"({ops.failed} of {ops.attempted})")
    print(f"# host: steal_frac={host.steal_frac:.4f} load1 before={host.load1_before:.2f} "
          f"after={host.load1_after:.2f}")
    if args.trace:
        metrics = per_layer(
            wl, traced, jobs, [walls[-1], after], (start_s, warm_s), rss, host, micro
        )
    else:
        metrics = {
            "iter_p50_s": (p50, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak_mb("driver") + rss.peak_mb("jvm") + rss.peak_mb("worker"), "MB"),
        }
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
