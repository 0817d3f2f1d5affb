"""Stage-isolation scaling probes — proves WHERE the 8→32 wall lives.

Every round-3/4 scaling run shows the full validation suite at 0.35–0.49
efficiency for 8→32 cores while clearing ≥0.8 at 2→8. The working
diagnosis is single-host memory-bus saturation of the byte-moving stage
(one bus on a 32-vCPU VM), but until this probe it remained an inference:
no run had separated "bytes stop scaling" from "the plan stops scaling".

Four probes, each run at 8 and 32 cores (fresh JVM per level, best-of-N
passes, host sentinels before/after each level):

- ``jvm_bytes``  — pure-JVM parquet scan of the payload column
  (``sum(length(bytes))``); zero Python anywhere. If THIS fails 8→32,
  byte movement is host-bound independent of our Arrow kernel.
- ``decode``     — the shipped pyarrow-native decode+SNR scan
  (``score_clips_from_files``) consumed by a tiny aggregate; the
  byte-moving stage as production runs it.
- ``flops``      — a compute-bound kernel through the SAME
  ``mapInArrow`` machinery: per task, a fixed budget of elementwise
  float64 arithmetic on an L2-resident 25k-element buffer (no BLAS, no
  libm, ~zero main-memory traffic). If the plan/scheduler were the
  bottleneck, this would fail 8→32 the same way; if it scales, the
  engine's task fan-out is exonerated.
- ``narrow``     — the post-decode constraint checks (uniqueness,
  null/column stats, drift rollup, SNR verdicts) over a PRE-DECODED
  narrow scored relation materialized once (the r4 verdict's ask:
  "score a pre-decoded narrow table at 8 vs 32, which removes the
  Arrow decode from the picture").

Output: one JSON line per (probe, level) plus a summary table appended
to ``BENCH/STAGE_PROBE_r5.md``.

Reproduce: ``python bench_stage_probe.py --n 8000000 --cores 8,32``
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_scaling import host_sentinel  # noqa: E402


def _spark(cores: int):
    from macrobase_spark.session import get_spark

    return get_spark(
        f"mb-probe-{cores}", master=f"local[{cores}]", shuffle_partitions=cores
    )


def probe_jvm_bytes(spark, table: str, narrow: str) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.read.parquet(table).agg(
        F.count("*"), F.sum(F.length("bytes"))
    ).collect()
    return time.time() - t0


def probe_decode(spark, table: str, narrow: str) -> float:
    from pyspark.sql import functions as F

    from macrobase_spark.operators.audio import score_clips_from_files

    t0 = time.time()
    score_clips_from_files(spark, table).agg(
        F.count("*"), F.sum("snr_db"), F.sum(F.col("snr_pass").cast("long"))
    ).collect()
    return time.time() - t0


# fixed total arithmetic budget, split across tasks; each task's buffer is
# 25k float64 (200 KB — L1/L2-resident, so the kernel exercises cores, not
# the shared memory bus). elementwise multiply-add only: no BLAS threading
# to pin, no libm (the sandbox host has shown microcode-dependent libm
# pathologies that would confound the probe).
_FLOPS_TASKS = 128
_FLOPS_ITERS = 25_000


def probe_flops(spark, table: str, narrow: str) -> float:
    def run(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            acc = 0.0
            for _ in b.column(0).to_pylist():
                x = np.full(25_000, 0.5)
                for _i in range(_FLOPS_ITERS):
                    x = x * 1.0000001 + 1e-9
                acc += float(x[0])
            yield pa.record_batch([pa.array([acc])], names=["acc"])

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    ids = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(_FLOPS_TASKS)], _FLOPS_TASKS),
        StructType([StructField("id", LongType())]),
    )
    t0 = time.time()
    ids.mapInArrow(run, "acc double").agg(F.sum("acc")).collect()
    return time.time() - t0


def probe_narrow(spark, table: str, narrow: str) -> float:
    from pyspark.sql import functions as F

    df = spark.read.parquet(narrow)
    t0 = time.time()
    from concurrent.futures import ThreadPoolExecutor

    def uniq():
        return (
            df.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n"))
            .filter("n > 1").count()
        )

    def stats():
        return df.agg(
            F.count("*"),
            F.sum(F.col("transcript_null").cast("long")),
            F.min("snr_db"), F.max("snr_db"), F.avg("snr_db"),
            F.expr("approx_percentile(dur_ms, array(0.5, 0.99))"),
        ).collect()

    def drift():
        return (
            df.groupBy("codec", "sr_hz")
            .agg(F.count(F.lit(1)), F.avg("snr_db"), F.avg("dur_ms"))
            .collect()
        )

    def verdicts():
        return (
            df.withColumn("part", F.abs(F.hash("clip_id")) % 64)
            .groupBy("part")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((~F.col("snr_pass")).cast("long")).alias("bad"),
            )
            .collect()
        )

    with ThreadPoolExecutor(4) as ex:
        futs = [ex.submit(f) for f in (uniq, stats, drift, verdicts)]
        for f in futs:
            f.result()
    return time.time() - t0


PROBES = {
    "jvm_bytes": probe_jvm_bytes,
    "decode": probe_decode,
    "flops": probe_flops,
    "narrow": probe_narrow,
}


def child_main(cores: int, table: str, narrow: str, probes: list[str], passes: int) -> int:
    spark = _spark(cores)
    # warmup: JIT + python worker pool + page-cache touch of the small files
    spark.range(5_000_000).selectExpr("sum(id)").collect()
    results = {}
    sent0 = host_sentinel()
    for name in probes:
        fn = PROBES[name]
        walls = [fn(spark, table, narrow) for _ in range(passes)]
        results[name] = {"walls": [round(w, 2) for w in walls], "best": round(min(walls), 2)}
    sent1 = host_sentinel()
    print(json.dumps({
        "cores": cores, "probes": results,
        "host_before": sent0, "host_after": sent1,
    }))
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--n", type=int, default=8_000_000)
    ap.add_argument("--table", default=None)
    ap.add_argument("--probes", default="jvm_bytes,decode,flops,narrow")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--out", default="BENCH/STAGE_PROBE_r5.md")
    args = ap.parse_args()

    table = args.table or f"/tmp/mb_clips_{args.n}.parquet"
    narrow = f"/tmp/mb_clips_narrow_{args.n}.parquet"
    probes = args.probes.split(",")

    if args.child:
        return child_main(int(args.cores), table, narrow, probes, args.passes)

    if not os.path.isdir(narrow) and "narrow" in probes:
        # materialize the pre-decoded scored relation once (untimed)
        spark = _spark(32)
        from macrobase_spark.operators.audio import score_clips_from_files

        score_clips_from_files(spark, table).drop("silence_profile").write.mode(
            "overwrite"
        ).parquet(narrow)
        spark.stop()

    results = []
    for c in (int(x) for x in args.cores.split(",")):
        out = subprocess.run(
            [sys.executable, __file__, "--child", "--cores", str(c),
             "--table", table, "--probes", args.probes,
             "--passes", str(args.passes)],
            capture_output=True, text=True, timeout=7200,
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(f"child cores={c} failed")
        results.append(json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        ))
        print(json.dumps(results[-1]))

    lo, hi = results[0], results[-1]
    factor = hi["cores"] / lo["cores"]
    lines = [
        "", f"## Stage probe ({lo['cores']}→{hi['cores']} cores, n={args.n:,})", "",
        "| probe | " + f"local[{lo['cores']}] best (s) | local[{hi['cores']}] best (s) "
        "| speedup | efficiency |", "|---|---|---|---|---|",
    ]
    summary = {}
    for name in probes:
        a, b = lo["probes"][name]["best"], hi["probes"][name]["best"]
        sp = a / b
        eff = sp / factor
        summary[name] = round(eff, 3)
        lines.append(f"| {name} | {a} | {b} | {sp:.2f}× | **{eff:.3f}** |")
    lines += [
        "",
        "Host sentinels (GF before→after): "
        + "; ".join(
            f"local[{r['cores']}] {r['host_before']['gemm_gflops']}→"
            f"{r['host_after']['gemm_gflops']}" for r in results
        ),
        "",
        "All pass walls: " + json.dumps({r["cores"]: r["probes"] for r in results}),
        "",
    ]
    outp = Path(args.out)
    outp.parent.mkdir(parents=True, exist_ok=True)
    with outp.open("a") as f:
        f.write("\n".join(lines))
    print(json.dumps({"efficiency": summary, "out": str(outp)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
