"""Re-time bench.py's HEADLINE queries forced two ways: `count()` (as the
BENCH_r0N records did) and a `noop` write, which materializes every output
column. Best of `--reps` per query, one Spark session at local[$(nproc)].

    python3 perfbench/headline.py --sf-dir <dir holding the sf tables> [--reps 3]

Queries that read or write the shared /tmp fixture caches are skipped and
listed, so the run touches nothing outside the checkout but its input dir.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import run

# read or write /tmp/mb_* caches (model fits, the clips table)
SKIP = ["iforest_outliers_embeddings", "lof_outliers_embeddings", "clips_validation_suite"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if not run.prepare_env():
        return 2
    from bench import HEADLINE

    import macrobase_spark.operators.components  # noqa: F401  (registers queries)
    import macrobase_spark.operators.dedup  # noqa: F401
    import macrobase_spark.operators.similarity  # noqa: F401
    import macrobase_spark.operators.text  # noqa: F401
    from macrobase_spark import queries

    spark, _, _ = run.start_session()
    out = {"sf_dir": args.sf_dir, "cpus": os.cpu_count(), "skipped": SKIP, "queries": {}}
    for name in HEADLINE:
        if name in SKIP:
            continue
        best = {}
        for mode, force in (("count", lambda df: df.count()), ("noop", run.noop)):
            times = []
            for _ in range(args.reps):
                t0 = time.time()
                force(queries.QUERIES[name](spark, args.sf_dir))
                times.append(time.time() - t0)
            best[mode] = round(min(times), 3)
        out["queries"][name] = best
        print(f"# {name}: count {best['count']:.3f}s noop {best['noop']:.3f}s", file=sys.stderr)
    run.stop_session(spark)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
