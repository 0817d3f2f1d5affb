"""icetable — an Iceberg-shaped table layout in pure PySpark.

The north rule targets "Iceberg tables of audio clip + transcript pairs";
this runtime ships no Iceberg/Delta jars, so the snapshot/manifest
mechanics the validation engine depends on are implemented here directly,
following Iceberg's HadoopCatalog layout one-to-one (public docs:
iceberg.apache.org/spec — metadata versions, snapshot manifests with
per-file column stats, a version-hint pointer):

    <root>/metadata/v<N>.metadata.json    table metadata: schema fields,
                                          partition spec, snapshot log,
                                          current snapshot id
    <root>/metadata/snap-<id>.json        manifest: every data file live in
                                          that snapshot, with partition
                                          values, row count, and per-column
                                          min/max for scan planning
    <root>/metadata/version-hint.text     pointer to the current version —
                                          the commit is the atomic rename
                                          of this one tiny file
    <root>/data/<k>=<v>/part-*.parquet    hive-laid-out data files

What this gives the engine (and what the tests pin):
- snapshot isolation + time travel: a reader planned against snapshot S
  sees exactly S's file list, regardless of later appends;
- scan planning with file skipping: predicates are evaluated against the
  manifest's per-file min/max BEFORE Spark ever lists a file — the scan
  DataFrame is built from the surviving file list (with basePath so
  partition columns still resolve), and partition-value equality prunes
  without touching stats;
- incremental scans: the file-set difference between two snapshots, the
  input a daily-append validation run feeds to plans/metrics_repo
  (only-new-partitions profiling) and jobs/validate (resume);
- append commits are additive metadata: old manifests are never rewritten,
  a failed job leaves the pointer untouched (its orphaned data files are
  invisible — Iceberg's semantics).

Single-writer by design (the sandbox has no coordination service, and the
engine's write path is one Spark driver); Iceberg's optimistic multi-writer
retry loop is out of scope and documented as such.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.functions.rows import local_rows


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def _read_version(root: str) -> int:
    hint = os.path.join(_meta_dir(root), "version-hint.text")
    with open(hint) as fh:
        return int(fh.read().strip())


def _read_metadata(root: str, version: int | None = None) -> dict:
    v = _read_version(root) if version is None else version
    with open(os.path.join(_meta_dir(root), f"v{v}.metadata.json")) as fh:
        return json.load(fh)


def read_manifest(root: str, snapshot_id: int) -> list[dict]:
    """The file entries of one snapshot: [{path, partition, row_count,
    stats: {col: [min, max]}}, ...]."""
    with open(os.path.join(_meta_dir(root), f"snap-{snapshot_id}.json")) as fh:
        return json.load(fh)["files"]


def snapshots(root: str) -> list[dict]:
    """Snapshot log, oldest first: [{id, sequence, timestamp_ms, operation,
    added_files, total_files}, ...]."""
    return _read_metadata(root)["snapshots"]


def current_snapshot_id(root: str) -> int:
    return _read_metadata(root)["current_snapshot_id"]


def _list_data_files(root: str) -> set[str]:
    out = set()
    for dirpath, _dirs, files in os.walk(_data_dir(root)):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


def _footer_stats(path: str, stat_cols: list[str]) -> dict:
    """One data file's row count and per-column [min, max], read on the
    driver from its parquet footer — no Spark job. Row groups holding only
    nulls for a column are skipped (as min/max skip nulls); if any other
    row group lacks statistics, or the column is not in the file, the
    entry is [None, None], which scan planning treats as "may match"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return {"row_count": 0, "stats": {}}
    index = {md.schema.column(j).path: j for j in range(md.num_columns)}
    stats = {}
    for c in stat_cols:
        lo = hi = None
        for g in range(md.num_row_groups if c in index else 0):
            rg = md.row_group(g)
            st = rg.column(index[c]).statistics
            if st is not None and not st.has_min_max and st.null_count == rg.num_rows:
                continue
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        stats[c] = [lo, hi]
    return {"row_count": md.num_rows, "stats": stats}


def key_range(paths: list[str], col: str) -> tuple | None:
    """(min, max) of `col` over the given data files, from their parquet
    footers — no Spark job. None when a non-empty file lacks the statistic:
    nothing can then be pruned by it."""
    footers = [_footer_stats(p, [col]) for p in paths]
    bounds = [st["stats"][col] for st in footers if st["row_count"]]
    if not bounds or any(lo is None for lo, _ in bounds):
        return None
    return min(lo for lo, _ in bounds), max(hi for _, hi in bounds)


def _file_entries(files: list[str], stat_cols: list[str], base: str) -> list[dict]:
    """The manifest entries of newly written data files: path, partition
    values from the hive directory names, and the footer stats."""
    out = []
    for f in files:
        part = {}
        for seg in os.path.relpath(f, base).split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                part[k] = v
        out.append({"path": f, "partition": part, **_footer_stats(f, stat_cols)})
    return out


def _commit(root: str, meta: dict) -> None:
    """Iceberg's HadoopCatalog commit: write v<N+1>, then atomically move
    the version hint onto it."""
    v = meta["version"]
    mdir = _meta_dir(root)
    path = os.path.join(mdir, f"v{v}.metadata.json")
    with open(path, "w") as fh:
        json.dump(meta, fh, indent=1, default=str)
    tmp = os.path.join(mdir, f".version-hint.{v}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(mdir, "version-hint.text"))


def create_table(
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    stat_cols: list[str] | None = None,
) -> int:
    """Create the table with `df` as snapshot 1. Returns the snapshot id.
    `stat_cols`: columns to carry per-file min/max for — the scan-planning
    pruning columns (numeric/string orderable)."""
    os.makedirs(_meta_dir(root), exist_ok=True)
    meta = {
        "format": "icetable/1",
        "version": 0,
        "location": root,
        "schema": [
            {"name": f.name, "type": f.dataType.simpleString()} for f in df.schema
        ],
        "partition_spec": list(partition_by or []),
        "stat_cols": list(stat_cols or []),
        "current_snapshot_id": None,
        "snapshots": [],
    }
    _commit(root, meta)
    return append(df, root)


def append(df: DataFrame, root: str) -> int:
    """Append `df` as a new snapshot (additive: prior manifests untouched).
    Returns the new snapshot id."""
    meta = _read_metadata(root)
    spec = meta["partition_spec"]
    before = _list_data_files(root)
    writer = df.write.mode("append")
    if spec:
        writer = writer.partitionBy(*spec)
    writer.parquet(_data_dir(root))
    new_files = sorted(_list_data_files(root) - before)

    entries = _file_entries(new_files, meta["stat_cols"], _data_dir(root))
    prev = (
        read_manifest(root, meta["current_snapshot_id"])
        if meta["current_snapshot_id"] is not None
        else []
    )
    snap_id = len(meta["snapshots"]) + 1
    with open(os.path.join(_meta_dir(root), f"snap-{snap_id}.json"), "w") as fh:
        json.dump({"snapshot_id": snap_id, "files": prev + entries}, fh, default=str)
    meta["version"] += 1
    meta["current_snapshot_id"] = snap_id
    meta["snapshots"].append(
        {
            "id": snap_id,
            "sequence": snap_id,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "append",
            "added_files": len(entries),
            "total_files": len(prev) + len(entries),
        }
    )
    _commit(root, meta)
    return snap_id


def _overlaps(lo, hi, op: str, val) -> bool:
    """Can a file with [lo, hi] for the column contain a row matching
    `col <op> val`? Conservative (None stats -> keep the file)."""
    if lo is None or hi is None:
        return True
    if op == "=":
        return lo <= val <= hi
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    return True


def plan_files(
    root: str,
    snapshot_id: int | None = None,
    where: list[tuple] | None = None,
) -> list[dict]:
    """Manifest-level scan planning: the file entries of the snapshot that
    can contain rows matching every (col, op, value) conjunct — partition
    values checked exactly, stat columns by min/max overlap. Files without
    stats for a predicated column are kept (conservative)."""
    meta = _read_metadata(root)
    sid = meta["current_snapshot_id"] if snapshot_id is None else snapshot_id
    entries = read_manifest(root, sid)
    for col, op, val in where or []:
        kept = []
        for e in entries:
            if col in e["partition"]:
                pv = e["partition"][col]
                ok = (str(val) == pv) if op == "=" else _overlaps(pv, pv, op, str(val))
            elif col in e["stats"]:
                lo, hi = e["stats"][col]
                ok = _overlaps(lo, hi, op, val)
            else:
                ok = True
            if ok:
                kept.append(e)
        entries = kept
    return entries


def _scan(spark: SparkSession, root: str, entries: list[dict]) -> DataFrame:
    """The rows of the given data files, typed by the table metadata: the
    data columns, then the partition columns (Spark appends those from the
    hive paths), each with its metadata type. That is what Spark's inference
    over the files gives, without the job it launches, and a scan of no
    file has the same schema."""
    meta = _read_metadata(root)
    spec = meta["partition_spec"]
    types = {f["name"]: f["type"] for f in meta["schema"]}
    names = [n for n in types if n not in spec] + spec
    schema = ", ".join(f"`{n}` {types[n]}" for n in names)
    if not entries:
        return local_rows(spark, [], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", _data_dir(root))
        .parquet(*[e["path"] for e in entries])
    )


def read_table(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Scan the table at a snapshot (current by default — pass an older id
    for time travel), with manifest-level file skipping for `where`
    conjuncts. The residual predicate is ALSO applied Spark-side (file
    skipping is a superset guarantee, exactly like Iceberg's)."""
    df = _scan(spark, root, plan_files(root, snapshot_id, where))
    for col, op, val in where or []:
        c = F.col(col)
        df = df.filter(
            {"=": c == val, "<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val}[op]
        )
    return df


def incremental_files(root: str, from_snapshot: int | None, to_snapshot: int | None = None) -> list[dict]:
    """File entries ADDED strictly after `from_snapshot` up to
    `to_snapshot` (current by default) — the daily-append input for
    incremental profiling/validation. from_snapshot=None means everything."""
    to_sid = current_snapshot_id(root) if to_snapshot is None else to_snapshot
    new = read_manifest(root, to_sid)
    if from_snapshot is None:
        return new
    old_paths = {e["path"] for e in read_manifest(root, from_snapshot)}
    return [e for e in new if e["path"] not in old_paths]


def read_incremental(
    spark: SparkSession, root: str, from_snapshot: int | None, to_snapshot: int | None = None
) -> DataFrame:
    """The rows appended between two snapshots, as a DataFrame."""
    return _scan(spark, root, incremental_files(root, from_snapshot, to_snapshot))


# ---------------------------------------------------------------------------
# registered queries: snapshot/time-travel semantics certified by mirrors
# ---------------------------------------------------------------------------

from macrobase_spark.artifacts import artifact, decode_fixture_n  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402


@artifact("ice", 1)
def ice_table_fixture(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Build (once) the icetable fixture: the deterministic clips table
    committed as TWO snapshots (first 5/8, then the rest) under `table`,
    partitioned by codec with dur_ms/sr_hz file stats — plus two
    independent parquet MIRRORS written from the SAME input DataFrames
    (`snap1`: snapshot-1 rows; `full`: all rows). The mirrors never pass
    through the manifest machinery, so the oracle certifies that time
    travel / scan planning return exactly the rows that were committed,
    not merely self-consistency."""
    from macrobase_spark.sources.clips import generate_clips

    n = decode_fixture_n(sf_dir)
    cut = f"clip_{(n * 5 // 8):012d}"
    clips = generate_clips(spark, n, max_payload_ms=50)
    first = clips.filter(F.col("clip_id") < cut)
    table = os.path.join(out, "table")
    create_table(first, table, partition_by=["codec"], stat_cols=["dur_ms", "sr_hz"])
    append(clips.filter(F.col("clip_id") >= cut), table)
    first.write.parquet(os.path.join(out, "snap1"))
    clips.write.parquet(os.path.join(out, "full"))
    # the manifests record absolute file paths: point them at the final
    # location before the directory is renamed into place
    final = ice_table_fixture.path(sf_dir)
    for name in os.listdir(_meta_dir(table)):
        meta = os.path.join(_meta_dir(table), name)
        with open(meta) as fh:
            text = fh.read()
        with open(meta, "w") as fh:
            fh.write(text.replace(out, final))


def ice_table_root(spark: SparkSession, sf_dir: str) -> str:
    return os.path.join(ice_table_fixture(spark, sf_dir), "table")


_ICE_S1 = ice_table_fixture.scan("snap1")
_ICE_FULL = ice_table_fixture.scan("full")

_STATS = (
    "count(*) AS n, min(dur_ms) AS min_dur, max(dur_ms) AS max_dur,"
    " CAST(sum(dur_ms) AS BIGINT) AS sum_dur"
)


@register(
    "iceberg_time_travel_stats",
    f"""
    SELECT 1 AS snapshot, codec, {_STATS} FROM {_ICE_S1} GROUP BY codec
    UNION ALL
    SELECT 2 AS snapshot, codec, {_STATS} FROM {_ICE_FULL} GROUP BY codec
    """,
)
def iceberg_time_travel_stats(spark, sf_dir: str) -> DataFrame:
    """Per-codec stats at snapshot 1 AND at the current snapshot, read
    through the manifest (time travel): the oracle computes the same stats
    over mirrors of the committed inputs, certifying that the snapshot-1
    read is unaffected by the later append and the current read sees the
    union — exact integer stats, no float tolerance."""
    root = ice_table_root(spark, sf_dir)

    def stats(df, snap):
        return df.groupBy("codec").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("dur_ms").alias("min_dur"),
            F.max("dur_ms").alias("max_dur"),
            F.sum("dur_ms").alias("sum_dur"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    return stats(read_table(spark, root, snapshot_id=1), 1).unionAll(
        stats(read_table(spark, root), 2)
    )


@register(
    "iceberg_pruned_scan",
    f"""
    SELECT sr_hz, {_STATS}
    FROM {_ICE_FULL}
    WHERE codec = 'opus' AND dur_ms <= 1500
    GROUP BY sr_hz
    """,
)
def iceberg_pruned_scan(spark, sf_dir: str) -> DataFrame:
    """A predicated scan planned at the MANIFEST: the codec conjunct prunes
    by partition value and the dur_ms conjunct by per-file min/max, so
    Spark is handed only the surviving file list (tests assert fewer files
    than the snapshot holds); the oracle runs the same predicate over the
    full mirror, certifying file skipping lost no rows."""
    root = ice_table_root(spark, sf_dir)
    df = read_table(
        spark, root, where=[("codec", "=", "opus"), ("dur_ms", "<=", 1500)]
    )
    return df.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dur_ms").alias("min_dur"),
        F.max("dur_ms").alias("max_dur"),
        F.sum("dur_ms").alias("sum_dur"),
    )
