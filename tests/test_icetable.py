"""icetable: snapshot isolation, time travel, manifest-level file skipping,
incremental scans, commit atomicity, and the metrics_repo handoff."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.sources.icetable import (
    append,
    create_table,
    current_snapshot_id,
    incremental_files,
    plan_files,
    read_incremental,
    read_manifest,
    read_table,
    snapshots,
)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Three snapshots of a typed fact table, partitioned by codec, with
    dur_ms carried as a pruning stat column."""
    root = str(tmp_path_factory.mktemp("ice") / "t")
    rng = np.random.default_rng(7)

    def batch(lo, hi):
        rows = [
            (
                f"clip_{i:08d}",
                ["wav", "flac", "opus"][i % 3],
                int(rng.integers(100, 4000)),
                int(i),
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "clip_id string, codec string, dur_ms int, seq long"
        ).repartition(4)

    b1, b2, b3 = batch(0, 300), batch(300, 500), batch(500, 650)
    create_table(b1, root, partition_by=["codec"], stat_cols=["dur_ms"])
    append(b2, root)
    append(b3, root)
    return root, b1, b2, b3


def _ids(df):
    return sorted(r["clip_id"] for r in df.select("clip_id").collect())


def test_snapshot_isolation_and_time_travel(spark, table):
    root, b1, b2, b3 = table
    assert current_snapshot_id(root) == 3
    assert [s["operation"] for s in snapshots(root)] == ["append"] * 3
    assert _ids(read_table(spark, root, snapshot_id=1)) == _ids(b1)
    assert _ids(read_table(spark, root, snapshot_id=2)) == _ids(b1.unionAll(b2))
    assert _ids(read_table(spark, root)) == _ids(b1.unionAll(b2).unionAll(b3))
    # partition column round-trips through the hive layout
    assert set(r["codec"] for r in read_table(spark, root).select("codec").distinct().collect()) == {
        "wav", "flac", "opus"
    }


def test_manifest_file_skipping(spark, table):
    root, b1, b2, b3 = table
    total = len(read_manifest(root, 3))
    # partition-value pruning
    flac = plan_files(root, where=[("codec", "=", "flac")])
    assert 0 < len(flac) < total
    assert all(e["partition"]["codec"] == "flac" for e in flac)
    # stats pruning: a range below every file's min matches nothing
    assert plan_files(root, where=[("dur_ms", "<", 100)]) == []
    # a tight range prunes some files but the read loses no rows
    pruned = plan_files(root, where=[("codec", "=", "flac"), ("dur_ms", "<=", 300)])
    assert len(pruned) <= len(flac)
    got = _ids(read_table(spark, root, where=[("codec", "=", "flac"), ("dur_ms", "<=", 300)]))
    full = b1.unionAll(b2).unionAll(b3)
    want = _ids(full.filter((F.col("codec") == "flac") & (F.col("dur_ms") <= 300)))
    assert got == want


def test_incremental_scan(spark, table):
    root, b1, b2, b3 = table
    assert _ids(read_incremental(spark, root, 1, 2)) == _ids(b2)
    assert _ids(read_incremental(spark, root, 2)) == _ids(b3)
    assert _ids(read_incremental(spark, root, None, 1)) == _ids(b1)
    inc = incremental_files(root, 1, 3)
    assert {e["path"] for e in inc} == {
        e["path"] for e in read_manifest(root, 3)
    } - {e["path"] for e in read_manifest(root, 1)}


def test_uncommitted_files_invisible(spark, table):
    """Iceberg's crash semantics: data files written without a metadata
    commit never appear in any read."""
    root, b1, b2, b3 = table
    n_before = read_table(spark, root).count()
    orphan_dir = os.path.join(root, "data", "codec=wav")
    spark.createDataFrame([("zzz", 1, 1)], "clip_id string, dur_ms int, seq long").coalesce(
        1
    ).write.mode("append").parquet(orphan_dir + "_orphan_stage")
    # simulate a crashed writer by dropping a stray parquet into the layout
    import shutil

    stray = [f for f in os.listdir(orphan_dir + "_orphan_stage") if f.endswith(".parquet")]
    shutil.copy(
        os.path.join(orphan_dir + "_orphan_stage", stray[0]),
        os.path.join(orphan_dir, "part-orphan.parquet"),
    )
    assert read_table(spark, root).count() == n_before
    assert plan_files(root) == read_manifest(root, 3)


def test_empty_plan_returns_typed_empty(spark, table):
    root, *_ = table
    df = read_table(spark, root, where=[("dur_ms", "<", 100)])
    assert df.count() == 0
    assert "clip_id" in df.columns and "codec" in df.columns


def test_scan_schema_comes_from_metadata(spark, table, count_jobs):
    """Every read takes its schema from the table metadata: the data
    columns, then the partition columns. A read whose conjuncts prune every
    file has the same names, types and order as one that reads files (it
    used to carry `codec` twice), both equal what Spark infers from the
    files, and building an incremental read launches no job."""
    root, *_ = table
    full = read_table(spark, root)
    empty = read_table(spark, root, where=[("codec", "=", "nope")])
    inferred = spark.read.option("basePath", os.path.join(root, "data")).parquet(
        *[e["path"] for e in plan_files(root)]
    )
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    assert full.schema == inferred.schema
    assert full.columns == ["clip_id", "dur_ms", "seq", "codec"]
    assert empty.select("codec").count() == 0
    assert count_jobs(lambda: read_incremental(spark, root, 1)) == 0


def test_incremental_feeds_metrics_repo(spark, table, tmp_path):
    """The daily-append handoff: profile ONLY the rows added by the newest
    snapshot and merge with the prior state — equals a full-table profile
    (count/sum are mergeable; the repo's sketch states follow the same
    contract in test_metrics_repo)."""
    root, b1, b2, b3 = table
    prev = read_table(spark, root, snapshot_id=2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dur_ms").alias("s")
    ).collect()[0]
    inc = read_incremental(spark, root, 2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dur_ms").alias("s")
    ).collect()[0]
    full = read_table(spark, root).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dur_ms").alias("s")
    ).collect()[0]
    assert prev["n"] + inc["n"] == full["n"]
    assert prev["s"] + inc["s"] == full["s"]


def test_registered_fixture_prunes_files(spark):
    """The sf0.01 registered query's predicate must actually skip files at
    the manifest (partition + stats), not just filter Spark-side."""
    from macrobase_spark.artifacts import ORACLE_SF
    from macrobase_spark.sources.icetable import ice_table_root

    root = ice_table_root(spark, ORACLE_SF)
    sid = current_snapshot_id(root)
    total = len(read_manifest(root, sid))
    planned = plan_files(root, where=[("codec", "=", "opus"), ("dur_ms", "<=", 1500)])
    assert 0 < len(planned) < total
    assert all(e["partition"]["codec"] == "opus" for e in planned)


def _scanned_file_stats(spark, root, cols):
    """{path: {row_count, stats}} of a snapshot's files, computed by a Spark
    scan: count and min/max per input file."""
    from urllib.parse import unquote, urlparse

    entries = read_manifest(root, current_snapshot_id(root))
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    rows = (
        spark.read.option("basePath", os.path.join(root, "data"))
        .parquet(*[e["path"] for e in entries])
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    )
    return {
        unquote(urlparse(r["f"]).path): {
            "row_count": r["n"],
            "stats": {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols},
        }
        for r in rows
    }


def test_append_stats_equal_a_spark_scan(spark, table, tmp_path):
    """The per-file row counts and min/max `append` records from parquet
    footers equal a Spark scan of the same files: for this module's table
    and for the registered fixture's recipe (dur_ms and sr_hz stats)."""
    from macrobase_spark.sources.clips import generate_clips

    root = str(tmp_path / "fixture")
    clips = generate_clips(spark, 800, max_payload_ms=50)
    cut = f"clip_{500:012d}"
    create_table(
        clips.filter(F.col("clip_id") < cut), root,
        partition_by=["codec"], stat_cols=["dur_ms", "sr_hz"],
    )
    append(clips.filter(F.col("clip_id") >= cut), root)
    for r, cols in ((table[0], ["dur_ms"]), (root, ["dur_ms", "sr_hz"])):
        recorded = {
            e["path"]: {"row_count": e["row_count"], "stats": e["stats"]}
            for e in read_manifest(r, current_snapshot_id(r))
        }
        assert recorded == _scanned_file_stats(spark, r, cols)


def test_footer_stats_missing_and_all_null_row_groups(tmp_path):
    """A row group without statistics for a column makes the column's
    entry [None, None]; a row group holding only nulls is skipped.
    `key_range` spans the files that have rows, and gives None as soon as
    one of them lacks the statistic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from macrobase_spark.sources.icetable import _footer_stats, key_range

    t = pa.table({"a": pa.array([None, None, 5, 9], pa.int32()), "b": pa.array([1, 2, 3, 4])})
    path = str(tmp_path / "f.parquet")
    pq.write_table(t, path, row_group_size=2, write_statistics=["a"])
    assert _footer_stats(path, ["a", "b", "zz"]) == {
        "row_count": 4, "stats": {"a": [5, 9], "b": [None, None], "zz": [None, None]}
    }
    other, empty = str(tmp_path / "g.parquet"), str(tmp_path / "e.parquet")
    pq.write_table(pa.table({"a": pa.array([2, 7], pa.int32())}), other)
    pq.write_table(pa.table({"a": pa.array([], pa.int32())}), empty)
    assert key_range([path, other, empty], "a") == (2, 9)
    assert key_range([path, other], "b") is None
    assert key_range([empty], "a") is None
