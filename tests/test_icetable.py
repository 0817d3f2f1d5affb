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
