"""The artifact cache: atomic builds, completeness on every hit, and oracle
SQL that reads only paths the cache produces."""

import os
import re
import shutil

import pytest

from macrobase_spark import artifacts
from macrobase_spark import queries as Q
from macrobase_spark.artifacts import ORACLE_SF as SF
from macrobase_spark.artifacts import Artifact, artifact_path

# oracle SQL interpolates artifact paths at import: load every module
# before any test points ROOT elsewhere
Q.load_all()


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    return tmp_path


def test_failed_build_leaves_nothing_and_next_call_rebuilds(root):
    calls = []

    def build(spark, sf_dir, out):
        calls.append(out)
        os.makedirs(out)
        with open(os.path.join(out, "part-0.parquet"), "w") as fh:
            fh.write("half")
        if len(calls) == 1:
            raise RuntimeError("midway")
        with open(os.path.join(out, "part-1.parquet"), "w") as fh:
            fh.write("rest")

    art = Artifact("flaky", 1, build)
    with pytest.raises(RuntimeError, match="midway"):
        art(None, SF)
    assert os.listdir(root) == []  # neither the final path nor the temp sibling

    path = art(None, SF)
    assert path == artifact_path("flaky", 1, SF) == f"{root}/mb_flaky_v1_sf0.01"
    assert sorted(f for f in os.listdir(path) if f.endswith(".parquet")) == [
        "part-0.parquet",
        "part-1.parquet",
    ]
    assert art(None, SF) == path and len(calls) == 2  # a hit does not rebuild


def test_key_is_the_sf_directory_name(root):
    builds = []

    def build(spark, sf_dir, out):
        builds.append(sf_dir)
        os.makedirs(out)
        open(os.path.join(out, "x"), "w").close()

    art = Artifact("m", 1, build)
    assert art(None, "/data/sf0.01") == art(None, "/data/sf0.01/")
    assert art(None, "/data/sf0.1") != art(None, "/data/other")
    assert builds == ["/data/sf0.01", "/data/sf0.1", "/data/other"]


def test_lost_mirror_rebuilds_the_whole_icetable_fixture(spark, root):
    from macrobase_spark.sources.icetable import (
        ice_table_fixture,
        plan_files,
        read_table,
    )

    path = ice_table_fixture(spark, SF)
    table = os.path.join(path, "table")
    assert all(e["path"].startswith(table) for e in plan_files(table))
    full = spark.read.parquet(os.path.join(path, "full")).count()

    # a partial /tmp cleanup: one mirror gone, the table root kept
    shutil.rmtree(os.path.join(path, "snap1"))
    assert ice_table_fixture(spark, SF) == path
    assert os.path.isdir(os.path.join(path, "snap1"))
    snap1 = spark.read.parquet(os.path.join(path, "snap1")).count()
    assert read_table(spark, table, snapshot_id=1).count() == snap1
    assert read_table(spark, table).count() == full


def test_every_oracle_path_is_a_registered_artifact():
    produced = {a.path() for a in artifacts.ARTIFACTS.values()}
    used = {
        (name, p)
        for name, sql in Q.ORACLES.items()
        for p in re.findall(rf"{re.escape(artifacts.ROOT)}/[^/']+", sql)
    }
    assert used, "no oracle reads a materialized artifact"
    assert {(n, p) for n, p in used if p not in produced} == set()
