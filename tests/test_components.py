"""Connected components: hand-built graphs, empty and self-loop inputs,
long-chain convergence within the round bound (and the error past it),
a union-find cross-check on random graphs, the job count of the
registered cluster query and its Spark/DuckDB agreement."""

import duckdb
import numpy as np
import pytest

from macrobase_spark.operators import components
from macrobase_spark.operators.components import (
    cluster_sizes,
    connected_components,
)
from macrobase_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.01"


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r["node"]: r["rep"] for r in connected_components(df).collect()}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (5, 6)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_empty_and_self_loop_inputs(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    got = connected_components(empty)
    assert got.columns == ["node", "rep"]
    assert got.collect() == []
    assert _cc(spark, [(1, 1), (2, 3)]) == {1: 1, 2: 2, 3: 2}


@pytest.mark.parametrize("n", [20, 300])
def test_long_chain_converges(spark, monkeypatch, n):
    """A path of n + 1 nodes has diameter n; pointer jumping halves the
    distance to the minimum every round, so the 300-hop path closes
    within 10 rounds (9 that lower labels and one that sees no change)."""
    if n == 300:
        monkeypatch.setattr(components, "MAX_ROUNDS", 10)
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_past_the_round_bound_raises(spark, monkeypatch):
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="MAX_ROUNDS=1"):
        _cc(spark, [(i, i + 1) for i in range(20)])


@pytest.mark.parametrize("seed,nodes,draws", [(3, 120, 150), (8, 200, 220)])
def test_matches_union_find_on_random_graph(spark, seed, nodes, draws):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, nodes, size=(draws, 2))
        if a != b
    ]
    got = _cc(spark, edges)

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in {v for e in edges for v in e}}
    assert got == want


def test_cluster_sizes(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    got = {
        r["rep"]: r["size"]
        for r in cluster_sizes(connected_components(df)).collect()
    }
    assert got == {1: 3, 5: 2}


def test_registered_query_job_count(spark, count_jobs):
    """dedup_clusters_documents at sf0.01, forced with a noop write:
    11 jobs measured (pair generation, the symmetric-edge checkpoint, one
    checkpointed round that sees no label lowered, the cluster sizes),
    against 24 for min-label rounds that each ran a checkpoint and a
    separate count job."""

    def run():
        df = QUERIES["dedup_clusters_documents"](spark, SF)
        df.write.format("noop").mode("overwrite").save()

    assert count_jobs(run) <= 11


def test_registered_query_matches_oracle(spark):
    got = sorted(
        (r["rep"], r["size"])
        for r in QUERIES["dedup_clusters_documents"](spark, SF).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = sorted(con.execute(ORACLES["dedup_clusters_documents"]).fetchall())
    assert got == want
    assert len(got) > 0
