"""Physical-plan assertions for the round-5-touched paths: the guarded
MinHash-LSH self-join must stay an equi-join on the bucket key (never a
cartesian/nested-loop), and the new SQL predicate forms must reach the
parquet scan as pushed filters (Catalyst pushdown — the point of
lowering them to native Column ops)."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=60):
    rows = [(f"d{i:04d}", f"alpha beta gamma delta w{i % 7} w{(i * 3) % 11} zeta")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_minhash_guarded_pair_join_is_equijoin(spark):
    from macrobase_spark.operators.dedup import minhash_lsh_candidates

    for mb in (10000, None):
        plan = _plan(minhash_lsh_candidates(_docs(spark), "doc_id", "text", max_bucket=mb))
        assert "CartesianProduct" not in plan, f"max_bucket={mb}"
        assert "BroadcastNestedLoopJoin" not in plan, f"max_bucket={mb}"
        # the bucket key participates in a hash-based or sort-merge equi-join
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), mb


def test_simhash_pair_join_is_equijoin(spark):
    from macrobase_spark.operators.dedup import simhash_candidates

    plan = _plan(simhash_candidates(_docs(spark), "doc_id", "text", max_bucket=1000))
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_guard_rides_the_pair_join_exchange(spark):
    """The hot-bucket guard is a window partitioned like the pair join, so
    with AQE and broadcast joins off the guarded plan holds the unguarded
    plan's joins and hash exchanges plus a Window on each join side (both
    over the one reused exchange) — no exchange, join or cartesian product
    of its own."""
    from macrobase_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
        simhash_candidates,
    )

    ops = {
        "jaccard": lambda m: jaccard_pairs(_docs(spark), "doc_id", "text", max_doc_freq=m),
        "minhash": lambda m: minhash_lsh_candidates(_docs(spark), "doc_id", "text", max_bucket=m),
        "simhash": lambda m: simhash_candidates(_docs(spark), "doc_id", "text", max_bucket=m),
    }

    def shape(plan):
        joins = len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
        return joins, plan.count("Exchange hashpartitioning"), len(re.findall(r"\bWindow \[", plan))

    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for name, op in ops.items():
            exact, guarded = _plan(op(None)), _plan(op(1000))
            joins, exchanges, windows = shape(exact)
            assert shape(guarded) == (joins, exchanges, windows + 2), name
            assert joins == 1, name
            assert "CartesianProduct" not in guarded, name
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sql_between_like_in_push_down_to_parquet(spark, tmp_path):
    """BETWEEN lowers to >= / <= range filters, IN to an In filter, LIKE
    'v%' to StringStartsWith — all must appear in the parquet scan's
    PushedFilters, proving the new predicate forms stay inside Catalyst's
    pushdown instead of becoming post-scan Python."""
    from macrobase_spark.sql import MacroBaseSQL

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(float(i), f"v{i % 4}", f"loc{i % 3}") for i in range(100)],
        "usage double, version string, location string",
    ).write.mode("overwrite").parquet(p)
    eng = MacroBaseSQL(spark)
    eng.register("t", spark.read.parquet(p))

    plan = _plan(eng.execute("SELECT * FROM t WHERE usage BETWEEN 20 AND 60"))
    assert "GreaterThanOrEqual(usage,20.0)" in plan and "LessThanOrEqual(usage,60.0)" in plan

    plan = _plan(eng.execute("SELECT * FROM t WHERE location IN ('loc0', 'loc1')"))
    assert re.search(r"(In\(location|EqualTo\(location,loc0\))", plan)

    plan = _plan(eng.execute("SELECT * FROM t WHERE version LIKE 'v1%'"))
    assert "StringStartsWith(version,v1)" in plan

    plan = _plan(eng.execute("SELECT * FROM t WHERE version IS NOT NULL"))
    assert "IsNotNull(version)" in plan


def test_contamination_uses_broadcast_join(spark):
    """The decontamination shingle join must broadcast the (small) eval-set
    side so the corpus pass stays map-only — no corpus shuffle on the
    n-gram key."""
    from macrobase_spark.operators.text import benchmark_contamination

    docs = _docs(spark, 80)
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon"), ("b2", "one two three four five")],
        "doc_id string, text string",
    )
    plan = _plan(benchmark_contamination(docs, bench))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
