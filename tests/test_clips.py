"""Clips fixture + check suite: exact planted-violation recovery,
partition-stability (determinism), SNR invariant, manifest resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.operators.audio import decode_wav, render_reference, snr_db, snr_check
from macrobase_spark.operators.checks import SuiteConfig, run_suite
from macrobase_spark.plans.manifest import RunManifest
from macrobase_spark.sources.clips import (
    expected_violations,
    generate_clips,
    generate_manifest,
)

N = 3000


@pytest.fixture(scope="module")
def suite(spark):
    clips = generate_clips(spark, N)
    manifest = generate_manifest(spark, N)
    return run_suite(clips, manifest, SuiteConfig())


def test_planted_violations_exact(spark, suite):
    got = {
        (r["clip_id"], r["check"])
        for r in suite.violations.filter(F.col("check") != "drift").collect()
    }
    exp = {(r.clip_id, r.check) for r in expected_violations(N).itertuples()}
    assert got == exp


def test_explanation_recovers_flac_association(suite):
    """The codec-correlated corruption plant over-indexes flac among
    violations; the suite's risk-ratio explanation must surface it."""
    rows = suite.explanation.collect()
    assert len(rows) > 0
    top = max(rows, key=lambda r: r["risk_ratio"])
    assert top["codec"] == "flac"
    assert top["risk_ratio"] > 1.5


def test_drift_detected(suite):
    drift = suite.violations.filter(F.col("check") == "drift").collect()
    assert len(drift) > 0
    assert all("aac" in r["detail"] for r in drift)


def test_partition_stability(spark):
    """Same content at any parallelism — the property the scaling run needs."""
    a = generate_clips(spark, 500, partitions=2)
    b = generate_clips(spark, 500, partitions=7)
    ha = a.select(F.md5(F.concat_ws("|", "clip_id", F.base64("bytes"), "sr_hz", "dur_ms", "codec", F.coalesce("transcript", F.lit("\x00"))))
                  .alias("h")).agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).collect()[0][0]
    hb = b.select(F.md5(F.concat_ws("|", "clip_id", F.base64("bytes"), "sr_hz", "dur_ms", "codec", F.coalesce("transcript", F.lit("\x00"))))
                  .alias("h")).agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).collect()[0][0]
    assert ha == hb


def test_snr_invariant_clean_clips(spark):
    """North-star per-row invariant: decoded PCM vs reference render has
    SNR >= 30 dB for every uncorrupted clip."""
    from macrobase_spark.operators.audio import score_clips
    from macrobase_spark.sources.clips import _is_corrupt

    clips = generate_clips(spark, 1200)
    scored = score_clips(clips, 30.0).collect()
    for r in scored:
        idx = int(r["clip_id"].split("_")[1])
        corrupted = _is_corrupt(idx, r["codec"]) or idx % 601 == 9
        if corrupted:
            assert not r["snr_pass"], r
        else:
            assert r["snr_pass"] and r["snr_db"] >= 30.0, r


def test_wav_roundtrip_allclose():
    from macrobase_spark.sources.clips import _payload

    b = _payload(42, 16000, 5000, 200)
    sr, pcm = decode_wav(b)
    assert sr == 16000
    ref = render_reference(42, sr, len(pcm))
    assert snr_db(ref, pcm) >= 30.0
    assert np.allclose(ref, pcm, atol=0.02)


def test_manifest_resume(spark, tmp_path, suite):
    mpath = str(tmp_path / "manifest")
    m = RunManifest(mpath)
    verdicts = suite.verdicts.collect()
    parts = sorted({r["codec"] for r in verdicts})
    # record all but one partition as completed
    rows = [
        {"partition": p, "n_rows": 1, "n_violations": 0, "passed": True}
        for p in parts[:-1]
    ]
    m.record(rows, lineage="clips@n=3000")
    pending = m.pending(parts)
    assert pending == [parts[-1]]
    # completing the rest empties the queue
    m.record([{"partition": parts[-1], "n_rows": 1, "n_violations": 2, "passed": False}])
    assert m.pending(parts) == []
    mdf = m.read(spark)
    assert mdf.count() == len(parts)
    assert mdf.filter(~F.col("passed")).count() == 1


def test_suite_results_launch_no_job(suite, count_jobs):
    """Everything the suite builds on the driver (verdicts, column stats,
    explanation) is a local relation: reading it back launches no job."""
    for df in (suite.verdicts, suite.column_stats, suite.explanation):
        assert count_jobs(df.collect) == 0


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _assert_suite_matches_components(res, manifest):
    """The suite's relations equal the component functions the oracle
    queries certify, computed over the same scored relation."""
    from macrobase_spark.operators.checks import (
        column_stats,
        explain_from_violations,
        row_violations,
        verdicts_from_violations,
    )

    scored = res.scored
    viol = row_violations(scored, manifest)
    assert _rows(res.violations.filter(F.col("check") != "drift")) == _rows(viol)

    ref_verd = {
        (r["codec"], r["check"]): (r["n_rows"], r["n_violations"], r["passed"])
        for r in verdicts_from_violations(scored, viol, "codec").collect()
    }
    got_verd = {
        (r["codec"], r["check"]): (r["n_rows"], r["n_violations"], r["passed"])
        for r in res.verdicts.collect()
    }
    assert got_verd == ref_verd

    ref_stats = {r["codec"]: r.asDict() for r in column_stats(scored, "codec").collect()}
    assert len(ref_stats) == res.column_stats.count()
    for r in res.column_stats.collect():
        ref = ref_stats[r["codec"]]
        for k, v in r.asDict().items():
            if isinstance(v, float):
                assert v == pytest.approx(ref[k], rel=1e-6), (r["codec"], k)
            else:
                assert v == ref[k], (r["codec"], k)

    ref_exp = {
        (r["codec"], r["sr_hz_s"]): (r["outlier_count"], r["total_count"], r["risk_ratio"])
        for r in explain_from_violations(scored, viol, SuiteConfig()).collect()
    }
    got_exp = {
        (r["codec"], r["sr_hz_s"]): (r["outlier_count"], r["total_count"], r["risk_ratio"])
        for r in res.explanation.collect()
    }
    assert got_exp == ref_exp


def test_fused_suite_matches_component_functions(spark, suite):
    """run_suite's fused single-aggregation fast path must produce the same
    relations as the component functions the oracle queries certify."""
    _assert_suite_matches_components(suite, generate_manifest(spark, N))


def hostile_clips(spark, n: int = N):
    """generate_clips(n) made hostile to the keyed pass, with its manifest:
    NULL clip_ids on several rows (each duplicated too), NULL sr_hz on every
    null-transcript row and more, NULL codecs, duplicated ids that carry
    null-transcript and SNR violations, an orphan duplicate (id 263), and a
    manifest that holds a NULL key."""
    c = generate_clips(spark, n, max_payload_ms=50).withColumn(
        "_i", F.substring("clip_id", 6, 12).cast("long")
    )
    i = F.col("_i")
    c = (
        c.withColumn("clip_id", F.when(i % 401 == 5, None).otherwise(F.col("clip_id")))
        .withColumn("sr_hz", F.when((i % 211 == 3) | (i % 97 == 3), None).otherwise(F.col("sr_hz")))
        .withColumn("codec", F.when(i % 89 == 4, None).otherwise(F.col("codec")))
    )
    dups = c.filter((i % 211 == 3) | (i % 601 == 9) | (i == 263) | (i % 401 == 5))
    manifest = generate_manifest(spark, n).unionByName(
        spark.createDataFrame(
            [(None, "crawl-a", "cc0")], "clip_id string, source string, license string"
        )
    )
    return c.unionByName(dups).drop("_i"), manifest


# violation rows of the hostile fixture, as the join-based suite that the
# keyed pass replaced counted them
HOSTILE_VIOLATIONS = 148


@pytest.fixture(scope="module")
def hostile(spark):
    clips, manifest = hostile_clips(spark)
    return run_suite(clips, manifest, SuiteConfig()), manifest


def test_keyed_pass_on_hostile_data(hostile):
    """On NULL keys, duplicated violating ids and NULL groups, the keyed
    window gives the rows of the grouping/anti-join definition (uniqueness
    as a GROUP BY, referential integrity as a LEFT ANTI join), the suite's
    relations equal the component functions, and the per-check violation
    counts add up to the violation rows. The counts are those of the
    join-based suite this keyed pass replaced."""
    from macrobase_spark.operators.checks import row_violations

    res, manifest = hostile
    scored = res.scored
    dups = (
        scored.groupBy("clip_id").count().filter(F.col("count") > 1).select(
            "clip_id",
            F.lit("uniqueness").alias("check"),
            F.concat(F.lit("duplicate x"), F.col("count")).alias("detail"),
        )
    )
    snr_detail = F.when(~F.col("decode_ok"), F.lit("decode failed")).otherwise(
        F.concat(F.lit("snr_db="), F.round("snr_db", 1).cast("string"))
    )
    row_local = [
        scored.filter(cond).select("clip_id", F.lit(check).alias("check"), detail.alias("detail"))
        for check, cond, detail in [
            ("null_transcript", F.col("transcript_null"), F.lit("transcript is null")),
            ("empty_transcript", F.col("transcript_empty"), F.lit("transcript is empty")),
            ("snr", ~F.col("snr_pass"), snr_detail),
        ]
    ]
    orphans = scored.join(manifest.select("clip_id"), "clip_id", "left_anti").select(
        "clip_id",
        F.lit("ref_integrity").alias("check"),
        F.lit("missing from manifest").alias("detail"),
    )
    grouped = dups
    for df in [*row_local, orphans]:
        grouped = grouped.unionByName(df)
    assert _rows(row_violations(scored, manifest)) == _rows(grouped)
    _assert_suite_matches_components(res, manifest)
    n = res.violations.count()
    assert sum(res.violation_counts.values()) == n
    assert res.violation_counts == {
        c: res.violations.filter(F.col("check") == c).count() for c in res.violation_counts
    }
    assert res.violations.filter(F.col("clip_id").isNull()).filter(
        F.col("check") == "uniqueness"
    ).count() == 1
    assert n == HOSTILE_VIOLATIONS


def test_null_sr_hz_stays_null_in_explanation(hostile):
    """sr_hz is an explanation attribute as Spark casts it to string: a
    NULL sr_hz stays NULL (no item), never the string 'None'. The hostile
    fixture's NULL-sr_hz group holds every null-transcript row, enough
    support and risk ratio to be emitted were it an item."""
    from macrobase_spark.operators.checks import explain_from_violations, row_violations

    res, manifest = hostile
    rows = _rows(res.explanation)
    assert rows and all(v != "None" for r in rows for v in r)
    ref = explain_from_violations(res.scored, row_violations(res.scored, manifest), SuiteConfig())
    assert rows == _rows(ref)


def test_null_sr_hz_never_matches_the_header_rate(spark):
    """The scan kernel maps a NULL sr_hz to a rate no header carries, so
    sr_match is False by definition rather than by NaN casting to
    INT64_MIN (which warned on every batch holding a NULL): the hostile
    fixture scores without a warning, and every row scores as it does with
    its NULLs replaced by a rate that matches nothing."""
    import warnings

    import pyarrow.compute as pc

    from macrobase_spark.operators.audio import score_record_batch

    clips, _ = hostile_clips(spark)
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "bytes"]
    batches = clips.select(*cols).toArrow().to_batches(max_chunksize=500)
    n_null = 0
    for b in batches:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = score_record_batch(b)
        null_sr = pc.is_null(b.column(1))
        n_null += pc.sum(null_sr).as_py() or 0
        assert not any(pc.filter(out.column("sr_match"), null_sr).to_pylist())
        filled = score_record_batch(b.set_column(1, "sr_hz", pc.fill_null(b.column(1), 1)))
        assert out.drop_columns(["sr_hz"]).equals(filled.drop_columns(["sr_hz"]))
    assert n_null > 0


def test_files_scan_matches_jvm_scan(spark, tmp_path):
    """run_suite_files (pyarrow-native columnar scan — the bench/scaling
    path) must produce the same violations and verdicts as run_suite over
    the same materialized table."""
    from macrobase_spark.operators.checks import run_suite_files
    from macrobase_spark.sources.clips import write_clips_table

    n = 1500
    path = str(tmp_path / "clips_files")
    write_clips_table(spark, n, path, max_payload_ms=100)
    a = run_suite(spark.read.parquet(path), generate_manifest(spark, n), SuiteConfig())
    b = run_suite_files(spark, path, generate_manifest(spark, n), SuiteConfig())
    va = {(r["clip_id"], r["check"], r["detail"]) for r in a.violations.collect()}
    vb = {(r["clip_id"], r["check"], r["detail"]) for r in b.violations.collect()}
    assert va == vb
    da = {(r["codec"], r["check"]): r["n_violations"] for r in a.verdicts.collect()}
    db = {(r["codec"], r["check"]): r["n_violations"] for r in b.verdicts.collect()}
    assert da == db


def test_cache_strategies_equivalent(spark, tmp_path):
    """cfg.cache='persist' (replicated, lineage kept) and 'checkpoint'
    (reliable) must produce the same suite results as the bench-default
    localCheckpoint."""
    clips = generate_clips(spark, 800)
    manifest = generate_manifest(spark, 800)
    base = run_suite(clips, manifest, SuiteConfig(cache="local"))
    ref = {(r["clip_id"], r["check"]) for r in base.violations.collect()}

    got_p = run_suite(clips, manifest, SuiteConfig(cache="persist"))
    assert {(r["clip_id"], r["check"]) for r in got_p.violations.collect()} == ref

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got_c = run_suite(clips, manifest, SuiteConfig(cache="checkpoint"))
    assert {(r["clip_id"], r["check"]) for r in got_c.violations.collect()} == ref

    import pytest as _pytest

    with _pytest.raises(ValueError):
        run_suite(clips, manifest, SuiteConfig(cache="bogus"))


def test_suite_null_group_values_not_mistaken_for_subtotals(spark):
    """ADVICE r2: rollup subtotal rows are identified by grouping_id, not by
    NULL-ness, so data rows with NULL sr_hz/codec stay at the data grain —
    no duplicated column-stats/verdict rows, no rows dropped from stats."""
    from pyspark.sql import functions as F

    from macrobase_spark.operators.audio import SCORED_SCHEMA
    from macrobase_spark.operators.checks import SuiteConfig, _suite_from_scored

    rows = []
    for i in range(40):
        codec = None if i % 10 == 0 else ("pcm16" if i % 2 else "wav")
        sr = None if i % 8 == 0 else 16000
        rows.append(
            (f"c{i}", sr, 1000 + i, codec, False, False, 3200, True, 40.0, True,
             0.0, 0.0, 0.0, 0.0, 0)
        )
    scored = (
        spark.createDataFrame(rows, SCORED_SCHEMA)
        .withColumn("snr_pass", F.lit(True))
    )
    manifest = scored.select("clip_id")
    res = _suite_from_scored(scored, manifest, SuiteConfig())

    stats = res.column_stats.toPandas()
    # one stats row per codec VALUE including the NULL group — never a
    # duplicate, and the counts must cover all 40 rows
    assert stats["codec"].duplicated().sum() == 0
    assert int(stats["n_rows"].sum()) == 40
    verd = res.verdicts.toPandas()
    assert verd["codec"].duplicated(keep=False).sum() == 0  # all clean -> 1 row/codec


def test_post_scan_compaction(spark):
    """The suite must not inherit the scan's fine-grained partitioning for
    the narrow post-scan relation: _compact merges cached partitions down to
    max(2*parallelism, nparts/8) with a narrow dependency (no shuffle), and
    is a no-op when the relation is already coarse enough."""
    from macrobase_spark.operators.checks import _compact

    par = spark.sparkContext.defaultParallelism
    fine = spark.range(0, 10_000, numPartitions=max(16 * par, 64)).localCheckpoint()
    merged = _compact(fine)
    nparts = fine.rdd.getNumPartitions()
    assert merged.rdd.getNumPartitions() == max(2 * par, nparts // 8)
    # identical rows, no shuffle exchange in the merged plan
    assert merged.count() == 10_000
    assert "Exchange" not in merged._jdf.queryExecution().executedPlan().toString()
    coarse = spark.range(0, 100, numPartitions=2).localCheckpoint()
    assert _compact(coarse) is coarse
