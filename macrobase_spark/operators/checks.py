"""Declarative constraint checks over the clips table, compiled to Spark
plans. This is the north-rule engine: column stats, uniqueness, referential
integrity, distribution drift, SNR decode validation — each emits violation
rows (clip_id, check, detail) plus per-partition metrics, and the suite
finishes with a MacroBase risk-ratio explanation of WHICH attribute
combinations are over-represented among violations.

Scan discipline (the property that makes this work at 10^12 rows):
the heavy table — `bytes` payloads dominate its width — is scanned EXACTLY
ONCE, by `score_clips` (operators.audio): one Arrow-batched pass that decodes
PCM, scores SNR, and projects every scalar the checks need into a ~60-byte
row. That narrow scored relation is persisted; every check below is an
aggregation/join over it:

- uniqueness: ONE hash aggregation on the key. Spark's partial aggregation
  is the two-phase (salted) aggregate — hot keys collapse map-side.
- referential: scored LEFT ANTI broadcast(dim-keys); AQE skew-join handles a
  skewed fk. The fact table is never shuffled.
- drift: two-level aggregation (rows → group stats → MAD over group medians);
  only group-level rows ever leave the executors.
- verdicts: per-partition rollup of violations; the driver sees one row per
  (partition, check).
- explanation: APriori risk-ratio rounds over the narrow cache.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from macrobase_spark.operators.audio import score_clips
from macrobase_spark.operators.explain import ExplainParams, explain

VIOLATION_COLS = ["clip_id", "check", "detail"]


def _v(df: DataFrame, check: str, detail) -> DataFrame:
    return df.select(
        F.col("clip_id"),
        F.lit(check).alias("check"),
        (detail if not isinstance(detail, str) else F.lit(detail)).alias("detail"),
    )


@dataclass
class SuiteConfig:
    partition_col: str = "codec"
    min_snr_db: float = 30.0
    drift_mad_threshold: float = 3.0
    explain_min_support: float = 0.05
    explain_min_ratio: float = 1.5
    # Materialization strategy for the scored relation:
    #   "local"      localCheckpoint — fastest on a single JVM (bench default),
    #                but blocks are non-replicated and lineage is truncated, so
    #                an executor loss kills the run. Single-JVM / bench only.
    #   "persist"    MEMORY_AND_DISK_2 (replicated) + lineage kept — survives
    #                one executor loss; use on clusters with dynamic allocation.
    #   "checkpoint" reliable checkpoint to spark.checkpoint.dir — survives any
    #                executor churn; use for long multi-stage cluster runs.
    cache: str = "local"


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "persist":
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK_2)
        df.count()  # eager
        return df
    if mode == "checkpoint":
        return df.checkpoint(eager=True)
    raise ValueError(f"unknown cache mode {mode!r}; one of local/persist/checkpoint")


def _compact(df: DataFrame) -> DataFrame:
    """Merge the materialized narrow relation's partitions before the suite
    reuses it. The scan stage deliberately over-splits (many small splits
    load-balance the Python decode over the WIDE payload rows), but the
    checkpointed projection is ~60 bytes/row — ~50× narrower — so inheriting
    the scan partitioning leaves the post-scan aggregation stages with
    thousands of near-empty tasks whose scheduling latency dominates their
    work (measured: 512-task stages over 8M rows run the suite's post-scan
    phase in the same wall time at 8 and 32 cores — pure overhead, no
    scaling). coalesce is a narrow dependency on cached blocks: no shuffle,
    each merged task reads its constituent blocks locally. The 8× merge cap
    keeps per-partition bytes ~6× below the scan's (payload-sized) split
    target, and the 2×parallelism floor keeps every core busy at any scale."""
    sc = df.sparkSession.sparkContext
    nparts = df.rdd.getNumPartitions()
    target = max(2 * sc.defaultParallelism, nparts // 8)
    return df.coalesce(target) if target < nparts else df


@dataclass
class SuiteResult:
    violations: DataFrame  # (clip_id, check, detail)
    verdicts: DataFrame  # (partition, check, n_violations, n_rows, passed)
    explanation: DataFrame  # risk-ratio violation-row explanations
    column_stats: DataFrame
    scored: DataFrame  # the narrow one-scan relation (persisted)


def uniqueness_check(scored: DataFrame) -> DataFrame:
    dups = (
        scored.groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return _v(dups, "uniqueness", F.concat(F.lit("duplicate x"), F.col("n")))


def row_local_checks(scored: DataFrame) -> DataFrame:
    """null/empty transcript + SNR violations in ONE scan: each row emits its
    (possibly several) violation structs and explodes them — one pass, not
    one per check. At 10^12 rows every saved pass over the scored relation
    is a saved stage."""
    snr_detail = F.when(~F.col("decode_ok"), F.lit("decode failed")).otherwise(
        F.concat(F.lit("snr_db="), F.round("snr_db", 1).cast("string"))
    )

    def v(check: str, detail) -> Column:
        return F.struct(
            F.lit(check).alias("check"),
            (detail if not isinstance(detail, str) else F.lit(detail)).alias("detail"),
        )

    return scored.select(
        "clip_id",
        F.explode(
            F.array_compact(
                F.array(
                    F.when(F.col("transcript_null"), v("null_transcript", "transcript is null")),
                    F.when(F.col("transcript_empty"), v("empty_transcript", "transcript is empty")),
                    F.when(~F.col("snr_pass"), v("snr", snr_detail)),
                )
            )
        ).alias("_v"),
    ).select("clip_id", F.col("_v.check").alias("check"), F.col("_v.detail").alias("detail"))


def ref_integrity_check(scored: DataFrame, manifest: DataFrame) -> DataFrame:
    """LEFT ANTI join against the manifest keys. No broadcast hint and no
    distinct: the manifest is fact-sized (one row per clip), so forcing a
    broadcast would ship the whole key set to every task; AQE picks
    broadcast automatically when the right side IS small, and its skew-join
    splitting covers hot keys otherwise. Anti join needs no dedup."""
    orphans = scored.join(manifest.select("clip_id"), "clip_id", "left_anti")
    return _v(orphans, "ref_integrity", "missing from manifest")


def mad_scores(meds: list[float]):
    """Robust z-scores of group medians: |med - median| over 1.4826 x MAD;
    when the MAD is 0, over 1.253314 x the mean absolute deviation (1 if
    that is 0 too)."""
    import numpy as np

    meds = np.array(meds)
    resid = np.abs(meds - float(np.percentile(meds, 50)))
    mad = float(np.percentile(resid, 50))
    scale = 1.4826 * mad if mad > 0 else (1.253314 * resid.mean() if resid.mean() else 1.0)
    return resid / scale


def drift_group_rows(
    scored: DataFrame, metric: str, partition_cols: list[str], approx: bool = True
) -> list:
    """Per-group drift scores: group median of `metric`, then a MAD robust
    z-score ACROSS groups (reference MAD semantics applied at the group
    grain, cf. alexp/.../outlier/MAD.java:27-91 + MetricBucketTransformer).

    ONE Spark job computes the per-group medians (mergeable sketch when
    approx, exact R-7 percentile otherwise — the oracle-certified flavor);
    the MAD across groups runs on the driver — the group table is bounded by
    the attribute-combination cardinality, never by row count.

    Returns [(group_values..., med, score)] driver-side tuples.
    """
    med_agg = (
        F.percentile_approx(metric, 0.5, 10000) if approx else F.percentile(metric, 0.5)
    )
    rows = (
        scored.groupBy(*partition_cols)
        .agg(med_agg.alias("med"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not rows:
        return []
    scores = mad_scores([float(r["med"]) for r in rows])
    return [
        (*[r[c] for c in partition_cols], float(r["med"]), float(s))
        for r, s in zip(rows, scores)
    ]


def column_stats(scored: DataFrame, partition_col: str, approx: bool = True) -> DataFrame:
    """One-pass per-partition profile. ``approx=True`` (production): quantiles
    via the mergeable percentile_approx sketch, distinct counts via HLL —
    both cluster-safe single-pass sketches. ``approx=False``: exact R-7
    percentile + exact distinct, bit-matching the DuckDB oracle."""
    if approx:
        p50 = F.percentile_approx("dur_ms", F.lit(0.5), 10000)
        p95 = F.percentile_approx("dur_ms", F.lit(0.95), 10000)
        nsr = F.approx_count_distinct("sr_hz")  # mergeable HLL sketch
    else:
        p50 = F.percentile("dur_ms", F.lit(0.5))
        p95 = F.percentile("dur_ms", F.lit(0.95))
        nsr = F.countDistinct("sr_hz")
    return scored.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg(F.col("transcript_null").cast("double")), 6).alias(
            "transcript_null_rate"
        ),
        F.min("dur_ms").alias("min_dur_ms"),
        F.max("dur_ms").alias("max_dur_ms"),
        F.round(p50.cast("double"), 6).alias("dur_ms_p50"),
        F.round(p95.cast("double"), 6).alias("dur_ms_p95"),
        nsr.alias("n_sr_values"),
        F.round(F.avg("payload_bytes"), 2).alias("avg_payload_bytes"),
    )


def run_suite(
    clips: DataFrame, manifest: DataFrame, cfg: SuiteConfig | None = None
) -> SuiteResult:
    cfg = cfg or SuiteConfig()
    # THE scan: bytes are read once, decode+SNR happen here, and only the
    # narrow scored projection is materialized for the rest of the suite
    # (strategy per cfg.cache — localCheckpoint stores the row RDD directly,
    # measurably cheaper than InMemoryRelation's compressed columnar cache
    # for a relation this narrow, and every reuse skips the Python scan).
    scored = _compact(_materialize(score_clips(clips, cfg.min_snr_db), cfg.cache))
    return _suite_from_scored(scored, manifest, cfg)


def run_suite_files(
    spark,
    table_path: str,
    manifest: DataFrame,
    cfg: SuiteConfig | None = None,
    batch_rows: int = 2000,
) -> SuiteResult:
    """run_suite over a parquet table scanned Python-natively (pyarrow in
    the workers — see audio.score_clips_from_files): the payload bytes never
    enter the JVM, which removes the double byte-handling of the JVM-scan +
    Arrow-IPC path (~2× on the scan stage at every parallelism level)."""
    from macrobase_spark.operators.audio import score_clips_from_files

    cfg = cfg or SuiteConfig()
    scored = _compact(
        _materialize(
            score_clips_from_files(spark, table_path, cfg.min_snr_db, batch_rows), cfg.cache
        )
    )
    return _suite_from_scored(scored, manifest, cfg)


def row_violations(scored: DataFrame, manifest: DataFrame) -> DataFrame:
    """All row-level (clip_id-attributed) violations: uniqueness, transcript
    nulls/empties, referential integrity, SNR decode failures.

    THREE passes over the narrow scored relation, not five: the row-local
    checks (nulls/empties/snr) share one explode scan; uniqueness is the one
    aggregation that genuinely needs a shuffle; referential is the anti-join."""
    return (
        uniqueness_check(scored)
        .unionByName(row_local_checks(scored))
        .unionByName(ref_integrity_check(scored, manifest))
    )


def verdicts_from_violations(
    scored: DataFrame, row_viol: DataFrame, partition_col: str
) -> DataFrame:
    """Per-partition verdicts: attribute row-level violations back to their
    partition via the scored rows."""
    per_part = (
        scored.select("clip_id", partition_col)
        .join(row_viol, "clip_id")
        .groupBy(partition_col, "check")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    part_sizes = scored.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        part_sizes.join(per_part, partition_col, "left")
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .withColumn("passed", F.col("n_violations") == 0)
    )


def explain_from_violations(
    scored: DataFrame, row_viol: DataFrame, cfg: SuiteConfig
) -> DataFrame:
    """classify-then-explain: which (codec, sr_hz) combos over-index in
    violations — MacroBase risk-ratio APriori over the narrow scored cache."""
    flagged = scored.join(
        row_viol.select("clip_id").distinct().withColumn("_OUTLIER", F.lit(1.0)),
        "clip_id",
        "left",
    ).withColumn("_OUTLIER", F.coalesce("_OUTLIER", F.lit(0.0)))
    return explain(
        flagged.withColumn("sr_hz_s", F.col("sr_hz").cast("string")),
        ExplainParams(
            attributes=[cfg.partition_col, "sr_hz_s"],
            min_support=cfg.explain_min_support,
            min_ratio_metric=cfg.explain_min_ratio,
            ratio_metric="risk_ratio",
            max_order=2,
            cache_base=False,  # scored is already checkpointed
        ),
    )


CHECK_NAMES = ["uniqueness", "null_transcript", "empty_transcript", "ref_integrity", "snr"]


def _suite_from_scored(
    scored: DataFrame, manifest: DataFrame, cfg: SuiteConfig
) -> SuiteResult:
    """Build the suite outputs from the materialized scored relation in TWO
    distributed jobs total (the N-vs-4N scaling ratio is dominated by
    sequential job latency, so every removed pass is efficiency):

    1. the row-violation materialization (uniqueness agg + explode scan +
       anti-join, one union job);
    2. ONE rollup aggregation over scored ⋈ violations-per-clip that
       computes, grouped by (partition_col, sr_hz) AND (partition_col):
       row counts, transcript-null counts, dur_ms min/max + mergeable
       percentile sketches, HLL sr_hz distinct, payload sums, per-check
       violation-row counts, and flagged-row counts.

    Everything else derives from that ≤(|codec|·|sr|) + |codec| + 1 row
    aggregate on the driver: drift (MAD over the group medians), column
    stats, per-partition verdicts, and the risk-ratio explanation (the
    lattice runs in CUBE mode over the group counts — identical numbers to
    the raw path, reference APLSummarizer cube semantics). Each output is
    identical, relation-for-relation, to the component functions
    (row_violations / verdicts_from_violations / column_stats / explain) the
    oracle queries certify — asserted by tests/test_clips.py.
    """
    part = cfg.partition_col
    row_viol = _materialize(row_violations(scored, manifest), cfg.cache)

    vc_cols = [f"_vc{i}" for i in range(len(CHECK_NAMES))]
    viol_by_clip = row_viol.groupBy("clip_id").agg(
        *[
            F.sum(F.when(F.col("check") == c, 1).otherwise(0)).alias(vc)
            for c, vc in zip(CHECK_NAMES, vc_cols)
        ]
    )
    # AQE picks broadcast when the violating-clip set is small; at
    # violation-heavy scale this is one sort-merge shuffle — still the only
    # scored-relation join in the whole suite
    enriched = scored.join(viol_by_clip, "clip_id", "left")
    agg_rows = (
        enriched.rollup(part, "sr_hz")
        .agg(
            # grouping_id distinguishes rollup subtotal rows from data rows
            # that genuinely carry NULL group values (a NULL sr_hz clip must
            # land in `fine`, not masquerade as a (part) subtotal)
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("transcript_null").cast("long")).alias("n_null"),
            F.min("dur_ms").alias("min_dur"),
            F.max("dur_ms").alias("max_dur"),
            F.percentile_approx("dur_ms", F.array(F.lit(0.5), F.lit(0.95)), 10000).alias("dur_q"),
            F.approx_count_distinct("sr_hz").alias("n_sr"),
            F.sum("payload_bytes").alias("payload_sum"),
            F.sum(
                F.when(
                    sum((F.coalesce(F.col(vc), F.lit(0)) for vc in vc_cols), F.lit(0)) > 0, 1
                ).otherwise(0)
            ).alias("n_flagged"),
            *[F.sum(F.coalesce(F.col(vc), F.lit(0))).alias(vc) for vc in vc_cols],
        )
        .collect()
    )
    spark = scored.sparkSession
    # gid bitmask for rollup(part, sr_hz): 0 = data grain, 1 = (part)
    # subtotal, 3 = grand total — NULL-safe, unlike testing the values
    fine = [r for r in agg_rows if r["_gid"] == 0]
    coarse = [r for r in agg_rows if r["_gid"] == 1]

    # --- drift: MAD robust z over the (part, sr_hz) group medians ---------
    drift_out = []
    if fine:
        scores = mad_scores([float(r["dur_q"][0]) for r in fine])
        for r, s in zip(fine, scores):
            if s > cfg.drift_mad_threshold:
                drift_out.append(
                    (
                        None,
                        "drift",
                        # fixed-decimal formatting (printf-compatible) so the
                        # DuckDB suite oracle can state the string exactly
                        f"drifted dur_ms in ({r[part]},{r['sr_hz']}): "
                        f"med={float(r['dur_q'][0]):.1f} score={float(s):.2f}",
                    )
                )
    drift = spark.createDataFrame(drift_out, "clip_id string, check string, detail string")
    violations = row_viol.unionByName(drift)

    # --- column stats (part grain) ----------------------------------------
    stats = spark.createDataFrame(
        [
            (
                r[part],
                r["n_rows"],
                round(r["n_null"] / r["n_rows"], 6),
                r["min_dur"],
                r["max_dur"],
                round(float(r["dur_q"][0]), 6),
                round(float(r["dur_q"][1]), 6),
                r["n_sr"],
                round(r["payload_sum"] / r["n_rows"], 2),
            )
            for r in coarse
        ],
        f"{part} string, n_rows long, transcript_null_rate double, min_dur_ms int, "
        "max_dur_ms int, dur_ms_p50 double, dur_ms_p95 double, n_sr_values long, "
        "avg_payload_bytes double",
    )

    # --- per-partition verdicts (part grain, one row per present check) ---
    verd_rows = []
    for r in coarse:
        present = [(c, r[vc]) for c, vc in zip(CHECK_NAMES, vc_cols) if r[vc] > 0]
        if present:
            for c, nv in present:
                verd_rows.append((r[part], r["n_rows"], c, int(nv), False))
        else:
            verd_rows.append((r[part], r["n_rows"], None, 0, True))
    verdicts = spark.createDataFrame(
        verd_rows,
        f"{part} string, n_rows long, check string, n_violations long, passed boolean",
    )

    # --- explanation: lattice in cube mode over the fine-grain counts -----
    cube = spark.createDataFrame(
        [
            (r[part], str(r["sr_hz"]), float(r["n_flagged"]), float(r["n_rows"]))
            for r in fine
        ],
        f"{part} string, sr_hz_s string, _OUTLIER double, _count double",
    )
    explanation = explain(
        cube,
        ExplainParams(
            attributes=[part, "sr_hz_s"],
            count_col="_count",
            min_support=cfg.explain_min_support,
            min_ratio_metric=cfg.explain_min_ratio,
            ratio_metric="risk_ratio",
            max_order=2,
            cache_base=False,
        ),
    )
    return SuiteResult(violations, verdicts, explanation, stats, scored)
