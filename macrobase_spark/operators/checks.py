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
row. That narrow scored relation is persisted; every check below reads it:

- row checks: null/empty transcript and SNR are decided by each scored row
  alone (`_row_checks`, read by the keyed window below).
- keyed checks: uniqueness and referential integrity both key on
  `clip_id`, so they share ONE window over scored ∪ manifest keys
  partitioned by `clip_id` (`_keyed`): one exchange and one sort give every
  scored row its id's scored count, manifest presence and per-id violation
  counts. `row_violations` is a narrow projection of that relation.
- drift: two-level aggregation (rows → group stats → MAD over group medians);
  only group-level rows ever leave the executors.
- verdicts, column stats, per-check violation counts: ONE rollup over the
  keyed relation; the driver sees one row per (partition, sr_hz) group.
- explanation: APriori risk-ratio lattice in cube mode over the rollup's
  (partition, sr_hz) counts, in plain Python on the driver.

Results that are built on the driver (drift rows, column stats, verdicts,
explanation) are local relations (`functions.rows.local_rows`): reading
them back launches no Spark job.

One suite, every face: a full run (`jobs/validate.py` over a table), an
incremental run (`--iceberg-root --resume`, one snapshot delta) and the
streaming face (`streaming/validate.py`, one `run_suite` per micro-batch)
all run `run_suite` and record `SuiteResult.partition_rows()`. Uniqueness
is scoped to the unit the face validates: the table, the delta, or the
micro-batch. An id that recurs across deltas is not flagged by the
incremental run; across micro-batches `streaming.stream_duplicate_clips`
flags it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from macrobase_spark.functions.rows import local_rows
from macrobase_spark.operators.audio import score_clips
from macrobase_spark.operators.explain import ExplainParams, explain, explain_rows

VIOLATION_COLS = ["clip_id", "check", "detail"]


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
    violation_counts: dict[str, int]  # violation rows per check, drift included

    def partition_rows(self) -> list[dict]:
        """One run-manifest row per partition, `{partition, n_rows,
        n_violations, passed}`: the per-(partition, check) verdicts folded
        to the partition. Every face that records a manifest (jobs/validate,
        the stream's foreachBatch) records these."""
        parts: dict = {}
        for part, n_rows, _check, n_viol, _passed in self.verdicts.collect():
            d = parts.setdefault(part, {"partition": part, "n_rows": n_rows, "n_violations": 0})
            d["n_violations"] += n_viol
        return [{**d, "passed": d["n_violations"] == 0} for d in parts.values()]


def _row_checks() -> list[tuple[str, Column, Column]]:
    """(check, condition, detail) of every check a scored row decides
    alone: transcript null/empty and the SNR/decode verdict."""
    snr_detail = F.when(~F.col("decode_ok"), F.lit("decode failed")).otherwise(
        F.concat(F.lit("snr_db="), F.round("snr_db", 1).cast("string"))
    )
    return [
        ("null_transcript", F.col("transcript_null"), F.lit("transcript is null")),
        ("empty_transcript", F.col("transcript_empty"), F.lit("transcript is empty")),
        ("snr", ~F.col("snr_pass"), snr_detail),
    ]


def _violation_rows(df: DataFrame, checks: list[tuple[str, Column, Column]]) -> DataFrame:
    """(clip_id, check, detail) rows of `df` in ONE scan: each row emits a
    struct per (check, condition, detail) whose condition holds, and the
    array explodes — one pass, not one per check."""
    structs = [
        F.when(cond, F.struct(F.lit(c).alias("check"), detail.alias("detail")))
        for c, cond, detail in checks
    ]
    return df.select(
        "clip_id", F.explode(F.array_compact(F.array(*structs))).alias("_v")
    ).select("clip_id", F.col("_v.check").alias("check"), F.col("_v.detail").alias("detail"))


def _keyed(scored: DataFrame, manifest: DataFrame) -> DataFrame:
    """The scored rows, each carrying its `clip_id`'s totals, from ONE
    window over scored ∪ manifest keys partitioned by `clip_id` (one
    exchange, one sort — instead of an aggregation for uniqueness, an
    anti-join for referential integrity and a join back per consumer):

    - `_n`: scored rows with this id;
    - `_in_man`: the manifest holds the id (NULL keys never match);
    - `_n_<check>`: the id's scored rows failing each row check;
    - `_rn`: row number within the id; scored rows sort before manifest
      rows, so row 1 is a scored row and carries the uniqueness row.

    NULL ids form one window partition of their own, as in a GROUP BY."""
    keys = (
        manifest.select("clip_id")
        .filter(F.col("clip_id").isNotNull())
        .withColumn("_m", F.lit(True))
    )
    both = scored.withColumn("_m", F.lit(False)).unionByName(keys, allowMissingColumns=True)
    first = Window.partitionBy("clip_id").orderBy("_m")
    per_id = first.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def count(cond: Column) -> Column:
        return F.count(F.when(cond, 1)).over(per_id)

    return both.select(
        "*",
        count(~F.col("_m")).alias("_n"),
        F.max("_m").over(per_id).alias("_in_man"),
        *[count(cond).alias(f"_n_{c}") for c, cond, _ in _row_checks()],
        F.row_number().over(first).alias("_rn"),
    ).filter(~F.col("_m"))


CHECK_NAMES = ["uniqueness", "null_transcript", "empty_transcript", "ref_integrity", "snr"]


def _keyed_checks() -> list[tuple[str, Column, Column, Column]]:
    """(check, condition, detail, id count) over `_keyed` rows, in
    CHECK_NAMES order. The id count is the number of violation rows of the
    check that carry the row's clip_id."""
    n, orphan = F.col("_n"), ~F.col("_in_man")
    checks = {
        "uniqueness": (
            (F.col("_rn") == 1) & (n > 1),
            F.concat(F.lit("duplicate x"), n),
            F.when(n > 1, 1).otherwise(0),
        ),
        "ref_integrity": (orphan, F.lit("missing from manifest"), F.when(orphan, n).otherwise(0)),
        **{c: (cond, detail, F.col(f"_n_{c}")) for c, cond, detail in _row_checks()},
    }
    return [(c, *checks[c]) for c in CHECK_NAMES]


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
    """All row-level (clip_id-attributed) violations: one `duplicate x<n>`
    row per id held by n > 1 scored rows, one row per null/empty transcript
    and per failed SNR/decode, and one `ref_integrity` row per scored row
    whose id the manifest lacks (NULL ids included). A narrow projection of
    the keyed window (`_keyed`): one exchange over scored ∪ manifest keys."""
    return _violation_rows(_keyed(scored, manifest), [c[:3] for c in _keyed_checks()])


def verdicts_from_violations(
    scored: DataFrame, row_viol: DataFrame, partition_col: str
) -> DataFrame:
    """Per-partition verdicts: attribute row-level violations back to their
    partition via the scored rows. A NULL partition value is a partition
    like any other (null-safe join), as in the suite's rollup."""
    per_part = (
        scored.select("clip_id", F.col(partition_col).alias("_p"))
        .join(row_viol, "clip_id")
        .groupBy("_p", "check")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    part_sizes = scored.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        part_sizes.join(per_part, F.col(partition_col).eqNullSafe(F.col("_p")), "left")
        .drop("_p")
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


def _suite_from_scored(
    scored: DataFrame, manifest: DataFrame, cfg: SuiteConfig
) -> SuiteResult:
    """Build the suite outputs from the materialized scored relation with
    ONE Spark action after the scan (the N-vs-4N scaling ratio is dominated by
    sequential job latency, so every removed pass is efficiency): a rollup over
    the keyed window (`_keyed`, one `clip_id` exchange over scored ∪ manifest
    keys) that computes, grouped by (partition_col, sr_hz), (partition_col) and
    the grand total: row counts, transcript-null counts, dur_ms min/max +
    mergeable percentile sketches, HLL sr_hz distinct, payload sums, flagged-row
    counts, per-check violation-row counts attributed to the rows' partitions
    (`_vc<i>`: each scored row carries its id's count, as a join of the
    violation rows back to scored on `clip_id` would — a NULL id joins
    nothing), and per-check violation-row totals (`_vr<i>`, read at the grand
    total).

    Everything else derives from that ≤(|codec|·|sr|) + |codec| + 1 row
    aggregate on the driver, with no further Spark job: drift (MAD over the
    group medians), column stats, per-partition verdicts, the violation counts,
    and the risk-ratio explanation (`explain_rows`: the lattice runs in plain
    Python in CUBE mode over the `fine` group counts — identical numbers to
    the raw path, reference APLSummarizer cube semantics). Each output is a
    local relation, identical, relation-for-relation, to the component
    functions (row_violations / verdicts_from_violations / column_stats /
    explain) the oracle queries certify — asserted by tests/test_clips.py.
    `violations` stays a lazy projection of the keyed window: nothing is
    materialized besides the scan.
    """
    part = cfg.partition_col
    keyed = _keyed(scored, manifest)
    checks = _keyed_checks()
    has_id = F.col("clip_id").isNotNull()
    vc = [F.when(has_id, id_count).otherwise(0) for _, _, _, id_count in checks]
    agg_rows = (
        keyed.rollup(part, "sr_hz")
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
            F.count(F.when(sum(vc, F.lit(0)) > 0, 1)).alias("n_flagged"),
            *[F.sum(v).alias(f"_vc{i}") for i, v in enumerate(vc)],
            *[F.count(F.when(c[1], 1)).alias(f"_vr{i}") for i, c in enumerate(checks)],
        )
        .collect()
    )
    spark = scored.sparkSession
    # gid bitmask for rollup(part, sr_hz): 0 = data grain, 1 = (part)
    # subtotal, 3 = grand total — NULL-safe, unlike testing the values
    fine = [r for r in agg_rows if r["_gid"] == 0]
    coarse = [r for r in agg_rows if r["_gid"] == 1]
    total = next((r for r in agg_rows if r["_gid"] == 3), None)

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
    drift = local_rows(spark, drift_out, "clip_id string, check string, detail string")
    violations = _violation_rows(keyed, [c[:3] for c in checks]).unionByName(drift)
    violation_counts = {
        c: int(total[f"_vr{i}"]) if total else 0 for i, c in enumerate(CHECK_NAMES)
    }
    violation_counts["drift"] = len(drift_out)

    # --- column stats (part grain) ----------------------------------------
    stats = local_rows(
        spark,
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
        present = [(c, r[f"_vc{i}"]) for i, c in enumerate(CHECK_NAMES) if r[f"_vc{i}"] > 0]
        if present:
            for c, nv in present:
                verd_rows.append((r[part], r["n_rows"], c, int(nv), False))
        else:
            verd_rows.append((r[part], r["n_rows"], None, 0, True))
    verdicts = local_rows(
        spark,
        verd_rows,
        f"{part} string, n_rows long, check string, n_violations long, passed boolean",
    )

    # --- explanation: the lattice in cube mode over the fine-grain counts,
    # on the driver (the cube holds at most |part|·|sr_hz| rows) -----------
    explanation = explain_rows(
        spark,
        # sr_hz as Spark casts it to string (explain_from_violations): an
        # int's digits, and NULL stays NULL
        [
            (r["n_flagged"], r["n_rows"], r[part], None if r["sr_hz"] is None else str(r["sr_hz"]))
            for r in fine
        ],
        ExplainParams(
            attributes=[part, "sr_hz_s"],
            min_support=cfg.explain_min_support,
            min_ratio_metric=cfg.explain_min_ratio,
            ratio_metric="risk_ratio",
            max_order=2,
        ),
    )
    return SuiteResult(violations, verdicts, explanation, stats, scored, violation_counts)
