"""Registered queries over the synthetic clips table.

Oracle strategy (VERDICT r1 item 3): the decode/SNR kernel itself is not
SQL-expressible, so the scored relation (audio.SCORED_SCHEMA + snr_pass) is
materialized to parquet ONCE per size; every RELATIONAL check — violations,
verdicts, drift, column stats, risk-ratio explanation — is then a DuckDB SQL
query over the same files, turning those rows fully oracle-green. The kernel
itself stays gated by tests/test_clips.py's exact planted-violation recovery
(fixture ground truth is symbolic, sources/clips.expected_violations).

The clip count scales with the sf encoded in sf_dir (sf0.01 → 10k clips),
so the same entries serve the correctness run and the bench run. The oracle
SQL strings are fixed at the correctness scale (sf0.01 → n=10000).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, sf_size
from macrobase_spark.functions.metrics import ratio_metric_sql
from macrobase_spark.operators.checks import (
    SuiteConfig,
    column_stats,
    drift_group_rows,
    explain_from_violations,
    row_violations,
    run_suite,
    verdicts_from_violations,
)
from macrobase_spark.queries import register
from macrobase_spark.sources.clips import generate_manifest, write_clips_table


def clips_n(sf_dir: str) -> int:
    return sf_size(sf_dir, 1_000_000, 1000)


@artifact("bench_clips", 2)
def clips_table_path(spark, sf_dir: str, out: str) -> None:
    """The clips table materialized once per size and reused, so every
    measured suite run has the production stage shape instead of chaining
    two Python stages (synth + score) per task."""
    write_clips_table(spark, clips_n(sf_dir), out, max_payload_ms=100)


def clips_table(spark, sf_dir: str):
    return spark.read.parquet(clips_table_path(spark, sf_dir))


@artifact("scored", 4)
def scored_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the narrow scored relation (ONE decode pass over the
    clips table) to parquet; DuckDB oracles read the very same files."""
    from macrobase_spark.operators.audio import score_clips

    score_clips(clips_table(spark, sf_dir), 30.0).write.parquet(out)


@artifact("manifest", 1)
def manifest_parquet(spark, sf_dir: str, out: str) -> None:
    generate_manifest(spark, clips_n(sf_dir)).write.parquet(out)


def _scored_df(spark, sf_dir: str):
    return spark.read.parquet(scored_parquet(spark, sf_dir))


def _manifest_df(spark, sf_dir: str):
    return spark.read.parquet(manifest_parquet(spark, sf_dir))


_S = scored_parquet.scan()
_M = manifest_parquet.scan()

# ---- vectorized anomaly scorer over the scored relation (north star:
# "plus vectorized isolation-forest and LOF scorers in pandas/Arrow UDFs") --

_ANOM_FEATURES = ["dur_ms", "payload_bytes", "snr_db", "silence_ratio"]


def _anomaly_base(spark, sf_dir: str):
    """Decoded clips with finite SNR, feature columns cast to double —
    iforest is scale-free per split, so no normalization is needed."""
    scored = _scored_df(spark, sf_dir)
    base = scored.filter(
        F.col("decode_ok")
        & (F.col("snr_db") > float("-inf"))
        & (F.col("snr_db") < float("inf"))
    )
    cols = [F.col(c).cast("double").alias(f"_f{i}") for i, c in enumerate(_ANOM_FEATURES)]
    return base.select("clip_id", *cols)


@artifact("clips_iforest_model", 1)
def clips_iforest_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the forest fitted on the scored relation's numeric
    features as a flat node relation (same recipe as the embeddings
    detectors) so the DuckDB descent oracle can replay the scoring."""
    from macrobase_spark.operators.detectors import (
        IFOREST_MODEL_SCHEMA,
        _collect_sample,
        fit_isolation_forest,
    )

    df = _anomaly_base(spark, sf_dir)
    feats = [f"_f{i}" for i in range(len(_ANOM_FEATURES))]
    sample = _collect_sample(df, feats, 4096, 42)
    m = fit_isolation_forest(sample, n_trees=100, subsample=256, seed=42)
    roots = set(int(r) for r in m.roots)

    rows = [
        (i, int(m.feat[i]), float(m.thr[i]), int(m.left[i]), int(m.right[i]),
         int(m.size[i]), int(m.depth[i]), i in roots, int(m.psi))
        for i in range(len(m.feat))
    ]
    spark.createDataFrame(rows, IFOREST_MODEL_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)

# row-level violation set as SQL (mirrors checks.row_violations exactly):
# uniqueness / null / empty transcript / referential orphan / snr-decode
_VIOL_ROWS_SQL = f"""
      SELECT clip_id, 'uniqueness' AS "check"
        FROM (SELECT clip_id FROM s GROUP BY clip_id HAVING count(*) > 1)
      UNION ALL
      SELECT clip_id, 'null_transcript' FROM s WHERE transcript_null
      UNION ALL
      SELECT clip_id, 'empty_transcript' FROM s WHERE transcript_empty
      UNION ALL
      SELECT clip_id, 'ref_integrity' FROM s
       WHERE clip_id NOT IN (SELECT clip_id FROM {_M})
      UNION ALL
      SELECT clip_id, 'snr' FROM s WHERE NOT snr_pass
"""


_SUITE_VIOL_SQL = f"""
    WITH s AS (SELECT * FROM {_S}),
    rowv AS (
      SELECT clip_id, 'uniqueness' AS "check",
             'duplicate x' || CAST(n AS VARCHAR) AS detail
        FROM (SELECT clip_id, count(*) AS n FROM s GROUP BY clip_id
              HAVING count(*) > 1)
      UNION ALL
      SELECT clip_id, 'null_transcript', 'transcript is null'
        FROM s WHERE transcript_null
      UNION ALL
      SELECT clip_id, 'empty_transcript', 'transcript is empty'
        FROM s WHERE transcript_empty
      UNION ALL
      SELECT clip_id, 'ref_integrity', 'missing from manifest' FROM s
       WHERE clip_id NOT IN (SELECT clip_id FROM {_M})
      UNION ALL
      SELECT clip_id, 'snr',
             CASE WHEN NOT decode_ok THEN 'decode failed'
                  ELSE 'snr_db=' || CAST(round(snr_db, 1) AS VARCHAR) END
        FROM s WHERE NOT snr_pass),
    g AS (SELECT codec, sr_hz,
                 CAST(quantile_disc(dur_ms, 0.5) AS DOUBLE) AS med
          FROM s GROUP BY 1, 2),
    c AS (SELECT CAST(quantile_cont(med, 0.5) AS DOUBLE) AS m FROM g),
    r AS (SELECT codec, sr_hz, med, abs(med - m) AS resid FROM g, c),
    sc AS (SELECT CAST(quantile_cont(resid, 0.5) AS DOUBLE) AS mad,
                  avg(resid) AS meanad FROM r),
    z AS (SELECT codec, sr_hz, med,
                 resid / (CASE WHEN mad > 0 THEN 1.4826 * mad
                               WHEN meanad > 0 THEN 1.253314 * meanad
                               ELSE 1.0 END) AS score
          FROM r, sc),
    drift AS (SELECT CAST(NULL AS VARCHAR) AS clip_id, 'drift' AS "check",
                     printf('drifted dur_ms in (%s,%d): med=%.1f score=%.2f',
                            codec, sr_hz, med, score) AS detail
              FROM z WHERE score > 3.0)
    SELECT * FROM rowv UNION ALL SELECT * FROM drift
"""


@register("clips_validation_suite", _SUITE_VIOL_SQL)
def clips_validation_suite_q(spark, sf_dir):
    """Full check suite end-to-end (the engine's primary output relation)
    over the pyarrow-native columnar scan — the same path the scaling bench
    measures (run_suite_files == run_suite asserted in tests/test_clips.py).
    Its relational components are each oracle-certified by the queries
    below, and the planted-violation ground truth is asserted exactly in
    tests/test_clips.py."""
    from macrobase_spark.operators.checks import run_suite_files

    n = clips_n(sf_dir)
    res = run_suite_files(
        spark, clips_table_path(spark, sf_dir), generate_manifest(spark, n), SuiteConfig()
    )
    return res.violations


@register(
    "clips_row_violations",
    f"""
    WITH s AS (SELECT * FROM {_S})
    {_VIOL_ROWS_SQL}
    """,
)
def clips_row_violations_q(spark, sf_dir):
    """Every clip_id-attributed violation row (uniqueness, transcript nulls,
    referential, SNR) — oracle-certified over the scored parquet."""
    scored = _scored_df(spark, sf_dir)
    return row_violations(scored, _manifest_df(spark, sf_dir)).select("clip_id", "check")


@register(
    "clips_partition_verdicts",
    f"""
    WITH s AS (SELECT * FROM {_S}),
    v AS ({_VIOL_ROWS_SQL}),
    per AS (SELECT s.codec, v."check", count(*) AS n_violations
            FROM s JOIN v USING (clip_id) GROUP BY 1, 2),
    sizes AS (SELECT codec, count(*) AS n_rows FROM s GROUP BY 1)
    SELECT sizes.codec, sizes.n_rows, per."check",
           coalesce(per.n_violations, 0) AS n_violations,
           coalesce(per.n_violations, 0) = 0 AS passed
    FROM sizes LEFT JOIN per ON sizes.codec IS NOT DISTINCT FROM per.codec
    """,
)
def clips_partition_verdicts_q(spark, sf_dir):
    scored = _scored_df(spark, sf_dir)
    viol = row_violations(scored, _manifest_df(spark, sf_dir))
    return verdicts_from_violations(scored, viol, "codec")


@register(
    "clips_column_stats",
    f"""
    SELECT codec,
           count(*) AS n_rows,
           round(avg(CASE WHEN transcript_null THEN 1.0 ELSE 0.0 END), 6)
             AS transcript_null_rate,
           min(dur_ms) AS min_dur_ms,
           max(dur_ms) AS max_dur_ms,
           round(CAST(quantile_cont(dur_ms, 0.5) AS DOUBLE), 6)  AS dur_ms_p50,
           round(CAST(quantile_cont(dur_ms, 0.95) AS DOUBLE), 6) AS dur_ms_p95,
           count(DISTINCT sr_hz) AS n_sr_values,
           round(avg(payload_bytes), 2) AS avg_payload_bytes
    FROM {_S}
    GROUP BY codec
    """,
)
def clips_column_stats_q(spark, sf_dir):
    """Per-partition column profile — exact-percentile flavor to bit-match
    quantile_cont; production (run_suite) uses the approx=True mergeable
    sketches, asserted ≈-equal in tests/test_clips.py."""
    return column_stats(_scored_df(spark, sf_dir), "codec", approx=False)


@register(
    "clips_drift_groups",
    f"""
    WITH s AS (SELECT * FROM {_S}),
    g AS (SELECT codec, sr_hz, CAST(quantile_cont(dur_ms, 0.5) AS DOUBLE) AS med
          FROM s GROUP BY 1, 2),
    c AS (SELECT CAST(quantile_cont(med, 0.5) AS DOUBLE) AS m FROM g),
    r AS (SELECT codec, sr_hz, med, abs(med - m) AS resid FROM g, c),
    sc AS (SELECT CAST(quantile_cont(resid, 0.5) AS DOUBLE) AS mad,
                  avg(resid) AS meanad FROM r)
    SELECT codec, sr_hz,
           round(med, 6) AS med,
           round(resid / (CASE WHEN mad > 0 THEN 1.4826 * mad
                               WHEN meanad > 0 THEN 1.253314 * meanad
                               ELSE 1.0 END), 6) AS drift_score
    FROM r, sc
    """,
)
def clips_drift_groups_q(spark, sf_dir):
    """The drift check's numeric relation (group medians + cross-group MAD
    robust z-scores), exact-percentile flavor for the oracle."""
    rows = drift_group_rows(_scored_df(spark, sf_dir), "dur_ms", ["codec", "sr_hz"], approx=False)
    return spark.createDataFrame(
        rows, "codec string, sr_hz int, med double, drift_score double"
    ).select(
        "codec",
        "sr_hz",
        F.round("med", 6).alias("med"),
        F.round("drift_score", 6).alias("drift_score"),
    )


@register(
    "clips_snr_stats",
    f"""
    SELECT codec,
           count(*) AS n,
           CAST(sum(CASE WHEN decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
           CAST(sum(CASE WHEN snr_pass THEN 1 ELSE 0 END) AS BIGINT)  AS n_snr_pass,
           round(avg(CASE WHEN snr_pass THEN snr_db END), 2) AS avg_snr_db
    FROM {_S}
    GROUP BY codec
    """,
)
def clips_snr_stats_q(spark, sf_dir):
    """Decoded-PCM SNR distribution per codec over the scored relation."""
    scored = _scored_df(spark, sf_dir)
    return scored.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.sum(F.col("snr_pass").cast("long")).alias("n_snr_pass"),
        F.round(F.avg(F.when(F.col("snr_pass"), F.col("snr_db"))), 2).alias("avg_snr_db"),
    )


@register(
    "clips_explain_violations",
    f"""
    WITH s0 AS (SELECT * FROM {_S}),
    s AS (SELECT *, CAST(sr_hz AS VARCHAR) AS sr_hz_s FROM s0),
    v AS (SELECT DISTINCT clip_id FROM (
      SELECT clip_id FROM s GROUP BY clip_id HAVING count(*) > 1
      UNION ALL SELECT clip_id FROM s WHERE transcript_null
      UNION ALL SELECT clip_id FROM s WHERE transcript_empty
      UNION ALL SELECT clip_id FROM s
        WHERE clip_id NOT IN (SELECT clip_id FROM {_M})
      UNION ALL SELECT clip_id FROM s WHERE NOT snr_pass)),
    t AS (SELECT codec, sr_hz_s,
                 CASE WHEN clip_id IN (SELECT clip_id FROM v)
                      THEN 1.0 ELSE 0.0 END AS o
          FROM s),
    g AS (SELECT CAST(sum(o) AS DOUBLE) AS O, CAST(count(*) AS DOUBLE) AS N FROM t),
    agg AS (SELECT codec, sr_hz_s,
                   CAST(sum(o) AS DOUBLE) AS a, CAST(count(*) AS DOUBLE) AS m
            FROM t GROUP BY GROUPING SETS ((codec), (sr_hz_s), (codec, sr_hz_s)))
    SELECT codec, sr_hz_s,
           round(a / O, 6) AS support,
           round({ratio_metric_sql("risk_ratio", "a", "m", "O", "N")}, 6) AS risk_ratio,
           a AS outlier_count, m AS total_count
    FROM agg, g
    WHERE a >= 0.05 * O
      AND {ratio_metric_sql("risk_ratio", "a", "m", "O", "N")} >= 1.5
    """,
)
def clips_explain_violations_q(spark, sf_dir):
    """Risk-ratio attribute explanation of violation rows over
    (codec, sr_hz) — MacroBase classify-then-explain on the audio table,
    oracle = support+ratio-filtered grouping-sets cube over the scored
    parquet (prune_containment=False renders the full filtered lattice)."""
    scored = _scored_df(spark, sf_dir)
    viol = row_violations(scored, _manifest_df(spark, sf_dir))
    cfg = SuiteConfig()
    from macrobase_spark.operators.explain import ExplainParams, explain

    flagged = scored.join(
        viol.select("clip_id").distinct().withColumn("_OUTLIER", F.lit(1.0)),
        "clip_id",
        "left",
    ).withColumn("_OUTLIER", F.coalesce("_OUTLIER", F.lit(0.0)))
    res = explain(
        flagged.withColumn("sr_hz_s", F.col("sr_hz").cast("string")),
        ExplainParams(
            attributes=["codec", "sr_hz_s"],
            min_support=cfg.explain_min_support,
            min_ratio_metric=cfg.explain_min_ratio,
            ratio_metric="risk_ratio",
            max_order=2,
            prune_containment=False,
        ),
    )
    return res.select(
        "codec",
        "sr_hz_s",
        F.round("support", 6).alias("support"),
        F.round("risk_ratio", 6).alias("risk_ratio"),
        "outlier_count",
        "total_count",
    )


@artifact("audiofeat", 1)
def audio_features_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the per-clip DSP feature relation (ONE decode pass) +
    codec to parquet so the per-codec profile is oracle-stateable over the
    same files (the scored_parquet recipe); the DSP kernel itself stays
    gated by tests/test_audio_features.py known-tone recovery."""
    from macrobase_spark.operators.audio import extract_audio_features

    clips = clips_table(spark, sf_dir)
    (
        extract_audio_features(clips)
        .join(clips.select("clip_id", "codec"), "clip_id")
        .write.mode("overwrite")
        .parquet(out)
    )


_AF = audio_features_parquet.scan()


@register(
    "clips_audio_features",
    f"""
    SELECT codec,
           count(*) AS n,
           round(avg(rms), 4) AS avg_rms,
           round(avg(zero_cross_rate), 4) AS avg_zcr,
           round(avg(dominant_freq_hz), 1) AS avg_dom_freq,
           round(avg(clipping_ratio), 6) AS avg_clip_ratio
    FROM {_AF}
    WHERE decode_ok
    GROUP BY codec
    """,
)
def clips_audio_features_q(spark, sf_dir):
    """Per-codec DSP feature profile: dominant frequency should match the
    deterministic tone for clean clips; clipping/zero-cross distributions
    profile the corpus. Aggregates the materialized feature relation (the
    same files the oracle reads)."""
    feats = spark.read.parquet(audio_features_parquet(spark, sf_dir))
    return feats.filter(F.col("decode_ok")).groupBy("codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("rms"), 4).alias("avg_rms"),
        F.round(F.avg("zero_cross_rate"), 4).alias("avg_zcr"),
        F.round(F.avg("dominant_freq_hz"), 1).alias("avg_dom_freq"),
        F.round(F.avg("clipping_ratio"), 6).alias("avg_clip_ratio"),
    )


# ---- registered anomaly query (uses the shared descent oracle) -------------

_CIFM = clips_iforest_model_parquet.scan()
_ANOM_BASE_SQL = f"""SELECT clip_id,
           [CAST(dur_ms AS DOUBLE), CAST(payload_bytes AS DOUBLE),
            snr_db, silence_ratio] AS emb
      FROM {_S}
     WHERE decode_ok AND snr_db > '-infinity'::DOUBLE
       AND snr_db < 'infinity'::DOUBLE"""


def _clips_anomaly_oracle() -> str:
    from macrobase_spark.operators.detectors import iforest_descent_oracle

    return iforest_descent_oracle(_CIFM, _ANOM_BASE_SQL, "clip_id")


@register("clips_anomaly_scores", _clips_anomaly_oracle())
def clips_anomaly_scores(spark, sf_dir):
    """North-star anomaly pass over the VALIDATION relation itself: the 20
    most-isolated clips under an isolation forest fitted on
    (dur_ms, payload_bytes, snr_db, silence_ratio) — vectorized Arrow
    scoring via the broadcast materialized model, descent replayed exactly
    by the DuckDB oracle (same recipe as iforest_outliers_embeddings)."""
    from macrobase_spark.operators.detectors import (
        iforest_score,
        load_iforest_model,
    )

    model = load_iforest_model(spark, clips_iforest_model_parquet(spark, sf_dir))
    df = _anomaly_base(spark, sf_dir)
    feats = [f"_f{i}" for i in range(len(_ANOM_FEATURES))]
    scored = iforest_score(df, feats, ["clip_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "clip_id").limit(20).select(
        "clip_id", F.round("_SCORE", 4).alias("score")
    )


# ---- batch face of the streaming windowed violation rates ------------------

_WINDOWED_RATES_SQL = f"""
    WITH s AS (SELECT *, TIMESTAMP '2024-01-01 00:00:00'
                    + INTERVAL (CAST(substring(clip_id, 6, 12) AS BIGINT) % 600) SECOND AS ts
               FROM {_S})
    SELECT time_bucket(INTERVAL '2 minutes', ts) AS ws,
           time_bucket(INTERVAL '2 minutes', ts) + INTERVAL '2 minutes' AS we,
           codec,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN NOT snr_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_snr_fail,
           CAST(sum(CASE WHEN transcript_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null_transcript,
           CAST(sum(CASE WHEN transcript_empty THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_transcript,
           CAST(sum(CASE WHEN silence_ratio >= 0.99 AND decode_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_clips,
           round((sum(CASE WHEN NOT snr_pass THEN 1 ELSE 0 END)
                + sum(CASE WHEN transcript_null THEN 1 ELSE 0 END)
                + sum(CASE WHEN transcript_empty THEN 1 ELSE 0 END))
                / CAST(count(*) AS DOUBLE), 6) AS violation_rate
    FROM s GROUP BY 1, 2, 3
"""


@register("clips_windowed_rates", _WINDOWED_RATES_SQL)
def clips_windowed_rates(spark, sf_dir):
    """The streaming suite's windowed per-codec violation-rate aggregate
    (streaming/validate.py::windowed_violation_rates) run in the batch
    plane over the scored relation with a deterministic event time —
    oracle-certifying the exact aggregate the stream twin emits
    (stream==batch equivalence is separately gated in
    test_streaming_validate)."""
    from macrobase_spark.streaming.validate import windowed_violation_rates

    scored = _scored_df(spark, sf_dir)
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(
        secs=F.substring("clip_id", 6, 12).cast("long") % 600
    )
    return windowed_violation_rates(scored.withColumn("ts", ts), "ts", "2 minutes")


# ---- LOF twin of the anomaly pass (north star names both scorers) ----------

@artifact("clips_lof_model", 1)
def clips_lof_model_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the fitted LOF sample over STANDARDIZED features —
    (sid, feat[4], kdist, lrd) plus the (mu, sd) used, denormalized onto
    every row — so the oracle can standardize the clips identically and
    replay the k-NN reach-distance scoring. Standardization matters here
    (unlike iforest): LOF is distance-based and dur_ms would otherwise
    drown snr_db/silence_ratio."""
    from macrobase_spark.operators.detectors import _collect_sample, fit_lof

    import numpy as np

    df = _anomaly_base(spark, sf_dir)
    feats = [f"_f{i}" for i in range(len(_ANOM_FEATURES))]
    stats = df.agg(
        *[F.avg(c).alias(f"mu{i}") for i, c in enumerate(feats)],
        *[F.stddev_pop(c).alias(f"sd{i}") for i, c in enumerate(feats)],
    ).collect()[0]
    mu = [float(stats[f"mu{i}"]) for i in range(len(feats))]
    sd = [max(float(stats[f"sd{i}"]), 1e-9) for i in range(len(feats))]
    sample = _collect_sample(df, feats, 4096, 42)
    xs = (sample - np.array(mu)) / np.array(sd)
    m = fit_lof(xs, k=20, seed=42, max_sample=4096)
    rows = [
        (i, [float(v) for v in m.S[i]], float(m.kdist[i]), float(m.lrd[i]), mu, sd)
        for i in range(m.S.shape[0])
    ]
    spark.createDataFrame(
        rows,
        "sid long, feat array<double>, kdist double, lrd double, "
        "mu array<double>, sd array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(out)


_CLOFM = clips_lof_model_parquet.scan()

_CLIPS_LOF_ORACLE = f"""
    WITH s AS (SELECT * FROM {_CLOFM}),
    st AS (SELECT any_value(mu) AS mu, any_value(sd) AS sd FROM s),
    base AS (SELECT clip_id,
                    [(CAST(dur_ms AS DOUBLE) - st.mu[1]) / st.sd[1],
                     (CAST(payload_bytes AS DOUBLE) - st.mu[2]) / st.sd[2],
                     (snr_db - st.mu[3]) / st.sd[3],
                     (silence_ratio - st.mu[4]) / st.sd[4]] AS emb
               FROM {_S}, st
              WHERE decode_ok AND snr_db > '-infinity'::DOUBLE
                AND snr_db < 'infinity'::DOUBLE),
    d AS (SELECT b.clip_id, s.sid, s.kdist, s.lrd,
                 sqrt(pow(b.emb[1] - s.feat[1], 2) + pow(b.emb[2] - s.feat[2], 2)
                    + pow(b.emb[3] - s.feat[3], 2) + pow(b.emb[4] - s.feat[4], 2)) AS dist
          FROM base b CROSS JOIN s),
    nn AS (SELECT *, row_number() OVER (PARTITION BY clip_id
                                        ORDER BY dist, sid) AS rn FROM d),
    kn AS (SELECT * FROM nn WHERE rn <= 20),
    agg AS (SELECT clip_id,
                   sum(greatest(dist, kdist)) AS reach_sum,
                   avg(lrd) AS lrd_nn
            FROM kn GROUP BY clip_id),
    sc AS (SELECT clip_id,
                  lrd_nn / greatest(20.0 / greatest(reach_sum, 1e-300), 1e-300) AS s
           FROM agg),
    rk AS (SELECT clip_id, s FROM sc ORDER BY s DESC, clip_id LIMIT 20)
    SELECT clip_id, round(s, 4) AS score FROM rk
"""


@register("clips_lof_scores", _CLIPS_LOF_ORACLE)
def clips_lof_scores(spark, sf_dir):
    """The 20 largest LOF scores over the validation relation's
    standardized numeric features, scored in Arrow batches against the
    broadcast materialized sample; the oracle standardizes with the SAME
    stored (mu, sd) and replays the k-NN reach-distance math in SQL."""
    from macrobase_spark.operators.detectors import load_lof_model, lof_score

    path = clips_lof_model_parquet(spark, sf_dir)
    model = load_lof_model(spark, path)
    row = spark.read.parquet(path).limit(1).collect()[0]
    mu, sd = list(row["mu"]), list(row["sd"])
    df = _anomaly_base(spark, sf_dir)
    feats = [f"_f{i}" for i in range(len(_ANOM_FEATURES))]
    std = df.select(
        "clip_id",
        *[((F.col(c) - F.lit(mu[i])) / F.lit(sd[i])).alias(c) for i, c in enumerate(feats)],
    )
    scored = lof_score(std, feats, ["clip_id"], model=model)
    return scored.orderBy(F.desc("_SCORE"), "clip_id").limit(20).select(
        "clip_id", F.round("_SCORE", 4).alias("score")
    )
