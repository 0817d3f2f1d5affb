"""Transcript/audio alignment validation — the cross-modal check: cue
coverage (from the timed transcript) against the silence profile (from
the decoded audio) for the SAME clip.

Each modality's own checks can pass while the PAIR is broken: a fully
transcribed clip whose audio is dead silence (transcript belongs to a
different clip, or the audio was zeroed in transit), or audible speech
with an empty transcript (lost annotation). Neither the SRT timing
validator nor the silence profiler can see this — it only exists at the
join of the two relations, which is exactly how it is stated here:

    flag = CASE
      WHEN coverage >= 0.5 AND silence_ratio >= 0.99 THEN 'cues_over_silence'
      WHEN coverage <  0.1 AND silence_ratio <  0.5  THEN 'untranscribed_speech'
      ELSE 'ok'                                       END

Spark-first shape: both inputs are relations this engine already
materializes — the silence feature parquet (ONE Arrow decode scan,
operators/silence.py) and a cue relation (ONE tokenize scan,
operators/srt.py). The alignment layer itself is pure SQL: a per-clip
cue-span aggregate, one equi-join on clip_id (broadcast at test SF,
shuffled-hash at 10^12 — both sides are narrow), the CASE above, and a
rollup. The DuckDB oracle replays the join and every rule verbatim over
the same two parquets. A missing transcript is a LEFT join miss, not a
dropped row — coverage coalesces to 0 so untranscribed speech cannot
hide.

Reference parity: none — the reference ingests CSV rows; this serves
the build brief's audio+transcript pair contract.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, clip_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.audio import _decode_wav_view, _run_lengths
from macrobase_spark.queries import register
from macrobase_spark.operators.silence import (
    generate_silence_clips,
    silence_features_parquet,
)
from macrobase_spark.operators.srt import _WORDS, _fmt_ts, srt_cues


def srt_for_silence_clips(feats: DataFrame) -> DataFrame:
    """Deterministic SRT documents keyed to the silence fixture's clip
    ids and ACTUAL durations (n_samples/sr from the decoded audio):

    - id % 11 == 6  -> empty transcript (no cues at all)
    - otherwise     -> 3 cues covering ~75% of the clip

    The silence fixture's own dead-clip plant (id % 23 == 4, fully
    silent audio) receives a normal transcript like everyone else —
    that PAIR is the cues_over_silence misalignment, planted by
    construction rather than by a dedicated residue."""

    def gen(cid, ns, sr):
        i = int(cid.split("_")[-1])
        dur_ms = ns * 1000 // max(sr, 1)
        if i % 11 == 6:
            return [(cid, dur_ms, "")]
        blocks = []
        for k in range(3):
            start = int(dur_ms * (0.05 + 0.30 * k))
            end = start + int(dur_ms * 0.25)
            words = " ".join(_WORDS[(i + k + j) % len(_WORDS)] for j in range(4))
            blocks.append(f"{k + 1}\n{_fmt_ts(start)} --> {_fmt_ts(end)}\n{words}")
        return [(cid, dur_ms, "\n\n".join(blocks))]

    return map_rows(
        feats.select("clip_id", "n_samples", "sr_hz"),
        gen,
        "clip_id string, dur_ms int, transcript_srt string",
    )


def alignment_flags(feats: DataFrame, cues: DataFrame) -> DataFrame:
    """(clip_id, silence_ratio, coverage, flag) — the cross-modal join.
    LEFT join from the audio side: a clip with no cue rows gets
    coverage 0 (lost annotation must not vanish)."""
    cov = cues.groupBy("clip_id").agg(
        (
            F.sum(F.col("end_ms") - F.col("start_ms"))
            / F.max(F.col("dur_ms")).cast("double")
        ).alias("coverage")
    )
    j = feats.select("clip_id", "silence_ratio").join(cov, "clip_id", "left").withColumn(
        "coverage", F.coalesce(F.col("coverage"), F.lit(0.0))
    )
    flag = (
        F.when(
            (F.col("coverage") >= 0.5) & (F.col("silence_ratio") >= 0.99),
            "cues_over_silence",
        )
        .when(
            (F.col("coverage") < 0.1) & (F.col("silence_ratio") < 0.5),
            "untranscribed_speech",
        )
        .otherwise("ok")
    )
    return j.select("clip_id", "silence_ratio", "coverage", flag.alias("flag"))


@artifact("aligncues", 1)
def aligned_cues_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Materialize the alignment fixture's cue relation once (SRT built
    from the silence features' real durations, then tokenized) so the
    DuckDB oracle replays the whole alignment layer over the same two
    parquets."""
    feats = spark.read.parquet(silence_features_parquet(spark, sf_dir))
    srt_cues(srt_for_silence_clips(feats)).write.mode("overwrite").parquet(out)


_AC = aligned_cues_parquet.scan()
_SF = silence_features_parquet.scan()


@register(
    "transcript_alignment_stats",
    f"""
    WITH cov AS (
      SELECT clip_id,
             sum(end_ms - start_ms) / CAST(max(dur_ms) AS DOUBLE) AS coverage
      FROM {_AC} GROUP BY clip_id
    ), j AS (
      SELECT f.clip_id, f.silence_ratio, coalesce(cov.coverage, 0.0) AS coverage
      FROM {_SF} f LEFT JOIN cov ON f.clip_id = cov.clip_id
    ), v AS (
      SELECT CASE
               WHEN coverage >= 0.5 AND silence_ratio >= 0.99 THEN 'cues_over_silence'
               WHEN coverage < 0.1 AND silence_ratio < 0.5 THEN 'untranscribed_speech'
               ELSE 'ok' END AS flag,
             silence_ratio, coverage
      FROM j
    )
    SELECT flag,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(coverage), 4) AS avg_coverage,
           round(avg(silence_ratio), 4) AS avg_silence_ratio
    FROM v
    GROUP BY flag
    ORDER BY flag
    """,
)
def transcript_alignment_stats_q(spark, sf_dir: str) -> DataFrame:
    """Cross-modal alignment rollup: clip counts per flag with the mean
    coverage / silence-ratio per class (dead-audio-with-transcript and
    speech-without-transcript populations separate cleanly from ok).
    One join + two aggregates, replayed verbatim by the oracle."""
    feats = spark.read.parquet(silence_features_parquet(spark, sf_dir))
    cues = spark.read.parquet(aligned_cues_parquet(spark, sf_dir))
    v = alignment_flags(feats, cues)
    return (
        v.groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("coverage"), 4).alias("avg_coverage"),
            F.round(F.avg("silence_ratio"), 4).alias("avg_silence_ratio"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# cue-grain silence overlap (the finer-grained alignment check)
# ---------------------------------------------------------------------------


def _silence_span_rows(thresh, min_run_ms, clip_id, raw):
    dec = _decode_wav_view(raw)
    if dec is None or len(dec[1]) == 0:
        return []
    sr, pcm = dec
    quiet = np.abs(pcm) < thresh
    if not quiet.any():
        return []
    starts, lens = _run_lengths(quiet)
    ms = 1000.0 / sr
    keep = [(st, ln) for st, ln in zip(starts, lens) if ln * ms >= min_run_ms]
    return [
        (clip_id, j, int(round(st * ms)), int(round((st + ln) * ms)))
        for j, (st, ln) in enumerate(keep)
    ]


def silence_spans(
    df: DataFrame, thresh: float = 0.01, min_run_ms: float = 50.0
) -> DataFrame:
    """(clip_id, span_idx, start_ms, end_ms) — the ACTUAL silent
    intervals of each clip (runs of |sample| < thresh at least
    min_run_ms long), the span-grain complement of
    `silence.silence_features`' per-clip scalars. One decode
    scan; the emitted relation is ~30 B/row and everything downstream is
    SQL."""
    return map_rows(
        df.select("clip_id", "bytes"),
        functools.partial(_silence_span_rows, thresh, min_run_ms),
        "clip_id string, span_idx int, start_ms int, end_ms int",
    )


def cue_silence_fractions(cues: DataFrame, spans: DataFrame) -> DataFrame:
    """(clip_id, cue_idx, silent_frac, flag) — per CUE, the fraction of
    its interval lying inside detected silence: interval intersection as
    a clip_id equi-join + greatest/least arithmetic (cues and spans per
    clip are both tiny, so the join stays at the clip grain — no range
    join machinery needed), LEFT so silence-free cues keep frac 0. A cue
    mostly over silence (>= 0.8) is a misaligned CUE even when the clip
    as a whole passes every check."""
    ov = (
        cues.select("clip_id", "cue_idx", "start_ms", "end_ms")
        .join(
            spans.select(
                "clip_id",
                F.col("start_ms").alias("s_start"),
                F.col("end_ms").alias("s_end"),
            ),
            "clip_id",
            "left",
        )
        .groupBy("clip_id", "cue_idx", "start_ms", "end_ms")
        .agg(
            # NULL-guard explicitly: Spark's least/greatest SKIP nulls, so
            # a LEFT-join miss would otherwise collapse least(end, NULL)
            # to end and count the whole cue as overlap
            F.coalesce(
                F.sum(
                    F.when(F.col("s_start").isNull(), F.lit(0)).otherwise(
                        F.greatest(
                            F.lit(0),
                            F.least(F.col("end_ms"), F.col("s_end"))
                            - F.greatest(F.col("start_ms"), F.col("s_start")),
                        )
                    )
                ),
                F.lit(0),
            ).alias("silent_ms")
        )
    )
    frac = F.col("silent_ms") / (F.col("end_ms") - F.col("start_ms")).cast("double")
    return ov.select(
        "clip_id",
        "cue_idx",
        F.round(frac, 4).alias("silent_frac"),
        F.when(frac >= 0.8, "cue_over_silence").otherwise("ok").alias("flag"),
    )


@artifact("silspans", 1)
def silence_spans_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Materialize the silence-span relation for the alignment fixture
    (same generator as the feature parquet) so the oracle replays the
    cue-grain intersection over identical rows."""
    n = clip_fixture_n(sf_dir)
    silence_spans(generate_silence_clips(spark, n)).write.mode("overwrite").parquet(out)


_SS = silence_spans_parquet.scan()


@register(
    "cue_silence_stats",
    f"""
    WITH ov AS (
      SELECT c.clip_id, c.cue_idx, c.start_ms, c.end_ms,
             coalesce(sum(CASE WHEN s.start_ms IS NULL THEN 0
                               ELSE greatest(0, least(c.end_ms, s.end_ms)
                                             - greatest(c.start_ms, s.start_ms)) END),
                      0) AS silent_ms
      FROM {_AC} c LEFT JOIN {_SS} s ON c.clip_id = s.clip_id
      GROUP BY c.clip_id, c.cue_idx, c.start_ms, c.end_ms
    ), v AS (
      SELECT CASE WHEN silent_ms / CAST(end_ms - start_ms AS DOUBLE) >= 0.8
                  THEN 'cue_over_silence' ELSE 'ok' END AS flag,
             silent_ms / CAST(end_ms - start_ms AS DOUBLE) AS silent_frac
      FROM ov
    )
    SELECT flag,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(silent_frac), 4) AS avg_silent_frac
    FROM v GROUP BY flag ORDER BY flag
    """,
)
def cue_silence_stats_q(spark, sf_dir: str) -> DataFrame:
    """Cue-grain alignment rollup: how many individual transcript cues
    lie (mostly) over detected silence. The clip-grain check
    (`transcript_alignment_stats`) sees dead CLIPS; this one catches a
    single misplaced cue inside an otherwise-healthy clip — the planted
    mid-clip dead-air gap drags exactly the cues that overlap it."""
    cues = spark.read.parquet(aligned_cues_parquet(spark, sf_dir))
    spans = spark.read.parquet(silence_spans_parquet(spark, sf_dir))
    v = cue_silence_fractions(cues, spans)
    return (
        v.groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("silent_frac"), 4).alias("avg_silent_frac"),
        )
        .orderBy("flag")
    )
