"""Dead-air / silence validation — an audio-native check the SNR invariant
cannot see.

A clip can decode cleanly and still be unusable training data: fully
silent (dead microphone), padded with long leading/trailing silence, or
interrupted by mid-clip dead air. `silence_features` measures this in ONE
pass over the payload bytes (the same row runner as
audio.extract_audio_features): per clip, the silence ratio, the
leading/trailing silent span, the longest silent run, and the count of
silent runs at least `min_run_ms` long — all from a single boolean
run-length pass in numpy, no per-sample Python.

Classification thresholds (dead clip ≥ 99% silent; dead air = a silent
run ≥ 100 ms; padded = ≥ 50 ms of leading or trailing silence) follow the
suite's violation style: the class is a CASE over stored feature columns,
so the relational layer is oracle-certified over the materialized feature
parquet (the clips_suite.scored_parquet recipe) while the decode kernel is
gated by exact planted recovery in tests/test_silence.py.

Reference parity: none — the reference engine (myrtakis/macrobase) has no
binary audio handling; this belongs to the build brief's multimodal
contract, like operators/audio.py's SNR scan.

Scale design: map-only scan → tiny per-clip feature relation → one
partial+final aggregate; identical shape to the SNR suite's scan, so the
same partitioning/scaling story applies (one task per parquet file,
payload bytes never enter the JVM when scanned via the files path).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.artifacts import artifact, clip_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.queries import register

SILENCE_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("sr_hz", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("silence_ratio", DoubleType()),
        StructField("leading_ms", DoubleType()),
        StructField("trailing_ms", DoubleType()),
        StructField("longest_ms", DoubleType()),
        StructField("n_silence_runs", LongType()),
    ]
)


from macrobase_spark.operators.audio import _decode_wav_view, _run_lengths
from macrobase_spark.operators.clips_suite import scored_parquet


def _silence_row(thresh, min_run_ms, clip_id, raw):
    dec = _decode_wav_view(raw)
    if dec is None or len(dec[1]) == 0:
        return [(clip_id, False, 0, 0, 0.0, 0.0, 0.0, 0.0, 0)]
    sr, pcm = dec
    quiet = np.abs(pcm) < thresh
    lead = trail = longest = 0.0
    nruns = 0
    if quiet.any():
        starts, lens = _run_lengths(quiet)
        ms = 1000.0 / sr
        if starts[0] == 0:
            lead = lens[0] * ms
        if starts[-1] + lens[-1] == len(pcm):
            trail = lens[-1] * ms
        longest = lens.max() * ms
        nruns = int((lens * ms >= min_run_ms).sum())
    # np.round, as the fused scan (audio.score_record_batch) rounds: the two
    # must agree bit for bit, and Python's round differs near halfway points
    return [
        (
            clip_id,
            True,
            sr,
            len(pcm),
            np.round(quiet.mean(), 6),
            np.round(lead, 3),
            np.round(trail, 3),
            np.round(longest, 3),
            nruns,
        )
    ]


def silence_features(
    df: DataFrame, thresh: float = 0.01, min_run_ms: float = 50.0
) -> DataFrame:
    """Per-clip silence profile. `thresh` is the
    full-scale amplitude below which a sample counts as silent; a tone's
    isolated zero-crossing samples form sub-millisecond runs that only the
    ratio sees, so the run statistics isolate REAL silent spans."""
    return map_rows(
        df.select("clip_id", "bytes"),
        functools.partial(_silence_row, thresh, min_run_ms),
        SILENCE_SCHEMA,
    )


_CLASS_EXPR = """
CASE WHEN NOT decode_ok THEN 'decode_fail'
     WHEN silence_ratio >= 0.99 THEN 'dead_clip'
     WHEN longest_ms >= 100.0 THEN 'dead_air'
     WHEN leading_ms >= 50.0 OR trailing_ms >= 50.0 THEN 'padded'
     ELSE 'ok' END
"""


def classify_silence(feats: DataFrame) -> DataFrame:
    """Violation class per clip from the stored feature columns (pure
    codegen CASE — identical expression in the DuckDB oracle)."""
    return feats.withColumn("silence_class", F.expr(_CLASS_EXPR.strip()))


# ---- deterministic fixture + registered query ------------------------------


def generate_silence_clips(spark, n: int):
    """Tone clips (400 ms, 16 kHz) with planted silence defects, disjoint
    residues from the other fixtures' plants:

    - id % 23 == 4 -> fully silent clip            ('dead_clip')
    - id % 7 == 2  -> 150 ms mid-clip gap          ('dead_air')
    - id % 5 == 1  -> leading silence 55-85 ms     ('padded')
    - id % 5 == 3  -> trailing silence 60-90 ms    ('padded')
    (pads stay under the 100 ms dead-air bar so the classes are disjoint)
    (precedence as in _CLASS_EXPR: dead_clip > dead_air > padded)
    """
    from macrobase_spark.operators.audio import sin_samples, tone_hz, wav_bytes

    sr = 16000
    base_n = int(sr * 0.4)

    def gen(i):
        f0 = float(tone_hz(np.array([i], dtype=np.uint64))[0])
        sig = 0.8 * sin_samples(2 * np.pi * f0 / sr, base_n)  # libm-free
        if i % 23 == 4:
            sig = np.zeros(base_n)
        elif i % 7 == 2:
            gap = int(sr * 0.150)
            at = int(base_n * 0.4)
            sig = np.concatenate([sig[:at], np.zeros(gap), sig[at:]])
        elif i % 5 == 1:
            pad = int(sr * (0.055 + 0.010 * (i % 4)))
            sig = np.concatenate([np.zeros(pad), sig])
        elif i % 5 == 3:
            pad = int(sr * (0.060 + 0.015 * (i % 3)))
            sig = np.concatenate([sig, np.zeros(pad)])
        pcm = np.clip(sig * 32767, -32768, 32767).astype(np.int16)
        return [(f"sclip_{i:09d}", wav_bytes(pcm, sr))]

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(
        spark.range(0, n, numPartitions=parts), gen, "clip_id string, bytes binary"
    )


@artifact("silence", 1)
def silence_features_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    silence_features(generate_silence_clips(spark, n)).write.mode(
        "overwrite"
    ).parquet(out)


_SF = silence_features_parquet.scan()


# Fused-path query: the SAME silence profile columns now come out of the
# suite's single decode scan (audio.score_record_batch, scored fixture v3) —
# at 10^12 rows SNR + silence cost ONE pass over the payload bytes, not two.
# This query oracle-certifies the fused columns over the materialized scored
# relation; kernel equality vs the standalone float-path operator is gated by
# tests/test_silence.py::test_fused_equals_standalone.
_S3 = scored_parquet.scan()


@register(
    "clips_silence_stats",
    f"""
    SELECT codec,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(silence_ratio), 6) AS avg_silence_ratio,
           round(max(silence_longest_ms), 3) AS max_longest_ms,
           CAST(coalesce(sum(CASE WHEN silence_ratio >= 0.99 AND decode_ok
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dead
    FROM {_S3} GROUP BY codec
    """,
)
def clips_silence_stats_q(spark, sf_dir):
    """Per-codec silence profile straight off the fused scored relation —
    no second scan of the payload bytes."""
    scored = spark.read.parquet(scored_parquet(spark, sf_dir))
    return scored.groupBy("codec").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("silence_ratio"), 6).alias("avg_silence_ratio"),
        F.round(F.max("silence_longest_ms"), 3).alias("max_longest_ms"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("silence_ratio") >= 0.99) & F.col("decode_ok"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dead"),
    )


@register(
    "silence_stats",
    f"""
    WITH classed AS (
      SELECT *, {_CLASS_EXPR} AS silence_class FROM {_SF}
    )
    SELECT silence_class,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(silence_ratio), 6) AS avg_silence_ratio,
           round(avg(longest_ms), 3) AS avg_longest_ms,
           round(max(leading_ms + trailing_ms), 3) AS max_pad_ms
    FROM classed GROUP BY silence_class
    """,
)
def silence_stats_q(spark, sf_dir):
    """Per-class dead-air profile over the planted fixture — recovers every
    planted defect class (exact counts pinned in tests/test_silence.py)."""
    feats = classify_silence(spark.read.parquet(silence_features_parquet(spark, sf_dir)))
    return feats.groupBy("silence_class").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("silence_ratio"), 6).alias("avg_silence_ratio"),
        F.round(F.avg("longest_ms"), 3).alias("avg_longest_ms"),
        F.round(F.max(F.col("leading_ms") + F.col("trailing_ms")), 3).alias("max_pad_ms"),
    )
