"""Transcript-integrity checks: per-row edit distance against the
deterministic reference render.

The BASELINE contract's per-row invariant is "decoded-PCM allclose +
TRANSCRIPT EQUALITY against the reference"; the fused clips suite already
enforces the null/empty cases (checks.py). This module adds the deeper
equality check: recompute the reference transcript for each clip and score
the stored transcript against it with character-level Levenshtein distance,
classifying each row as ok / typo-level drift / mismatch / null / empty.

Spark-first: `F.levenshtein` is a native JVM expression (whole-stage
codegen, no Python in the hot path), so the check is one narrow
map-side-only projection + filter over the scan — at 10^12 rows it
parallelizes embarrassingly with zero shuffle until the final (tiny)
violation set. The oracle runs DuckDB's identical `levenshtein()` over the
same materialized pair relation.

Reference parity: the reference engine (myrtakis/macrobase) has no string
metrics; this serves the build brief's validation contract. Mutation plants
follow the fixture conventions of sources/clips.py (pure functions of id).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from macrobase_spark.artifacts import artifact
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.operators.clips_suite import clips_n, clips_table_path
from macrobase_spark.queries import register
from macrobase_spark.sources.clips import WORDS, row_params, splitmix64

PAIR_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("codec", StringType()),
        StructField("transcript", StringType()),
        StructField("ref_transcript", StringType()),
    ]
)


def _ref_transcript(i: int, n_words: int) -> str:
    """Reference render: always present (the 'ground truth' the ASR stage
    was supposed to store). Same word-hash recipe as sources/clips.py."""
    h = splitmix64(
        np.arange(n_words, dtype=np.uint64) + np.uint64(i) * np.uint64(1315423911)
    )
    return " ".join(WORDS[int(x % len(WORDS))] for x in h)


def _mutate(i: int, ref: str) -> str | None:
    """Planted transcript damage — disjoint-ish residues, pure in id:
    null (id%211==3), empty (id%503==11), swapped word (id%17==4),
    dropped word (id%23==6), single-char typo (id%29==8)."""
    if i % 211 == 3:
        return None
    if i % 503 == 11:
        return ""
    words = ref.split(" ")
    if i % 17 == 4:
        j = int(splitmix64(np.array([i], dtype=np.uint64))[0] % len(words))
        words[j] = WORDS[(WORDS.index(words[j]) + 7) % len(WORDS)]
        return " ".join(words)
    if i % 23 == 6 and len(words) > 1:
        j = int(splitmix64(np.array([i + 1], dtype=np.uint64))[0] % len(words))
        return " ".join(words[:j] + words[j + 1 :])
    if i % 29 == 8:
        k = int(splitmix64(np.array([i + 2], dtype=np.uint64))[0] % len(ref))
        c = "x" if ref[k] != "x" else "y"
        return ref[:k] + c + ref[k + 1 :]
    return ref


@functools.lru_cache(maxsize=1)
def _params_block(block: int) -> tuple[list[str], list[int]]:
    """(codec, n_words) of ids block·1024 .. block·1024+1023: `row_params`
    is vectorized (one call per id costs ~10× the transcript itself), and
    a partition's ids are consecutive."""
    p = row_params(np.arange(block << 10, (block + 1) << 10))
    return p.codec.tolist(), p.n_words.tolist()


def generate_transcript_pairs(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """(clip_id, codec, transcript, ref_transcript) — the stored transcript
    cycles through the planted mutations above; everything is a pure
    function of id, so the relation is identical at any parallelism."""

    def gen(i):
        codecs, n_words = _params_block(i >> 10)
        ref = _ref_transcript(i, n_words[i & 1023])
        return [(f"clip_{i:012d}", codecs[i & 1023], _mutate(i, ref), ref)]

    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(spark.range(0, n, numPartitions=parts), gen, PAIR_SCHEMA)


def transcript_integrity(
    df: DataFrame,
    transcript_col: str = "transcript",
    ref_col: str = "ref_transcript",
    drift_rel: float = 0.05,
) -> DataFrame:
    """Score each row's stored transcript against the reference render.

    Emits (edit_dist, rel_dist, status) where status is:
    null_transcript / empty_transcript / ok (dist 0) /
    drift (0 < rel ≤ drift_rel: typo-level damage) / mismatch (worse).
    Pure native expressions — one codegen'd projection, no shuffle."""
    t, r = F.col(transcript_col), F.col(ref_col)
    dist = F.when(t.isNull() | (F.length(t) == 0), F.lit(None)).otherwise(
        F.levenshtein(t, r)
    )
    rel = F.round(dist / F.greatest(F.length(r), F.lit(1)), 6)
    status = (
        F.when(t.isNull(), F.lit("null_transcript"))
        .when(F.length(t) == 0, F.lit("empty_transcript"))
        .when(dist == 0, F.lit("ok"))
        .when(rel <= drift_rel, F.lit("drift"))
        .otherwise(F.lit("mismatch"))
    )
    return df.withColumns(
        {"edit_dist": dist.cast("long"), "rel_dist": rel, "status": status}
    )


def transcript_violations(df: DataFrame, **kw) -> DataFrame:
    """The violation rows a validation run would emit (everything not ok)."""
    return transcript_integrity(df, **kw).filter(F.col("status") != "ok")


# ---- materialized fixture + registered queries ------------------------------


@artifact("transcripts", 1)
def transcript_pairs_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    n = clips_n(sf_dir)
    generate_transcript_pairs(spark, n).write.mode("overwrite").parquet(out)


_TP = transcript_pairs_parquet.scan()

_STATUS_SQL = """
CASE WHEN transcript IS NULL THEN 'null_transcript'
     WHEN length(transcript) = 0 THEN 'empty_transcript'
     WHEN levenshtein(transcript, ref_transcript) = 0 THEN 'ok'
     WHEN round(levenshtein(transcript, ref_transcript)
                / greatest(length(ref_transcript), 1), 6) <= 0.05 THEN 'drift'
     ELSE 'mismatch' END
"""


@register(
    "transcript_integrity_check",
    f"""
    WITH scored AS (
      SELECT clip_id, codec,
             CASE WHEN transcript IS NULL OR length(transcript) = 0
                  THEN NULL
                  ELSE CAST(levenshtein(transcript, ref_transcript) AS BIGINT)
             END AS edit_dist,
             CASE WHEN transcript IS NULL OR length(transcript) = 0
                  THEN NULL
                  ELSE round(levenshtein(transcript, ref_transcript)
                             / greatest(length(ref_transcript), 1), 6)
             END AS rel_dist,
             {_STATUS_SQL} AS status
      FROM {_TP}
    )
    SELECT clip_id, codec, edit_dist, rel_dist, status
    FROM scored WHERE status <> 'ok'
    ORDER BY clip_id
    """,
)
def transcript_integrity_check_q(spark, sf_dir):
    """Row-level transcript violations vs the reference render — native
    `levenshtein` expression, map-only until the (small) violation set."""
    df = spark.read.parquet(transcript_pairs_parquet(spark, sf_dir))
    return transcript_violations(df).select(
        "clip_id", "codec", "edit_dist", "rel_dist", "status"
    )


# ---- speaking-rate plausibility (audio ↔ transcript pairing) ---------------

# Conversational speech runs ~2–3 words/sec; beyond these bounds the stored
# transcript cannot plausibly belong to the stored audio (wrong pairing,
# truncated audio, or runaway ASR). The fixture's clean clips sit at
# 1.25-5.0 words/sec (n_words = max(dur_ms // 400, 1)); its planted
# null/empty transcripts land in the missing/empty statuses, and the rate
# bounds are exercised by synthetic rows in tests/test_transcript.py.
RATE_LO_WPS = 0.5
RATE_HI_WPS = 4.0


def speaking_rate(
    df: DataFrame,
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
    lo_wps: float = RATE_LO_WPS,
    hi_wps: float = RATE_HI_WPS,
) -> DataFrame:
    """Words-per-second plausibility of each (audio, transcript) pair.

    Emits (n_words, wps, rate_status) where rate_status is
    missing / empty / too_slow / too_fast / ok. Word count is
    `size(split(transcript, ' '))` — a native JVM expression, so like
    `transcript_integrity` this is one codegen'd map-only projection with
    zero shuffle: at 10^12 rows it rides the same scan as every other
    row-local check. (The reference engine has no transcript checks; this
    serves the build brief's audio+transcript pairing contract.)"""
    t, d = F.col(transcript_col), F.col(dur_col)
    has_text = t.isNotNull() & (F.length(t) > 0)
    words = F.when(has_text, F.size(F.split(t, " "))).otherwise(F.lit(None))
    wps = words * F.lit(1000.0) / d
    status = (
        F.when(t.isNull(), F.lit("missing"))
        .when(F.length(t) == 0, F.lit("empty"))
        .when(wps > hi_wps, F.lit("too_fast"))
        .when(wps < lo_wps, F.lit("too_slow"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumns(
        {
            "n_words": words.cast("long"),
            "wps": F.round(wps, 6),
            "rate_status": status,
        }
    )


def speaking_rate_violations(df: DataFrame, **kw) -> DataFrame:
    """Pairs whose rate is implausible (everything not ok)."""
    return speaking_rate(df, **kw).filter(F.col("rate_status") != "ok")


_CT = clips_table_path.scan()


@register(
    "transcript_rate_check",
    f"""
    WITH scored AS (
      SELECT clip_id, codec, dur_ms,
             CASE WHEN transcript IS NOT NULL AND length(transcript) > 0
                  THEN CAST(len(string_split(transcript, ' ')) AS BIGINT)
             END AS n_words,
             CASE WHEN transcript IS NOT NULL AND length(transcript) > 0
                  THEN len(string_split(transcript, ' ')) * 1000.0 / dur_ms
             END AS raw_wps,
             CASE WHEN transcript IS NULL THEN 'missing'
                  WHEN length(transcript) = 0 THEN 'empty'
                  WHEN len(string_split(transcript, ' ')) * 1000.0 / dur_ms
                       > {RATE_HI_WPS} THEN 'too_fast'
                  WHEN len(string_split(transcript, ' ')) * 1000.0 / dur_ms
                       < {RATE_LO_WPS} THEN 'too_slow'
                  ELSE 'ok' END AS rate_status
      FROM {_CT}
    )
    SELECT clip_id, codec, dur_ms, n_words,
           round(raw_wps, 6) AS wps, rate_status
    FROM scored WHERE rate_status <> 'ok'
    ORDER BY clip_id
    """,
)
def transcript_rate_check_q(spark, sf_dir):
    """Speaking-rate violations over the clips table — words/sec outside
    the plausible-speech band, plus missing/empty pairs. Map-only scan of
    the non-payload columns (the parquet reader never touches `bytes`)."""
    from macrobase_spark.operators.clips_suite import clips_table

    df = clips_table(spark, sf_dir).select(
        "clip_id", "codec", "dur_ms", "transcript"
    )
    return speaking_rate_violations(df).select(
        "clip_id", "codec", "dur_ms", "n_words", "wps", "rate_status"
    )


@register(
    "transcript_drift_stats",
    f"""
    WITH scored AS (
      SELECT codec,
             CASE WHEN transcript IS NULL OR length(transcript) = 0
                  THEN NULL
                  ELSE round(levenshtein(transcript, ref_transcript)
                             / greatest(length(ref_transcript), 1), 6)
             END AS rel_dist,
             {_STATUS_SQL} AS status
      FROM {_TP}
    )
    SELECT codec, status,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(rel_dist), 6) AS avg_rel_dist
    FROM scored GROUP BY codec, status
    """,
)
def transcript_drift_stats_q(spark, sf_dir):
    """Per-(codec, status) profile — the rollup a drift monitor would chart.
    One partial-agg shuffle over the scored projection."""
    df = spark.read.parquet(transcript_pairs_parquet(spark, sf_dir))
    return (
        transcript_integrity(df)
        .groupBy("codec", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("rel_dist"), 6).alias("avg_rel_dist"),
        )
    )
