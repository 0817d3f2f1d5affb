"""Timed-transcript (SRT) validation — cue parsing + declarative timing
checks over audio/transcript pairs.

Real training corpora carry TIMED transcripts (SRT/WebVTT), not bare
strings; the existing transcript checks (integrity levenshtein, rate)
treat text as one blob. This operator completes the pair contract: a
per-clip SRT document is parsed ONCE into a narrow cue relation
(clip_id, cue_idx, start_ms, end_ms, n_chars, malformed), and every
validation rule is then pure SQL over that relation, identical in both
engines:

- structural:   malformed timestamp / cue block (parse-level flag)
- monotonic:    cue k must start at/after cue k-1's end (lag window)
- overlap:      implied by the same lag comparison
- bounds:       cues must lie within [0, dur_ms] of the audio clip
- empty cue:    a cue with no text carries no transcript mass
- coverage:     sum(cue spans)/dur_ms — how much of the audio is
                transcribed (reported for clean clips)

Spark-first split: the ONLY Python is the tokenizer (the row runner,
O(lines) per clip, constant work per line — same family as the
mp3/ADTS/Ogg walkers); ordering/overlap/bounds/coverage are window +
aggregate SQL (one clip_id Exchange), replayed verbatim by the DuckDB
oracle over the materialized cue relation. At 10^12 clips the cue
relation is ~50 B/row and the checks inherit the partitioning of one
hash Exchange on clip_id.

Reference parity: none — the reference ingests CSV rows; this serves
the build brief's audio+transcript input contract.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.queries import register

_TS = re.compile(r"^(\d{2}):([0-5]\d):([0-5]\d),(\d{3})$")

_WORDS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "alpha", "beta", "gamma", "delta", "sigma", "omega",
]


def _fmt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, ms_ = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{ms_:03d}"


def parse_srt(text: str | None) -> list[tuple[int, int | None, int | None, int, bool]]:
    """Tokenize one SRT document into cues:
    (cue_idx, start_ms, end_ms, n_chars, malformed).

    A cue is malformed when its timing line does not parse
    (HH:MM:SS,mmm --> HH:MM:SS,mmm) or its index line is not an
    integer; malformed cues keep their position with NULL times so the
    SQL layer can count them without losing clip accounting. Line
    endings are normalized first — real-world SRT is routinely CRLF."""
    if not text:
        return []
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    cues = []
    for pos, block in enumerate(b for b in text.split("\n\n") if b.strip()):
        lines = [ln for ln in block.split("\n") if ln != ""]
        ok = len(lines) >= 2 and lines[0].strip().isdigit()
        start = end = None
        body = lines[2:] if len(lines) >= 2 else []
        if ok:
            parts = lines[1].split(" --> ")
            ms = []
            for p in parts:
                m = _TS.match(p.strip())
                if m is None:
                    break
                h, mi, s, mil = (int(g) for g in m.groups())
                ms.append(((h * 60 + mi) * 60 + s) * 1000 + mil)
            if len(parts) == 2 and len(ms) == 2:
                start, end = ms
            else:
                ok = False
        n_chars = sum(len(ln) for ln in body)
        cues.append((pos, start, end, n_chars, not ok))
    return cues


def _cue_layout(i: int, n_cues: int) -> tuple[int, list]:
    """The ONE timing/plant layout both dialect fixtures render (the
    cross-dialect "same verdicts" guarantee is this shared function, not
    a copy-paste invariant): returns (dur_ms, [[idx, start, end, words],
    ...]) with the overlap / disorder / out-of-bounds / empty-cue plants
    applied. The malformed-timestamp plant lives in the renderers (it is
    a SYNTAX defect, dialect-specific by nature)."""
    rng = np.random.default_rng(i * 77 + 3)
    span = int(rng.integers(900, 1500))  # per-cue span ms
    gap = int(rng.integers(50, 150))
    cues = []
    t = int(rng.integers(0, 200))
    for k in range(n_cues):
        start, end = t, t + span
        words = " ".join(_WORDS[int(w) % len(_WORDS)] for w in rng.integers(0, 14, 4 + k % 3))
        cues.append([k + 1, start, end, words])
        t = end + gap
    dur_ms = t + 100
    if i % 113 == 5:
        cues[2][1] = cues[1][2] - 200  # overlap previous cue
    if i % 101 == 17:
        cues[2], cues[3] = cues[3], cues[2]  # out of order
    if i % 97 == 11:
        cues[-1][2] = dur_ms + 500  # past the audio end
    if i % 89 == 7:
        cues[1][3] = ""
    return dur_ms, cues


def generate_srt_clips(spark: SparkSession, n: int, n_cues: int = 5) -> DataFrame:
    """(clip_id, dur_ms, transcript_srt) fixture — deterministic at any
    partitioning. Plants (residues rarely coincide but NOT disjoint;
    the verdict CASE precedence decides for overlapping ids):

    - id % 127 == 21  malformed timestamp in cue 2
    - id % 113 == 5   cue 2 overlaps cue 1 (starts before its end)
    - id % 101 == 17  cues 2 and 3 swapped (out of order)
    - id % 97  == 11  final cue runs past the audio's dur_ms
    - id % 89  == 7   cue 2 has empty text
    """

    def build(i: int) -> tuple[int, str]:
        dur_ms, cues = _cue_layout(i, n_cues)
        blocks = []
        for k, (idx, st, e, w) in enumerate(cues):
            ts = f"{_fmt_ts(st)} --> {_fmt_ts(e)}"
            if i % 127 == 21 and k == 2:
                ts = f"{_fmt_ts(st)} --> not-a-timestamp"
            blocks.append(f"{idx}\n{ts}\n{w}")
        return dur_ms, "\n\n".join(blocks)

    return _document_table(spark, n, "srt", build)


def _document_table(spark: SparkSession, n: int, prefix: str, build) -> DataFrame:
    """(clip_id, dur_ms, transcript_srt) rows from `build(id) -> (dur_ms,
    document)`."""
    return map_rows(
        spark.range(n),
        lambda i: [(f"{prefix}-{i:08d}", *build(i))],
        "clip_id string, dur_ms int, transcript_srt string",
    )


_VTT_TS = re.compile(r"^(?:(\d{1,2}):)?([0-5]\d):([0-5]\d)\.(\d{3})$")


def parse_vtt(text: str | None) -> list[tuple[int, int | None, int | None, int, bool]]:
    """Tokenize one WebVTT document into the same cue tuples as
    `parse_srt`. Dialect differences handled: mandatory WEBVTT header
    (its absence makes every cue malformed — the file is not VTT),
    '.'-separated milliseconds, OPTIONAL hour field, optional cue
    identifier line, cue settings after the end timestamp, and NOTE /
    STYLE comment blocks (skipped, not cues). CRLF normalized like
    `parse_srt`."""
    if not text:
        return []
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    blocks = [b for b in text.split("\n\n") if b.strip()]
    if not blocks or not blocks[0].lstrip().startswith("WEBVTT"):
        return [(0, None, None, 0, True)]
    cues = []
    pos = 0
    for block in blocks[1:]:
        # drop whitespace-only lines too: a line of just " " would survive
        # an `!= ""` filter and make the first-token split below index an
        # empty list (an IndexError inside the tokenizer = dead Spark task)
        lines = [ln for ln in block.split("\n") if ln.strip()]
        # comment/style blocks: FIRST TOKEN is NOTE/STYLE/REGION (a cue
        # identifier may legally merely START with those letters, e.g.
        # "NOTES" — prefix matching would silently swallow that cue)
        if not lines or lines[0].split(None, 1)[0] in ("NOTE", "STYLE", "REGION"):
            continue
        # optional identifier line: the timing line is the one with -->
        t_at = 0 if "-->" in lines[0] else 1 if len(lines) > 1 and "-->" in lines[1] else None
        start = end = None
        ok = t_at is not None
        body = lines[(t_at + 1) :] if t_at is not None else lines
        if ok:
            left, _, right = lines[t_at].partition("-->")
            right = right.strip().split(" ")[0]  # drop cue settings
            ms = []
            for p in (left.strip(), right):
                m = _VTT_TS.match(p)
                if m is None:
                    break
                h = int(m.group(1)) if m.group(1) is not None else 0
                mi, s, mil = int(m.group(2)), int(m.group(3)), int(m.group(4))
                ms.append(((h * 60 + mi) * 60 + s) * 1000 + mil)
            if len(ms) == 2:
                start, end = ms
            else:
                ok = False
        cues.append((pos, start, end, sum(len(ln) for ln in body), not ok))
        pos += 1
    return cues


def generate_vtt_clips(spark: SparkSession, n: int, n_cues: int = 5) -> DataFrame:
    """(clip_id, dur_ms, transcript_srt) fixture in WebVTT dialect —
    the SAME `_cue_layout` timing/plant stream as the SRT fixture (same
    verdicts expected by construction), plus a dialect-specific plant:

    - id % 83 == 13  missing WEBVTT header (whole file malformed)
    """

    def build(i: int) -> tuple[int, str]:
        dur_ms, cues = _cue_layout(i, n_cues)
        blocks = ["WEBVTT", "NOTE deterministic fixture"]
        for k, (idx, st, e, w) in enumerate(cues):
            vts = lambda ms: _fmt_ts(ms).replace(",", ".")
            ts = f"{vts(st)} --> {vts(e)} align:start"
            if i % 127 == 21 and k == 2:
                ts = f"{vts(st)} --> not-a-timestamp"
            blocks.append(f"cue-{idx}\n{ts}\n{w}")
        doc = "\n\n".join(blocks)
        if i % 83 == 13:
            doc = doc.split("\n\n", 1)[1]  # drop the WEBVTT header
        return dur_ms, doc

    return _document_table(spark, n, "vtt", build)


_CUE_SCHEMA = (
    "clip_id string, dur_ms int, cue_idx int, start_ms int, end_ms int, "
    "n_chars int, malformed boolean"
)


def srt_cues(df: DataFrame, dialect: str = "srt") -> DataFrame:
    """ONE tokenize pass -> the narrow cue relation. All
    timing semantics live in SQL downstream. `dialect` picks the
    tokenizer ('srt' or 'vtt'); the validation layer is shared."""
    parse = {"srt": parse_srt, "vtt": parse_vtt}[dialect]
    return map_rows(
        df.select("clip_id", "dur_ms", "transcript_srt"),
        lambda cid, dm, txt: [(cid, dm, *cue) for cue in parse(txt)],
        _CUE_SCHEMA,
    )


def srt_clip_verdicts(cues: DataFrame) -> DataFrame:
    """Per-clip verdict + coverage from the cue relation — window lag
    for ordering/overlap, conditional aggregates for the rest; ONE
    clip_id Exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("clip_id").orderBy("cue_idx")
    c = cues.withColumn("prev_end", F.lag("end_ms").over(w))
    agg = c.groupBy("clip_id", "dur_ms").agg(
        F.count(F.lit(1)).alias("n_cues"),
        F.sum(F.col("malformed").cast("int")).alias("n_malformed"),
        F.sum(
            (F.col("start_ms") < F.col("prev_end")).cast("int")
        ).alias("n_disorder"),
        F.sum(
            (
                (F.col("start_ms") < 0)
                | (F.col("end_ms") > F.col("dur_ms"))
                | (F.col("end_ms") <= F.col("start_ms"))
            ).cast("int")
        ).alias("n_oob"),
        F.sum(((F.col("n_chars") == 0) & ~F.col("malformed")).cast("int")).alias("n_empty"),
        F.sum(F.col("end_ms") - F.col("start_ms")).alias("span_ms"),
    )
    verdict = (
        F.when(F.col("n_malformed") > 0, "malformed")
        .when(F.col("n_disorder") > 0, "disorder")
        .when(F.col("n_oob") > 0, "out_of_bounds")
        .when(F.col("n_empty") > 0, "empty_cue")
        .otherwise("ok")
    )
    return agg.select(
        "clip_id",
        "dur_ms",
        "n_cues",
        verdict.alias("verdict"),
        F.round(F.col("span_ms") / F.col("dur_ms"), 4).alias("coverage"),
    )


def srt_fixture_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe of the cue relation: synthesize the SRT fixture, tokenize
    every document once."""
    return srt_cues(generate_srt_clips(spark, decode_fixture_n(sf_dir)))


@artifact("srtcues", 1)
def srt_cues_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Materialize the cue relation once (tokenizer runs here, untimed)
    so the DuckDB oracle reads identical rows and replays the WHOLE
    validation layer, not just the rollup."""
    srt_fixture_cues(spark, sf_dir).write.mode("overwrite").parquet(out)


@artifact("vttcues", 1)
def vtt_cues_parquet(spark: SparkSession, sf_dir: str, out: str) -> None:
    """WebVTT twin of `srt_cues_parquet` (same relation schema)."""
    vtt = generate_vtt_clips(spark, decode_fixture_n(sf_dir))
    srt_cues(vtt, dialect="vtt").write.mode("overwrite").parquet(out)


_SC = srt_cues_parquet.scan()
_VC = vtt_cues_parquet.scan()


def _timing_oracle(rel: str) -> str:
    """The WHOLE timing-validation layer as one SQL string over a cue
    relation — shared verbatim by the SRT and VTT oracles (the dialects
    differ only in the tokenizer that produced the relation)."""
    return f"""
    WITH c AS (
      SELECT *, lag(end_ms) OVER (PARTITION BY clip_id ORDER BY cue_idx) AS prev_end
      FROM {rel}
    ), agg AS (
      SELECT clip_id, dur_ms,
             count(*) AS n_cues,
             sum(CASE WHEN malformed THEN 1 ELSE 0 END) AS n_malformed,
             sum(CASE WHEN start_ms < prev_end THEN 1 ELSE 0 END) AS n_disorder,
             sum(CASE WHEN start_ms < 0 OR end_ms > dur_ms OR end_ms <= start_ms
                      THEN 1 ELSE 0 END) AS n_oob,
             sum(CASE WHEN n_chars = 0 AND NOT malformed THEN 1 ELSE 0 END) AS n_empty,
             sum(end_ms - start_ms) AS span_ms
      FROM c GROUP BY clip_id, dur_ms
    ), v AS (
      SELECT CASE WHEN n_malformed > 0 THEN 'malformed'
                  WHEN n_disorder > 0 THEN 'disorder'
                  WHEN n_oob > 0 THEN 'out_of_bounds'
                  WHEN n_empty > 0 THEN 'empty_cue'
                  ELSE 'ok' END AS verdict,
             n_cues,
             round(CAST(span_ms AS DOUBLE) / dur_ms, 4) AS coverage
      FROM agg
    )
    SELECT verdict,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_cues) AS BIGINT) AS cues,
           round(min(CASE WHEN verdict = 'ok' THEN coverage END), 4) AS min_ok_coverage,
           round(max(CASE WHEN verdict = 'ok' THEN coverage END), 4) AS max_ok_coverage
    FROM v
    GROUP BY verdict
    ORDER BY verdict
    """


def timing_scorecard(cues: DataFrame) -> DataFrame:
    """The whole timing-validation layer over a cue relation: per-clip
    verdicts, then the per-verdict rollup + clean-clip coverage envelope
    (shared by the SRT and VTT registered queries)."""
    v = srt_clip_verdicts(cues)
    return (
        v.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_cues").cast("long").alias("cues"),
            F.round(
                F.min(F.when(F.col("verdict") == "ok", F.col("coverage"))), 4
            ).alias("min_ok_coverage"),
            F.round(
                F.max(F.when(F.col("verdict") == "ok", F.col("coverage"))), 4
            ).alias("max_ok_coverage"),
        )
        .orderBy("verdict")
    )


@register("srt_timing_stats", _timing_oracle(_SC))
def srt_timing_stats_q(spark, sf_dir: str) -> DataFrame:
    """Timed-transcript scorecard: clip counts per verdict plus the
    coverage envelope of clean clips (cue spans over audio duration —
    the plant keeps clean clips in a tight band, so the envelope
    certifies the span arithmetic end-to-end). The tokenizer ran once at
    materialization; this query and its oracle replay the ENTIRE timing
    validation declaratively."""
    return timing_scorecard(spark.read.parquet(srt_cues_parquet(spark, sf_dir)))


@register("vtt_timing_stats", _timing_oracle(_VC))
def vtt_timing_stats_q(spark, sf_dir: str) -> DataFrame:
    """WebVTT twin of `srt_timing_stats`: identical validation layer
    (and identical oracle SQL modulo the cue-relation path) over cues
    produced by the VTT tokenizer — headers/NOTE blocks, optional cue
    ids, '.'-millisecond optional-hour timestamps, cue settings, and a
    missing-WEBVTT-header plant on top of the shared timing plants."""
    return timing_scorecard(spark.read.parquet(vtt_cues_parquet(spark, sf_dir)))
