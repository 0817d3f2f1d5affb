"""Container-magic sniffing: validate the declared `codec` column against
the payload's actual container signature — the cheap pre-decode gate a
10^12-clip validation run executes BEFORE spending decode cycles, so that
garbage / mislabeled / truncated payloads are triaged by a pure codegen
projection instead of a failed Arrow decode.

Spark-first shape: the sniff is `hex(substring(bytes, 1, 4))` — the
substring slices the BINARY first (4 bytes per row cross the expression,
never the payload-sized hex string), then a CASE chain classifies the
signature. Zero Python, zero shuffle until the (tiny) aggregate /
violation set; at 10^12 rows it is embarrassingly map-parallel and the
parquet scan still prunes to (bytes, codec, clip_id).

Reference parity: the reference engine (myrtakis/macrobase) ingests CSV
rows and has no binary payloads; this check serves the build brief's
multimodal validation contract (BASELINE input_hint: bytes:binary +
codec:string). The signature map matches operators/audio.decode_audio
(audio.py: RIFF → decode_wav, fLaC → decode_flac), so `container_ok`
is exactly "the decode dispatch would accept this payload's container".
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, decode_fixture_n
from macrobase_spark.queries import register

# hex (uppercase — identical in Spark and DuckDB) of the 4-byte container
# magics the decode dispatch understands.
MAGIC_RIFF = "52494646"  # b"RIFF" — WAV container (PCM16, G.711, IMA ADPCM)
MAGIC_FLAC = "664C6143"  # b"fLaC" — native FLAC stream

# declared codec -> container the generator/decoder contract ships it in.
# G.711 and ADPCM ride tagged WAV chunks (audio.wav_bytes_codec); FLAC is a
# bare stream; raw PCM is WAV via audio.wav_bytes.
EXPECTED_CONTAINER = {
    "pcm_s16le": "riff",
    "mulaw": "riff",
    "alaw": "riff",
    "adpcm": "riff",
    "flac": "flac",
}


def container_col(bytes_col: str = "bytes"):
    """Pure-codegen container classification of a binary payload column:
    null / short (<4 bytes) / riff / flac / raw (no known signature)."""
    b = F.col(bytes_col)
    h8 = F.hex(F.substring(b, 1, 4))  # slices binary FIRST: 4 bytes/row
    return (
        F.when(b.isNull(), F.lit("null"))
        .when(F.octet_length(b) < 4, F.lit("short"))
        .when(h8 == MAGIC_RIFF, F.lit("riff"))
        .when(h8 == MAGIC_FLAC, F.lit("flac"))
        .otherwise(F.lit("raw"))
    )


def container_sniff(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Adds `container` (sniffed signature class) to the relation."""
    return df.withColumn("container", container_col(bytes_col))


def codec_container_check(
    df: DataFrame, bytes_col: str = "bytes", codec_col: str = "codec"
) -> DataFrame:
    """Adds (container, expected_container, container_ok): does the payload's
    actual container match what the declared codec says it should be?
    Unknown codec values get expected 'unknown' and always fail."""
    expected = F.lit(None).cast("string")
    for codec, cont in EXPECTED_CONTAINER.items():
        expected = F.when(F.col(codec_col) == codec, F.lit(cont)).otherwise(expected)
    expected = F.coalesce(expected, F.lit("unknown"))
    out = container_sniff(df, bytes_col).withColumn("expected_container", expected)
    return out.withColumn(
        "container_ok", F.col("container") == F.col("expected_container")
    )


def container_violations(
    df: DataFrame, bytes_col: str = "bytes", codec_col: str = "codec"
) -> DataFrame:
    """Violation rows in the suite's (clip_id, check, detail) grammar —
    unionByName-compatible with checks.row_violations."""
    return (
        codec_container_check(df, bytes_col, codec_col)
        .filter(~F.col("container_ok"))
        .select(
            "clip_id",
            F.lit("container_magic").alias("check"),
            F.concat(
                F.lit("declared "),
                F.col(codec_col),
                F.lit(" expects "),
                F.col("expected_container"),
                F.lit(", payload is "),
                F.col("container"),
            ).alias("detail"),
        )
    )


# ---- materialized fixture + registered queries ------------------------------


@artifact("codecclips", 1)
def codec_clips_parquet(spark, sf_dir: str, out: str) -> None:
    """Mixed-codec clips table WITH payload bytes (mulaw/alaw/adpcm/
    pcm_s16le/flac cycling, plus planted corrupt + truncated payloads) —
    materialized once so the DuckDB oracle reads the identical bytes."""
    from macrobase_spark.sources.clips import generate_codec_clips

    generate_codec_clips(spark, decode_fixture_n(sf_dir)).write.mode("overwrite").parquet(out)


_CC = codec_clips_parquet.scan()

_CONTAINER_SQL = """
CASE WHEN bytes IS NULL THEN 'null'
     WHEN octet_length(bytes) < 4 THEN 'short'
     WHEN substring(hex(bytes), 1, 8) = '52494646' THEN 'riff'
     WHEN substring(hex(bytes), 1, 8) = '664C6143' THEN 'flac'
     ELSE 'raw' END
"""

_EXPECTED_SQL = """
CASE WHEN codec IN ('pcm_s16le', 'mulaw', 'alaw', 'adpcm') THEN 'riff'
     WHEN codec = 'flac' THEN 'flac'
     ELSE 'unknown' END
"""


@register(
    "codec_magic_check",
    f"""
    WITH sniffed AS (
      SELECT codec, {_CONTAINER_SQL} AS container,
             {_EXPECTED_SQL} AS expected_container
      FROM {_CC}
    )
    SELECT codec, container, container = expected_container AS container_ok,
           CAST(count(*) AS BIGINT) AS n
    FROM sniffed
    GROUP BY codec, container, container_ok
    ORDER BY codec, container
    """,
)
def codec_magic_check_q(spark, sf_dir):
    """Distribution of sniffed containers per declared codec — ONE partial+
    final hash aggregate over the codegen sniff projection; output is
    |codecs|×|containers| rows."""
    df = spark.read.parquet(codec_clips_parquet(spark, sf_dir))
    return (
        codec_container_check(df)
        .groupBy("codec", "container", "container_ok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("codec", "container")
    )


@register(
    "codec_magic_violations",
    f"""
    SELECT clip_id,
           'container_magic' AS check,
           'declared ' || codec || ' expects ' || {_EXPECTED_SQL}
             || ', payload is ' || {_CONTAINER_SQL} AS detail
    FROM {_CC}
    WHERE {_CONTAINER_SQL} <> {_EXPECTED_SQL}
    ORDER BY clip_id
    """,
)
def codec_magic_violations_q(spark, sf_dir):
    """Row-level container-mismatch violations (corrupt hash-garbage payloads
    land here as 'raw'; truncated RIFF keeps its magic and is left to the
    decode/SNR check downstream) — map-only until the tiny violation set."""
    df = spark.read.parquet(codec_clips_parquet(spark, sf_dir))
    return container_violations(df).orderBy("clip_id")
