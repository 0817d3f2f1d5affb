"""Container-magic sniff check: classification, violation grammar, and the
map-only plan contract."""

from macrobase_spark.operators.audio import wav_bytes, wav_bytes_codec
from macrobase_spark.operators.flac import flac_bytes
from macrobase_spark.operators.sniff import (
    codec_container_check,
    container_sniff,
    container_violations,
)

import numpy as np
from pyspark.sql import functions as F

SCHEMA = "clip_id string, bytes binary, codec string"


def _rows():
    pcm = (np.sin(np.linspace(0, 40, 800)) * 20000).astype(np.int16)
    return [
        ("c01", wav_bytes(pcm, 16000), "pcm_s16le"),  # riff, ok
        ("c02", wav_bytes_codec(pcm, 16000, "mulaw"), "mulaw"),  # riff, ok
        ("c03", flac_bytes(pcm, 16000), "flac"),  # flac, ok
        ("c04", flac_bytes(pcm, 16000), "pcm_s16le"),  # mislabeled: flac != riff
        ("c05", b"\x00\x01\x02\x03garbage", "mulaw"),  # raw garbage
        ("c06", b"ab", "alaw"),  # short
        ("c07", None, "adpcm"),  # null payload
        ("c08", wav_bytes(pcm, 16000), "mp3"),  # unknown codec always fails
    ]


def test_container_classification(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {
        r["clip_id"]: r["container"]
        for r in container_sniff(df).select("clip_id", "container").collect()
    }
    assert got == {
        "c01": "riff",
        "c02": "riff",
        "c03": "flac",
        "c04": "flac",
        "c05": "raw",
        "c06": "short",
        "c07": "null",
        "c08": "riff",
    }


def test_codec_container_check_flags(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {
        r["clip_id"]: (r["expected_container"], r["container_ok"])
        for r in codec_container_check(df).collect()
    }
    assert got["c01"] == ("riff", True)
    assert got["c02"] == ("riff", True)
    assert got["c03"] == ("flac", True)
    assert got["c04"] == ("riff", False)  # flac stream declared as raw pcm
    assert got["c05"] == ("riff", False)
    assert got["c06"] == ("riff", False)
    assert got["c07"] == ("riff", False)
    assert got["c08"] == ("unknown", False)  # mp3 not in the contract map


def test_violation_rows_grammar(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    v = container_violations(df)
    assert v.columns == ["clip_id", "check", "detail"]
    rows = {r["clip_id"]: r["detail"] for r in v.collect()}
    assert set(rows) == {"c04", "c05", "c06", "c07", "c08"}
    assert rows["c04"] == "declared pcm_s16le expects riff, payload is flac"
    assert rows["c08"] == "declared mp3 expects unknown, payload is riff"


def test_plan_is_map_only_and_slices_before_hex(spark):
    """The sniff must stay a shuffle-free codegen projection, and hex() must
    receive the 4-byte substring — never the whole payload."""
    df = spark.createDataFrame(_rows(), SCHEMA)
    plan = container_violations(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "hex(substring(bytes" in plan


def test_truncated_riff_keeps_magic(spark):
    """Truncation past byte 4 is NOT a container violation — that's the
    decode/SNR check's job (the magic is intact, the body is damaged)."""
    pcm = (np.sin(np.linspace(0, 40, 800)) * 20000).astype(np.int16)
    blob = wav_bytes(pcm, 16000)
    df = spark.createDataFrame([("t1", blob[: len(blob) // 3], "pcm_s16le")], SCHEMA)
    assert container_violations(df).count() == 0


def test_fixture_violations_match_plants(spark, sf_dir):
    """On the mixed-codec fixture, container violations are exactly the
    corrupt plants (i % 127 == 21: hash garbage, no RIFF): truncated plants
    keep their magic and clean payloads all match their declared codec."""
    from macrobase_spark.artifacts import decode_fixture_n
    from macrobase_spark.operators.sniff import codec_clips_parquet

    n = decode_fixture_n(sf_dir)
    df = spark.read.parquet(codec_clips_parquet(spark, sf_dir))
    got = sorted(
        r["clip_id"] for r in container_violations(df).select("clip_id").collect()
    )
    want = sorted(f"clip_{i:012d}" for i in range(n) if i % 127 == 21)
    assert got == want
