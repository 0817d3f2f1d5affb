"""The row-map runner's contract: what a per-row function receives, what
it may return, and how the output is typed; and the driver-side row
constructor `local_rows`."""

import math

import numpy as np

import pytest

from macrobase_spark.functions.rows import local_rows, map_rows


def test_inputs_binary_views_and_nulls(spark):
    df = spark.createDataFrame(
        [("a", b"\x01\x02\x03", 7), ("b", None, None), ("c", b"", 9)],
        "k string, payload binary, n int",
    )

    def fn(k, payload, n):
        # the worker sees the view; report what it saw as plain columns
        is_view = isinstance(payload, np.ndarray) and payload.dtype == np.uint8
        size = None if payload is None else int(payload.sum())
        return [(k, is_view, payload is None, size, n)]

    out = map_rows(
        df, fn, "k string, is_view boolean, is_null boolean, total int, n int"
    ).collect()
    seen = {r.k: tuple(r)[1:] for r in out}
    assert seen == {
        "a": (True, False, 6, 7),
        "b": (False, True, None, None),
        "c": (True, False, 0, 9),
    }


def test_zero_one_or_many_rows_per_input(spark):
    df = spark.range(6)

    def fn(i):
        return [(i, j) for j in range(i % 3)]  # 0, 1 or 2 rows

    rows = sorted(map(tuple, map_rows(df, fn, "id long, j int").collect()))
    assert rows == [(1, 0), (2, 0), (2, 1), (4, 0), (5, 0), (5, 1)]


def test_none_and_nan_become_null_other_values_keep_type(spark):
    df = spark.range(3)

    def fn(i):
        if i == 0:
            return [(i, None, None, None, None)]
        if i == 1:
            return [(i, float("nan"), np.int64(4), [1.5, float("inf")], b"xy")]
        return [(i, np.float64(-0.25), 2, np.array([3.0]), np.uint8([1, 2]).tobytes())]

    out = map_rows(
        df, fn, "id long, x double, n int, v array<double>, b binary"
    ).orderBy("id").collect()
    assert [tuple(r) for r in out[::2]] == [
        (0, None, None, None, None),
        (2, -0.25, 2, [3.0], bytearray(b"\x01\x02")),
    ]
    r = out[1]
    assert r.x is None and r.n == 4 and r.v[0] == 1.5 and math.isinf(r.v[1])
    assert bytes(r.b) == b"xy"


def test_generator_rows_do_not_depend_on_partitioning(spark):
    def gen(i):
        return [(f"row_{i:04d}", i * i, bytes([i % 256]) * (i % 5))]

    schema = "name string, sq long, payload binary"
    a = map_rows(spark.range(0, 50, numPartitions=1), gen, schema)
    b = map_rows(spark.range(0, 50, numPartitions=7), gen, schema)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 50


def _canon(df):
    c = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    return df.schema, [tuple(map(c, r)) for r in df.collect()]


_SUITE = "codec string, n_rows long"
_SCHEMAS = {
    "manifest": None,
    "explain": None,
    "drift": "clip_id string, check string, detail string",
    "stats": f"{_SUITE}, transcript_null_rate double, min_dur_ms int, max_dur_ms int, "
    "dur_ms_p50 double, dur_ms_p95 double, n_sr_values long, avg_payload_bytes double",
    "verdicts": f"{_SUITE}, check string, n_violations long, passed boolean",
}


@pytest.mark.parametrize("name", sorted(_SCHEMAS))
def test_local_rows_equals_list_create_dataframe(spark, name):
    """`local_rows` holds the same rows and schema as `createDataFrame` over
    the list (NULL stays NULL, NaN stays NaN, an empty list types an empty
    frame), as a LocalRelation."""
    from macrobase_spark.operators.explain import ExplainParams, _result_schema
    from macrobase_spark.plans.manifest import MANIFEST_SCHEMA

    schema = {
        "manifest": MANIFEST_SCHEMA,
        "explain": _result_schema(
            ExplainParams(attributes=["codec", "sr_hz_s"], ratio_metric="risk_ratio")
        ),
    }.get(name) or _SCHEMAS[name]
    df0 = spark.createDataFrame([], schema)
    samples = {
        "string": ["a", None], "bigint": [7, None], "int": [3, None],
        "double": [float("nan"), None, 1.5], "boolean": [True, None],
    }
    types = [f.dataType.simpleString() for f in df0.schema]
    rows = [
        tuple(samples[t][i % len(samples[t])] for t in types) for i in range(3)
    ]
    for data in (rows, []):
        got = local_rows(spark, data, schema)
        assert _canon(got) == _canon(spark.createDataFrame(data, schema))
        assert got._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
