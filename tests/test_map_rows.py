"""The row-map runner's contract: what a per-row function receives, what
it may return, and how the output is typed."""

import math

import numpy as np

from macrobase_spark.functions.rows import map_rows


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
