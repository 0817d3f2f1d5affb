"""One row-map runner: the Python-UDF batch boundary of every per-row
operator and fixture generator, and one constructor for driver-side rows.

Each multimodal check is a per-payload Python function (decode, walk,
tokenize, fingerprint), and each synthetic fixture is a per-id Python
function. `map_rows` owns what they all share: unpack the Arrow batch,
call the function once per row, and type what it returns back into an
Arrow batch from the declared schema. The per-row function keeps only
its per-clip (or per-id) code.

Binary columns reach the function as zero-copy uint8 views into the
batch's buffers (no per-row ``bytes`` objects; call ``.tobytes()`` where
a parser needs real bytes). Every other column arrives as its Python
value, and nulls arrive as ``None``.

`local_rows` types rows that are already on the driver (verdicts, drift,
explanation, manifest and profile rows) the same way, into a pyarrow
Table, so Spark holds them as a `LocalRelation`: collecting or joining
such a frame launches no job, where a list-based `createDataFrame` builds
an RDD whose every action is a job of `defaultParallelism` tasks.
`write_rows` appends such rows to a parquet directory without Spark.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _binary_views(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) numpy views over an Arrow binary array's buffers —
    zero-copy access to every payload; no per-row bytes objects."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return offsets, data


def _values(arr) -> list:
    """One Arrow column as Python values: binary as uint8 views, null as
    None."""
    import pyarrow as pa

    if not (pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)):
        return arr.to_pylist()
    offsets, data = _binary_views(arr)
    out = [data[offsets[i] : offsets[i + 1]] for i in range(len(arr))]
    if arr.null_count:
        for i in np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False)):
            out[i] = None
    return out


def _arrow_schema(schema: StructType | str):
    """(StructType, Arrow schema) of a StructType or DDL string."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    return schema, to_arrow_schema(schema)


def _arrow_columns(rows: list[tuple], target, from_pandas: bool) -> list:
    """Row tuples as one Arrow array per field of `target`; with
    `from_pandas` a float NaN becomes null."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(target)
    return [
        pa.array(c, type=f.type, from_pandas=from_pandas) for c, f in zip(cols, target)
    ]


def _arrow_table(rows: Iterable[tuple], schema: StructType | str):
    """(StructType, pyarrow Table) of driver-side row tuples."""
    import pyarrow as pa

    schema, target = _arrow_schema(schema)
    return schema, pa.Table.from_arrays(
        _arrow_columns(list(rows), target, False), schema=target
    )


def local_rows(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side row tuples as a DataFrame typed by `schema` (a
    StructType or DDL string), held as a `LocalRelation`: its actions
    launch no Spark job. ``None`` is null; a float NaN stays NaN, as with
    `createDataFrame` over a list."""
    schema, table = _arrow_table(rows, schema)
    return spark.createDataFrame(table, schema)


def write_rows(path: str, rows: Iterable[tuple], schema: StructType | str) -> None:
    """Append driver-side row tuples, typed as `local_rows` types them, to
    the parquet directory `path` as one `part-<uuid>.parquet` file: the
    file Spark's writer would produce for the same rows, with no job. It is
    written under a dot-prefixed name, which Spark and pyarrow readers
    skip, and then renamed, so a driver crash never leaves a torn file."""
    import pyarrow.parquet as pq

    _, table = _arrow_table(rows, schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: StructType | str
) -> DataFrame:
    """Run `fn(*row)` over every row of `df` (its columns in order) and
    return the rows it yields, typed by `schema` (a StructType or DDL
    string).

    `fn` returns an iterable of output tuples: none to drop the row, one
    to map it, several to explode it. A ``None`` value (or a float NaN,
    as pandas UDFs treat it) becomes null. The output depends on each
    input row alone, so a generator over ``spark.range`` yields the same
    rows at any partitioning."""
    import pyarrow as pa

    schema, target = _arrow_schema(schema)

    def run(batches):
        for b in batches:
            rows = []
            for row in zip(*(_values(c) for c in b.columns)):
                rows.extend(fn(*row))
            yield pa.RecordBatch.from_arrays(
                _arrow_columns(rows, target, True), schema=target
            )

    return df.mapInArrow(run, schema)
