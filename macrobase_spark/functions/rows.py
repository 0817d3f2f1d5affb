"""One row-map runner: the Python-UDF batch boundary of every per-row
operator and fixture generator.

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
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import DataFrame
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
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    target = to_arrow_schema(schema)

    def run(batches):
        for b in batches:
            rows = []
            for row in zip(*(_values(c) for c in b.columns)):
                rows.extend(fn(*row))
            cols = list(zip(*rows)) if rows else [()] * len(target)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=f.type, from_pandas=True)
                    for c, f in zip(cols, target)
                ],
                schema=target,
            )

    return df.mapInArrow(run, schema)
