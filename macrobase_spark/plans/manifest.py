"""Checkpointed per-partition run manifest with lineage + metrics, and
resume. The manifest is the ONLY state the driver owns — an append-only
parquet table of partition-grain verdict rows. A resumed run anti-joins the
partition list against completed manifest rows and processes only the rest
(at cluster scale this is an Iceberg table and the anti-join prunes whole
partitions before any data is read).

A run adds a few rows, so recording and the resume reads are driver work
(pyarrow, `functions.rows.write_rows`): they launch no Spark job. `read`
is the Spark face for queries over the whole history.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.functions.rows import local_rows, write_rows

MANIFEST_SCHEMA = StructType(
    [
        StructField("partition", StringType()),
        StructField("run_id", StringType()),
        StructField("status", StringType()),  # completed | failed
        StructField("n_rows", LongType()),
        StructField("n_violations", LongType()),
        StructField("passed", BooleanType()),
        StructField("metrics_json", StringType()),
        StructField("lineage", StringType()),
        StructField("wall_clock_sec", DoubleType()),
        StructField("completed_at", DoubleType()),
    ]
)


class RunManifest:
    def __init__(self, path: str):
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            for f in os.listdir(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.exists():
            return local_rows(spark, [], MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def read_rows(self, *columns: str) -> list[tuple]:
        """`columns` of every manifest row, read on the driver."""
        if not self.exists():
            return []
        import pyarrow.parquet as pq

        return list(zip(*pq.read_table(self.path, columns=list(columns)).to_pydict().values()))

    def completed_partitions(self) -> set[str]:
        return {p for p, st in self.read_rows("partition", "status") if st == "completed"}

    def record(self, rows: list[dict], run_id: str | None = None, lineage: str = "") -> str:
        """Append one run's partition rows as one parquet file (atomic: see
        `write_rows`). Returns the run id."""
        run_id = run_id or uuid.uuid4().hex[:12]
        now = time.time()
        full = [
            (
                str(r["partition"]),
                run_id,
                r.get("status", "completed"),
                int(r.get("n_rows", 0)),
                int(r.get("n_violations", 0)),
                bool(r.get("passed", False)),
                json.dumps(r.get("metrics", {}), sort_keys=True),
                lineage,
                float(r.get("wall_clock_sec", 0.0)),
                now,
            )
            for r in rows
        ]
        write_rows(self.path, full, MANIFEST_SCHEMA)
        return run_id

    def pending(self, all_partitions: list) -> list:
        done = self.completed_partitions()
        return [p for p in all_partitions if str(p) not in done]
