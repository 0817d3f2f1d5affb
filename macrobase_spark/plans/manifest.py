"""Checkpointed per-partition run manifest with lineage + metrics, and
resume. The manifest is the ONLY state the driver owns — an append-only
parquet table of partition-grain verdict rows. A resumed run anti-joins the
partition list against completed manifest rows and processes only the rest
(at cluster scale this is an Iceberg table and the anti-join prunes whole
partitions before any data is read).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.functions.rows import local_rows

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
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.exists():
            return local_rows(spark, [], MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def completed_partitions(self, spark: SparkSession) -> list[str]:
        if not self.exists():
            return []
        return [
            r["partition"]
            for r in self.read(spark)
            .filter(F.col("status") == "completed")
            .select("partition")
            .distinct()
            .collect()
        ]

    def record(
        self,
        spark: SparkSession,
        rows: list[dict],
        run_id: str | None = None,
        lineage: str = "",
    ) -> str:
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
        local_rows(spark, full, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(
            self.path
        )
        return run_id

    def pending(self, spark: SparkSession, all_partitions: list[str]) -> list[str]:
        done = set(self.completed_partitions(spark))
        return [p for p in all_partitions if str(p) not in done]
