"""macrobase_spark — a from-scratch PySpark-native analytics + validation engine.

Re-expresses the query and data-processing capabilities of the reference
MacroBase engine (myrtakis/macrobase, studied at /root/reference) as
idiomatic Spark DataFrame plans: classify-then-explain, declarative
constraint checks (column stats, uniqueness, referential integrity,
distribution drift), vectorized anomaly scorers, dedup / similarity /
text-analysis operators for training-data pipelines, and streaming windows.

Design rules (100 TB first):
- declare plans with the DataFrame/SQL API; let Catalyst/AQE pick physical
  strategies (predicate pushdown, partial aggregation, broadcast, skew split)
- no driver-side row data: only aggregates, thresholds, frequent itemsets,
  and manifests ever reach the driver
- Python only at the edges, always over Arrow batches: whole-batch kernels
  where the math vectorizes, and one row runner (`functions/rows.map_rows`)
  for per-payload decoders and per-id fixture generators
"""

__version__ = "0.1.0"

from macrobase_spark.session import get_spark  # noqa: F401
