"""Declarative constraint suite — the validation engine's user-facing API.

A `Check` is a fluent builder of declarative data-quality constraints
(completeness, uniqueness, ranges, set containment, predicate-satisfaction
ratios, regex ratios, quantile bounds) and `verify()` compiles EVERY scalar
constraint across every check into ONE `df.agg(...)` pass: one scan of the
table, partial (map-side) + final hash aggregation, no matter how many
constraints the suite declares. Evaluation is itself declarative (bound
comparisons and result rows are column expressions over the aggregate
row — nothing is collected to the driver); results come back as a small
DataFrame of (check, level, constraint, column, metric, value, status)
rows that can be unioned into the violation stream or appended to the run
manifest, and `group_by=` evaluates the same suite per partition — the
north rule's per-partition pass/fail verdicts as one grouped aggregation.

This is the declarative face of the same engine `checks.run_suite` drives
imperatively: the reference expresses checks as SQL-over-classifier
pipelines (`sql/.../QueryEngine.java:283-291` fixed clause order;
classify-then-explain in `BasicBatchPipeline.java`), while a web-scale
validation tier wants Deequ-style declared expectations whose evaluation
plan is a single aggregation job. Both reduce to the same physical shape:
conditional aggregates over one scan.

Scale notes (the 10^12-row contract):
- every metric is a partial-aggregable expression (`count`, `sum`,
  `min/max`, `avg(CASE WHEN ...)`) — map-side combine absorbs hot keys and
  the shuffle carries ~one row per constraint, not per data row;
- `is_unique`/`has_distinctness` default to EXACT `count_distinct`, which
  Catalyst plans via Expand (scan multiplied by #distinct aggregates).
  That is the right trade at test scale and for oracle parity; at cluster
  scale pass `approx=True` to swap in the HLL sketch (single-pass,
  mergeable, no Expand) — same constraint, cheaper plan;
- `has_quantile` defaults to the exact `percentile` aggregate (matches
  DuckDB `quantile_cont`, R-7); pass `approx=True` for the KLL/t-digest
  style `percentile_approx` at scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from macrobase_spark.functions.rows import local_rows
from macrobase_spark.operators.clips_suite import clips_table, clips_table_path, scored_parquet

RESULT_SCHEMA = StructType(
    [
        StructField("check", StringType()),
        StructField("level", StringType()),
        StructField("constraint", StringType()),
        StructField("column", StringType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
        StructField("status", StringType()),
    ]
)


@dataclass
class _Constraint:
    """One declared constraint: the aggregate expressions it needs (unique
    aliases) and the [lo, hi] bound its headline metric must fall in."""

    name: str
    column: str
    metric: str
    agg: Column
    alias: str
    lo: float | None = None
    hi: float | None = None

    def result_struct(self, check: "Check") -> Column:
        """The (check, level, constraint, column, metric, value, status)
        struct as a pure column expression over this constraint's aggregate
        alias — evaluation stays JVM-side, nothing is collected."""
        v = F.col(self.alias).cast("double")
        ok = F.lit(True)
        if self.lo is not None:
            ok = ok & (v >= F.lit(self.lo - 1e-12))
        if self.hi is not None:
            ok = ok & (v <= F.lit(self.hi + 1e-12))
        status = (
            F.when(v.isNull(), F.lit("fail"))
            .when(ok, F.lit("pass"))
            .otherwise(F.lit("fail"))
        )
        return F.struct(
            F.lit(check.name).alias("check"),
            F.lit(check.level).alias("level"),
            F.lit(self.name).alias("constraint"),
            F.lit(self.column).alias("column"),
            F.lit(self.metric).alias("metric"),
            F.round(v, 6).alias("value"),
            status.alias("status"),
        )


@dataclass
class Check:
    """Fluent builder: `Check("clips").is_complete("clip_id").is_unique(
    "clip_id").has_min("dur_ms", 1).is_contained_in("codec", [...])`."""

    name: str
    level: str = "error"
    constraints: list[_Constraint] = field(default_factory=list)
    _n: int = 0

    # -- plumbing ----------------------------------------------------------

    def _add(self, name, column, metric, agg, lo=None, hi=None) -> "Check":
        alias = f"__c{len(self.constraints)}_{self.name}"
        self.constraints.append(
            _Constraint(name, column, metric, agg.alias(alias), alias, lo, hi)
        )
        return self

    # -- size / completeness ------------------------------------------------

    def has_size(self, min_rows: float | None = None, max_rows: float | None = None):
        return self._add(
            "has_size", "*", "n_rows", F.count(F.lit(1)).cast("double"), min_rows, max_rows
        )

    def is_complete(self, column: str):
        """No NULLs in `column` (completeness ratio == 1)."""
        return self.has_completeness(column, 1.0)

    def has_completeness(self, column: str, min_ratio: float):
        return self._add(
            "has_completeness",
            column,
            "completeness",
            F.avg(F.col(column).isNotNull().cast("double")),
            min_ratio,
            None,
        )

    def are_complete(self, columns: list[str]):
        for c in columns:
            self.is_complete(c)
        return self

    # -- uniqueness ----------------------------------------------------------

    def is_unique(self, column: str, approx: bool = False):
        """Every non-null value distinct (distinct/count == 1)."""
        return self.has_distinctness(column, 1.0, approx=approx)

    def has_distinctness(self, column: str, min_ratio: float, approx: bool = False):
        """distinct(non-null values) / count(non-null values).

        approx=True swaps exact count_distinct (Expand plan) for the HLL
        sketch — single-pass and mergeable, the 10^12-row variant."""
        distinct = (
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(column).cast("string")))
            if approx
            else F.count_distinct(F.col(column))
        )
        ratio = distinct.cast("double") / F.count(F.col(column)).cast("double")
        return self._add(
            "has_distinctness", column, "distinctness", ratio, min_ratio, None
        )

    # -- numeric ranges -------------------------------------------------------

    def has_min(self, column: str, at_least: float | None = None, at_most: float | None = None):
        return self._add(
            "has_min", column, "min", F.min(F.col(column).cast("double")), at_least, at_most
        )

    def has_max(self, column: str, at_least: float | None = None, at_most: float | None = None):
        return self._add(
            "has_max", column, "max", F.max(F.col(column).cast("double")), at_least, at_most
        )

    def has_mean(self, column: str, at_least: float | None = None, at_most: float | None = None):
        return self._add(
            "has_mean", column, "mean", F.avg(F.col(column).cast("double")), at_least, at_most
        )

    def has_sum(self, column: str, at_least: float | None = None, at_most: float | None = None):
        return self._add(
            "has_sum", column, "sum", F.sum(F.col(column).cast("double")), at_least, at_most
        )

    def has_stddev(self, column: str, at_least=None, at_most=None):
        return self._add(
            "has_stddev",
            column,
            "stddev",
            F.stddev_samp(F.col(column).cast("double")),
            at_least,
            at_most,
        )

    def has_quantile(
        self,
        column: str,
        q: float,
        at_least: float | None = None,
        at_most: float | None = None,
        approx: bool = False,
    ):
        """Exact `percentile` by default (== DuckDB quantile_cont, R-7);
        approx=True uses percentile_approx for the cluster-scale plan."""
        agg = (
            F.percentile_approx(F.col(column).cast("double"), q)
            if approx
            else F.percentile(F.col(column).cast("double"), q)
        )
        return self._add(
            "has_quantile", column, f"p{int(round(q * 100))}", agg, at_least, at_most
        )

    # -- predicates -----------------------------------------------------------

    def satisfies(self, condition: str, name: str, min_ratio: float = 1.0):
        """Ratio of rows where the SQL `condition` holds (NULL counts as
        not-satisfied, like Deequ's compliance metric)."""
        sat = F.coalesce(F.expr(condition).cast("double"), F.lit(0.0))
        return self._add(f"satisfies:{name}", "*", "compliance", F.avg(sat), min_ratio, None)

    def is_non_negative(self, column: str, min_ratio: float = 1.0):
        return self.satisfies(f"{column} >= 0", f"{column}_non_negative", min_ratio)

    def is_positive(self, column: str, min_ratio: float = 1.0):
        return self.satisfies(f"{column} > 0", f"{column}_positive", min_ratio)

    def is_contained_in(self, column: str, allowed: list, min_ratio: float = 1.0):
        vals = ", ".join(
            "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else str(v)
            for v in allowed
        )
        return self.satisfies(f"{column} IN ({vals})", f"{column}_contained", min_ratio)

    def has_pattern(self, column: str, regex: str, min_ratio: float = 1.0):
        sat = F.coalesce(F.col(column).rlike(regex).cast("double"), F.lit(0.0))
        return self._add(
            f"has_pattern:{column}", column, "pattern_ratio", F.avg(sat), min_ratio, None
        )


def verify(
    df: DataFrame, checks: list[Check], group_by: list[str] | None = None
) -> DataFrame:
    """Run every check in ONE aggregation pass over `df`.

    Returns the constraint-results relation (RESULT_SCHEMA): one row per
    declared constraint, `value` rounded to 6 decimals (the engine-wide
    oracle convention), `status` in {'pass', 'fail'} ('fail' when the
    metric is NULL — e.g. min over zero rows).

    `group_by=` evaluates the SAME suite per group — the north rule's
    per-partition pass/fail verdicts as one grouped aggregation (results
    are one row per group × constraint, group columns prepended).

    Everything stays declarative: the aggregates, the bound comparisons,
    and the result rows are column expressions (explode of one struct per
    constraint), so nothing is ever collected to the driver and the plan
    is a single partial+final hash aggregation at any scale.
    """
    aggs = [c.agg for ch in checks for c in ch.constraints]
    if not aggs:
        return local_rows(df.sparkSession, [], RESULT_SCHEMA)
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    one = grouped.agg(*aggs)
    structs = [c.result_struct(ch) for ch in checks for c in ch.constraints]
    keys = [F.col(g) for g in group_by] if group_by else []
    return one.select(*keys, F.explode(F.array(*structs)).alias("s")).select(
        *(group_by or []), "s.*"
    )


def clips_checks() -> list[Check]:
    """The declared expectation suite for the clips table's scored relation
    — the same invariants `checks.run_suite` computes imperatively,
    expressed as user-facing declarative constraints."""
    return [
        Check("schema", "error")
        .has_size(min_rows=1000)
        .is_complete("clip_id")
        .is_complete("codec")
        .is_complete("sr_hz")
        .is_complete("dur_ms")
        .has_pattern("clip_id", "^clip_[0-9]{12}$"),
        Check("keys", "error").is_unique("clip_id"),
        Check("content", "warning")
        .satisfies("decode_ok", "decode_ok", 0.995)
        .satisfies("snr_db >= 30.0", "snr_pass", 0.99)
        .satisfies(
            "NOT transcript_null AND NOT transcript_empty", "transcript_present", 0.995
        )
        .has_min("dur_ms", at_least=1)
        .has_max("dur_ms", at_most=60000)
        .has_quantile("dur_ms", 0.5, at_most=10000)
        .is_contained_in("codec", ["opus", "mp3", "flac", "aac", "pcm_s16le"]),
    ]


# The DuckDB oracle replays every constraint as a scalar aggregate over the
# SAME scored parquet (engine-wide oracle recipe, clips_suite.py) — one
# UNION ALL row per constraint, value rounded to 6, the same 1e-12 bound
# epsilon the evaluator applies.
_S = scored_parquet.scan()

_CONSTRAINT_ORACLE = f"""
WITH s AS (SELECT * FROM {_S}),
m AS (
  SELECT 'schema' AS "check", 'error' AS level, 'has_size' AS "constraint",
         '*' AS "column", 'n_rows' AS metric,
         CAST(count(*) AS DOUBLE) AS v, 1000.0 AS lo, NULL::DOUBLE AS hi FROM s
  UNION ALL
  SELECT 'schema', 'error', 'has_completeness', 'clip_id', 'completeness',
         avg(CASE WHEN clip_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
  UNION ALL
  SELECT 'schema', 'error', 'has_completeness', 'codec', 'completeness',
         avg(CASE WHEN codec IS NOT NULL THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
  UNION ALL
  SELECT 'schema', 'error', 'has_completeness', 'sr_hz', 'completeness',
         avg(CASE WHEN sr_hz IS NOT NULL THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
  UNION ALL
  SELECT 'schema', 'error', 'has_completeness', 'dur_ms', 'completeness',
         avg(CASE WHEN dur_ms IS NOT NULL THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
  UNION ALL
  SELECT 'schema', 'error', 'has_pattern:clip_id', 'clip_id', 'pattern_ratio',
         avg(CASE WHEN regexp_matches(clip_id, '^clip_[0-9]{{12}}$')
             THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
  UNION ALL
  SELECT 'keys', 'error', 'has_distinctness', 'clip_id', 'distinctness',
         CAST(count(DISTINCT clip_id) AS DOUBLE) / count(clip_id), 1.0, NULL FROM s
  UNION ALL
  SELECT 'content', 'warning', 'satisfies:decode_ok', '*', 'compliance',
         avg(CASE WHEN decode_ok THEN 1.0 ELSE 0.0 END), 0.995, NULL FROM s
  UNION ALL
  SELECT 'content', 'warning', 'satisfies:snr_pass', '*', 'compliance',
         avg(CASE WHEN snr_db >= 30.0 THEN 1.0 ELSE 0.0 END), 0.99, NULL FROM s
  UNION ALL
  SELECT 'content', 'warning', 'satisfies:transcript_present', '*', 'compliance',
         avg(CASE WHEN NOT transcript_null AND NOT transcript_empty
             THEN 1.0 ELSE 0.0 END), 0.995, NULL FROM s
  UNION ALL
  SELECT 'content', 'warning', 'has_min', 'dur_ms', 'min',
         min(CAST(dur_ms AS DOUBLE)), 1.0, NULL FROM s
  UNION ALL
  SELECT 'content', 'warning', 'has_max', 'dur_ms', 'max',
         max(CAST(dur_ms AS DOUBLE)), NULL, 60000.0 FROM s
  UNION ALL
  SELECT 'content', 'warning', 'has_quantile', 'dur_ms', 'p50',
         quantile_cont(CAST(dur_ms AS DOUBLE), 0.5), NULL, 10000.0 FROM s
  UNION ALL
  SELECT 'content', 'warning', 'satisfies:codec_contained', '*', 'compliance',
         avg(CASE WHEN codec IN ('opus', 'mp3', 'flac', 'aac', 'pcm_s16le')
             THEN 1.0 ELSE 0.0 END), 1.0, NULL FROM s
)
SELECT "check", level, "constraint", "column", metric,
       round(v, 6) AS value,
       CASE WHEN (lo IS NULL OR v >= lo - 1e-12)
             AND (hi IS NULL OR v <= hi + 1e-12)
            THEN 'pass' ELSE 'fail' END AS status
FROM m
"""


def _register_clips_query() -> None:
    from macrobase_spark.queries import register

    @register("clips_constraint_suite", _CONSTRAINT_ORACLE)
    def clips_constraint_suite(spark, sf_dir):
        """Declarative check suite over the scored clips relation: every
        constraint compiled into ONE aggregation pass (plus Catalyst's
        Expand for the exact-uniqueness distinct)."""
        scored = spark.read.parquet(scored_parquet(spark, sf_dir))
        return verify(scored, clips_checks())


_register_clips_query()


def suite_status(results: DataFrame) -> DataFrame:
    """Per-check verdict: a check passes iff none of its error-level
    constraints failed (warning-level failures degrade to 'warning')."""
    fail = F.col("status") == "fail"
    return results.groupBy("check").agg(
        F.count(F.lit(1)).alias("n_constraints"),
        F.sum(fail.cast("long")).alias("n_failed"),
        F.when(
            F.sum((fail & (F.col("level") == "error")).cast("long")) > 0, F.lit("fail")
        )
        .when(F.sum(fail.cast("long")) > 0, F.lit("warning"))
        .otherwise(F.lit("pass"))
        .alias("verdict"),
    )


# ---- config-declared suites (reference parity: yaml-driven pipelines) -------

# every fluent builder method a config may invoke; anything else is a
# config error, reported with the check/constraint position.
CONFIG_CONSTRAINT_TYPES = frozenset(
    {
        "has_size",
        "is_complete",
        "has_completeness",
        "are_complete",
        "is_unique",
        "has_distinctness",
        "has_min",
        "has_max",
        "has_mean",
        "has_sum",
        "has_stddev",
        "has_quantile",
        "satisfies",
        "is_non_negative",
        "is_positive",
        "is_contained_in",
        "has_pattern",
    }
)


def checks_from_config(conf: dict | list) -> list[Check]:
    """Build a Check suite from plain data (the parsed form of a YAML/JSON
    config) — the reference engine is config-driven end to end
    (alexp/.../pipeline/Pipelines.java builds pipelines from yaml configs;
    sql/ parses SQL text), and a fleet-scale validation tier declares its
    expectations in reviewed config files, not code. Shape:

        checks:
          - name: schema
            level: error        # optional, default 'error'
            constraints:
              - {type: has_size, min_rows: 1000}
              - {type: is_complete, column: clip_id}
              - {type: has_quantile, column: dur_ms, q: 0.5, at_most: 10000}

    `type` selects the fluent builder method; the remaining keys are its
    keyword arguments verbatim (so the config vocabulary IS the Python
    API — one documentation surface). Raises ValueError with the
    check/constraint position on unknown types or bad arguments."""
    if isinstance(conf, dict):
        conf = conf.get("checks", [])
    checks: list[Check] = []
    for ci, cdef in enumerate(conf):
        if not isinstance(cdef, dict) or "name" not in cdef:
            raise ValueError(f"checks[{ci}]: each check needs a 'name'")
        check = Check(str(cdef["name"]), str(cdef.get("level", "error")))
        for ki, kdef in enumerate(cdef.get("constraints", [])):
            where = f"checks[{ci}] ({check.name}) constraints[{ki}]"
            if not isinstance(kdef, dict) or "type" not in kdef:
                raise ValueError(f"{where}: each constraint needs a 'type'")
            ctype = str(kdef["type"])
            if ctype not in CONFIG_CONSTRAINT_TYPES:
                raise ValueError(
                    f"{where}: unknown constraint type {ctype!r} "
                    f"(expected one of {sorted(CONFIG_CONSTRAINT_TYPES)})"
                )
            kwargs = {k: v for k, v in kdef.items() if k != "type"}
            try:
                getattr(check, ctype)(**kwargs)
            except TypeError as ex:
                raise ValueError(f"{where}: bad arguments for {ctype}: {ex}") from ex
        checks.append(check)
    return checks


def verify_config(
    df: DataFrame, conf: dict | list, group_by: list[str] | None = None
) -> DataFrame:
    """`verify(df, checks_from_config(conf))` — one aggregation pass, same
    RESULT_SCHEMA. `group_by` may also come from the config ('group_by'
    key) when `conf` is a dict; an explicit argument wins."""
    if group_by is None and isinstance(conf, dict):
        group_by = conf.get("group_by")
    return verify(df, checks_from_config(conf), group_by=group_by)


# ---------------------------------------------------------------------------
# schema validation — the "schema" half of "schema + constraint validation"
# ---------------------------------------------------------------------------

SCHEMA_VIOLATIONS_SCHEMA = (
    "column string, issue string, expected string, actual string"
)


def schema_check(
    df: DataFrame,
    expected: list,
    allow_extra: bool = True,
    check_nullable: bool = False,
) -> DataFrame:
    """Declared-schema validation: expected column names/types (and
    optionally nullability) vs the DataFrame's actual schema. `expected`
    is a list of (name, type) tuples or {name, type, nullable} dicts, with
    types as Spark simpleString names ('string', 'int', 'bigint',
    'binary', ...). Returns one violation row per problem:

        missing          declared column absent
        type_mismatch    declared type != actual type
        nullable_mismatch  declared non-nullable but actual nullable
        unexpected       actual column not declared (allow_extra=False)

    Pure metadata — compares the Catalyst schema on the driver, launches
    NO job (at 10^12 rows a schema gate must never cost a scan); the
    result is a tiny local DataFrame so it composes with the violation
    sinks like every other check."""
    exp = []
    for e in expected:
        if isinstance(e, dict):
            exp.append((e["name"], e["type"], e.get("nullable", True)))
        else:
            name, typ = e[0], e[1]
            exp.append((name, typ, e[2] if len(e) > 2 else True))
    actual = {f.name: f for f in df.schema.fields}
    rows = []
    for name, typ, nullable in exp:
        f = actual.get(name)
        if f is None:
            rows.append((name, "missing", typ, None))
        elif f.dataType.simpleString() != typ:
            rows.append((name, "type_mismatch", typ, f.dataType.simpleString()))
        elif not nullable and f.nullable and check_nullable:
            rows.append((name, "nullable_mismatch", "not null", "nullable"))
    if not allow_extra:
        declared = {name for name, _, _ in exp}
        for f in df.schema.fields:
            if f.name not in declared:
                rows.append((f.name, "unexpected", None, f.dataType.simpleString()))
    return local_rows(df.sparkSession, rows, SCHEMA_VIOLATIONS_SCHEMA)


def schema_from_config(conf: dict) -> tuple[list, bool, bool]:
    """Parse a config 'schema' block: {columns: [{name, type, nullable?}],
    allow_extra?: bool, check_nullable?: bool} -> schema_check args."""
    return (
        conf.get("columns", []),
        bool(conf.get("allow_extra", True)),
        bool(conf.get("check_nullable", False)),
    )


# The oracle derives the ACTUAL schema independently from the parquet
# footers (DuckDB DESCRIBE), mapped to Spark's type vocabulary — so the
# check is certified against the file metadata, not against Spark's own
# reading of it. The declared spec plants one wrong type (dur_ms declared
# bigint, actually int), one missing column (language), and forbids
# extras (codec is undeclared), so every issue class is exercised.
_SCHEMA_EXPECTED = [
    ("clip_id", "string"),
    ("bytes", "binary"),
    ("sr_hz", "int"),
    ("dur_ms", "bigint"),
    ("language", "string"),
    ("transcript", "string"),
]

_SCHEMA_ORACLE = f"""
WITH actual AS (
  SELECT column_name AS col,
         CASE column_type
           WHEN 'VARCHAR' THEN 'string' WHEN 'BLOB' THEN 'binary'
           WHEN 'INTEGER' THEN 'int' WHEN 'BIGINT' THEN 'bigint'
           WHEN 'DOUBLE' THEN 'double' WHEN 'FLOAT' THEN 'float'
           WHEN 'BOOLEAN' THEN 'boolean' WHEN 'TIMESTAMP' THEN 'timestamp'
           ELSE lower(column_type) END AS dtype
  FROM (DESCRIBE SELECT * FROM {clips_table_path.scan()})
),
expected(col, dtype) AS (VALUES
  ('clip_id', 'string'), ('bytes', 'binary'), ('sr_hz', 'int'),
  ('dur_ms', 'bigint'), ('language', 'string'), ('transcript', 'string')
)
SELECT e.col AS "column", 'missing' AS issue, e.dtype AS expected,
       NULL::VARCHAR AS actual
FROM expected e LEFT JOIN actual a USING (col) WHERE a.col IS NULL
UNION ALL
SELECT e.col, 'type_mismatch', e.dtype, a.dtype
FROM expected e JOIN actual a USING (col) WHERE e.dtype != a.dtype
UNION ALL
SELECT a.col, 'unexpected', NULL, a.dtype
FROM actual a LEFT JOIN expected e USING (col) WHERE e.col IS NULL
"""


def _register_schema_query() -> None:
    from macrobase_spark.queries import register

    @register("clips_schema_check", _SCHEMA_ORACLE)
    def clips_schema_check(spark, sf_dir):
        """Declared-schema gate over the clips table: the oracle recomputes
        the same violations from the parquet footers via DuckDB DESCRIBE
        (independent of Spark's schema reading). The spec deliberately
        plants a wrong type, a missing column, and an undeclared extra."""
        return schema_check(
            clips_table(spark, sf_dir), _SCHEMA_EXPECTED, allow_extra=False
        )


_register_schema_query()
