"""PII detection / redaction — the privacy gate of a training corpus.

Before text enters a training set, pipelines scan for (and usually
redact) personally identifying strings: email addresses, phone-like
digit runs, bare IPv4 addresses. This module states the scan as pure
`regexp_*` column expressions — one map-only Project, no UDF — using
patterns restricted to the common subset of Java regex (Spark) and RE2
(DuckDB): character classes, bounded repetition, alternation; NO
lookaround, NO backreferences. That restriction is what makes the scan
engine-portable, and the DuckDB oracle replays every count and every
redaction verbatim.

`pii_counts` appends per-doc match counts, each pattern counted on the
text with earlier patterns already redacted so the counts certify
exactly what `pii_redact` rewrites; `pii_redact` applies typed
placeholders (<EMAIL>/<IP>/<PHONE>) with email first, because phone/ip
patterns can match inside an email's local part.

Reference parity: none — the reference engine predates corpus-hygiene
tooling; this extends the build brief's text-analysis contract next to
operators/text.py (quality, lang-ID, contamination).

Scale: map-only over the text column; the only Exchange is the audit
rollup's group-by. Redaction output is written columnar alongside the
original (never mutating source data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from macrobase_spark.artifacts import artifact, clip_fixture_n
from macrobase_spark.functions.rows import map_rows
from macrobase_spark.queries import register

# Java-regex ∩ RE2 portable patterns (no lookaround, no backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"


def _count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_email / n_phone / n_ip match counts per document.

    Counts are REDACTION-CONSISTENT: each pattern counts on the text with
    the earlier patterns already redacted (email, then ip, then phone —
    the same order pii_redact applies), so n_phone certifies exactly the
    <PHONE> rewrites redaction would perform. Counting every pattern on
    the raw text instead would double-count overlaps: in
    '123-555-0042@example.com' the phone pattern matches inside the
    email's local part, but redaction (email first) emits one <EMAIL>
    and no <PHONE>."""
    t = F.col(text_col)
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    return df.withColumns(
        {
            "n_email": _count(t, EMAIL_RE),
            "n_ip": _count(after_email, IPV4_RE),
            "n_phone": _count(after_ip, PHONE_RE),
        }
    )


def pii_redact(df: DataFrame, text_col: str = "text", out_col: str = "redacted") -> DataFrame:
    """Typed-placeholder redaction in email→ip→phone order. Email first
    matters: both the phone and ip patterns can match inside an email's
    local part ('123-555-0042@x.com', '10.0.0.1@x.com'), and redacting
    the email first yields the single <EMAIL> a reader expects. The
    ip-vs-phone order is inert (the phone pattern admits only '-'/' '
    separators and can never overlap a dotted quad) — kept fixed so the
    counts above stay aligned with the rewrites."""
    t = F.col(text_col)
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return df.withColumn(out_col, red)


_CLASS_EXPR = """
CASE WHEN n_email + n_phone + n_ip = 0 THEN 'clean'
     WHEN n_email + n_phone + n_ip >= 3 THEN 'pii_heavy'
     ELSE 'pii_light' END
"""


# ---- deterministic planted fixture + registered query -----------------------


def generate_pii_docs(spark, n: int) -> DataFrame:
    """Documents with planted PII (disjoint-residue classes):
    - id % 11 == 3 -> one email            (pii_light)
    - id % 13 == 4 -> one phone + one ip   (pii_light, 2 hits)
    - id % 17 == 6 -> 2 emails + phone + ip (pii_heavy, 4 hits)
    - else         -> clean prose
    """
    def gen(i):
        base = f"doc {i} alpha beta gamma delta epsilon zeta"
        if i % 11 == 3:
            txt = f"{base} contact user{i}@example.com for details"
        elif i % 13 == 4:
            txt = f"{base} call +123-555-{i % 10000:04d} from 10.0.{i % 256}.{(i * 7) % 256} now"
        elif i % 17 == 6:
            txt = (
                f"{base} a{i}@mail.org b{i}@mail.org "
                f"123-555-{i % 10000:04d} host 192.168.{i % 256}.{(i * 3) % 256}"
            )
        else:
            txt = f"{base} nothing sensitive here {i * 31}"
        return [(i, txt)]

    parts = max(spark.sparkContext.defaultParallelism, 4)
    return map_rows(
        spark.range(0, n, numPartitions=parts), gen, "doc_id long, text string"
    )


@artifact("pii_docs", 1)
def pii_docs_parquet(spark, sf_dir: str, out: str) -> None:
    n = clip_fixture_n(sf_dir)
    generate_pii_docs(spark, n).write.mode("overwrite").parquet(out)


_PD = pii_docs_parquet.scan()


@register(
    "pii_scan_documents",
    f"""
    WITH staged AS (
      SELECT doc_id, text,
             regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS after_email
      FROM {_PD}
    ), counted AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_email,
             len(regexp_extract_all(after_email, '{IPV4_RE}')) AS n_ip,
             len(regexp_extract_all(
                 regexp_replace(after_email, '{IPV4_RE}', '<IP>', 'g'),
                 '{PHONE_RE}')) AS n_phone,
             length(regexp_replace(regexp_replace(after_email,
                 '{IPV4_RE}', '<IP>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g')) AS red_len
      FROM staged
    ), classed AS (
      SELECT *, {_CLASS_EXPR} AS pii_class FROM counted
    )
    SELECT pii_class,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_email) AS BIGINT) AS total_email,
           CAST(sum(n_phone) AS BIGINT) AS total_phone,
           CAST(sum(n_ip) AS BIGINT) AS total_ip,
           CAST(sum(red_len) AS BIGINT) AS total_redacted_len
    FROM classed GROUP BY pii_class
    """,
)
def pii_scan_documents(spark, sf_dir: str) -> DataFrame:
    """Per-class PII audit over the planted fixture: match counts AND the
    total redacted-text length (certifying the actual regexp_replace
    rewrites, not just detection) replay verbatim in DuckDB."""
    docs = spark.read.parquet(pii_docs_parquet(spark, sf_dir))
    counted = pii_redact(pii_counts(docs)).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ip",
        F.length("redacted").alias("red_len"),
        F.expr(_CLASS_EXPR.strip()).alias("pii_class"),
    )
    return counted.groupBy("pii_class").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_email").cast("long").alias("total_email"),
        F.sum("n_phone").cast("long").alias("total_phone"),
        F.sum("n_ip").cast("long").alias("total_ip"),
        F.sum("red_len").cast("long").alias("total_redacted_len"),
    )
