"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure column expressions (JVM-side, inside
whole-stage codegen) — a 100 TB text sweep never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from macrobase_spark.queries import register

# tiny deterministic stopword votes per language (heuristic n-gram/stopword
# language ID; good enough to route text, not a classifier)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "with", "for"],
    "es": ["el", "la", "de", "los", "con"],
    "fr": ["le", "la", "les", "des", "avec"],
    "de": ["der", "die", "das", "und", "mit"],
}


def fingerprint_expr(words_expr: str, n: int = 3) -> Column:
    """Document fingerprint: min md5 over word n-grams (winnowing-style,
    engine-portable)."""
    return F.array_min(
        F.expr(
            f"transform(sequence(0, greatest(size({words_expr}) - {n}, -1)), "
            f"i -> md5(concat_ws(' ', slice({words_expr}, i + 1, {n}))))"
        )
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


@register(
    "text_quality",
    """
    WITH q AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_tok), 6) AS avg_tokens,
           round(avg(uniq_ratio), 6) AS avg_uniq_ratio
    FROM q GROUP BY source
    """,
)
def text_quality_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    q = d.select(
        "source",
        F.size(words).alias("n_tok"),
        (F.size(F.array_distinct(words)) / F.size(words).cast("double")).alias("uniq_ratio"),
    )
    return q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        F.round(F.avg("uniq_ratio"), 6).alias("avg_uniq_ratio"),
    )


@register(
    "token_count_stats",
    """
    WITH q AS (SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents)
    SELECT lang,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           round(CAST(quantile_cont(n_tok, 0.5) AS DOUBLE), 6) AS med_tokens
    FROM q GROUP BY lang
    """,
)
def token_count_stats_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = d.select("lang", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    return q.groupBy("lang").agg(
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.round(F.percentile("n_tok", 0.5), 6).alias("med_tokens"),
    )


@register(
    "lang_id",
    """
    WITH p AS (
      SELECT lang,
             CASE
               WHEN len(list_intersect(string_split(text, ' '),
                    ['the','and','of','with','for'])) >=
                    len(list_intersect(string_split(text, ' '),
                    ['el','la','de','los','con']))
                AND len(list_intersect(string_split(text, ' '),
                    ['the','and','of','with','for'])) > 0
               THEN 'en'
               WHEN len(list_intersect(string_split(text, ' '),
                    ['el','la','de','los','con'])) > 0
               THEN 'es'
               ELSE 'other'
             END AS pred
      FROM documents)
    SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred
    """,
)
def lang_id_q(spark, sf_dir):
    """Stopword-vote language ID (en/es markers only here, to stay identical
    to the oracle's CASE ladder; the library version supports more)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    en = F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])))
    es = F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in _LANG_MARKERS["es"]])))
    pred = (
        F.when((en >= es) & (en > 0), F.lit("en"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("other"))
    )
    return d.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "doc_fingerprint",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents)
    SELECT doc_id,
           list_min(list_transform(range(1, len(ws) - 1),
                    i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS fp
    FROM w
    """,
)
def doc_fingerprint_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.withColumn("_w", F.split(F.col("text"), " ")).select(
        "doc_id", fingerprint_expr("_w", 3).alias("fp")
    )


# ---------------------------------------------------------------------------
# training-data hygiene: benchmark decontamination + intra-doc repetition
# ---------------------------------------------------------------------------


def word_ngrams_expr(words_expr: str, n: int) -> Column:
    """Distinct word n-grams of an array<string> column as array<string>
    (pure expression — stays in codegen)."""
    parts = ", ".join(f"{words_expr}[i + {k}]" for k in range(n))
    # guard size < n explicitly: sequence(0, -1) generates a DESCENDING
    # range (the count_sliding_window lesson), which would emit junk grams
    return F.when(
        F.expr(f"size({words_expr})") < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size({words_expr}) - {n}), "
                f"i -> concat_ws(' ', {parts}))"
            )
        )
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark-decontamination sweep: flag corpus docs sharing word
    n-grams with a benchmark/eval set — the standard guard against eval
    leakage in a training corpus.

    Scale design: the benchmark side is SMALL by nature (eval suites are
    thousands of docs, not billions), so its distinct-shingle set is
    broadcast and the corpus pass is map-only explode -> broadcast hash
    join; the per-doc overlap count partial-aggregates map-side (shingles
    of one doc stay in one scan partition). Nothing shuffles the corpus at
    100 TB except the final (doc_id)-grain count."""
    # project the words array ONCE per row before shingling — the n-gram
    # expression references its words operand ~n+2 times (each transform
    # part + the size guards), and inlining `split()` there re-tokenizes
    # the document per reference
    bench_sh = (
        benchmark.select(F.split(F.col(text_col), " ").alias("__ws"))
        .select(F.explode(word_ngrams_expr("__ws", n)).alias("sh"))
        .distinct()
    )
    corp_sh = corpus.select(
        id_col, F.split(F.col(text_col), " ").alias("__ws")
    ).select(
        id_col,
        F.explode(word_ngrams_expr("__ws", n)).alias("sh"),
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )


def duplicate_ngram_fraction(words: Column, n: int, words_expr: str) -> Column:
    """Gopher-style repetition signal: fraction of a document's word
    n-grams that are duplicates of an earlier n-gram (0 = no repetition)."""
    parts = ", ".join(f"{words_expr}[i + {k}]" for k in range(n))
    all_grams = F.expr(
        f"transform(sequence(0, greatest(size({words_expr}) - {n}, -1)), "
        f"i -> concat_ws(' ', {parts}))"
    )
    return F.when(
        F.size(words) < n, F.lit(0.0)
    ).otherwise(
        1.0 - F.size(F.array_distinct(all_grams)) / F.size(all_grams).cast("double")
    )


@register(
    "benchmark_contamination",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
          FROM w WHERE len(ws) >= 3),
    bench AS (SELECT DISTINCT sh FROM g WHERE doc_id % 97 = 0)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM g JOIN bench USING (sh)
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """,
)
def benchmark_contamination_q(spark, sf_dir):
    """Decontamination demo on the documents table: docs with
    doc_id % 97 == 0 stand in for the benchmark; every other doc sharing a
    word 3-gram with them is flagged with its overlap count."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return benchmark_contamination(corpus, bench, "text", "doc_id", 3)


@register(
    "doc_repetition_stats",
    """
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') ws FROM documents),
    g AS (SELECT source,
                 CASE WHEN len(ws) < 3 THEN 0.0
                      ELSE 1.0 - len(list_distinct(list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                           / CAST(len(ws) - 2 AS DOUBLE) END AS rep
          FROM w)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(rep), 6) AS avg_rep,
           round(max(rep), 6) AS max_rep
    FROM g GROUP BY source
    """,
)
def doc_repetition_stats_q(spark, sf_dir):
    """Per-source repetition profile (duplicate word-3-gram fraction per
    doc, Gopher-style quality rule) — one codegen projection + one
    partial-aggregated groupBy."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    rep = duplicate_ngram_fraction(words, 3, "split(text, ' ')")
    return (
        d.select("source", rep.alias("rep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("rep"), 6).alias("avg_rep"),
            F.round(F.max("rep"), 6).alias("max_rep"),
        )
    )
