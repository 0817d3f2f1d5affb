"""Deduplication operators for training-data pipelines.

Five families, each Spark-first:

- exact: hash group-by on the content (or md5 of it) — one shuffle, partial
  agg absorbs hot values.
- n-gram Jaccard: inverted-index self-join on shingles (never O(n²) rows);
  per-doc shingle sets are built with pure array expressions, zero Python.
- MinHash + LSH: per-row signature (array expressions over md5 — no shuffle
  at all), band keys, then ONE self-join on (band, key) to find candidates.
  This is the 100 TB path: cost is O(n · bands), not O(n²).
- SimHash: 64-bit signature from xxhash64 token hashes (per-row expression),
  16-bit bands for hamming-neighbor candidates.
- embedding cosine near-dup: see macrobase_spark.operators.similarity.

Jaccard, MinHash, SimHash and the audio fingerprint near-dups
(operators/audio_fp.py) share one bucket self-join, `banded_pairs`; it and
the LSH cosine path (operators/similarity.py) share one hot-bucket guard,
`bucket_guard`, whose drops are observed in `GUARD_DROPS`.

The md5-based MinHash is deliberately engine-portable (identical hex in
Spark and DuckDB) so the oracle can verify the *exact* candidate set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from macrobase_spark.queries import register


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------


def with_shingles(df: DataFrame, text_col: str, n: int = 3, out: str = "shingles") -> DataFrame:
    """Word n-gram set per row, as a pure array expression (0-based Spark
    subscripts), distinct."""
    return df.withColumn("_w", F.split(F.col(text_col), " ")).withColumn(
        out,
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(size(_w) - {n}, -1)), "
                f"i -> concat_ws(' ', slice(_w, i + 1, {n})))"
            )
        ),
    ).drop("_w")


def minhash_signature(shingles: str, num_hashes: int) -> list:
    """MinHash signature columns: min over shingles of md5(shingle # seed).

    Hex-string min is a valid hash-min (uniform over the hex space); md5 is
    byte-identical across engines, which makes the LSH candidate set
    oracle-verifiable."""
    return [
        F.array_min(F.expr(f"transform({shingles}, s -> md5(concat(s, '#', '{j}')))")).alias(
            f"mh{j}"
        )
        for j in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Groups appearing more than once; emits the group + multiplicity."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


class GuardDrops:
    """What one guarded relation dropped: `.get` is {"rows": hot rows
    dropped, "buckets": hot buckets dropped}.

    The counts are observed (`DataFrame.observe`) as the guarded rows go by,
    so they arrive with the relation's first action and cost no job of their
    own; `.get` blocks until that action has run. When that action's result
    is empty, Spark's adaptive planner may prune the guarded stage from the
    finished plan before it reports, and the observation comes back empty;
    `.get` then counts the hot rows with one job."""

    def __init__(self, name: str, sized: DataFrame, counts: list[Column]):
        self.observation = Observation(name)
        self._sized, self._counts = sized, counts

    @property
    def get(self) -> dict:
        if self.observation._jo.getRow().length() == 0:  # pruned, see above
            return self._sized.agg(*self._counts).first().asDict()
        return self.observation.get


GUARD_DROPS: dict[str, GuardDrops] = {}
"""Operator name -> the drops of its latest guarded relation."""


def bucket_guard(
    df: DataFrame, key_cols: list[str], max_bucket: int | None, name: str | None
) -> DataFrame:
    """Drop the rows of every bucket (rows sharing `key_cols`) larger than
    `max_bucket`; None returns `df` unchanged — the exact relation the
    oracles replay.

    The bucket size is `count(1) OVER (PARTITION BY key_cols)`: the window
    hash-partitions on the key, which is the partitioning a self-join on
    the same key needs, so the guard rides the join's own exchange and
    launches no job. What it drops is observed on the way through into
    `GUARD_DROPS[name]` instead of being re-counted by a job of its own:
    `rows` is the hot row count, `buckets` is Σ 1/size over the hot rows.
    name=None observes nothing (the second side of a self-join)."""
    if max_bucket is None:
        return df
    sized = df.withColumn("_bn", F.count(F.lit(1)).over(Window.partitionBy(*key_cols)))
    hot = F.col("_bn") > max_bucket
    if name is not None:
        counts = [
            F.count(F.when(hot, 1)).alias("rows"),
            F.coalesce(F.round(F.sum(F.when(hot, 1 / F.col("_bn")))), F.lit(0))
            .cast("long")
            .alias("buckets"),
        ]
        drops = GUARD_DROPS[name] = GuardDrops(name, sized, counts)
        sized = sized.observe(drops.observation, *counts)
    return sized.filter(~hot).drop("_bn")


def banded_pairs(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int | None,
    name: str,
    probe: tuple[str, Column] | None = None,
) -> DataFrame:
    """Bucket self-join: every pair of rows of `df` that share `key_cols`,
    once (a_<id> < b_<id>), with each column of `df` as a_<col> and b_<col>.
    Only rows sharing a bucket ever meet — never O(n²) — and buckets larger
    than `max_bucket` are dropped first (`bucket_guard`, sized on the exact
    keys). Side a reports the drops: it is the side every join strategy
    reads to its end (the streamed side of a sort-merge join, and the
    shuffled side under `probe`).

    `probe` = (key column, exploding expression) replaces that key on side
    a only with the rows the expression explodes to (multi-probe LSH: side
    a probes neighbouring keys, side b stays on the exact ones)."""
    a = bucket_guard(df, key_cols, max_bucket, name)
    if probe is not None:
        a = a.withColumn(*probe)
    a = a.select(*[F.col(c).alias(f"a_{c}") for c in df.columns])
    b = bucket_guard(df, key_cols, max_bucket, None)
    b = b.select(*[F.col(c).alias(f"b_{c}") for c in df.columns])
    on = reduce(lambda x, y: x & y, [F.col(f"a_{k}") == F.col(f"b_{k}") for k in key_cols])
    return a.join(b, on & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold, via an inverted
    index: explode shingles, self-join on the shingle (only docs sharing a
    shingle ever meet), count the intersection, derive the union from the
    per-doc set sizes.

    Scale guard (the r1 verdict's hot-shingle finding): a stop-phrase
    shingle shared by f docs contributes f² join rows — one shingle in 1%
    of a 10^9-doc corpus is quadratic death. `max_doc_freq` drops shingles
    with document frequency above the cap from the INDEX (set sizes keep
    the full sets, so the reported Jaccard becomes a tight lower bound —
    a true near-dup pair shares many rare shingles and still surfaces).
    None = exact semantics (what the oracle verifies); the drops are
    observed in GUARD_DROPS["jaccard_pairs"] (rows = index rows, buckets =
    shingles)."""
    sh = with_shingles(df.select(id_col, text_col), text_col, n)
    e = sh.select(
        F.col(id_col).alias("doc"), F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    inter = (
        banded_pairs(e, "doc", ["s"], max_doc_freq, "jaccard_pairs")
        .groupBy(F.col("a_doc").alias("doc_a"), F.col("b_doc").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a_sz").alias("sa"),
            F.first("b_sz").alias("sb"),
        )
    )
    j = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return inter.filter(j >= threshold).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 6,
    bands: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash signature.

    Per-row work is pure expressions; the only shuffle is on the (band, key)
    bucket key. Pairs come from a bucket-key SELF-JOIN (like
    `simhash_candidates`), NOT a per-bucket `collect_list` — a collect_list
    materializes each bucket as one array on one reducer, so a single
    degenerate bucket (mass-duplicated boilerplate, which is *common* in web
    crawl: every member hashes to the same band key) OOMs one task at corpus
    scale. The join spreads a size-s bucket's s·(s−1)/2 output rows across
    the shuffle instead of one array.

    The default is the exact (unguarded) pair join the oracle replays.
    Scale guard, opt-in: buckets larger than `max_bucket` are EXCLUDED from
    the pair join — every member pair inside such a bucket is a near-dup of
    every other, so the quadratic pair list adds no information beyond the
    bucket id; recover them group-wise from the bucket key if needed. The
    guard rides the pair join's exchange (`bucket_guard`: no job of its
    own) and its drops are observed in
    GUARD_DROPS["minhash_lsh_candidates"]."""
    rows_per_band = num_hashes // bands
    sh = with_shingles(df.select(id_col, text_col), text_col, n)
    sig = sh.select(F.col(id_col).alias("doc"), *minhash_signature("shingles", num_hashes))
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(
                F.concat(*[F.col(f"mh{bi * rows_per_band + r}") for r in range(rows_per_band)])
            ).alias("key"),
        )
        for bi in range(bands)
    ]
    exploded = sig.select("doc", F.explode(F.array(*band_cols)).alias("bk"))
    pairs = banded_pairs(exploded, "doc", ["bk"], max_bucket, "minhash_lsh_candidates")
    return pairs.select(F.col("a_doc").alias("doc_a"), F.col("b_doc").alias("doc_b")).distinct()


def simhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out: str = "simhash",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: per-bit majority votes over token hashes as
    conditional-sum aggregates in ONE hash aggregation (whole-stage codegen;
    partial aggregation collapses each doc's tokens map-side), bits
    reassembled with a flat expression.

    token_hash: "xxhash64" → 64-bit JVM hash (fastest); "md5_60" → 60 bits
    from the md5 hex prefix — byte-identical in DuckDB
    (CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT)), which makes the
    candidate set oracle-verifiable.

    Returns (id_col, simhash). A nested higher-order-lambda formulation is
    ~30× slower — Spark evaluates array lambdas interpreted, per element."""
    n_bits = simhash_bits(token_hash)
    if token_hash == "xxhash64":
        hx = "xxhash64(_w)"
    elif token_hash == "md5_60":
        hx = "cast(conv(substring(md5(_w), 1, 15), 16, 10) as long)"
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    # collapse repeated tokens per doc BEFORE hashing: each distinct
    # (doc, token) is hashed once and its vote weighted by the occurrence
    # count — identical votes (sum over occurrences = count × ±1), one hash
    # per distinct pair instead of per token instance
    toks = (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(id_col, F.expr(hx).alias("_h"), "_n")
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(_h, {i}) & 1) = 1"), F.col("_n")).otherwise(-F.col("_n"))
        ).alias(f"_v{i}")
        for i in range(n_bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(n_bits):
        term = F.when(
            F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias(out))


def simhash_bits(token_hash: str) -> int:
    return 64 if token_hash == "xxhash64" else 60


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int | None = 3,
    n_bands: int = 4,
    max_bucket: int | None = 10000,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs.

    Banding: docs sharing any (n_bits/n_bands)-bit band of the signature
    become candidates — with n_bands = max_hamming + 1 this catches EVERY
    pair within max_hamming (pigeonhole), then candidates are verified with
    an exact popcount on the XOR of signatures. Pass max_hamming=None for
    the raw (unverified) candidate set.

    Scale guard (the r1 verdict's quadratic-bucket finding): the band key
    space is n_bands · 2^band_bits; past ~10^7 docs the average bucket holds
    n/2^band_bits docs and the within-bucket self-join goes quadratic.
    Raise n_bands only together with a wider signature; the practical
    control is `max_bucket` — buckets larger than it (near-identical boiler-
    plate clusters; every member pair is a near-dup of every other, so
    emitting the quadratic pair list adds no information) are EXCLUDED from
    the pair join, and the drops are observed in
    GUARD_DROPS["simhash_candidates"]. Set max_bucket=None for the exact
    semantics the oracle verifies."""
    sig = simhash_signature(df.select(id_col, text_col), id_col, text_col, token_hash=token_hash)
    band_bits = simhash_bits(token_hash) // n_bands
    mask = (1 << band_bits) - 1
    bands = sig.select(
        F.col(id_col).alias("doc"),
        F.col("simhash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> "
                f"struct(b AS band, shiftright(simhash, b * {band_bits}) & {mask} AS key))"
            )
        ).alias("bk"),
    )
    pairs = banded_pairs(bands, "doc", ["bk"], max_bucket, "simhash_candidates").select(
        F.col("a_doc").alias("doc_a"),
        F.col("b_doc").alias("doc_b"),
        F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))).alias("hamming"),
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs.distinct()


# ---------------------------------------------------------------------------
# registered queries (driver-verified)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, count(*) AS dup_count
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text_hash", F.md5("text")
    )
    return exact_dedup(d, ["text_hash"])


@register(
    "dedup_ngram_jaccard",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    d AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) sh FROM w),
    e AS (SELECT doc_id, len(sh) sz, unnest(sh) s FROM d),
    p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter,
                 any_value(a.sz) sa, any_value(b.sz) sb
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(inter / (sa + sb - inter), 6) AS jaccard
    FROM p WHERE inter / (sa + sb - inter) >= 0.2
    """,
)
def dedup_ngram_jaccard_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)


@register(
    "dedup_minhash_lsh",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    d AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) sh FROM w),
    mh AS (SELECT doc_id,
        list_min(list_transform(sh, s -> md5(s || '#' || '0'))) m0,
        list_min(list_transform(sh, s -> md5(s || '#' || '1'))) m1,
        list_min(list_transform(sh, s -> md5(s || '#' || '2'))) m2,
        list_min(list_transform(sh, s -> md5(s || '#' || '3'))) m3,
        list_min(list_transform(sh, s -> md5(s || '#' || '4'))) m4,
        list_min(list_transform(sh, s -> md5(s || '#' || '5'))) m5
      FROM d),
    bands AS (
      SELECT doc_id, 0 AS band, md5(m0 || m1 || m2) AS key FROM mh
      UNION ALL
      SELECT doc_id, 1 AS band, md5(m3 || m4 || m5) AS key FROM mh)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_q(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_candidates(d, "doc_id", "text", n=3, num_hashes=6, bands=2)


def _simhash_oracle_sql() -> str:
    """The md5_60 simhash rendered in DuckDB SQL (bit-identical to the Spark
    expression: same md5 prefix hash, same votes, same 15-bit bands)."""
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(60)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)" for i in range(60)
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS th FROM toks),
    v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
    s AS (SELECT doc_id, {bits} AS sim FROM v),
    bands AS (SELECT doc_id, sim, b AS band, (sim >> (b * 15)) & 32767 AS key
              FROM s, (SELECT unnest([0, 1, 2, 3]) AS b)),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.sim, b.sim)) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT DISTINCT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
    """


@register("dedup_simhash", _simhash_oracle_sql())
def dedup_simhash_q(spark, sf_dir):
    """Oracle-verified flavor: md5-based 60-bit signature (engine-portable),
    no bucket cap. Production at corpus scale: token_hash='xxhash64' (faster
    JVM hash) with the default max_bucket guard."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_candidates(
        d, "doc_id", "text", token_hash="md5_60", max_bucket=None
    )
