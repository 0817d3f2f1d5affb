"""Connected components over candidate-duplicate pairs — the clustering
step that completes the dedup story.

Every candidate generator in operators/dedup.py / similarity.py /
audio_fp.py emits PAIRS (doc_a, doc_b); corpus construction needs
CLUSTERS — "these 17 documents are all the same article; keep one".
Pair→cluster is transitive closure, i.e. connected components.

Algorithm: min-label propagation with pointer jumping. Every node starts
labeled with the least of its own id and its neighbors' ids; each round
it takes the least of its label, its neighbors' labels and its label's
label. The last term is pointer jumping: it doubles how far a label
travels per round, so a path of n nodes closes in about log2(n) rounds
instead of n. Each round is one plan — the neighbor and label lookups are
one join on the looked-up id, then one min-aggregate on (node) — and it is
localCheckpoint'd, so the lineage (and its replay cost) stays O(1)
instead of O(rounds). The number of lowered labels is observed
(`DataFrame.observe`) as that checkpoint runs, so convergence costs no job
of its own. At the fixpoint labels agree across every edge and the
component minimum keeps its own id, so every node carries exactly the
smallest id of its component (a deterministic representative). A graph
that has not converged in MAX_ROUNDS rounds raises: labels that split a
real component are never returned.

The DuckDB oracle replays the closure with a recursive CTE (symmetric
edge closure → min reachable id per node), so cluster membership —
not just pair generation — is engine-certified end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import macrobase_spark.operators.dedup  # noqa: F401  (registers the pair oracle)
from macrobase_spark.queries import ORACLES, register

MAX_ROUNDS = 40
"""Rounds after which connected_components gives up and raises. Pointer
jumping closes a path of 2^k nodes in about k + 1 rounds."""


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(node, rep) for every node appearing in `pairs`; rep = min id of
    the node's component. Driver-orchestrated rounds, one checkpointed
    plan each; raises RuntimeError past MAX_ROUNDS rounds."""
    sym = (
        pairs.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .unionByName(pairs.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
        .localCheckpoint()
    )
    labels = sym.groupBy("node").agg(F.least(F.min("nbr"), F.col("node")).alias("rep"))
    for _ in range(MAX_ROUNDS):
        # each node reads the labels of its neighbors and of its own label
        reads = sym.withColumn("own", F.lit(False)).unionByName(
            labels.select("node", F.col("rep").alias("nbr"), F.lit(True).alias("own"))
        )
        seen = reads.join(
            labels.select(F.col("node").alias("nbr"), F.col("rep").alias("cand")), "nbr"
        )
        step = seen.groupBy("node").agg(
            F.min("cand").alias("rep"), F.max(F.when(F.col("own"), F.col("nbr"))).alias("old")
        )
        lowered = Observation()
        labels = (
            step.observe(lowered, F.count_if(F.col("rep") < F.col("old")).alias("n"))
            .select("node", "rep")
            .localCheckpoint()
        )
        if lowered.get["n"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in MAX_ROUNDS={MAX_ROUNDS} rounds"
    )


def cluster_sizes(components: DataFrame) -> DataFrame:
    """(rep, size) per component — the keep-one-representative relation."""
    return components.groupBy("rep").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )


def _register() -> None:
    # compose the oracle on top of the ALREADY-CERTIFIED minhash pair SQL,
    # so both engines cluster the exact same candidate pairs
    pairs_sql = ORACLES["dedup_minhash_lsh"]
    oracle = f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM sym
      UNION
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a)
    SELECT rep, CAST(count(*) AS BIGINT) AS size
    FROM comp GROUP BY rep
    """

    @register("dedup_clusters_documents", oracle)
    def dedup_clusters_documents(spark, sf_dir: str) -> DataFrame:
        """Duplicate clusters from the MinHash-LSH candidate pairs:
        (representative doc_id, cluster size). The oracle recomputes the
        transitive closure with a recursive CTE over the same pairs."""
        from macrobase_spark.operators.dedup import minhash_lsh_candidates

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = minhash_lsh_candidates(d, "doc_id", "text", n=3, num_hashes=6, bands=2)
        return cluster_sizes(connected_components(pairs))


_register()

