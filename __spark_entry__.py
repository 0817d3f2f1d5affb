"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``macrobase_spark.queries`` (and the extension
modules it pulls in); this file only adapts them to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from macrobase_spark import queries as _Q  # noqa: E402
from macrobase_spark.artifacts import ARTIFACTS  # noqa: E402

_Q.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: classify-then-explain (SPLIT + APriori risk-ratio
    explanation) over the events table at sf0.001.

    Side effect: pre-materializes every registered artifact at the oracle
    scale (clips table, scored relation, fitted models — all
    deterministic) so every oracle, which reads those files, works
    whether it runs before or after its Spark query. A failed build is
    reported on stderr, never fatal: the smoke check must not fail on
    artifact pre-materialization."""
    sf01 = "/root/testdata/sf0.01"
    for art in ARTIFACTS.values():
        try:
            art(spark, sf01)
        except Exception as e:
            print(f"pre-materialize {art.name} failed: {e!r}", file=sys.stderr)
    return _Q.QUERIES["explain_risk_ratio_events"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Driver CORRECTNESS window (round 5 rotation)
#
# The driver verifies the FIRST 50 queries in registration order. 134 are
# registered; r3+r4 windows certified 58 of them with zero failures. This
# round rotates the window onto the highest-value never-driver-verified
# queries (the r4 verdict's explicit ask: rrcf / mcod_keyed / lookout /
# refout first, then contextual/ew/constraint/loudness/mp3/gate, plus the
# session-XI transport+transcript family ADVICE.md flags), keeping 8
# load-bearing greens as regression canaries — including every query whose
# implementation changed this round (dedup_minhash_lsh bucket guard,
# transport gate verdict vocabulary, VTT parser, refout batching,
# scorecard). Queries left outside the window remain covered by the local
# replica of the gate (tests/test_oracle_parity.py, all 132 oracles).
# ---------------------------------------------------------------------------
_R5_WINDOW = [
    # canaries (r3/r4 driver-green; re-verify the ones this round touched)
    "q1_pricing_summary",
    "explain_risk_ratio_events",
    "clips_validation_suite",
    "clips_row_violations",
    "dedup_exact",
    "dedup_minhash_lsh",
    "codec_snr_stats",
    "ann_ivf_topk",
    # r3/r4-verdict named priorities (never driver-verified)
    "rrcf_outliers_embeddings",
    "mcod_outliers_keyed",
    "lookout_explain_embeddings",
    "refout_explain_embeddings",
    "contextual_outliers_events",
    "ew_summary_events",
    "clips_constraint_suite",
    "clips_loudness_stats",
    "mp3_integrity_stats",
    "transport_gate_stats",
    # session-XI transport / transcript family (ADVICE.md ask)
    "copod_outliers_embeddings",
    "aac_integrity_stats",
    "opus_integrity_stats",
    "codec_structure_stats",
    "srt_timing_stats",
    "vtt_timing_stats",
    "transcript_alignment_stats",
    "cue_silence_stats",
    # LLM-pipeline first-class ops
    "pii_scan_documents",
    "dedup_clusters_documents",
    "split_balance_documents",
    "stratified_sample_documents",
    "weighted_sample_documents",
    "clips_qa_scorecard",
    "clips_schema_check",
    # scale infrastructure (incremental metrics repo, Iceberg-shaped scans,
    # skew primitives)
    "clips_incremental_stats",
    "iceberg_time_travel_stats",
    "iceberg_pruned_scan",
    "hot_keys_clips",
    "salted_user_sets_events",
    # beyond-reference embedding detectors
    "ecod_outliers_embeddings",
    "pca_variance_embeddings",
    "hbos_outliers_embeddings",
    "kde_outliers_embeddings",
    "gmm_loglik_embeddings",
    "gaussian_mahalanobis_embeddings",
    # contrib / legacy closure
    "kalman_smooth_events",
    "arima_score_events",
    "vargmm_loglik_embeddings",
    "dpgmm_loglik_embeddings",
    "legacy_transforms_events",
    "autocorr_events",
]


def _windowed(mapping: dict) -> dict:
    """Window entries first (in _R5_WINDOW order), then the rest in
    registration order — dict insertion order is the driver's order."""
    # a window name missing from the registry is an error, not a skip
    missing = [n for n in _R5_WINDOW if n not in _Q.QUERIES]
    if missing:
        raise KeyError(f"_R5_WINDOW names not in the registry: {missing}")
    out = {n: mapping[n] for n in _R5_WINDOW if n in mapping}
    out.update({n: v for n, v in mapping.items() if n not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _windowed(dict(_Q.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _windowed(dict(_Q.ORACLES))
