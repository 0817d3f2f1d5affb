"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced with a count() (results stay distributed; nothing
row-level is collected). The clips_validation_suite entry is the
north-rule throughput job (validated clips/sec appears in the JSON as
clips_per_sec). Scaling (N vs 4N cores) is measured separately by
bench_scaling.py, which reports efficiency into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_segment",
    "top_orders_per_customer",
    "column_stats",
    "uniqueness_violations",
    "ref_unreferenced_parts",
    "percentile_classify_events",
    "mad_classify_events",
    "explain_risk_ratio_events",
    "explain_global_ratio_orders",
    "mean_shift_explain",
    "window_tumbling_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_brute_force_topk",
    "iforest_outliers_embeddings",
    "lof_outliers_embeddings",
    "embedding_cosine_dup",
    "text_quality",
    "doc_fingerprint",
    "clips_validation_suite",
]

# round-2+ operators: timed and reported per-query, but kept OUT of the
# headline total so `value` stays comparable across rounds (same 22 queries)
EXTRA = [
    "mcod_outliers_events",
    "mcod_outliers_keyed",
    "hst_outliers_embeddings",
    "rrcf_outliers_embeddings",
    "mcd_outliers_embeddings",
    "hics_subspace_embeddings",
    "explain_meandev_events",
    "image_feature_stats",
    "video_frame_stats",
    "png_feature_stats",
    "codec_snr_stats",
    "ann_ivf_indexed",
    "dedup_audio_content",
    "clips_resample_stats",
    "dedup_simhash_prod",
    "ann_ivf_topk",
    "ann_lsh_candidates",
    "lookout_explain_embeddings",
    "refout_explain_embeddings",
    "transcript_integrity_check",
    "transcript_drift_stats",
    "psi_drift_clips",
    "flac_snr_suite",
    "ks_drift_clips",
    "w1_drift_clips",
    "hot_keys_clips",
    "sketch_column_stats_clips",
    "silence_stats",
    "snapshot_drift_clips",
    "clips_silence_stats",
    "jpeg_feature_stats",
    "clips_anomaly_scores",
    "clips_windowed_rates",
    "clips_lof_scores",
    "transcript_rate_check",
    "clips_mfcc_stats",
    "codec_magic_check",
    "codec_magic_violations",
    "categorical_drift_clips",
    "salted_user_sets_events",
    "ann_ivf_pq_topk",
    "webp_feature_stats",
    "iceberg_time_travel_stats",
    "iceberg_pruned_scan",
    "clips_constraint_suite",
    "clips_schema_check",
    "clips_incremental_stats",
    "clips_metric_anomaly",
    "kde_outliers_embeddings",
    "gmm_loglik_embeddings",
    "kalman_smooth_events",
    "binned_kde_events",
    "bayes_density_embeddings",
    "ann_ivf_pq_indexed",
    "arima_score_events",
    "arima_ar2_forecast_events",
    "benchmark_contamination",
    "doc_repetition_stats",
    "vargmm_loglik_embeddings",
    "dpgmm_loglik_embeddings",
    "stochvargmm_loglik_embeddings",
    "stochdpgmm_loglik_embeddings",
    "contextual_outliers_events",
    "contextual_context_search_events",
    "ew_summary_events",
    "ew_flags_keyed_events",
    "legacy_transforms_events",
    "autocorr_events",
    "gaussian_mahalanobis_embeddings",
    "asof_attribution_events",
    "range_join_error_context",
    "clips_resample_sinc_stats",
    "session_windows_events",
    "clips_loudness_stats",
    "clips_bandwidth_stats",
    "clips_pitch_stats",
    "ecod_outliers_embeddings",
    "copod_outliers_embeddings",
    "pca_variance_embeddings",
    "split_balance_documents",
    "stratified_sample_documents",
    "hbos_outliers_embeddings",
    "dedup_clusters_documents",
    "knn_graph_embeddings",
    "pii_scan_documents",
    "clips_qa_scorecard",
    "weighted_sample_documents",
    "ann_recall_report",
    "mp3_integrity_stats",
    "mp3_integrity_pipeline",
    "aac_integrity_stats",
    "aac_integrity_pipeline",
    "opus_integrity_stats",
    "opus_integrity_pipeline",
    "transport_gate_stats",
    "transport_gate_pipeline",
    "srt_timing_stats",
    "srt_timing_pipeline",
    "vtt_timing_stats",
    "transcript_alignment_stats",
    "cue_silence_stats",
    "codec_structure_stats",
]


def full_kernels() -> dict:
    """Bench entries that time a registered query's whole kernel in one
    plan: name -> (registered query, entry). Each registered query
    aggregates a materialized artifact so its oracle can read the same
    files; the entry applies the same aggregate to the artifact's recipe
    (synthesize -> decode/walk) unmaterialized, so it returns the same
    rows with the kernel inside the timed plan."""
    from macrobase_spark.operators import aac, audio, gate, image, mp3, ogg, srt

    def kernel(recipe, aggregate):
        return lambda spark, sf_dir: aggregate(recipe(spark, sf_dir))

    # name -> (registered query, recipe, aggregate)
    table = {
        **{
            q: (q, image.still_image_features(gen), image.label_profile)
            for q, (_, gen) in image.STILL_IMAGES.items()
        },
        "video_frame_stats": ("video_frame_stats", image.video_frame_features, image.video_profile),
        "codec_snr_stats": ("codec_snr_stats", audio.codec_fixture_snr, audio.codec_snr_profile),
        # decode -> 16 kHz linear-interp resample -> SNR at the new rate
        "clips_resample_stats": (
            "clips_resample_stats", audio.clips_resampled, audio.resample_profile
        ),
        # frame-walk (header parse, no decode)
        "mp3_integrity_pipeline": (
            "mp3_integrity_stats", mp3.mp3_fixture_profiles, mp3.mp3_scorecard
        ),
        "aac_integrity_pipeline": (
            "aac_integrity_stats", aac.adts_fixture_profiles, aac.adts_scorecard
        ),
        # page-walk + CRC
        "opus_integrity_pipeline": (
            "opus_integrity_stats", ogg.ogg_fixture_profiles, ogg.ogg_scorecard
        ),
        # sniff + route + walk a mixed-transport corpus
        "transport_gate_pipeline": (
            "transport_gate_stats", gate.mixed_fixture_gate, gate.gate_rollup
        ),
        # tokenize -> declarative timing verdicts
        "srt_timing_pipeline": ("srt_timing_stats", srt.srt_fixture_cues, srt.timing_scorecard),
    }
    return {name: (q, kernel(recipe, agg)) for name, (q, recipe, agg) in table.items()}


def _bench_only_queries() -> dict:
    """Entries timed by the bench but NOT in the driver correctness gate:
    production configs whose hashes aren't engine-portable, and the
    full-kernel entries of `full_kernels`."""
    from macrobase_spark.operators.audio import flac_snr_suite
    from macrobase_spark.operators.dedup import simhash_candidates

    def ann_ivf_indexed(spark, sf_dir):
        """ann_ivf_topk through the centroid-PARTITIONED on-disk index:
        probe filter = partition pruning, unprobed lists never read (index
        build amortized across runs via /tmp cache)."""
        from pyspark.sql import functions as F

        from macrobase_spark.operators.similarity import (
            ivf_centroids,
            ivf_index_dir,
            ivf_topk,
        )

        path, C = ivf_index_dir(spark, sf_dir), ivf_centroids(spark, sf_dir)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return ivf_topk(
            e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding",
            k=5, n_centroids=32, n_probe=8, centroids=C, index_path=path,
        )

    def ann_ivf_pq_indexed(spark, sf_dir):
        """ann_ivf_pq_topk through the centroid-PARTITIONED on-disk CODE
        index: probe filter = partition pruning AND the scanned rows are
        ~8-byte PQ codes instead of float vectors (index build amortized
        via /tmp cache)."""
        from pyspark.sql import functions as F

        from macrobase_spark.operators.pq import ivf_pq_index_dir, ivf_pq_topk, pq_codebooks
        from macrobase_spark.operators.similarity import ivf_centroids

        path = ivf_pq_index_dir(spark, sf_dir)
        C, B = ivf_centroids(spark, sf_dir), pq_codebooks(spark, sf_dir)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return ivf_pq_topk(
            e, e.filter(F.col("vec_id") < 3), "vec_id", "embedding",
            k=5, n_centroids=32, n_probe=8, refine=50,
            centroids=C, codebooks=B, index_path=path, lut_scale=1 << 20,
        )

    def dedup_simhash_prod(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # production defaults: xxhash64 token hash + max_bucket guard
        return simhash_candidates(d, "doc_id", "text")

    def dedup_audio_content(spark, sf_dir):
        """Full kernel: synthesize fp fixture → decode+fingerprint →
        multi-probe LSH join → Hamming pairs, in one timed plan (the
        registered twin reads the materialized fingerprints)."""
        from macrobase_spark.artifacts import decode_fixture_n
        from macrobase_spark.operators.audio_fp import (
            audio_fingerprints,
            audio_near_dup_pairs,
            generate_fp_clips,
        )

        # persist the narrow fingerprint relation (id + two longs): the
        # hot-bucket guard and both self-join sides re-evaluate their input,
        # which would re-run the decode+FFT kernel 3x. At production scale
        # this is the materialize-the-fingerprints step (the registered twin
        # reads them from parquet).
        fp = audio_fingerprints(generate_fp_clips(spark, decode_fixture_n(sf_dir))).persist()
        fp.count()
        return audio_near_dup_pairs(fp, hamming_max=10)

    return {
        "ann_ivf_indexed": ann_ivf_indexed,
        "ann_ivf_pq_indexed": ann_ivf_pq_indexed,
        "dedup_simhash_prod": dedup_simhash_prod,
        "dedup_audio_content": dedup_audio_content,
        # north-rule kernel with COMPRESSED payloads: all-FLAC clips table
        # (materialized once, untimed) -> FLAC decode -> SNR -> rollup
        "flac_snr_suite": flac_snr_suite,
        **{name: entry for name, (_, entry) in full_kernels().items()},
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from macrobase_spark import queries as Q
    from macrobase_spark.artifacts import sf_of
    from macrobase_spark.session import get_spark

    sf = sf_of(sf_dir, default=0.1)
    Q.load_all()
    spark = get_spark("mb-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    # JVM/codegen warmup so per-query times measure the plan, not startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Python-worker warmup: fork the Arrow workers + import numpy/pandas once
    # per core so pandas-UDF queries measure compute, not interpreter startup
    def _ident(it):
        for pdf in it:
            yield pdf

    spark.range(0, cpus * 2, numPartitions=cpus * 2).mapInPandas(_ident, "id long").count()

    # pinned timing: best-of-REPS per query (VERDICT r2 item 2 — a single
    # run is hostage to neighbor steal on the shared sandbox host; the min
    # is the engine's number)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    bench_only = _bench_only_queries()
    timings: dict[str, float] = {}
    from bench_scaling import host_sentinel

    extra: dict[str, float] = {}
    sent0 = host_sentinel()
    for name in HEADLINE + EXTRA:
        fn = bench_only.get(name) or Q.QUERIES.get(name)
        if fn is None:
            # no silent coverage gaps: a listed-but-unregistered query is a
            # wiring bug (a module missing from the import block above)
            print(f"# SKIPPED (unregistered): {name}", file=sys.stderr)
            continue
        best, n = None, 0
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        if name == "clips_validation_suite":
            from macrobase_spark.operators.clips_suite import clips_n

            extra["clips_per_sec"] = round(clips_n(sf_dir) / best, 1)
            extra["clips_n"] = clips_n(sf_dir)
        if name == "flac_snr_suite":
            from macrobase_spark.operators.clips_suite import clips_n

            n_flac = max(400, clips_n(sf_dir) // 8)
            extra["flac_clips_per_sec"] = round(n_flac / best, 1)
            extra["flac_clips_n"] = n_flac
        print(f"# {name}: {best:.2f}s rows={n} (best of {reps})", file=sys.stderr)

    total = round(sum(v for k, v in timings.items() if k in HEADLINE), 3)
    extra["extra_total"] = round(sum(v for k, v in timings.items() if k in EXTRA), 3)
    # host-speed sentinel (single-thread GEMM GFLOPS + np.sin ms per 1M)
    # before/after the timed queries: the sandbox host's effective CPU speed
    # swings >2x with neighbor load, so absolute walls are only comparable
    # across rounds when the sentinels agree (see BENCH/BASELINE.md)
    extra["host_before"] = sent0
    extra["host_after"] = host_sentinel()
    print(
        json.dumps(
            {
                "metric": "headline suite wall-clock (classify/explain/validate/dedup/ann)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **extra,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
