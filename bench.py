#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "scaled": {...}}.

Each query is materialized through the noop sink (computes every column,
ships nothing to the driver) so the measured time is the real plan cost.

The "scaled" section (VERDICT r2 item 8): a deterministic 10× scale-up of
sf0.1 (tools/scale_data.py — constant workload density, cached in /tmp)
re-times the most expensive headliners at ~sf1 to expose super-linear
constants the sf0.1 numbers can't show. Knobs: SPARK_GRAFT_SCALE_MULT
(0 disables, default 10 when benching sf0.1), SPARK_GRAFT_SCALE_BUDGET
(wall-clock cap in sec for the whole section, default 600 — remaining
queries are reported as skipped, never silently dropped).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_left_outer",
    "topk_per_group",
    "window_running_agg",
    "sessionize",
    "time_bucket_tumbling",
    "join_asof",
    "agg_percentiles",
    "q14_promo_revenue",
    "q18_large_orders",
    "q7_volume_shipping",
    "q21_waiting_suppliers",
    "udaf_harmonic_mean",
    "fast_table_end_to_end",
    "stream_windowed_counts",
    "dedup_exact",
    "dedup_paragraphs",
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    "dedup_soft_weights",
    "dedup_cluster_keep_best",
    "split_cluster_safe",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "dedup_exact_substring",
    "dedup_chunks_cdc",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "embed_topk_bruteforce",
    "text_token_stats",
    "text_quality_score",
    "text_repetition_signals",
    "decontaminate_benchmark",
    "pack_training_sequences",
    "q11_inventory_value",
    "merge_upsert_customers",
    "scd2_user_history",
    "build_vocabulary",
    "funnel_stages",
    "curation_domain_cap",
    "text_chunk_overlap",
    "build_inverted_index",
    "timeseries_gapfill_ffill",
    "dedup_semantic",
    "graph_pagerank",
    "events_ohlc",
    "domain_kl_divergence",
    "dedup_jaccard_prefix_filter",
    "quality_model_score",
    "doc_unigram_logppl",
    "event_transition_matrix",
    "sessions_max_concurrency",
    "search_bm25_topk",
    "search_hybrid_rrf",
    "embedding_quantize_int8",
    "dedup_bloom_prefilter",
    "text_heavy_hitters",
    "dedup_containment",
    "bpe_train_merges",
    "bpe_encode_lengths",
    "bpe_fertility_by_source",
    "dedup_health_by_source",
    "embed_hard_negatives",
    "embedding_pq_codes",
    "embed_topk_pq_adc",
    "embed_label_noise_audit",
    "embed_label_noise_ivf",
    "search_ndcg_eval",
    "doc_bigram_logppl",
    "split_leakage_report",
    "quality_quarantine",
    "quality_gopher_rules",
    "multimodal_png_roundtrip",
    "curation_dsir_weights",
    "events_anomaly_zscore",
    "embedding_whiten_zca",
    "text_char_entropy",
    "text_ngram_novelty",
    "embedding_outlier_report",
    "sketch_quantile_report",
    "stream_anomaly_zscore",
    "events_drift_psi",
    "langid_confusion",
    "minhash_scurve_report",
    "curation_decision_ledger",
    "table_skew_report",
    "stream_quality_gate",
    "customer_entity_resolution",
    # round-6 additions
    "embedding_kmeans",
    "graph_label_propagation",
    "quality_c4_rules",
    "token_zipf_slope",
    "multimodal_gif_roundtrip",
    "multimodal_jpeg_roundtrip",
    "multimodal_bmp_roundtrip",
    "text_html_extract",
    "text_fix_mojibake",
    "multimodal_dedup_ahash",
    "multimodal_scene_cuts",
    "multimodal_audio_roundtrip",
    # round-7 additions: the MinHash-fed scale twins of the CC-riding
    # cluster layers (the baseline-fed variants stay as recall oracles)
    "dedup_soft_weights_fast",
    "dedup_cluster_keep_best_fast",
    "split_cluster_safe_fast",
    "dedup_soft_weights_minhash",
    "multimodal_png_palette_roundtrip",
    "embed_topk_ivf_adc",
    "embed_topk_ivf_pq_residual",
    # round-7 second wave: sketch family completion, density clustering,
    # LM smoothing, projection certification, the dedup scrub
    "dedup_winnowing",
    "sketch_cms_report",
    "sketch_hll_report",
    "sketch_kmv_report",
    "multimodal_dedup_phash",
    "embedding_dbscan",
    "doc_kn_logppl",
    "embedding_jl_distortion",
    "dedup_substring_scrub",
    "embedding_dbscan_lsh",
    "stream_hll_registers",
    "stream_hll_windowed",
    "privacy_k_anonymity",
    "events_drift_ks",
    "graph_kcore",
    "decontaminate_semantic",
    # round-7 third wave: graph analytics, layout infrastructure,
    # time series, probabilistic linkage, weighted sampling, streaming CMS
    "graph_bfs_hops",
    "graph_hits",
    "graph_common_neighbors",
    "assign_global_ids",
    "layout_zorder_report",
    "events_ewma",
    "timeseries_seasonal_decompose",
    "record_linkage_fs",
    "privacy_dp_histogram",
    "dedup_weighted_minhash",
    "stream_cms_windowed",
    "search_phrase_positional",
    "attribution_credit",
    "ivm_incremental_agg",
    "events_cusum_changepoint",
    "graph_personalized_pagerank",
    "agg_bootstrap_ci",
    "geo_neighbor_join",
    "multimodal_bmp_rle_roundtrip",
    "dedup_weighted_minhash_fast",
    "graph_clustering_coefficient",
    "sample_reservoir_per_group",
    "text_readability",
    "text_rake_keywords",
    # round 8: the xxhash64 fast twins, the progressive-JPEG round-trip,
    # and the map-side sentence dedup
    "dedup_winnowing_fast",
    "agg_bootstrap_ci_fast",
    "multimodal_jpeg_progressive",
    "text_dedup_sentences_within_doc",
    "multimodal_pdf_text",
    "ivm_incremental_join",
    "privacy_t_closeness",
    "curation_mixture_weights",
    "events_anomaly_mad",
    "multimodal_archive_extract",
    "text_detect_encoding",
    # round 9: new operator surface (the *_fast_invariants companions are
    # deliberately NOT headliners — they re-run existing pipelines twice
    # for verification, which would double-count those costs here)
    "multimodal_warc_extract",
    "web_url_canonicalize",
    "text_unicode_normalize",
    "multimodal_png_advanced_roundtrip",
    "bitext_mining_margin",
    "linkage_fellegi_sunter",
    "text_boilerplate_scrub",
    "curation_sinkhorn_ot",
    "stream_topk_mg",
    "events_holt_winters",
    "quality_train_logreg",
    "multimodal_tiff_roundtrip",
    # round 9 second wave: web curation, preference fitting, seq2seq
    # shaping, sketch compression, diversified rerank, EXIF
    "web_url_filter",
    "web_robots_rules",
    "preference_bradley_terry",
    "pack_span_corruption",
    "dedup_bbit_minhash",
    "search_mmr_rerank",
    "multimodal_exif",
    "multimodal_audio_filterbank",
    "quality_compression_invariants",
    "embed_matryoshka_recall",
    "multimodal_motion_energy",
    "text_code_detect",
    "layout_partition_advisor",
    "multimodal_resize_attest",
    "multimodal_frame_sample",
    "graph_assortativity",
    "stream_percentile_windowed",
    "curation_epoch_schedule",
    "ivm_incremental_topk",
]


# Scale-section queries, most scale-informative first (so a budget cutoff
# still records the ones whose constants matter most at 100 TB).
SCALE_QUERIES = [
    "dedup_winnowing",
    "dedup_winnowing_fast",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "dedup_ngram_jaccard",
    "dedup_exact_substring",
    "dedup_chunks_cdc",
    "dedup_simhash",
    "dedup_cluster_canonical",
    "graph_pagerank",
    "q1_pricing_summary",
    "q5_region_revenue",
    "q18_large_orders",
    "window_running_agg",
    "dedup_exact",
    "text_ngram_novelty",
    "curation_dsir_weights",
    "minhash_scurve_report",
    # VERDICT r3 item 3: the slowest headliner and the bpe/bloom family had
    # no measured growth factor — prove CC-iteration cost is ~flat in data.
    "customer_entity_resolution",
    "bpe_train_merges",
    "bpe_encode_lengths",
    "dedup_bloom_prefilter",
    # round-4 additions: the asymmetric-prefix containment join and the
    # cluster-safe split (rides CC — growth should track cluster_canonical)
    "dedup_containment",
    "split_cluster_safe",
    # round-5 additions: soft weights + keep-best ride the CC machinery
    # (growth should track cluster_canonical), fertility rides the BPE
    # encode, the Gopher gate is the map-only floor
    "dedup_soft_weights",
    "dedup_cluster_keep_best",
    "bpe_fertility_by_source",
    "quality_gopher_rules",
    # round-6 additions: the two fixed-round iteratives (per-round cost
    # must grow ~linearly, state stays k×dim / one-row-per-node), the C4
    # map-only gate, and the per-source rank window feeding the Zipf fit
    "embedding_kmeans",
    "graph_label_propagation",
    "quality_c4_rules",
    "token_zipf_slope",
    # round-7 additions: the MinHash-fed cluster twins — the point of the
    # x50 rows is growth ≤ the un-pruned baseline-fed variants' 31-38 s
    # (x50 attribution, BENCHNOTES.md), proving the registered scale path
    # clears the r6 weak marks
    "dedup_soft_weights_fast",
    "dedup_cluster_keep_best_fast",
    "split_cluster_safe_fast",
    "dedup_soft_weights_minhash",
    # round-7 third wave: the shared-neighbor self-join (quadratic in the
    # hottest pivot — the hub cap is what the growth row checks), the
    # weighted-sampling pair finder, and the global-id range exchange
    "graph_common_neighbors",
    "dedup_weighted_minhash",
    "dedup_weighted_minhash_fast",
    "assign_global_ids",
]


def run_scale_section(spark, queries_reg, sf_dir: str, sf: float) -> dict:
    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "10"))
    if mult <= 1:
        return {}
    budget = float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET", "600"))
    dst = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scaled_x{mult}"
    )
    from tools.scale_data import make_scaled

    t0 = time.perf_counter()
    generated = make_scaled(spark, sf_dir, dst, mult)
    gen_sec = round(time.perf_counter() - t0, 3)
    print(
        f"# scaled x{mult}: {'generated' if generated else 'reused'} {dst} "
        f"in {gen_sec}s",
        file=sys.stderr,
    )

    # min-of-N like the headline section: the r4 sf1 section was single-run,
    # which is how a 4x phantom regression (curation_dsir_weights) slipped
    # into the artifact — same protocol both sections now.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    timings: dict[str, float] = {}
    skipped: list[str] = []
    section_start = time.perf_counter()
    for name in SCALE_QUERIES:
        if time.perf_counter() - section_start > budget:
            skipped.append(name)
            continue
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            queries_reg[name](spark, dst).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# scaled {name}: {timings[name]:.3f}s", file=sys.stderr)
        gc.collect()
    return {
        "mult": mult,
        "sf": round(sf * mult, 3),
        "gen_sec": gen_sec,
        "total": round(sum(timings.values()), 3),
        "queries": timings,
        "skipped": skipped,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else -1.0

    from ingest_fast_spark.queries import QUERIES
    from ingest_fast_spark.session import get_spark

    spark = get_spark("ingest-fast-bench")

    # Warm the JVM + file metadata cache so q1 doesn't pay startup cost.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # min over repeats: single-shot timings on a shared machine are noisy
    # (observed 2-3x swings); min is the standard stable estimator.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
        # Drop the dead DataFrame refs NOW so the JVM ContextCleaner can
        # reclaim localCheckpoint blocks from iterative/multi-consumer
        # queries before the next timing starts (otherwise storage
        # pressure from query N pollutes query N+1's measurement).
        gc.collect()

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    try:
        scaled = run_scale_section(spark, QUERIES, sf_dir, sf)
        if scaled:
            payload["scaled"] = scaled
    except Exception as e:  # the scale section must never sink the bench
        payload["scaled"] = {"error": f"{type(e).__name__}: {e}"}
    # Self-archive the payload beside the stdout contract line (VERDICT r9
    # item 5): round 8's one-line JSON did not survive the driver's tail
    # capture (BENCH_r08.json parsed: null), which nulled the whole
    # round-over-round comparison. The stdout line stays the contract;
    # BENCH_SELF.json is the identical payload on disk so the next round's
    # PERF can always reconstruct `prev` from the repo.
    # Serialize before opening the file, so a payload that cannot be
    # serialized neither leaves a partial file nor stops the stdout line.
    try:
        text = json.dumps(payload, indent=1) + "\n"
        self_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"
        )
        with open(self_path, "w") as fh:
            fh.write(text)
    except Exception as e:  # archival must never sink the bench
        print(f"# BENCH_SELF.json write failed: {e}", file=sys.stderr)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    sys.exit(main())
