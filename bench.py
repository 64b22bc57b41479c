"""Benchmark harness — times headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query is forced end-to-end via
the noop sink (full execution, no driver-side result serialization).

Headline set spans the engine surface: TPC-H-style aggregation + join,
the flagship latest-per-key window, dedup (exact-hash, n-gram Jaccard,
SimHash), similarity (cosine top-k, IVF probe, k-means-refined IVF),
text quality scoring, JSON extract-aggregate, lag-gap sessionization,
and media decode+resize.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

from weather_data_pipeline_spark import registry
from weather_data_pipeline_spark.session import default_parallelism, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()

HEADLINE = [
    "ext_q1_pricing_summary",
    "ext_q3_shipping_priority",
    "o15_latest_per_key",
    "x1_exact_dedup_hash",
    "x2_ngram_jaccard",
    "x3_cosine_topk",
    "x4_quality_score",
    "x5_json_extract_agg",
    "x6_session_windows",
    "x7_asof_join",
    "ext_grouping_sets",
    "ext_range_join",
    "ext_q5_local_supplier",
    "x6_gap_fill_locf",
    "x2_simhash",
    "x3_ivf_topk",
    "x3_ivf_kmeans_topk",
    "mm_resize_thumbnail",
    # round-5 additions — when comparing totals across rounds, normalize
    # on the shared-query subset (README bench methodology)
    "x2_ngram_jaccard_capped",
    "x2_decontaminate",
    "x8_mixture_sample",
    "x3_quantize_int8",
    "x4_repetition_score",
    "x6_ema_daily",
    # round-6 additions
    "x4_bm25_score",
    "x8_doc_chunking",
    "x6_ohlc_daily",
    "x8_weighted_sample",
    "x4_unigram_logprob",
    # round-6 second batch
    "ext_q10_returned_items",
    "x6_sliding_windows",
    "x6_zscore_anomaly",
    "x4_pii_redact",
    "x8_zorder_layout",
    "x2_tfidf_cosine",
    "x6_mad_outliers",
    "x6_funnel_stages",
    "ext_cdc_merge",
    "x3_knn_classify",
    "x9_pagerank",
    "x4_bigram_logprob",
    "x3_ivf_pq_topk",
    # round-6 third batch
    "ext_q6_revenue_delta",
    "ext_q7_volume_shipping",
    "ext_q13_cust_distribution",
    "ext_q19_disjunctive_revenue",
    "x1_line_dedup",
    "x4_gopher_filter",
    # x9_triangle_count is scale-suite-only: ~4-5 s/run is support-build
    # stages, too heavy for the 5-pass interleaved bench loop
    "x8_epoch_shuffle",
    # the derived-partsupp TPC-H batch + the prefix-sum and sketch rungs
    # (each prefix-sum body also answers its exact name)
    "ext_q2_min_cost_supplier",
    "ext_q9_product_profit",
    "ext_q11_important_stock",
    "ext_q16_supplier_counts",
    "ext_q20_promotion_suppliers",
    "x8_budget_select_scalable",
    "x4_perplexity_buckets_approx",
    "x8_length_buckets_scalable",
    "x4_perplexity_buckets_scalable",
    "x6_rfm_scores_scalable",
    # round-8 additions
    "x8_sequence_pack",
    "x4_bpe_pair_stats",
    "x8_temperature_mixture",
    "x8_c4_pipeline",
    "x1_normalized_dedup",
    "x9_degree_hist",
    "x2_containment_pairs",
    "x3_range_search",
    "x3_prefix_dim_recall",
    "x7_asof_nearest",
    "x4_entropy_score",
    "x2_containment_capped",
    "ext_bloom_join_prune",
    "x3_ivf_rerank_topk",
    "mm_image_phash_dedup",
    "x6_seasonal_baseline",
    "x3_binary_hamming_topk",
    "ext_dq_audit",
    "x3_centroid_outliers",
    "x6_gap_report",
    "mm_image_phash_neardup",
    "x8_tokenize_to_ids",
    "x6_cusum_changepoints",
    "x4_uniqueness_score",
    "x3_binary_recall_eval",
    "x8_interleave_sources",
    "x5_schema_evolution_read",
    "x5_variant_extract",
    # round-9 additions
    "x4_html_extract",
    "x4_hashed_linear_score",
    "x1_substring_spans",
    "x1_substring_rewrite",
    "x8_cluster_balance",
    "x8_curriculum_order",
    "x6_resample_interpolate",
    "x2_source_overlap",
    "x2_tfidf_cosine_prefix",
    "mm_phash_neardup_codes",
    "x7_interval_overlap_sweep",
    "x6_lttb_downsample",
    "x6_holt_winters",
    "x6_m4_downsample",
    "x6_lttb_exact",
    "x7_interval_coverage",
    # late round-9 rungs (VERDICT r9 ask #3 bookkeeping)
    "x2_soft_dedup_weights",
    "w_orc_roundtrip",
    # round-10 additions
    "x4_bpe_merge_train",
    "x4_domain_rollup",
    "x8_domain_caps",
    "mm_pair_cosine_filter",
    "x1_url_dedup",
    "x9_label_propagation",
    "w_compact_small_files",
    "x9_kcore_peel",
    "x8_k_anonymity",
    "x9_jaccard_neighbors",
    "mm_scene_cuts",
    "x2_minhash_band_tuning",
    "x4_code_detect",
    "x6_backtest_folds",
    # round-11 additions
    "x2_semdedup_keep",
    "mm_keyframe_extract",
    "x1_bloom_prefilter",
    "x4_bpe_apply",
    "x3_ivf_nprobe_tuning",
    # round-12 additions
    "x4_countmin_sketch",
    "x9_bfs_reach",
    "x4_zipf_fit",
    "x6_theil_sen",
    "x6_acf_lags",
    # round-13 additions
    "x9_sssp_weighted",
    "x2_decontaminate_containment",
    "x6_stl_decompose",
    "x3_rank_fusion",
    "x1_cdc_chunk_dedup",
    "x3_mmr_diversify",
    # round-14 additions
    "x3_nsw_beam",
    "x4_unigram_train",
    "x4_unigram_apply",
    # round-15 additions
    "x3_nsw_beam_blocked",
    "x2_record_linkage",
    # x1_bloom_geometry_tuning is scale-suite-only: ~6.5 s/run warmed
    # (4 configs x 3 bounded counts = 13 sequential driver-traffic
    # jobs — the sweep's inherent shape), too heavy for the 5-pass
    # interleaved loop; its plan is in PLANS.md via plan_audit EXTRA
    # and its 10x ratio (1.07, registry-bounded) in BENCH_SCALE.json
    # x3_hnsw_beam is scale-suite-only for the same reason: ~11 s/run
    # warmed (16 localCheckpointed beam rounds + 3 layer builds —
    # fixed round cost, not data volume; it amortizes at 10x). Plan
    # via plan_audit EXTRA; scale row in BENCH_SCALE.json
]


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def build_payload(
    times: dict[str, float],
    medians: dict[str, float],
    stdevs: dict[str, float],
    runs: int,
    sf: float,
    cpus: int = 0,
    default_parallelism: int = 0,
) -> dict:
    """The emitted JSON object. ``queries_median`` is deliberately the
    LAST key: the driver's BENCH_r{N} tail truncates the line to its
    final dict, and medians are the round-over-round comparable
    numbers, stdevs aren't (VERDICT r9 ask #2). Key order is a
    CONTRACT — pinned by tests/test_bench_contract.py — because any
    new key or serializer reorder silently flips the driver tail back
    to a non-comparable dict (ADVICE r10). Add new keys BEFORE
    queries_median.

    Committed-reading convention (VERDICT r12 ask #6): when several
    same-code readings are taken in a round, the committed
    BENCH_LOCAL_r{N} is the reading whose sum(queries_median) is the
    MEDIAN of the readings — never the latest — and all readings'
    sums are recorded in ``readings_median_totals`` (set the
    SPARK_GRAFT_BENCH_READINGS env var to the comma-separated sums
    when emitting the committed run)."""
    readings = [
        float(x)
        for x in os.environ.get("SPARK_GRAFT_BENCH_READINGS", "").split(",")
        if x.strip()
    ]
    return {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        # provenance (VERDICT r11 ask #7): `value` sums the per-query
        # BEST-OF-n in `queries` (steady-state floor); sum(queries_median)
        # is higher by construction — compare rounds on queries_median.
        "value_is": "sum(queries best-of-n); medians sum higher; "
        "committed file is the MEDIAN-of-readings run (r12 ask #6)",
        "unit": "sec",
        "queries": times,
        "queries_stdev": stdevs,
        "runs": runs,
        "sf": sf,
        "readings_median_totals": readings,
        # scaling-contract provenance (VERDICT r15 ask #2): the driver
        # re-runs the bench at a lower SPARK_GRAFT_CPUS to measure
        # per-query scaling; emitting the core count the session was
        # BUILT with, plus the context's actual defaultParallelism,
        # makes the contract provable from the payload alone (at sf0.1
        # the 8-vs-32-core ratios sit ≈1 because 0.2-4 s queries are
        # dominated by per-query plan/job fixed overhead — scaling
        # probes need ≥10x SF to separate from that floor).
        "cpus": cpus,
        "default_parallelism": default_parallelism,
        "queries_median": medians,
    }


def main() -> None:
    # The package's own session, so the headline times the engine as
    # every other entry point configures it; bench keeps a larger heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("weather_data_pipeline_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # JVM/codegen warmup on a tiny table so q1 doesn't pay startup cost.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # n timed runs per query, INTERLEAVED (pass 1 runs every query once,
    # then pass 2, ...) so a box-load spike lands on one pass of every
    # query instead of all runs of one query — ambient drift becomes
    # per-query dispersion rather than a fake plan regression. Pass 1
    # pays one-time whole-stage-codegen JIT compilation (~1-2 s/query in
    # a fresh JVM, a fixed cost amortized to nothing over a real
    # workload), so `value` stays best-of-n (steady state, round-over-
    # round comparable); true medians (statistics.median — the old
    # samples[n//2] picked the UPPER middle on even n) and stdevs expose
    # run-to-run drift per query.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(runs):
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    times = {n: round(min(s), 3) for n, s in samples.items()}
    medians = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    # dispersion over steady-state passes only (pass 1 pays the one-time
    # codegen JIT — including it would report compilation, not drift).
    # Emitted only when SPARK_GRAFT_BENCH_STDEV is set: BENCH_r14's JSON
    # line outgrew the driver's tail capture and never parsed, erasing a
    # round of comparison (VERDICT r15 ask #2) — the stdev dict is the
    # one non-contract block big enough to matter (~3.5 KB at 141
    # queries), so the default emit stays lean while local committed
    # runs can opt back in. Timing methodology is unchanged.
    stdevs = (
        {
            n: round(statistics.stdev(s[1:]), 3) if len(s) > 2 else 0.0
            for n, s in samples.items()
        }
        if os.environ.get("SPARK_GRAFT_BENCH_STDEV")
        else {}
    )

    print(
        json.dumps(
            build_payload(
                times,
                medians,
                stdevs,
                runs,
                _sf_from_dir(SF_DIR),
                cpus=CPUS,
                default_parallelism=spark.sparkContext.defaultParallelism,
            )
        )
    )


if __name__ == "__main__":
    main()
