"""Scale-step evidence: measure headline queries at sf0.1 AND a 10x
replica, so the README shuffle-inventory's "what changes at 1000x"
column rests on a measured scaling exponent, not speculation.

The 10x replica is built by unioning 10 key-shifted copies of the sf0.1
tables (keys shifted per copy so join fan-outs and key cardinalities
scale realistically instead of producing 10x duplicates of every key;
document texts get copy-specific, length-preserving tokens so the
dedup duplicate RATE is preserved rather than collapsing across
copies). Written once to $SPARK_GRAFT_SCALE_DIR (default /tmp/spark_graft_scale10) and reused.

Run:  python tools/scale_bench.py
Emits one JSON line {query: {t_1x, t_10x, ratio}} and writes
BENCH_SCALE.json at the repo root.

Run on an OTHERWISE IDLE box: a concurrent Spark session competing for
the 32 cores inflates exactly the compute-bound 10x legs and fabricates
superlinear ratios (a contended round-6 run showed x2_tfidf_cosine at
12.3x; the clean rerun measured 2.8x on identical code). If a ratio
looks superlinear, rerun it quiet before believing it.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_data_pipeline_spark import registry  # noqa: E402
from weather_data_pipeline_spark.session import tune  # noqa: E402
from weather_data_pipeline_spark.sources.testdata import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale10")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))

#: Key shifts: far above any base key so copies never collide.
K_ORDER = 10_000_000
K_CUST = 1_000_000
K_PART = 1_000_000
K_SUPP = 1_000_000
K_EVENT = 10_000_000
K_USER = 1_000_000
K_DOC = 1_000_000
K_VEC = 1_000_000

QUERIES = [
    "ext_q1_pricing_summary",
    "ext_q3_shipping_priority",
    "ext_q5_local_supplier",  # exercises the replicated part/supplier dims
    "o15_latest_per_key",
    "x1_exact_dedup_hash",
    "x5_json_extract_agg",
    # Python-stage headliners (r3 ask #4): their 100 TB story must rest on
    # a measured scaling exponent too, not plan shape alone. vec_id shifts
    # keep the IVF probe set fixed (vec_id < N_QUERIES only matches copy
    # 0) while the corpus and every inverted list grow 10x — the scale
    # axis an ANN index actually faces.
    "x2_ngram_jaccard",
    "x2_simhash",
    "x3_ivf_topk",
    "x3_ivf_kmeans_topk",
    "x6_session_windows",
    # round-5 operators
    "x2_decontaminate",
    "x8_mixture_sample",
    "x3_quantize_int8",
    "x4_repetition_score",
    # round-6 additions (VERDICT r5 ask #2): every round-5 operator gets
    # a measured scaling exponent, not just a 1x bench row
    "x2_ngram_jaccard_capped",
    "x6_ema_daily",
    "x8_sequence_packing",
    "x2_dup_components_star",
    "mm_decode_features",
    # round-6 operators: the new text/sampling/PQ surface at 10x
    "x4_bm25_score",
    "x4_unigram_logprob",
    "x8_doc_chunking",
    "x8_weighted_sample",
    "x6_ohlc_daily",
    "x3_pq_codes",
    "x3_pq_adc_topk",
    # round-6 second batch: join/window/layout surface at 10x
    "ext_q10_returned_items",
    "x6_sliding_windows",
    "x6_validity_intervals",
    "x6_zscore_anomaly",
    "x4_pii_redact",
    "x8_zorder_layout",
    "x2_tfidf_cosine",
    "x6_mad_outliers",
    "x4_token_normalize",
    "x6_funnel_stages",
    "x5_json_keys_profile",
    "ext_cogroup_pandas",
    "x3_knn_classify",
    "ext_cdc_merge",
    "x9_pagerank",
    "x2_dedup_keep_best",
    "x4_corpus_profile",
    "x4_bigram_logprob",
    "ext_q4_order_priority",
    "ext_q12_shipping_delay",
    "ext_q14_promo_revenue",
    "x4_heavy_hitters",
    "ext_incremental_agg",
    "x3_ivf_pq_topk",
    "x6_holt_smoothing",
    "x7_asof_join_tolerance",
    "x6_retention_cohorts",
    # x2_semantic_dedup is NOT scale-benched: its pair source is the
    # HARD-GATED exact all-pairs rung (x3_embedding_near_dup, O(N²) by
    # definition — measured 11.9x at 10x before removal, the expected
    # exponent for 100x comparisons amortized by vectorization). The
    # gated exact rungs (x3_cosine_topk, x3_embedding_near_dup) follow
    # the same convention: their scale story is the corpus-size gate
    # that routes past-ceiling corpora to the bucketed rungs.
    # round-6 third batch: the second TPC-H tranche + new LLM-data ops
    "ext_q6_revenue_delta",
    "ext_q7_volume_shipping",
    "ext_q8_market_share",
    "ext_q13_cust_distribution",
    "ext_q17_small_qty_revenue",
    "ext_q22_dormant_customers",
    "x1_line_dedup",
    "x4_gopher_filter",
    "x9_triangle_count",
    "ext_q15_top_supplier",
    "ext_q19_disjunctive_revenue",
    "x8_epoch_shuffle",
    "x1_intradoc_line_dedup",
    "mm_audio_energy",
    "ext_q21_waiting_supplier",
    "x6_interval_merge",
    "x8_oversample_minority",
    "x3_mips_topk",
    "x4_vocab_coverage",
    "x7_temporal_join",
    # derived-partsupp TPC-H batch + the prefix-sum and sketch rungs
    # (each prefix-sum body also answers its exact name; its WHOLE
    # claim is its 10x behavior)
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
    "x2_tfidf_cosine_prefix",
    "mm_phash_neardup_codes",
    "x4_hashed_linear_score",
    "x1_substring_spans",
    "x1_substring_rewrite",
    "x8_cluster_balance",
    "x8_curriculum_order",
    "x6_resample_interpolate",
    "x2_source_overlap",
    "x7_interval_overlap_sweep",
    "x6_lttb_downsample",
    "x6_m4_downsample",
    "x6_lttb_exact",
    "x7_interval_coverage",
    "x2_soft_dedup_weights",
    "x6_holt_winters",
    "w_orc_roundtrip",
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
    "x2_semdedup_keep",
    "mm_keyframe_extract",
    "x1_bloom_prefilter",
    "x4_bpe_apply",
    "x3_ivf_nprobe_tuning",
    "mm_audio_silence_trim",
    # round-12 additions
    "x1_bloom_geometry_tuning",
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
    "x3_hnsw_beam",
    "x2_record_linkage",
]

#: Viral boilerplate for the skew replica: untagged (shared verbatim
#: across copies), so its trigrams' document frequency grows with copy
#: count — the posting-list blowup the DF cap exists to bound.
BOILER = (
    "this content is provided under the standard license terms"
    " all rights reserved worldwide"
)
#: 1-in-20 docs carry the boilerplate (5% — typical site-template rate).
BOILER_MOD = 20
SKEW1_DIR = os.environ.get("SPARK_GRAFT_SKEW1_DIR", "/tmp/spark_graft_skew1")
SKEW10_DIR = os.environ.get("SPARK_GRAFT_SKEW10_DIR", "/tmp/spark_graft_skew10")


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _copy_text(text: Column, i: int) -> Column:
    """Copy ``i``'s text: no token shared with another copy, every token
    as long as copy 0's.  Each letter is rotated by ``i mod 26`` (sf0.1's
    vocabulary holds no word that is a rotation of another, so copies
    0–25 share no token).  Word lengths are kept, so per-word costs (the unigram kernels' 2^(L−1) segment
    lattice, BPE's symbol pairs) grow with the word count alone.  Past
    26 copies the rotation repeats, and the block index ``i // 26`` is
    prefixed to every token."""
    k = i % len(_LETTERS)
    rot = _LETTERS[k:] + _LETTERS[:k]
    out = F.translate(text, _LETTERS + _LETTERS.upper(), rot + rot.upper())
    if i >= len(_LETTERS):
        out = F.regexp_replace(out, r"(\S+)", f"c{i // len(_LETTERS)}_$1")
    return out


def _replicate(df: DataFrame, shifts: dict[str, int], text_col: str | None = None) -> DataFrame:
    parts = []
    for i in range(COPIES):
        c = df
        for col, k in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * k))
        if text_col is not None and i > 0:
            # Make EVERY token copy-specific, not just append a suffix: a
            # suffix leaves copies sharing all but one shingle, so every
            # cross-copy pair becomes an n-gram near-dup candidate and
            # candidate pairs grow ~copies² (the v2 replica showed a fake
            # 34x at 10x on x2_ngram_jaccard). Copy-specific tokens keep
            # copies disjoint in shingle space — the dup RATE stays
            # constant, matching how real 10x data behaves.
            c = c.withColumn(text_col, _copy_text(F.col(text_col), i))
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: Bump when the replica layout changes so stale dirs rebuild.
_REPLICA_VERSION = 5


def build(spark: SparkSession) -> None:
    marker = os.path.join(SCALE_DIR, "_SCALE_META.json")
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if meta.get("version") == _REPLICA_VERSION and meta.get("copies") == COPIES:
            return
    if os.path.isdir(SCALE_DIR):
        # stale layout (e.g. pre-v2 symlinked part/supplier with dangling
        # FKs): rebuild from scratch — never let an overwrite-write chase
        # a symlink into the read-only base tables
        import shutil
        shutil.rmtree(SCALE_DIR)
    os.makedirs(SCALE_DIR, exist_ok=True)
    li = load_table(spark, BASE, "lineitem")
    orders = load_table(spark, BASE, "orders")
    cust = load_table(spark, BASE, "customer")
    ev = load_table(spark, BASE, "events")
    doc = load_table(spark, BASE, "documents")
    part = load_table(spark, BASE, "part")
    supp = load_table(spark, BASE, "supplier")

    _replicate(li, {"l_orderkey": K_ORDER, "l_partkey": K_PART, "l_suppkey": K_SUPP}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/lineitem.parquet")
    _replicate(orders, {"o_orderkey": K_ORDER, "o_custkey": K_CUST}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/orders.parquet")
    _replicate(cust, {"c_custkey": K_CUST}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/customer.parquet")
    # part/supplier replicate with the SAME shifts lineitem applies to
    # l_partkey/l_suppkey, so every replica FK resolves (a symlinked base
    # copy would leave 9/10 of lineitem's part/supplier keys dangling and
    # silently shrink dim-join results)
    _replicate(part, {"p_partkey": K_PART}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/part.parquet")
    _replicate(supp, {"s_suppkey": K_SUPP}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/supplier.parquet")
    # events.ts writes as native µs TIMESTAMP_NTZ (load_table sniffs the
    # footer unit since round 5, so no int64-nanos round-trip needed)
    _replicate(ev, {"event_id": K_EVENT, "user_id": K_USER}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/events.parquet")
    _replicate(doc, {"doc_id": K_DOC}, text_col="text") \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/documents.parquet")
    # embeddings replicate with shifted vec_id and UNshifted label: the
    # corpus and each of the k inverted lists grow 10x while the probe
    # set (vec_id < N_QUERIES) stays fixed to copy 0
    emb = load_table(spark, BASE, "embeddings")
    _replicate(emb, {"vec_id": K_VEC}) \
        .write.mode("overwrite").parquet(f"{SCALE_DIR}/embeddings.parquet")
    # keyless-from-the-fact-side dims (nation/region keys are never
    # shifted): symlink base copies
    for t in ["region", "nation"]:
        dst = f"{SCALE_DIR}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    with open(marker, "w") as f:
        json.dump({"version": _REPLICA_VERSION, "copies": COPIES}, f)


def _with_boiler(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "text",
        F.when(
            F.col("doc_id") % BOILER_MOD == 0,
            F.concat(F.col("text"), F.lit(" " + BOILER)),
        ).otherwise(F.col("text")),
    )


def build_skew(spark: SparkSession) -> None:
    """Skew-injected documents replicas at 1x and 10x: the normal replica
    keeps copies shingle-disjoint (per-token tags), so it models CLEAN 10x
    growth; these dirs additionally share one untagged boilerplate across
    5% of docs in EVERY copy, so at 10x its trigrams' posting lists are
    10x longer and the uncapped pair join faces df² growth — the failure
    mode x2_ngram_jaccard_capped bounds. K_DOC is divisible by BOILER_MOD,
    so the same 5% of each copy is selected."""
    for d, build_df in (
        (SKEW1_DIR, lambda: _with_boiler(load_table(spark, BASE, "documents"))),
        (
            SKEW10_DIR,
            lambda: _with_boiler(
                _replicate(
                    load_table(spark, BASE, "documents"),
                    {"doc_id": K_DOC},
                    text_col="text",
                )
            ),
        ),
    ):
        marker = os.path.join(d, "_SKEW_META.json")
        if os.path.exists(marker):
            with open(marker) as f:
                if json.load(f).get("version") == _REPLICA_VERSION:
                    continue
        os.makedirs(d, exist_ok=True)
        build_df().write.mode("overwrite").parquet(f"{d}/documents.parquet")
        with open(marker, "w") as f:
            json.dump({"version": _REPLICA_VERSION}, f)


def _time(qs, name: str, spark: SparkSession, sf_dir: str) -> float:
    # isolate each measurement: several operators cache session-scoped
    # tables (TF-IDF weighted terms, IVF corpus, PageRank edges), and 70+
    # queries x 2 scale dirs accumulate enough MEMORY_AND_DISK entries
    # that LRU churn inflates the later compute-bound legs (measured:
    # x2_tfidf_cosine 10x leg 18.9 s in-suite vs 6.9 s isolated, same
    # code — the ratio read 7.1x when the isolated truth is ~2.5x).
    # bench.py deliberately KEEPS caches (it measures steady-state
    # reuse); the scale ratio must not.
    spark.catalog.clearCache()
    # one untimed warmup pays whole-stage-codegen JIT so the measured
    # ratio compares steady states (bench.py's convention)
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    # optional argv name filters: measure only matching queries and MERGE
    # their rows into the existing BENCH_SCALE.json (full runs overwrite)
    # — lets a newly added operator get its measured ratio without a
    # 25-minute full replay.
    filters = sys.argv[1:]
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scale-bench")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    build(spark)
    qs = registry.queries()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = [n for n in QUERIES if not filters or any(f in n for f in filters)]
    out = {}
    for name in names:
        t1 = _time(qs, name, spark, BASE)
        t10 = _time(qs, name, spark, SCALE_DIR)
        out[name] = {"t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}
    if filters:
        with open(os.path.join(root, "BENCH_SCALE.json")) as f:
            payload = json.load(f)
        payload["queries"].update(out)
    else:
        # A/B on the skew-injected replica: the capped variant's 1x→10x
        # ratio must beat the uncapped one's — df² growth vs the
        # |docs|·cap bound.
        build_skew(spark)
        skew = {}
        for name in ("x2_ngram_jaccard", "x2_ngram_jaccard_capped",
                     "x2_containment_pairs", "x2_containment_capped"):
            t1 = _time(qs, name, spark, SKEW1_DIR)
            t10 = _time(qs, name, spark, SKEW10_DIR)
            skew[name] = {"t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}
        payload = {"copies": COPIES, "base": BASE, "queries": out, "skew": skew}
    print(json.dumps(payload))
    with open(os.path.join(root, "BENCH_SCALE.json"), "w") as f:
        json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
