"""Query registry — the single source for the driver contract.

Every implemented operator from SURVEY.md §2 registers here a named
callable ``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables. ``__spark_entry__``
re-exports these.

Determinism rules enforced by convention here (SURVEY.md §7.4):
- aggregate doubles through DECIMAL casts (exact, order-independent) or
  explicit rounding applied identically on both sides;
- every window ``ORDER BY`` carries a unique tiebreak key;
- timestamps compared as UTC; session tz pinned via session.tune().
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` is DuckDB ANSI SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


# The driver verifies correctness for the first 50 registered queries only,
# in registration order. Round-7 restructure (VERDICT r6 ask #1): the
# 24-slot pinned set shrank to THREE non-rotating slots — the flagship and
# the two round-2 hash-fail regression pins — freeing 47 slots to clear the
# 49-query rotation backlog (every round-6 addition that had never held a
# driver CORRECTNESS row) in a single round. Family representation is
# preserved because the backlog itself spans every family (asserted by
# tests/test_entry.py::test_first_50_slots_cover_survey_operators with the
# full family-prefix list, now including x9/ext_cdc/ext_cogroup).
#
# Two backlog members do NOT fit (49 backlog + 3 pins = 52 > 50):
# x7_asof_join_tolerance and x3_ivf_recall_eval — chosen because each is a
# parameter/band variant of a family member that IS driver-green in r6
# (x7_asof_join, x3_ivf_kmeans_topk + x2_minhash_lsh_recall for the
# recall-band shape) and both are local-parity green at sf0.01 and sf0.1.
# They head the r8 rotation queue together with the round-7 additions
# (tests/test_entry.py::test_driver_union_vs_registry pins the queue to
# exactly that set — the union gap cannot silently grow again).
#
# Rows-only queries (VERDICT r5 ask #6 resolution): exactly six queries
# carry no oracle, each for a stated reason AND each now paired with an
# oracle-bearing BAND TWIN that runs the same engine-specific op and
# value-checks its contract (tests/test_oracle_parity.py::
# test_rows_only_queries_each_have_a_band_twin pins the pairing):
#   x2_minhash_lsh        — candidate pairs/distances depend on Spark's
#                           minhash family + HashingTF murmur3 buckets;
#                           twin x2_minhash_lsh_recall (recall vs exact
#                           strong pairs, count oracle-exact)
#   x2_simhash            — xxhash64 signature values; twin
#                           x2_simhash_invariants (counts + determinism),
#                           plus portable twin x2_simhash_portable
#   ext_approx_count_distinct — HLL++ register estimates; twin
#                           ext_acd_error_band (|approx−exact| ≤ 4·rsd)
#   o27_random_split      — XORShift sampler row assignment; twin
#                           o27_random_split_invariants (partition +
#                           fraction band), plus o27_hash_split
#   o28_gbt_train_predict — GBT values engine-specific (SURVEY §7.4.3);
#                           twin o28_gbt_holdout_band (per-row abs err),
#                           plus o28_linreg_baseline
#   o29_next_day_forecast — GBT values; twin o29_forecast_band (exact
#                           at_date stamp + plausibility band)
# All 50 driver slots are oracle-bearing (enforced by tests/test_entry.py).
_PRIORITY: tuple[str, ...] = (
    # --- pinned (3): flagship + the two hash-fail regression pins ---
    "o15_latest_per_key",  # flagship (also entry())
    "w_corrupt_quarantine",  # r2 hash-fail regression pin
    "x6_session_windows",  # r2 hash-fail regression pin
    # --- round-15 STALENESS rotation (32; VERDICT r14 ask #2): ALL
    # thirty-two r8-stale rows — the oldest oracle-bearing tier in the
    # union (includes the ext_q16 filler displaced from r14). With
    # these in-window nothing oracle-bearing is staler than r9.
    "ext_bloom_join_prune",
    "ext_dq_audit",
    "ext_q16_supplier_counts",
    "ext_q20_promotion_suppliers",
    "mm_image_phash_neardup",
    "s_api_stream",
    "s_c4_gate_stream",
    "s_stream_left_join",
    "w_csv_quarantine",
    "x1_normalized_dedup",
    "x2_containment_capped",
    "x2_containment_pairs",
    "x3_binary_hamming_topk",
    "x3_binary_recall_eval",
    "x3_centroid_outliers",
    "x3_ivf_recall_eval",
    "x3_ivf_rerank_topk",
    "x3_prefix_dim_recall",
    "x3_range_search",
    "x4_bpe_pair_stats",
    "x4_uniqueness_score",
    "x6_cusum_changepoints",
    "x6_gap_report",
    "x6_rfm_scores_scalable",
    "x6_seasonal_baseline",
    "x8_budget_select_scalable",
    "x8_c4_pipeline",
    "x8_interleave_sources",
    "x8_length_buckets_scalable",
    "x8_sequence_pack",
    "x8_temperature_mixture",
    "x8_tokenize_to_ids",
    # --- rows-only band twins (5 of 6; VERDICT r14 ask #8): a
    # driver-signed row for the band twin of each engine-specific
    # rows-only query. x2_simhash_invariants takes its slot in r16
    # (the ask allows spreading across r15–r16; x2's other twin
    # x2_minhash_lsh_recall is below).
    "ext_acd_error_band",
    "o27_random_split_invariants",
    "o28_gbt_holdout_band",
    "o29_forecast_band",
    "x2_minhash_lsh_recall",
    # --- round-15 addition + changed-rung re-entries (standing
    # convention: changed rungs are driver-checked the round they
    # change). x3_nsw_beam_blocked is NEW (the LSH-blocked kNN-graph
    # build, VERDICT r14 ask #1); x3_nsw_beam's search loop was
    # factored into the shared _nsw_beam_loop + the empty-qsims guard
    # (ADVICE r14); the unigram rungs gained the DP dispatch (ask #5);
    # s_cdc_chunk_stream's registry merge gained the run-token replay
    # guard + legacy-state backfill (ADVICE r14). All swept green at
    # sf0.001/sf0.01/sf0.1 in-session before entering.
    "x3_nsw_beam_blocked",
    "x3_nsw_beam",
    "x4_unigram_train",
    "x4_unigram_apply",
    "s_cdc_chunk_stream",
    # --- family representatives (5): sole-member families stay
    # in-window every round (CDC, cogroup); the x5/x7/x9 reps are the
    # OLDEST-driver-checked oracle-bearing members of families the
    # staleness tier above doesn't reach (coverage pinned by
    # test_first_50_slots_cover_survey_operators).
    "ext_cdc_merge",  # r14 (sole CDC query)
    "ext_cogroup_pandas",  # r14 (sole cogroup query)
    "x5_json_get_path",  # r9 — oldest x5
    "x7_interval_coverage",  # r9 — oldest x7
    "x9_degree_hist",  # r10 — oldest x9
    # Rotated OUT: the r14-window rows not re-listed above — all
    # r14-green, their rows stand in the union (staleness floor r9).
)

#: Next-round rotation queue — every registered query not yet covered by
#: the union of driver CORRECTNESS rows plus the current window above.
#: tests/test_entry.py::test_driver_union_vs_registry computes the gap
#: from the CORRECTNESS_r0*.json files and asserts it equals EXACTLY
#: this set, so the backlog can never silently grow past one round's
#: rotation capacity again. As of the r12 rotation: the six round-11
#: late additions rotated into the window head (VERDICT r11 ask #1),
#: nine round-12 additions registered straight into the window while
#: it was open, and every other query holds a row in the r1-r11
#: union. As of the r14 rotation: the 24 r7-stale rows rotate in
#: (VERDICT r13 ask #1), the nine microunit-migrated rungs and the
#: three ADVICE-touched CDC rungs re-enter (changed-this-round
#: convention), the round-14 additions (x3_nsw_beam,
#: x4_unigram_train) register straight into the window, and every
#: other query holds a row in the r1-r13 union — the queue is EMPTY.
#: As of the r15 rotation: the 32 r8-stale rows rotate in (VERDICT
#: r14 ask #2), five of the six rows-only band twins get their
#: driver-signed slot (ask #8; x2_simhash_invariants is DECLARED for
#: r16), the round-15 addition (x3_nsw_beam_blocked) registers
#: straight into the window with the four changed-rung re-entries,
#: and every other query holds a row in the r1-r14 union — the queue
#: is EMPTY. Queries landing after the r15 window locks go here and
#: head the r16 rotation (standing convention): x3_hnsw_beam (the
#: hierarchical-NSW rung, added mid-r15 after the window froze) was
#: parity-swept at all three SFs in-session per the pre-registration
#: checklist and takes the x2_simhash_invariants-declared r16 head.
_R15_QUEUE: set[str] = {
    "x3_hnsw_beam",
    "x2_record_linkage",
    "s_record_linkage_stream",
}


def _prioritized(d: dict[str, object]) -> dict[str, object]:
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _prioritized(_QUERIES)  # type: ignore[return-value]


def oracle_sql() -> dict[str, str]:
    _load_all()
    _materialize_fixtures()
    return _prioritized(_ORACLE)  # type: ignore[return-value]


def _materialize_fixtures() -> None:
    """The weather oracles scan fixture trees with read_json/read_text
    globs; materialize them (atomic, idempotent) before handing out oracle
    SQL so DuckDB never races a missing file. Lives here — not at operator
    import time — so importing the registry stays side-effect-free."""
    from .sources import csv_source as csvsrc
    from .sources import weather as wsrc

    wsrc.ensure_fixture()
    wsrc.ensure_corrupt_fixture()
    csvsrc.ensure_csv_fixture()


_LOADED = False


def _load_all() -> None:
    """Import every operator module so decorators run (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        advanced,
        dedup,
        flagship,
        graph,
        joins_aggs,
        json_ops,
        layout,
        ml_queries,
        multimodal,
        python_exec,
        relational,
        sessionize,
        similarity,
        streaming_queries,
        text_analysis,
        tpch_extra,
        tpch_partsupp,
        weather_queries,
        windows,
    )

    _LOADED = True
