"""Plan-quality gates (SURVEY.md §4): pin the physical plan properties the
100 TB posture depends on, not just query answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark import registry
from weather_data_pipeline_spark.plans.inspect import (
    has_broadcast_join,
    has_partial_aggregation,
    num_shuffles,
    pushed_filters,
    scan_columns,
    wholestage_codegen_spans,
)
from weather_data_pipeline_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.01"
_Q = registry.queries()


def test_filter_pushdown_reaches_scan(spark):
    """q1's shipdate predicate must land in PushedFilters, not a post-scan
    Filter alone."""
    df = _Q["ext_q1_pricing_summary"](spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p and "LessThanOrEqual" in p for p in pushed), pushed


def test_column_pruning(spark):
    """A 3-column projection reads 3 columns, never the whole table."""
    df = _Q["o12_projection"](spark, SF)
    cols = scan_columns(df)
    assert cols and sorted(cols[0]) == ["p_name", "p_partkey", "p_retailprice"]


def test_small_dims_broadcast(spark):
    """customer ⋈ nation ⋈ region: both dimension joins must broadcast —
    a shuffle join on a 25-row table would be wrong at any scale."""
    df = _Q["ext_join_broadcast_dims"](spark, SF)
    assert has_broadcast_join(df)


def test_aggregation_is_partial(spark):
    """q1 partial-aggregates map-side: the exchange carries ~6 group rows
    per task, not 60k input rows."""
    df = _Q["ext_q1_pricing_summary"](spark, SF)
    assert has_partial_aggregation(df)
    assert num_shuffles(df) == 1


def test_flagship_single_shuffle(spark):
    """Latest-per-key is one hash shuffle on the key (window form)."""
    df = _Q["o15_latest_per_key"](spark, SF)
    assert num_shuffles(df) == 1


def test_asof_join_single_shuffle(spark):
    """The as-of join never joins: one window shuffle, no Join operator."""
    df = _Q["x7_asof_join"](spark, SF)
    assert num_shuffles(df) == 1
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()


def test_whole_stage_codegen_active(spark):
    """Scan→filter→project→partial-agg fuses into codegen regions."""
    df = _Q["ext_q1_pricing_summary"](spark, SF)
    assert wholestage_codegen_spans(df) >= 1


def test_cosine_topk_corpus_never_shuffles(spark):
    """Brute-force top-k: query vectors are closed over in the Arrow
    kernel (no join at all), the corpus is scanned once, and the only
    exchange is the final per-query window (|queries|·|corpus| reduced
    rows, tiny)."""
    df = _Q["x3_cosine_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert num_shuffles(df) == 1


def test_partition_pruning_counts_files(spark, tmp_path):
    """Partitioned curated table: a date predicate prunes to 1/3 of files."""
    from weather_data_pipeline_spark import pipeline
    from weather_data_pipeline_spark.sources import weather as wsrc

    root = str(tmp_path)
    table = "weather.weather_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    pipeline.extract_to_raw(root)
    pipeline.curate(spark, pipeline.stage(spark, root), table=table, path=f"{root}/c")
    full = spark.table(table)
    pruned = full.filter(F.col("ingest_date") == wsrc.FIXTURE_DATES[0])
    n_full = full._jdf.queryExecution().executedPlan().toString().count("file:")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_bucketed_join_zero_shuffle(spark):
    """orders ⋈ lineitem both bucketed on orderkey: the join plan has no
    Exchange at all — the layout pre-paid the shuffle at write time."""
    from weather_data_pipeline_spark.sources.io import bucketed_write
    from weather_data_pipeline_spark.sources.testdata import load_table

    for name, key in [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS bkt_{name}")
        bucketed_write(load_table(spark, SF, name), f"bkt_{name}", key, 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("bkt_orders")
            .join(
                spark.table("bkt_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert joined.count() == 5
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]  # below the agg exchange
        assert "Exchange" not in join_part, join_part
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ["orders", "lineitem"]:
            spark.sql(f"DROP TABLE IF EXISTS bkt_{name}")


def test_range_join_is_equi_not_nested_loop(spark):
    """Binned interval join plans as a hash/sort-merge equi-join on the
    bin — never BroadcastNestedLoopJoin (quadratic at scale)."""
    df = _Q["ext_range_join"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan


def test_topk_never_global_sorts(spark):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition
    top-k, k-way merged on the driver) — a full global sort of the
    aggregate output would shuffle everything to produce 10 rows."""
    for name in ["ext_q3_shipping_priority", "ext_q18_large_orders"]:
        plan = _Q[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name


def test_ivf_assignment_no_crossjoin_no_window_shuffle(spark):
    """IVF centroid assignment is a broadcast-argmax inside mapInPandas:
    the plan must contain no cross/nested-loop join and no Window (the
    old shape shuffled k× the corpus through a row_number window). The
    only remaining exchanges are the quantizer build's label groupBy and
    the final per-query top-k — both bounded by k/|queries|, not corpus."""
    import re

    df = _Q["x3_ivf_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # exactly one Window operator: the final per-query top-k (the
    # WindowGroupLimit entries are its per-partition pushdown, not a
    # second window)
    assert len(re.findall(r"\bWindow \[", plan)) <= 1


def test_partial_agg_centroids_match_full_group_mean(spark):
    """The map-side-combine centroid path (shuffle carries ≤ k·partitions
    partial rows) produces EXACTLY the same 6-decimal centroids as the
    full-group applyInPandas mean it replaces in the k-means loop: both
    paths sum with math.fsum (exactly rounded, order-insensitive), so the
    result no longer depends on partition boundaries (ADVICE r4 #1) —
    exercised across three different partitionings."""
    from weather_data_pipeline_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings")
    full = {
        r["label"]: r["centroid"]
        for r in emb.select(
            "label", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .groupBy("label")
        .applyInPandas(sim._centroid_of_group, schema=sim._CENTROID_SCHEMA)
        .collect()
    }
    for reshaped in (emb, emb.repartition(7), emb.repartition(1)):
        partial = {
            r["label"]: r["centroid"]
            for r in sim.centroids_partial_agg(reshaped, "label").collect()
        }
        assert full.keys() == partial.keys()
        for k in full:
            assert full[k] == partial[k], k


def test_ivf_recall_floor(spark):
    """The ANN's quality claim, measured: recall@5 of the IVF probe
    against the exact brute-force top-k. The label-based quantizer only
    weakly aligns with cosine geometry on this testdata, so absolute
    recall is modest — the assertions pin (a) a floor per rung and
    (b) that both knobs (nprobe, k-means refinement) strictly buy
    recall, which is the property the 100 TB rung depends on. Measured
    2026-08 at sf0.001: label quantizer 0.16 (nprobe=1) / 0.40
    (nprobe=2); 2 Lloyd iterations lift nprobe=1 to 0.32 (sf0.01:
    0.18/0.36 label, 0.24 k-means)."""
    from weather_data_pipeline_spark.operators import similarity as sim

    exact = {}
    for r in _Q["x3_cosine_topk"](spark, SF).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(**kw):
        got = {}
        for r in sim.ivf_topk(spark, SF, **kw).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        per_q = [len(got.get(q, set()) & v) / len(v) for q, v in exact.items()]
        return sum(per_q) / len(per_q)

    r1, r2 = recall(nprobe=1), recall(nprobe=2)
    rk = recall(nprobe=1, kmeans_iters=2)
    assert r1 >= 0.10, r1
    assert r2 >= 0.30, r2
    assert r2 > r1, (r1, r2)
    assert rk >= 0.20 and rk > r1, (rk, r1)


def test_near_dup_collect_is_gated(spark):
    """The exact all-pairs rung must refuse to broadcast an oversized
    corpus (driver-OOM guard) and name the LSH rung in the error."""
    import pytest

    from weather_data_pipeline_spark.operators import similarity as sim

    orig = sim.MAX_BROADCAST_VECTORS
    sim.MAX_BROADCAST_VECTORS = 1
    try:
        with pytest.raises(ValueError, match="x3_lsh_candidate_pairs"):
            sim.x3_embedding_near_dup(spark, SF)
    finally:
        sim.MAX_BROADCAST_VECTORS = orig


def test_simhash_kernel_zero_shuffle_and_matches_sql_form(spark):
    """The Arrow SimHash kernel is a narrow scan→project (zero Exchange —
    the old SQL form shuffled tokens × 64 bits), and produces the exact
    signatures of the SQL form."""
    from weather_data_pipeline_spark.operators import dedup

    df = _Q["x2_simhash"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no KEY shuffle (the old form hash-partitioned tokens × 64 bits twice);
    # the only allowed Exchange is fan_out's round-robin task-spreading,
    # which disappears at scale (it only fires when partitions < cores)
    assert "hashpartitioning" not in plan
    assert num_shuffles(df) <= 1
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in dedup.simhash_sql_form(spark, SF).collect())
    assert a == b


def test_new_ops_shuffle_budgets(spark):
    """Plan gates for the round-3 operators: sequence packing pays exactly
    one exchange (the shard shuffle), thumbnailing pays none (narrow scan
    → Python stage)."""
    assert num_shuffles(_Q["x8_sequence_packing"](spark, SF)) == 1
    assert num_shuffles(_Q["mm_resize_thumbnail"](spark, SF)) == 0


def test_round5_op_plan_gates(spark):
    """Shuffle budgets for the round-5 operators: the mixture sampler is
    one window exchange; quantization is one dim-agg exchange + a
    broadcast scales join (the encode pass itself is narrow);
    decontamination broadcasts the eval side; portable sketches pay two
    partial-agg exchanges."""
    assert num_shuffles(_Q["x8_mixture_sample"](spark, SF)) == 1
    q = _Q["x3_quantize_int8"](spark, SF)
    assert num_shuffles(q) <= 2 and has_broadcast_join(q)
    d = _Q["x2_decontaminate"](spark, SF)
    assert has_broadcast_join(d) and has_partial_aggregation(d)
    assert num_shuffles(_Q["x2_simhash_portable"](spark, SF)) <= 2
    assert num_shuffles(_Q["x2_minhash_portable"](spark, SF)) <= 2


def test_star_components_multi_hop_chain(spark):
    """A 4-node chain (1-2, 2-3, 3-4) has diameter 3, so the kernel must
    run past one contraction to settle — pins the fixpoint loop, not
    just the clique-shaped easy case; plus a disjoint pair and a
    singleton."""
    from weather_data_pipeline_spark.operators import dedup

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    labels, _ = dedup.star_components(nodes, pairs)
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_broadcast_budget_helper_gates_the_hint(spark, monkeypatch):
    """The shared helper puts a broadcast hint on the optimized plan
    only while the probed row count fits the budget, and the gated graph
    kernels hint through it — no direct, ungated ``F.broadcast(`` call."""
    import inspect

    from weather_data_pipeline_spark.functions import broadcast
    from weather_data_pipeline_spark.operators import graph
    from weather_data_pipeline_spark.plans.inspect import optimized_plan

    a = spark.range(100)
    b = spark.range(10)

    def joined():
        return a.join(broadcast.broadcast_under_budget(b, 10), "id")

    assert "strategy=broadcast" in optimized_plan(joined())
    monkeypatch.setattr(broadcast, "BROADCAST_ROWS", 0)
    assert "strategy=broadcast" not in optimized_plan(joined())
    kernels = [
        graph.x9_pagerank,
        graph.x9_label_propagation,
        graph.x9_kcore_peel,
        graph.x9_jaccard_neighbors,
        graph.sssp_rounds,
    ]
    for fn in kernels:
        src = inspect.getsource(fn)
        assert "broadcast_under_budget(" in src, fn.__name__
        assert "F.broadcast(" not in src, fn.__name__


def test_whitespace_token_rule_lives_in_one_module():
    """The ``split(text, " ")`` token rule is written once, in
    ``functions/tokens.py``; every other package module reaches it
    through that module's helpers, so no rung can drift to its own
    tokenization."""
    import re
    from pathlib import Path

    import weather_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    rule = re.compile(r"""F\.split\(\s*["']text["']\s*,\s*["'] ["']\s*\)""")
    assert rule.search('F.split("text", " ")')
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p != root / "functions" / "tokens.py" and rule.search(p.read_text())
    ]
    assert hits == []


def test_recurrence_ladder_shares_one_walk_and_one_daily_close():
    """The x6 recurrence rungs run on ``_walk_users`` and read the daily
    series from ``_daily_close``: outside those shared helpers
    sessionize.py writes no shard guard, no shard grouped-map chain and
    no daily-close ``max_by`` build of its own."""
    import inspect
    import re

    from weather_data_pipeline_spark.operators import sessionize

    src = inspect.getsource(sessionize)
    for helper in (
        sessionize._daily_close,
        sessionize._shard_walk,
        sessionize._walk_users,
    ):
        src = src.replace(inspect.getsource(helper), "")
    assert "shard frame has" not in src
    assert '.groupBy("shard").applyInPandas(' not in re.sub(r"\s+", "", src)
    assert 'max_by("value",F.struct("ts","event_id"))' not in re.sub(
        r"\s+", "", src
    )


#: queries whose joins hint through the shared budget; the first three
#: return a plan that still carries the hint (the others checkpoint it
#: away before the returned plan)
_BUDGET_GATED = [
    ("x9_pagerank", True),
    ("x9_label_propagation", True),
    ("x9_jaccard_neighbors", True),
    ("x9_kcore_peel", False),
    ("x9_bfs_reach", False),
    ("x9_sssp_weighted", False),
]


@pytest.mark.parametrize("name,hint_in_plan", _BUDGET_GATED)
def test_broadcast_budget_shuffle_fallback(
    spark, sf_dir, monkeypatch, name, hint_in_plan
):
    """With the broadcast budget forced to 0 every gated join takes the
    planner's shuffle path; the rows must equal the default-budget rows
    (at the sf0.001 smoke scale), and where the returned plan exposes
    the hint it must be gone."""
    from weather_data_pipeline_spark.functions import broadcast
    from weather_data_pipeline_spark.plans.inspect import optimized_plan

    df = _Q[name](spark, sf_dir)
    want = sorted(tuple(r) for r in df.collect())
    if hint_in_plan:
        assert "strategy=broadcast" in optimized_plan(df)
    monkeypatch.setattr(broadcast, "BROADCAST_ROWS", 0)
    df = _Q[name](spark, sf_dir)
    assert sorted(tuple(r) for r in df.collect()) == want
    if hint_in_plan:
        assert "strategy=broadcast" not in optimized_plan(df)


def test_int8_quantization_recall_floor(spark):
    """int8 quantization is only useful if search quality survives it:
    codes from x3_quantize_int8 must reproduce the numpy reference
    encode, and brute-force cosine top-5 over the RECONSTRUCTED vectors
    must keep recall ≥ 0.9 against the exact top-5 (measured 0.98 on this
    corpus) — the evidence that the 4x memory cut doesn't break the ANN
    surface it feeds."""
    import numpy as np

    from weather_data_pipeline_spark import registry

    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    maxabs = np.abs(mat).max(axis=0)
    ref_codes = np.floor(mat * 127.0 / np.where(maxabs == 0, 1, maxabs) + 0.5)

    got = registry.queries()["x3_quantize_int8"](spark, SF).collect()
    idx = {int(i): k for k, i in enumerate(ids)}
    for r in got:
        assert ref_codes[idx[r.vec_id], r.idx - 1] == r.code, (r.vec_id, r.idx)

    recon = ref_codes * maxabs / 127.0

    def topk(m, k=5):
        n = m / np.linalg.norm(m, axis=1, keepdims=True)
        out = {}
        for qi in range(10):
            s = n @ n[qi]
            s[qi] = -2
            out[qi] = set(ids[np.argsort(-s)[:k]])
        return out

    exact, quant = topk(mat), topk(recon)
    recall = np.mean([len(exact[q] & quant[q]) / 5 for q in exact])
    assert recall >= 0.9, recall


def test_build_centroids_strategies_agree(spark):
    """The adaptive centroid build (simple groupBy mean below the
    crossover, map-side combine above) must be a purely PHYSICAL choice:
    forcing each route via n_rows produces identical rounded centroids."""
    from weather_data_pipeline_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    small = {
        r["label"]: r["centroid"]
        for r in sim.build_centroids(emb, "label", n_rows=1).collect()
    }
    large = {
        r["label"]: r["centroid"]
        for r in sim.build_centroids(emb, "label", n_rows=10**9).collect()
    }
    assert small == large


def test_ivf_corpus_cache_scoped(spark):
    """The IVF quantizer's corpus cache is SCOPED to the build: with
    Lloyd iterations the count, the centroid init and every iteration
    run against one cached projection (no source re-scan per iteration),
    and the entry is released before ``ivf_quantizer`` returns (a
    session touching several sf_dirs must not accumulate pinned
    corpora). Pin both: cache()+unpersist() bracket the build in source,
    and a full evaluation of every consumer leaves the persistent-RDD
    registry no larger than before."""
    import inspect

    from weather_data_pipeline_spark.operators import similarity as sim

    src = inspect.getsource(sim.ivf_quantizer)
    assert ".cache()" in src and "base.unpersist()" in src
    # unpersist must come after the last internal collect (the centroids)
    assert src.index("base.unpersist()") > src.rindex("collect_centroids(")

    for name in (
        "x3_ivf_topk",
        "x3_ivf_kmeans_topk",
        "x3_ivf_pq_topk",
        "x3_ivf_rerank_topk",
        "x2_semdedup_keep",
    ):
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        _Q[name](spark, SF).count()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after <= before, (name, before, after)


def _union_find_components(n_max: int, pairs: list) -> dict:
    """{node: min node reachable} for nodes 1..n_max-1 — the pure-Python
    reference for the components kernel."""
    parent = {i: i for i in range(1, n_max)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the minimum
    return {i: find(i) for i in parent}


def test_star_components_matches_union_find(spark):
    """large-star/small-star must agree with a union-find reference on
    assorted graph shapes: random sparse graphs, a clique, disjoint
    pairs, isolated nodes, a 60-node chain with shuffled ids, a hub
    (star) whose center is not the minimum, and two disjoint chains.
    Duplicate and reversed pairs are kept in the random cases."""
    import random

    from weather_data_pipeline_spark.operators import dedup

    rng = random.Random(7)
    ids = list(range(1, 61))
    rng.shuffle(ids)
    cases = [
        [(1, 2), (2, 3), (3, 4), (5, 6)],
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],  # clique
        [(rng.randrange(1, 30), rng.randrange(1, 30)) for _ in range(25)],
        [(rng.randrange(1, 50), rng.randrange(1, 50)) for _ in range(40)],
        list(zip(ids, ids[1:])),  # 60-node chain, shuffled ids
        [(17, leaf) for leaf in range(1, 40) if leaf != 17],  # hub
        [(i, i + 1) for i in range(1, 20)]  # two disjoint chains,
        + [(i + 1, i) for i in range(30, 45)],  # one written backwards
    ]
    for pairs_data in cases:
        pairs_data = [(a, b) for a, b in pairs_data if a != b]
        n_max = max(max(p) for p in pairs_data) + 2
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, n_max)], "doc_id long"
        )
        pairs = spark.createDataFrame(pairs_data, "doc_a long, doc_b long")
        labels, rounds = dedup.star_components(nodes, pairs)
        got = {r.doc_id: r.component for r in labels.collect()}
        assert got == _union_find_components(n_max, pairs_data), pairs_data
        assert rounds <= 12


def test_star_components_empty_and_singleton_graphs(spark):
    """Degenerate inputs: no edges at all → every node is its own
    component after one probe round; a single self-edge-free pair works."""
    from weather_data_pipeline_spark.operators import dedup

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3)], "doc_id long")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    labels, rounds = dedup.star_components(nodes, empty)
    assert {r.doc_id: r.component for r in labels.collect()} == {1: 1, 2: 2, 3: 3}
    assert rounds == 1


def test_approx_count_distinct_within_hll_band(spark):
    """The rows-only HLL query still gets a quantitative gate: Spark's
    approx_count_distinct targets ~2-5% relative standard deviation, so
    each group's estimate must sit within 10% of the exact distinct
    count — a sketch gone wrong (wrong column, wrong grouping) lands far
    outside that."""
    est = {
        r.l_returnflag: r.approx_parts
        for r in _Q["ext_approx_count_distinct"](spark, SF).collect()
    }
    li = load_table(spark, SF, "lineitem")
    exact = {
        r.l_returnflag: r.exact
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] <= 0.10, (k, est[k], exact[k])


def test_star_components_chain_logarithmic_rounds(spark):
    """The case star contraction exists for: a 1024-node chain has
    diameter 1023 (hop-by-hop label propagation would need ~1023
    rounds — far past _MAX_CC_ITERS), but alternating large/small-star
    collapses it in O(log n) rounds, every node labeled with the chain
    minimum."""
    from weather_data_pipeline_spark.operators import dedup

    n = 1024
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, rounds = dedup.star_components(nodes, pairs)
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 25, rounds  # ~2*log2(1024)=20 expected, O(n) would blow up


def test_simhash_null_text_drops_like_sql_form(spark):
    """NULL text: the SQL form silently drops the doc (explode of a null
    array). The kernel path must degrade identically — filter upstream,
    never raise in the executor."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    from weather_data_pipeline_spark.operators import dedup

    doc = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    sig = pandas_udf(dedup._simhash_kernel, LongType())
    rows = (
        dedup._token_hashes(doc)
        .select("doc_id", sig("hs").alias("simhash"))
        .collect()
    )
    assert sorted(r.doc_id for r in rows) == [1, 3]
    sigs = {r.doc_id: r.simhash for r in rows}
    assert sigs[1] == sigs[3]
    # and the kernel itself tolerates a raw None batch value
    import pandas as pd

    out = dedup._simhash_kernel(pd.Series([None, []], dtype=object))
    assert list(out) == [0, 0]


# ----------------------------------------------------------------------
# Round-6 operator plan gates
# ----------------------------------------------------------------------
def test_doc_chunking_zero_shuffle(spark):
    """Chunking is a narrow generate+slice: any Exchange means a
    regression re-introduced a shuffle into a scan-shaped op."""
    assert num_shuffles(_Q["x8_doc_chunking"](spark, SF)) == 0


def test_bm25_no_doc_keyed_join(spark):
    """BM25's doc length rides the tf groupBy as a group key; the plan
    must have NO sort-merge join (df and corpus stats broadcast, dl is
    never a separate joined table) and keep map-side partial aggs."""
    df = _Q["x4_bm25_score"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)


def test_ohlc_single_shuffle_partial_agg(spark):
    """OHLC is partializable min_by/max_by/min/max — exactly one shuffle
    moving |user·day| rows, never a window sort of every event."""
    df = _Q["x6_ohlc_daily"](spark, SF)
    assert num_shuffles(df) == 1
    assert has_partial_aggregation(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_weighted_sample_single_shuffle(spark):
    """The E-S weighted draw is one per-source window rank — a single
    exchange on source, no RNG expression in the plan (determinism is
    the md5 key, not rand())."""
    df = _Q["x8_weighted_sample"](spark, SF)
    assert num_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rand(" not in plan


def test_unigram_logprob_partial_agg(spark):
    """The LM build and the per-doc scoring both partial-aggregate; the
    per-doc sum is an exact integer-decimal (order-independent)
    aggregate of FLOOR-quantized microunit terms (the r14 migration —
    VERDICT r13 ask #3)."""
    df = _Q["x4_unigram_logprob"](spark, SF)
    assert has_partial_aggregation(df)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "decimal(38,0)" in plan
    assert "floor(" in plan


def test_pq_assignment_no_join_no_shuffle(spark):
    """PQ code assignment is a broadcast-argmin corpus pass: the
    returned plan is scan → mapInPandas with ZERO exchanges and no join
    (the codebook build ran as a prior bounded job)."""
    df = _Q["x3_pq_codes"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert num_shuffles(df) == 0


def test_pq_adc_single_window_exchange(spark):
    """ADC search: one corpus pass scores all queries by table lookup;
    the only exchange is the per-query top-k window — never a join
    against the corpus."""
    df = _Q["x3_pq_adc_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert num_shuffles(df) == 1


def test_q10_filters_push_and_topk_never_sorts_globally(spark):
    """Q10's selective predicates (returnflag, the order-date quarter)
    must reach their parquet scans, and the top-20 must run as
    TakeOrderedAndProject — a global Sort before a LIMIT would be the
    100 TB bug."""
    df = _Q["ext_q10_returned_items"](spark, SF)
    pushed = pushed_filters(df)
    assert any("l_returnflag" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_sliding_windows_single_shuffle_partial_agg(spark):
    """The hopping-window expansion is a map-side explode, never a join:
    one partial-aggregated shuffle total."""
    df = _Q["x6_sliding_windows"](spark, SF)
    assert num_shuffles(df) == 1
    assert has_partial_aggregation(df)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    assert "Join" not in executed_plan(df)


def test_validity_intervals_single_shuffle(spark):
    """All three SCD2 windows (lag, lead, row_number) share the
    (user_id, event_type) partitioning — one exchange, no join."""
    df = _Q["x6_validity_intervals"](spark, SF)
    assert num_shuffles(df) == 1
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    assert "Join" not in executed_plan(df)


def test_zscore_single_shuffle_no_join(spark):
    """Per-key moments via a partition-only window frame: one exchange,
    no join (the agg+join-back formulation would cost a second
    exchange). WindowExec still key-sorts within partitions to group
    rows — that's clustering, not a global sort."""
    df = _Q["x6_zscore_anomaly"](spark, SF)
    assert num_shuffles(df) == 1
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    assert "Join" not in executed_plan(df)


def test_pii_redact_zero_shuffles(spark):
    """The scrub is scan-local projection work only."""
    df = _Q["x4_pii_redact"](spark, SF)
    assert num_shuffles(df) == 0


def test_zorder_key_no_data_shuffle(spark):
    """The Morton key is a projection; the only exchange feeds the
    1-row bounds aggregate, and the bounds join is a broadcast — fact
    rows never move."""
    df = _Q["x8_zorder_layout"](spark, SF)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only exchanges allowed are the 1-row bounds aggregate's
    # (SinglePartition) and its broadcast — fact rows never hash-shuffle
    assert "hashpartitioning" not in plan


def test_mad_outliers_single_shuffle(spark):
    """Both percentile windows share the user_id partitioning: one
    exchange, no join."""
    df = _Q["x6_mad_outliers"](spark, SF)
    assert num_shuffles(df) == 1
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    assert "Join" not in executed_plan(df)


def test_token_normalize_zero_shuffles(spark):
    df = _Q["x4_token_normalize"](spark, SF)
    assert num_shuffles(df) == 0


def test_tfidf_cosine_never_cartesian(spark):
    """The weighted pair join must stay term-keyed — a cartesian or
    nested-loop fallback would be the |docs|^2 bug the df ceiling
    exists to prevent."""
    df = _Q["x2_tfidf_cosine"](spark, SF)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_partial_aggregation(df)


def test_funnel_single_shuffle(spark):
    """The staged funnel runs as stacked conditional windows + a
    groupBy on the already-partitioned key: one events shuffle total,
    no join (the per-stage join formulation re-exchanges events once
    per stage — the oracle uses it, the engine must not)."""
    df = _Q["x6_funnel_stages"](spark, SF)
    assert num_shuffles(df) == 1
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    assert "Join" not in executed_plan(df)


def test_pagerank_caches_edges_no_cartesian(spark):
    """Every power-method step must read the materialized edge list (an
    un-reused loop re-runs the orders⋈lineitem build per iteration) and
    nothing in the plan may fall back to a cartesian product. Round 7:
    the edge list moved from cache() to localCheckpoint() (self-freeing
    storage), so the reuse shows as ExistingRDD scans and the parquet
    scans of orders/lineitem must NOT appear in the iteration plan at
    all — a stronger form of the old InMemoryTableScan assertion."""
    df = _Q["x9_pagerank"](spark, SF)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "ExistingRDD" in plan
    assert "lineitem" not in plan  # edge build never re-runs
    assert "CartesianProduct" not in plan


def test_cdc_merge_nets_before_join(spark):
    """Both sides reduce to one row per key (partial-aggregated max_by)
    BEFORE the full-outer join — the plan must show partial aggregation
    and no nested-loop fallback."""
    df = _Q["ext_cdc_merge"](spark, SF)
    assert has_partial_aggregation(df)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_json_keys_profile_partial_agg(spark):
    df = _Q["x5_json_keys_profile"](spark, SF)
    assert has_partial_aggregation(df)


def test_knn_no_corpus_shuffle_before_topk(spark):
    """Like the cosine-topk gate: the corpus never joins; the only
    exchanges are the |queries|-partition window and the tiny vote
    aggs; the truth side is a broadcast."""
    df = _Q["x3_knn_classify"](spark, SF)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert has_broadcast_join(df)


def test_ivf_pq_scoring_is_broadcast_joins(spark):
    """The composed IVF-PQ probe must score via broadcast equi-joins +
    one partial-aggregated sum — no cartesian fallback, no shuffle of
    the distance tables."""
    df = _Q["x3_ivf_pq_topk"](spark, SF)
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)


def test_q6_is_scan_only_aggregate(spark):
    """Q6 shape: EVERY predicate (date range, discount band, quantity cap)
    reaches PushedFilters, the scan reads exactly the four referenced
    columns, and the only exchange is the single-partition agg merge —
    at 100 TB this query is row-group statistics, not rows."""
    df = _Q["ext_q6_revenue_delta"](spark, SF)
    pushed = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col[: len(col) - 2] in p for p in pushed), (col, pushed)
    cols = scan_columns(df)
    assert cols and sorted(cols[0]) == [
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_shipdate",
    ]
    assert num_shuffles(df) == 1


def test_q7_nation_roles_both_broadcast(spark):
    """Q7's nation dimension joins twice (supplier role, customer role);
    both copies and the supplier dim itself must broadcast — only the
    fact⋈fact joins and the final agg may exchange."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["ext_q7_volume_shipping"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan.count("BroadcastHashJoin")
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_q13_outer_join_residual_keeps_zero_order_customers(spark):
    """The ON-clause residual must NOT degrade to a post-join filter:
    every customer appears in exactly one distribution bucket, so the
    bucket counts sum to |customer| (zero-order customers included)."""
    df = _Q["ext_q13_cust_distribution"](spark, SF)
    total = df.agg(F.sum("custdist").alias("t")).collect()[0]["t"]
    n_cust = load_table(spark, SF, "customer").count()
    assert total == n_cust, (total, n_cust)


def test_q17_correlated_avg_is_decorrelated_broadcast(spark):
    """The per-part AVG threshold must be a broadcast-joined aggregate,
    never a per-row subquery: no cartesian/nested-loop against the
    lineitem side, and the brand filter must reach the part scan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["ext_q17_small_qty_revenue"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    assert any("p_brand" in p for p in pushed_filters(df))


def test_q22_anti_join_prunes_orders_scan(spark):
    """Q22's NOT EXISTS: the recent-orders side is date-pruned AT THE
    SCAN (the anti join probes only recent orders), and the one-row
    scalar average joins as a broadcast, never a shuffle."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["ext_q22_dormant_customers"](spark, SF)
    plan = executed_plan(df)
    assert any("o_orderdate" in p for p in pushed_filters(df))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q15_single_lineitem_scan(spark):
    """Q15's max-revenue selection must not recompute the revenue view:
    exactly ONE lineitem scan in the plan (the window form; a
    scalar-agg join-back silently doubles the fact scan)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["ext_q15_top_supplier"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


def test_q19_disjunction_factored_to_both_scans(spark):
    """Catalyst must factor the OR-of-ANDs: the lineitem scan gets the
    quantity range union, the part scan gets the brand/size OR-tree —
    neither side may be left to a post-join residual alone."""
    df = _Q["ext_q19_disjunctive_revenue"](spark, SF)
    pushed = pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("p_brand" in p or "p_size" in p for p in pushed), pushed


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """Spark's runtime bloom filter (enabled in session tuning) must
    inject a might_contain probe into the large side of a selective
    fact-fact join once the size thresholds are met — at 100 TB this is
    what keeps a 1%-selective orders filter from streaming all of
    lineitem through the shuffle. Local tables sit far below the
    production thresholds, so the test lowers them to force the
    decision; the assertion is that the optimizer WIRES the filter, the
    thresholds themselves stay production defaults in session.tune."""
    from weather_data_pipeline_spark.plans.inspect import optimized_plan

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        sel = load_table(spark, SF, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(sel, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        assert "might_contain" in optimized_plan(j).lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_mips_corpus_never_shuffles(spark):
    """MIPS shares cosine-topk's execution contract: no join at all, one
    corpus scan through the Arrow kernel, the only exchange the tiny
    per-query top-k window."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x3_mips_topk"](spark, SF)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert num_shuffles(df) == 1


def test_triangle_support_build_is_takeordered(spark):
    """The triangle op's edge cap must plan as TakeOrderedAndProject
    (per-partition top-K merged on the driver) — a global sort of the
    pair table would defeat the cap's purpose — and the wedge machinery
    must never degrade to a cartesian product."""
    from weather_data_pipeline_spark.operators.graph import (
        EDGE_K,
        _top_support_edges,
    )
    from weather_data_pipeline_spark.plans.inspect import executed_plan
    from weather_data_pipeline_spark.sources.testdata import load_table as lt

    sl = lt(spark, SF, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    top = _top_support_edges(sl, EDGE_K)
    assert "TakeOrderedAndProject" in executed_plan(top)
    full = _Q["x9_triangle_count"](spark, SF)
    assert "CartesianProduct" not in executed_plan(full)


def test_temporal_join_is_equi_on_user_not_nested_loop(spark):
    """The fact-vs-SCD2 temporal join must ride the user_id equi key
    with the interval predicate as a residual — never a nested-loop
    over intervals (quadratic per user at scale)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x7_temporal_join"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_perplexity_approx_no_window(spark):
    """The sketch decile cut must contain no window operator at all —
    the cut is one mergeable percentile_approx (partial-aggregated)
    plus a scan-side bucket lookup. The exact NTILE rung keeps the
    window; the twin may not. Round 8 (VERDICT r7 #2): the bigram-LM
    score triples are checkpoint-materialized ONCE before the sketch
    agg and the bucket join, so the plan must read ExistingRDD and
    contain NO parquet scan — the doubled-LM-subtree shape (the LM
    pipeline executing under both consumers) cannot come back."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_perplexity_buckets_approx"](spark, SF)
    plan = executed_plan(df)
    assert "Window" not in plan
    assert has_partial_aggregation(df)
    assert "ExistingRDD" in plan  # single LM materialization
    assert "parquet" not in plan.lower()  # LM subtree never re-runs


def test_vocab_coverage_window_input_is_topk_pruned(spark):
    """The coverage curve's ranking window may only ever see the top
    max(VOCAB_CUTS) terms: the plan must prune via TakeOrderedAndProject
    (per-partition top-K, no global sort of the vocabulary) before any
    Window runs — the property that makes the curve cost O(cuts) at any
    vocabulary size (VERDICT r6 ask #8)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_vocab_coverage"](spark, SF)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the window must sit ABOVE the top-K prune in the plan tree: the
    # plan is root-first printed, so the Window (consumer) appears
    # BEFORE the TakeOrderedAndProject prune it reads from (ADVICE r7
    # #4 wording fix — the index assertion is correct because printing
    # is top-down)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")
    # round 8 (ADVICE r7 #2): the term-frequency aggregate is
    # checkpoint-materialized once — both the grand total and the
    # top-K prune read ExistingRDD; the explode→groupBy token scan
    # (and the documents parquet scan under it) never runs twice
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower()


def test_partsupp_queries_prune_below_distinct(spark):
    """The derived-partsupp queries must push their dim filter BELOW the
    pair distinct (broadcast LeftSemi on the keys — filtering distinct
    keys commutes with distinct), and the doubly-consumed intermediates
    (Q2's candidates, Q11's per-part values) must be checkpoint-
    materialized so the pair subtree never executes twice (the round-7
    plan audit caught the doubled subtree)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    for name in ("ext_q16_supplier_counts", "ext_q20_promotion_suppliers"):
        plan = executed_plan(_Q[name](spark, SF))
        assert "LeftSemi" in plan, name
        assert "CartesianProduct" not in plan, name
    for name in ("ext_q2_min_cost_supplier", "ext_q11_important_stock"):
        plan = executed_plan(_Q[name](spark, SF))
        assert "ExistingRDD" in plan, name  # single materialized pass
        assert "CartesianProduct" not in plan, name


#: alias -> the scale-safe body both names run
SHARED_BODY_PAIRS = {
    "x8_length_buckets": "x8_length_buckets_scalable",
    "x8_budget_select": "x8_budget_select_scalable",
    "x4_perplexity_buckets": "x4_perplexity_buckets_scalable",
    "x6_rfm_scores": "x6_rfm_scores_scalable",
    "x7_interval_overlap": "x7_interval_overlap_sweep",
}


@pytest.mark.parametrize(
    "alias,body",
    sorted(
        {**SHARED_BODY_PAIRS, "x2_dup_components_star": "x2_dup_components"}.items()
    ),
)
def test_shared_result_contracts_resolve_to_one_body(alias, body):
    """Each exact/scale name pair runs one function: the alias is
    registered on the scale-safe body, not on a second implementation.
    The two component names share the one star-contraction body."""
    assert _Q[alias].__name__ == _Q[body].__name__ == body


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for pair in SHARED_BODY_PAIRS.items()
        for n in pair
        if not n.startswith("x7_")  # the sweep: test_interval_overlap_sweep_no_pairs
    )
    + ["x8_sequence_pack"],
)
def test_prefix_sum_rungs_no_single_partition(spark, name):
    """Every rung built on the distributed prefix sum (global_prefix_sums
    or global_ranks) has no single-partition exchange anywhere: its
    windows group by range-partition id (never a whole bucket, score
    order or user table through one task), the range partitions are
    checkpoint-backed, and offsets come from O(partitions) driver rows."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q[name](spark, SF))
    assert "SinglePartition" not in plan
    assert "ExistingRDD" in plan
    assert "Window" in plan and "hashpartitioning(_pid" in plan


def test_bpe_pairs_count_dict_not_corpus(spark):
    """BPE pair counting must run over the word-frequency DICTIONARY:
    the plan shows the pair explode ABOVE the word-count aggregate
    (root-first printing puts Generate before the HashAggregate it
    consumes), the top-K is a TakeOrderedAndProject (per-partition
    top-K, no global sort), and every aggregate partial-aggregates."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_bpe_pair_stats"](spark, SF)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_partial_aggregation(df)
    # pair Generate sits above (prints before) the word-count exchange
    assert plan.index("Generate") < plan.rindex("Exchange")


def test_c4_pipeline_no_null_hot_key(spark):
    """The composed funnel's dedup window must see ONLY gate survivors
    (rejected rows are unioned back after the window — a CASE-keyed
    window would funnel every rejected doc through one NULL-key task):
    the Window's input carries the q_ok AND l_ok filter, there is no
    cartesian product, and the final rollup partial-aggregates."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x8_c4_pipeline"](spark, SF)
    plan = executed_plan(df)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)
    assert "Union" in plan  # rejected rows bypass the window


def test_degree_hist_single_edge_build(spark):
    """The symmetric degree comes from ONE pass — each distinct pair
    explodes into its two endpoints — so the plan contains exactly one
    edge-build subtree (no union of two scan+join+distinct copies: the
    doubled-subtree shape; no checkpoint either — same-session A/B:
    explode 1.44 s vs checkpointed union 1.58 s). Exactly one
    Generate, one lineitem scan, partial aggregation throughout."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_degree_hist"](spark, SF)
    assert has_partial_aggregation(df)
    plan = executed_plan(df)
    assert plan.count("Generate") == 1
    assert plan.lower().count("lineitem") <= 1
    assert "Union" not in plan


def test_temperature_mixture_broadcast_total(spark):
    """The 1-row weight total broadcasts into the per-lang projection;
    both count aggregates partial-aggregate map-side. (The doubly-
    consumed |langs|-row count aggregate is deliberately lazy — the
    checkpointed form measured slower, 0.47 s vs 0.35 s same-session;
    see the docstring.)"""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x8_temperature_mixture"](spark, SF)
    assert has_partial_aggregation(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in executed_plan(df)


def test_pagerank_broadcasts_rank_vector(spark):
    """Under the shared broadcast budget the rank vector broadcasts into
    the edge join each power step — the edge list is never re-shuffled
    and no sort-merge join appears; the only per-step exchange is the
    partial-aggregated contribution sum."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q["x9_pagerank"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_containment_pairs_joins_on_grams_not_pairs(spark):
    """The containment self-join must be a gram-keyed equi-join (hash
    or broadcast — at sf0.01 AQE broadcasts the gram side; at scale the
    two sides are the same plan and share the shuffle), never a
    cartesian/nested-loop pair enumeration, with the pair count
    partial-aggregated before its exchange."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x2_containment_pairs"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)


def test_range_search_no_join_single_shuffle(spark):
    """Range search is one corpus scan through the Arrow kernel plus a
    |queries|-group rollup: no join operator, exactly one exchange."""
    df = _Q["x3_range_search"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert num_shuffles(df) == 1


def test_prefix_dim_recall_single_kernel_pass(spark):
    """Both rankings (full-dim and prefix-dim) must read the ONE
    checkpointed kernel output — the corpus is scanned once, the final
    plan contains no parquet scan, and the two top-k windows join on
    k-row-per-query tables (no cartesian)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q["x3_prefix_dim_recall"](spark, SF))
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_shuffle_no_join(spark):
    """Both directional sweeps share ONE user_id exchange (two window
    sorts over the same partitioning); there is no join operator and
    no range-join pair blowup anywhere."""
    df = _Q["x7_asof_nearest"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert num_shuffles(df) == 1


def test_bloom_filter_prunes_probe_scan(spark):
    """With the runtime-filter confs set, the probe (lineitem) scan
    must carry might_contain over a bloom_filter_agg subquery built
    from the filtered orders side — rows die at the scan, not in the
    join. (The registered query sets the same confs scoped around an
    eager materialization.)"""
    from weather_data_pipeline_spark.operators.joins_aggs import (
        _BLOOM_CONFS,
        _bloom_join,
    )
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = executed_plan(_bloom_join(spark, SF))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_ivf_rerank_gathers_candidates_by_id(spark):
    """Stage 2 must re-rank only GATHERED candidates: the candidate id
    set broadcasts back onto the embeddings table (broadcast join on
    vec_id) — the corpus is never rescanned into Python for the
    refine, and no cartesian product appears anywhere."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q["x3_ivf_rerank_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phash_dedup_no_pixel_shuffle(spark):
    """The perceptual-hash groupBy must key on the 2-byte fingerprint:
    pixels stay inside the Arrow kernel (one scan, no shuffle carries
    payload bytes) and the count partial-aggregates."""
    df = _Q["mm_image_phash_dedup"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert has_partial_aggregation(df)
    assert num_shuffles(df) == 1
    assert "payload" not in plan.split("Exchange")[0]  # agg side is hash-only


def test_seasonal_baseline_single_partial_agg(spark):
    """One partial-aggregated exchange carrying (type, dow) cells."""
    df = _Q["x6_seasonal_baseline"](spark, SF)
    assert has_partial_aggregation(df)
    assert num_shuffles(df) == 1


def test_binary_hamming_codes_build_jvm_side(spark):
    """The sign-code build is a JVM bitwise fold (no Python stage
    anywhere in the plan); query codes broadcast; the only exchange is
    the |queries|-partition top-k window."""
    df = _Q["x3_binary_hamming_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # one BroadcastExchange (query codes) + one hash exchange (top-k
    # window) — num_shuffles counts both kinds
    assert plan.count("Exchange hashpartitioning") == 1


def test_tokenize_vocab_window_input_is_pruned(spark):
    """The vocab-id ranking window may only ever see the top
    TOKENIZE_VOCAB_N terms: the plan must prune via
    TakeOrderedAndProject before the Window runs (root-first printing:
    Window appears before the prune it reads from) — the
    x4_vocab_coverage property, so id assignment costs O(N) at any
    vocabulary size; the corpus-side work is the broadcast join."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q["x8_tokenize_to_ids"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")
    assert "BroadcastHashJoin" in plan


def test_dq_audit_single_scan_per_table(spark):
    """The DQ audit's cost at 100 TB IS its scans: every audited table
    must appear exactly ONCE in the executed plan (the r8 form consumed
    the orders suite twice and ran RI as a third pass — three orders
    scans for a 6-row report). The RI broadcast join folds into the one
    orders pass, so constraint fan-out happens on 1-row aggregates."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    plan = executed_plan(_Q["ext_dq_audit"](spark, SF))
    for tbl in ("orders", "events", "lineitem", "customer"):
        assert plan.count(f"{tbl}.parquet") == 1, (
            tbl,
            plan.count(f"{tbl}.parquet"),
        )


def test_html_extract_scan_side(spark):
    """Markup extraction is embarrassingly parallel: ZERO exchanges
    (scan + project only), no Python stage, and column pruning reaches
    the scan — only (doc_id, text) are read, never the whole table."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        scan_columns,
    )

    df = _Q["x4_html_extract"](spark, SF)
    assert num_shuffles(df) == 0
    plan = executed_plan(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert scan_columns(df) == [["doc_id", "text"]]


def test_phash_codes_plan_independent_of_dup_multiplicity(spark):
    """The dup-heavy-safe twin: after the one decode pass + fingerprint
    groupBy (the ONLY stage proportional to duplicate multiplicity),
    everything downstream operates on the distinct-codes
    localCheckpoint — no payload bytes in any exchange, and the band
    joins' inputs are ExistingRDD scans of the materialized codes, so
    a viral image can never grow a posting list."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["mm_phash_neardup_codes"](spark, SF)
    plan = executed_plan(df)
    assert "payload" not in plan
    assert "MapInPandas" not in plan  # decode already collapsed to codes
    assert plan.count("ExistingRDD") >= 2  # both joins read the checkpoint


def test_hashed_linear_score_scan_side(spark):
    """fastText-shaped inference must be scan-bandwidth-bound: zero
    exchanges, no Python stage, only (doc_id, text) read — the whole
    classifier is a JVM aggregate fold inside the scan projection."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        scan_columns,
    )

    df = _Q["x4_hashed_linear_score"](spark, SF)
    assert num_shuffles(df) == 0
    plan = executed_plan(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert scan_columns(df) == [["doc_id", "text"]]


def test_substring_spans_two_exchanges_one_scan(spark):
    """The exact-substring-span rung must stay ONE scan (doc_id, text
    only), zero joins, zero Python, and exactly two exchanges: one on
    the window hash (corpus-wide occurrence count), one on doc_id (the
    island recurrence) — both downstream groupBys ride the doc_id
    exchange because hash(doc_id) satisfies the (doc_id, island)
    clustering."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        scan_columns,
    )

    df = _Q["x1_substring_spans"](spark, SF)
    assert num_shuffles(df) == 2
    plan = executed_plan(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert plan.count("documents") <= 1  # one parquet scan
    assert scan_columns(df) == [["doc_id", "text"]]


def test_substring_rewrite_plan(spark):
    """The rewrite rung keeps the span machinery's two shuffles; the
    interval array comes back to a second (doc_id, text)-only scan as
    a broadcast join at this scale; token filtering is JVM HOFs —
    no Python stage anywhere."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        scan_columns,
    )

    df = _Q["x1_substring_rewrite"](spark, SF)
    plan = executed_plan(df)
    # 2 hash exchanges (window hash + doc_id islands) + 1 broadcast of
    # the per-doc interval arrays; num_shuffles counts both kinds
    assert num_shuffles(df) == 3
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert scan_columns(df) == [["doc_id", "text"], ["doc_id", "text"]]


def test_cluster_balance_plan(spark):
    """Cluster-balanced selection: ONE Arrow scoring pass, one exchange
    carrying only the scored (vec_id, label, sim) triples — never
    embeddings — and the rank<=quota filter rewritten to
    WindowGroupLimit (bounded per-task top-N heap, no full sort)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x8_cluster_balance"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # the post-scoring exchange must not carry the embedding column
    ex_line = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("embedding" not in l for l in ex_line)


def test_curriculum_order_no_single_partition(spark):
    """The curriculum rank comes from the shared prefix-sum primitive:
    no SinglePartition exchange anywhere, no Python stage, scan pruned
    to (doc_id, text)."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        scan_columns,
    )

    df = _Q["x8_curriculum_order"](spark, SF)
    plan = executed_plan(df)
    assert "SinglePartition" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the primitive's eager localCheckpoint is the only input: the
    # final plan reads the checkpointed range partitions, so the
    # (doc_id, text) scan happened exactly once, at checkpoint time
    assert "ExistingRDD" in plan
    assert scan_columns(df) == []


def test_resample_interpolate_plan(spark):
    """Resampling is the as-of machinery, not a range join: no Join
    operator at all, no Python, the deduped observation checkpoint
    feeds bounds AND the union (events scans once), and only two hash
    exchanges (bounds agg + the per-user union windows)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_resample_interpolate"](spark, SF)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("ExistingRDD") >= 2


def test_tfidf_prefix_fallback_matches_base_plan(spark):
    """The adaptive prefix rung's fallback claim, as a gate: on this
    corpus the sampled selectivity probe (driver-side, before the plan
    exists) must reject the prefix path, so the RETURNED plan is the
    base rung's — same exchange count, no candidate-distinct stage
    (the prefix path's extra Aggregate over (doc_a, doc_b) keys), and
    no window (the prefix index's per-doc sort never enters the
    executed plan)."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        num_shuffles,
    )

    base = _Q["x2_tfidf_cosine"](spark, SF)
    pref = _Q["x2_tfidf_cosine_prefix"](spark, SF)
    assert num_shuffles(pref) == num_shuffles(base)
    plan = executed_plan(pref)
    assert "Window" not in plan


def test_source_overlap_single_gram_build(spark):
    """The cross-source overlap matrix reads the distinct (source,
    gram) table from ONE materialization (per-source counts + both
    pair-join sides all ExistingRDD scans of the checkpoint — the
    scan→explode→distinct subtree runs once, not 3×), the per-source
    count table rides broadcast joins, and no SortMergeJoin appears:
    posting lists after the per-source distinct are ≤ |sources| long,
    so the pair join never needs a sort."""
    from weather_data_pipeline_spark.plans.inspect import (
        executed_plan,
        num_shuffles,
    )

    df = _Q["x2_source_overlap"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("ExistingRDD") >= 3
    assert "documents.parquet" not in plan  # scan only at checkpoint time
    assert "SortMergeJoin" not in plan
    assert num_shuffles(df) <= 6


def test_interval_overlap_sweep_no_pairs(spark):
    """The sweep twin must never materialize overlap pairs: exactly the
    one endpoint aggregate's hash exchange plus the calendar-bounded
    SinglePartition cumulative window, and both window lookups ride
    broadcast hash joins (never a pair-producing join shape)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x7_interval_overlap_sweep"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # the endpoint aggregate + cumulative window run ONCE, at the eager
    # checkpoint: both broadcast lookups read the checkpointed calendar
    # (ExistingRDD), so the final plan carries no SHUFFLE exchange at
    # all (broadcast exchanges only) and the only file scan is the
    # window build's supplier projection
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("ExistingRDD") == 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_lttb_downsample_plan(spark):
    """The LTTB variant's whole point is selection-parallelism: no
    Python, no SinglePartition, the checkpointed ranked series feeds
    all seven consumers (zero parquet re-scans), and only two hash
    exchanges remain downstream (bucket stats + the user-keyed
    anchor/winner windows)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_lttb_downsample"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Scan parquet" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_m4_downsample_plan(spark):
    """M4 is wholly relational and selection-parallel: the four role
    ranks share the (user_id, bin) partitioning and emit through ONE
    conditional-array explode — no join, no Python, no SinglePartition,
    one scan, two hash exchanges total."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_m4_downsample"](spark, SF)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_lttb_exact_kernel_plan(spark):
    """Exact LTTB's sequential argmax runs in the sharded grouped-map
    kernel; everything around it stays relational: the checkpointed
    ranked series feeds all consumers (no parquet re-scan), anchors and
    first-point coords join co-partitioned, and no SinglePartition
    exchange appears anywhere."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_lttb_exact"](spark, SF)
    plan = executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Scan parquet" not in plan


def test_interval_coverage_no_pairs(spark):
    """The duration-weighted overlap rung inherits the sweep's no-pair
    plan: checkpointed calendar cumulative, two broadcast lookups, no
    shuffle exchange in the final plan, no pair-producing join."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x7_interval_coverage"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("ExistingRDD") == 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_soft_dedup_weights_plan(spark):
    """Soft-dedup weights compose the components machinery: the final
    plan reads the checkpointed converged labels (ExistingRDD), adds
    one component-keyed aggregate and a co-partitioned join-back —
    never a nested loop, never a SinglePartition exchange."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x2_soft_dedup_weights"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "ExistingRDD" in plan


def test_holt_winters_kernel_plan(spark):
    """The triple recurrence runs in the sharded grouped-map kernel
    over the daily aggregate — one shard exchange, no SinglePartition,
    no join anywhere."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_holt_winters"](spark, SF)
    plan = executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bpe_merge_train_zero_parquet_rescans(spark):
    """The BPE training loop collects ONE argmax row per round and
    assembles the merge table driver-side (ADVICE r10: returning the
    TakeOrdered arms re-executed every round's argmax at collect) —
    the corpus is scanned exactly once INSIDE the loop (word count),
    so the RESULT plan must be a pure local relation: zero parquet
    scans, zero exchanges, zero jobs at collect."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_bpe_merge_train"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" not in plan  # not re-executed
    rows = df.collect()
    assert len(rows) == 6
    assert [r["merge_rank"] for r in rows] == list(range(1, 7))


def test_bpe_merge_train_empty_corpus_returns_typed_empty(spark):
    """Degenerate corpus (no text) → the empty merge TABLE, same
    schema, no IndexError (ADVICE r10)."""
    from weather_data_pipeline_spark.operators.text_analysis import (
        x4_bpe_merge_train,
    )

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [], schema="doc_id long, text string, lang string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = x4_bpe_merge_train(spark, d)
        assert out.columns == [
            "merge_rank", "lft", "rgt", "merged", "pair_n"
        ]
        assert out.count() == 0


def test_domain_rollup_single_scan_partial_agg(spark):
    """Domain rollup: scan-side string extraction (no Python stage),
    partial-aggregated groupBy(domain), 1-row total broadcast — the
    duplicated agg subtree is the deliberate lazy-recompute pattern
    (x8_temperature_mixture), so at most two column-pruned scans."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_domain_rollup"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("Scan parquet") <= 2
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_domain_caps_window_group_limit(spark):
    """Per-domain caps: the rank<=cap filter must rewrite to
    WindowGroupLimit (per-task top-cap heap BEFORE the exchange — the
    over-represented domain is exactly where that bound matters), with
    ONE hash exchange on domain and one scan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x8_domain_caps"](spark, SF)
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_pair_cosine_filter_zero_exchanges(spark):
    """CLIP-score pair filtering is one embarrassingly-parallel pass:
    zero exchanges of any kind, no Python stage, one scan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["mm_pair_cosine_filter"](spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_url_dedup_single_scan_one_exchange(spark):
    """URL-canonicalization dedup: the canonical-string build is pure
    scan-side string built-ins (no Python stage), then the identical
    single partial-aggregated exchange shape as x1_exact_dedup_hash —
    one scan, one hash exchange, codegen end-to-end."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x1_url_dedup"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert has_partial_aggregation(df)
    # column pruning reaches the scan: the synthetic URL derives from
    # doc_id alone, so the scan must read exactly that one column
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_label_propagation_round_shape(spark):
    """LPA's final (un-checkpointed) round must show the Pregel step
    shape: the |nodes|-row label vector BROADCASTS into the edge join
    (no edge re-shuffle, no sort-merge), one per-src mode aggregate
    whose partial form runs before its exchange, zero parquet rescans
    (edges and prior labels are checkpointed), never cartesian."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_label_propagation"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan
    round_agg = plan[plan.index("functions=[mode(label"):]
    assert "partial_mode(label" in round_agg.split("BroadcastExchange")[0]


def test_kcore_peel_no_rescans(spark):
    """k-core peeling: per-round stats collect eagerly as ONE row each
    (round 11 — the lazily-unioned form pinned every round's edge
    snapshot until collect, OOMing the 100-copy spot check), so the
    returned 3-row cascade is a pure local relation: zero parquet
    scans, zero exchanges, no re-execution at collect."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_kcore_peel"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert [r["round"] for r in rows] == [1, 2, 3]


def test_k_anonymity_rollup_broadcast_plan(spark):
    """k-anonymity audit: the rollup pass runs ONCE (checkpointed —
    the returned plan must show exactly one customer scan and no
    Expand recompute per level), the three level tables come back as
    broadcast joins, and no |segments|-parallelism window or
    sort-merge join appears."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x8_k_anonymity"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("BroadcastHashJoin") == 3
    assert "Expand" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_jaccard_neighbors_capped_wedge_plan(spark):
    """Neighborhood-Jaccard: the adjacency cap must rewrite to
    WindowGroupLimit (per-task top-K before the supp exchange), the
    wedge join stays equi-keyed (no cartesian/NLJ), degree joins come
    back as broadcasts, and the final top-N is TakeOrderedAndProject,
    never a global sort."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_jaccard_neighbors"](spark, SF)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    assert has_partial_aggregation(df)


def test_jaccard_neighbors_cap_is_window_group_limit(spark):
    """The capped adjacency build itself (pre-checkpoint) must plan the
    rank<=K filter as WindowGroupLimit — checked on the uncheckpointed
    prefix since the checkpoint hides it from the result plan."""
    from pyspark.sql import Window, functions as F
    from weather_data_pipeline_spark.operators.graph import ADJ_K
    from weather_data_pipeline_spark.plans.inspect import executed_plan
    from weather_data_pipeline_spark.sources.testdata import load_table

    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_suppkey").alias("supp"), F.col("o_custkey").alias("cust"))
        .agg(F.countDistinct("o_orderkey").alias("strength"))
    )
    w = Window.partitionBy("supp").orderBy(F.col("strength").desc(), "cust")
    capped = (
        cs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ADJ_K)
        .select("supp", "cust")
    )
    assert "WindowGroupLimit" in executed_plan(capped)


def test_scene_cuts_zero_exchanges(spark):
    """Scene-cut detection is one Arrow-batched mapInPandas pass: zero
    exchanges, exactly one Python stage, one pruned scan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["mm_scene_cuts"](spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("Scan parquet") == 1


def test_compacted_layout_partition_prunes(spark):
    """The compaction rung's output layout must actually serve the
    queries compaction exists for: a date-filtered read of the
    compacted copy shows PartitionFilters on event_date and scans ONE
    date's files, not the table."""
    import os

    from weather_data_pipeline_spark.operators.weather_queries import (
        w_compact_small_files,
    )
    from weather_data_pipeline_spark.plans.inspect import executed_plan
    from weather_data_pipeline_spark.streaming.jobs import SCRATCH
    from pyspark.sql import functions as F

    w_compact_small_files(spark, SF).collect()  # materialize the layout
    # mirror the op's (sf slug, applicationId) scratch keying (ADVICE
    # r10) — the bare-slug path only resolved while stale pre-keying
    # directories lingered on disk
    slug = (
        f"{os.path.basename(os.path.normpath(SF))}"
        f"_{spark.sparkContext.applicationId}"
    )
    compacted = os.path.join(SCRATCH, f"compact_out_{slug}")
    dates = sorted(
        p.split("=", 1)[1]
        for p in os.listdir(compacted)
        if p.startswith("event_date=")
    )
    assert len(dates) > 1
    df = spark.read.parquet(compacted).filter(
        F.col("event_date") == dates[0]
    )
    plan = executed_plan(df)
    assert "PartitionFilters" in plan and "event_date" in plan
    # pruned scan reads exactly the one partition's rows
    one = df.count()
    total = spark.read.parquet(compacted).count()
    assert 0 < one < total


def test_band_tuning_no_corpus_rescans(spark):
    """The band-tuning sweep computes signatures, the strong set AND
    (since round 15) the all-config candidate set ONCE (checkpointed):
    the returned |configs|-row plan reads only checkpoint RDDs — zero
    parquet scans, no cartesian (the 1-row n_strong attach is a
    broadcast nested loop, not a CartesianProduct), partial-aggregated
    per-config counts over the ONE materialized candidate frame."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x2_minhash_band_tuning"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # counts read the checkpoints
    assert has_partial_aggregation(df)


def test_code_detect_zero_exchanges(spark):
    """Code-vs-prose detection is all scan-side codegen: zero
    exchanges, no Python stage, one pruned scan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_code_detect"](spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_backtest_folds_single_pass(spark):
    """Backtest folds: one scan + the fold fan-out collapsing into a
    partial-aggregated exchange, bounds broadcast, no window, no
    per-fold rescan."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_backtest_folds"](spark, SF)
    plan = executed_plan(df)
    assert plan.count("Scan parquet") <= 2  # events + the 1-row bounds agg
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_semdedup_keep_grouped_kernel_no_join(spark):
    """SemDeDup keep policy: the decision is a per-CLUSTER grouped
    Arrow kernel behind ONE (bucket) exchange — cross-cluster pairs
    cannot form and no join (cartesian or otherwise) appears; the
    assignment mapInPandas feeds it in the same stage chain. The
    first-cut bucket-equi self-join of interpreted HOF cosines
    returned identical rows and measured 6.3x slower (docstring)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x2_semdedup_keep"](spark, SF)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1  # the (bucket) group exchange
    rows = df.collect()
    kept = [r for r in rows if r["is_kept"]]
    assert 0 < len(kept) < len(rows)  # decision boundary exercised


def test_semdedup_kernel_cluster_guard():
    """The grouped kernel fail-fasts past SEMDEDUP_MAX_CLUSTER rows,
    naming the quantizer-k lever (pair matrix is |cluster|^2)."""
    import pytest

    from weather_data_pipeline_spark.operators import similarity as sim

    sim._semdedup_guard(sim.SEMDEDUP_MAX_CLUSTER)  # at the ceiling: fine
    with pytest.raises(ValueError, match="raise the quantizer k"):
        sim._semdedup_guard(sim.SEMDEDUP_MAX_CLUSTER + 1)


def test_keyframe_extract_zero_shuffles_and_tiling(spark):
    """Keyframe extraction: one Arrow pass, zero exchanges, one pruned
    scan — and the emitted scenes TILE each clip exactly (scene 0
    starts at frame 0, lengths sum to the cut detector's frame count,
    per-scene keyframe is 2*SCENE_FRAME hex chars)."""
    from collections import defaultdict

    from weather_data_pipeline_spark.operators.multimodal import SCENE_FRAME
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["mm_keyframe_extract"](spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1
    assert "InPandas" in plan

    cuts = {
        r["doc_id"]: r["n_frames"]
        for r in _Q["mm_scene_cuts"](spark, SF).collect()
    }
    per_doc = defaultdict(list)
    for r in df.collect():
        per_doc[r["doc_id"]].append(r)
        assert len(r["keyframe_hex"]) == 2 * SCENE_FRAME
    assert set(per_doc) == set(cuts)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r["scene_idx"])
        assert rows[0]["start_frame"] == 0
        assert sum(r["scene_len"] for r in rows) == cuts[doc_id]
        for a, b in zip(rows, rows[1:]):
            assert b["start_frame"] == a["start_frame"] + a["scene_len"]


def test_bloom_prefilter_broadcast_no_false_negatives(spark):
    """Bloom prefilter: the position-set filter BROADCASTS into the
    probe join (never a shuffled join on positions), the build is
    partial-aggregated, and the no-false-negative contract holds on
    every row — a registry member's positions are all registered by
    construction, so in_registry ⇒ bloom_flagged; false positives
    exist at the deliberately small M (the collision path is real)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x1_bloom_prefilter"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert all(r["bloom_flagged"] for r in rows if r["in_registry"])
    assert any(r["bloom_flagged"] and not r["in_registry"] for r in rows)
    assert any(not r["bloom_flagged"] for r in rows)


def test_bpe_apply_dict_join_no_per_occurrence_fold(spark):
    """BPE application: merges fold over the dictionary only; the
    token volume is touched once by the (occurrence ⇄ dict) equi-join
    + one doc_id partial agg. The result plan must show a broadcast
    dict join and partial aggregation, no cartesian — and the output
    satisfies the segmentation invariants (every doc's token count is
    at least its word count, strictly fewer tokens than characters+1
    per word after the EOW marker merges in)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_bpe_apply"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert rows
    assert all(r["n_tokens"] >= r["n_words"] for r in rows)
    assert all(len(r["stream_fp"]) == 32 for r in rows)
    # merges actually fired: some word somewhere encodes to fewer
    # symbols than chars+1 (the unmerged length)
    from weather_data_pipeline_spark.operators.text_analysis import (
        BPE_MERGE_ROUNDS,
        _bpe_train_chain,
    )

    dict_df, merges = _bpe_train_chain(
        load_table(spark, SF, "documents"), BPE_MERGE_ROUNDS, True
    )
    assert len(merges) == BPE_MERGE_ROUNDS
    shr = dict_df.filter(
        F.size("syms") < F.length("w") + 1
    ).count()
    assert shr > 0


def test_ivf_nprobe_tuning_monotone_recall(spark):
    """The nprobe sweep's recall curve must be monotone non-decreasing
    (lists probed at p ⊂ lists at p' > p, and under the total
    (rounded sim, vec_id) order a displacing candidate is itself
    exact-top-k), end at a sane ceiling, and the result plan is a
    local relation — per-config work ran as prior bounded jobs."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x3_ivf_nprobe_tuning"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan and "Exchange" not in plan
    rows = sorted(df.collect(), key=lambda r: r["nprobe"])
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    recalls = [r["recall_ppm"] for r in rows]
    assert recalls == sorted(recalls)  # monotone in nprobe
    assert 0 < recalls[0] <= recalls[-1] <= 1_000_000


def test_audio_silence_trim_zero_shuffles_invariants(spark):
    """Silence trim: one Arrow pass, zero exchanges, one pruned scan;
    kept interval is well-formed (inside [0, n_frames), n_kept
    consistent with the endpoints, and all-silent clips report
    -1/-1/0)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["mm_audio_silence_trim"](spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1
    assert "InPandas" in plan
    rows = df.collect()
    assert rows
    for r in rows:
        if r["n_kept"] == 0:
            assert r["first_loud"] == -1 and r["last_loud"] == -1
        else:
            assert 0 <= r["first_loud"] <= r["last_loud"] < r["n_frames"]
            assert r["n_kept"] == r["last_loud"] - r["first_loud"] + 1
    assert any(r["n_kept"] < r["n_frames"] for r in rows)  # trims fire


def test_bloom_geometry_tuning_curve(spark):
    """Bloom geometry sweep (VERDICT r11 ask #4): the emitted curve must
    show the tuning story the rung exists for — (a) ZERO false
    negatives in EVERY geometry (n_flagged − n_false_pos is exactly the
    member count, identical across configs: a member's positions are
    all registered by construction), (b) fill factor strictly
    decreasing along the m-increasing ladder (the saturation→production
    axis), and (c) the production-shaped largest geometry admits no
    false positives at this scale while the deliberately undersized
    first point admits some — the documented lesson, measured."""
    from weather_data_pipeline_spark.operators.dedup import BLOOM_GEOMETRIES

    rows = sorted(
        _Q["x1_bloom_geometry_tuning"](spark, SF).collect(),
        key=lambda r: (r["m"], r["k"]),
    )
    assert len(rows) == len(BLOOM_GEOMETRIES)
    members = {r["n_flagged"] - r["n_false_pos"] for r in rows}
    assert len(members) == 1 and members.pop() > 0  # no false negatives
    by_ladder = sorted(rows, key=lambda r: r["m"])
    fills = [r["fill_ppm"] for r in by_ladder]
    assert fills == sorted(fills, reverse=True) and len(set(fills)) == len(
        fills
    ), fills
    assert all(0 < f <= 1_000_000 for f in fills)
    assert by_ladder[-1]["n_false_pos"] == 0  # production-shaped point
    assert by_ladder[0]["n_false_pos"] > 0  # undersized point, visible


def test_countmin_no_underestimate_and_real_collisions(spark):
    """CMS contract on every emitted row: est_count >= true_count (a
    cell sums its term's own count plus collisions — underestimate is
    impossible by construction), and at the deliberately small CMS_W
    at least one candidate shows a real overestimate (the BLOOM_M
    lesson applied to frequency: the error path is exercised, not
    narrated). The estimate read must BROADCAST the <= d*w-row sketch,
    never shuffle it."""
    from weather_data_pipeline_spark.operators.text_analysis import (
        CMS_D,
        CMS_TOP,
        CMS_W,
    )

    df = _Q["x4_countmin_sketch"](spark, SF)
    rows = df.collect()
    assert len(rows) == CMS_TOP
    assert all(r["est_count"] >= r["true_count"] for r in rows)
    assert all(r["over_ppm"] >= 0 for r in rows)
    assert any(r["over_ppm"] > 0 for r in rows)
    # sketch size bound: the cells relation can never exceed d*w rows
    from weather_data_pipeline_spark.operators.text_analysis import (
        _cms_pos_structs,
        cms_term_counts,
    )
    from weather_data_pipeline_spark.sources.testdata import load_table

    cells = (
        cms_term_counts(load_table(spark, SF, "documents"))
        .select(F.explode(F.array(*_cms_pos_structs())).alias("ip"))
        .select("ip.i", "ip.p").distinct().count()
    )
    assert cells <= CMS_D * CMS_W


def test_bfs_reach_final_plan_is_checkpoint_rollup(spark):
    """Multi-source BFS: edge thinning and every per-hop frontier join
    run as prior jobs behind localCheckpoints, so the returned rollup
    plan touches NO parquet (node universe and visited vector are both
    ExistingRDD scans), keeps the reach join equi-keyed, and
    partial-aggregates the rollup."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_bfs_reach"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)


def test_bfs_reach_invariants(spark):
    """BFS reach rollup: hop levels bounded by BFS_MAX_HOP (plus -1 for
    unreached), counts partition the node universe exactly, and the
    bipartite trade graph forces strict level alternation — even hops
    are customers-only, odd hops suppliers-only (seeds are customers)."""
    from weather_data_pipeline_spark.operators.graph import BFS_MAX_HOP

    rows = _Q["x9_bfs_reach"](spark, SF).collect()
    hops = {r["hop"] for r in rows}
    assert hops <= {-1} | set(range(BFS_MAX_HOP + 1))
    assert 0 in hops  # the seed level is never empty
    for r in rows:
        assert r["n_customers"] + r["n_suppliers"] == r["n_nodes"]
        if r["hop"] >= 0:
            if r["hop"] % 2 == 0:
                assert r["n_suppliers"] == 0, r
            else:
                assert r["n_customers"] == 0, r


def test_zipf_fit_plan_and_diagnostic_direction(spark):
    """Zipf fit: the per-language rank cut must rewrite to
    WindowGroupLimit (per-task top-K before the lang exchange), moment
    sums partial-aggregate, and on the template-heavy synthetic corpus
    the diagnostic must actually fire — negative slope but LOW R²
    (natural language would fit ln f ≈ a + s·ln r tightly; templates
    don't, and surfacing that is the rung's job)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x4_zipf_fit"](spark, SF)
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["zipf_slope"] < 0
        assert 0.0 <= r["fit_r2"] <= 1.0
        assert r["fit_r2"] < 0.5  # template corpus: the fit is poor


def test_theil_sen_plan_and_median_invariants(spark):
    """Theil–Sen: the pair build must stay an equi-keyed join on
    user_id (never a cartesian), the daily rollup partial-aggregates,
    and per user the structural median must (a) lie inside the pair
    slope range and (b) see the full n·(n-1)/2 pair count — the
    calendar-bounded volume the 100 TB posture rests on."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_theil_sen"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["n_pairs"] == r["n_days"] * (r["n_days"] - 1) // 2
    # (a) the median must lie inside each user's pair-slope range —
    # recomputed independently from the daily rollup (ADVICE r12 #1).
    # ts_slope is floor-truncated to 1e-6, so allow that slack low.
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.sources.testdata import load_table

    daily = (
        load_table(spark, SF, "events")
        .groupBy(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
    )
    a = daily.select("user_id", F.col("d").alias("d1"), F.col("v").alias("v1"))
    b = daily.select("user_id", F.col("d").alias("d2"), F.col("v").alias("v2"))
    bounds = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in (
            a.join(b, "user_id")
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("user_id")
            .agg(
                F.min(
                    (F.col("v2") - F.col("v1"))
                    / (F.col("d2") - F.col("d1")).cast("double")
                ).alias("lo"),
                F.max(
                    (F.col("v2") - F.col("v1"))
                    / (F.col("d2") - F.col("d1")).cast("double")
                ).alias("hi"),
            )
            .collect()
        )
    }
    for r in rows:
        lo, hi = bounds[r["user_id"]]
        assert lo - 1e-6 <= r["ts_slope"] <= hi, (r["user_id"], lo, hi)


def test_acf_lags_plan_and_bounds(spark):
    """ACF: the lag fan-out must be the tiny broadcast values relation
    (a 2-row BroadcastNestedLoop is the deliberate shape — never a
    data-sized cartesian), the lag join equi-keyed, aggregates
    partial; per (user, lag) row the available-case pair count is
    bounded by n_days - 1 (the max observed day has no a-side partner;
    gappy series can exceed the contiguous n_days - lag bound) and the
    ACF by |1| (floor-trunc slack)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_acf_lags"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 2-row lags
    assert "SortMergeJoin" not in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["n_pairs"] <= r["n_days"] - 1
        if r["acf"] is not None:
            assert -1.000001 <= r["acf"] <= 1.000001


def test_sssp_final_plan_is_checkpoint_rollup(spark):
    """Weighted SSSP: the strength-weighted edge build and every
    relaxation round run as prior jobs behind localCheckpoints, so the
    returned rollup plan touches NO parquet, keeps the reach join
    equi-keyed, and partial-aggregates the rollup (the x9_bfs_reach
    plan discipline carried to the weighted kernel)."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x9_sssp_weighted"](spark, SF)
    plan = executed_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)


def test_sssp_invariants_and_bfs_consistency(spark):
    """SSSP reach rollup: costs are bounded by rounds x max edge cost
    (ceil(SSSP_COST_NUM / BFS_MIN_ORDERS) per edge, plus -1 for
    unreached), counts partition the node universe, seeds (dist 0) are
    customers-only, and — since a path of <= R edges is reachable
    regardless of weights — the set of nodes reached within
    SSSP_MAX_ROUNDS relaxations must be EXACTLY the set x9_bfs_reach
    reaches within the same number of hops (the two rollups must agree
    on reached/unreached totals)."""
    from weather_data_pipeline_spark.operators.graph import (
        BFS_MIN_ORDERS,
        SSSP_COST_NUM,
        SSSP_MAX_ROUNDS,
    )

    rows = _Q["x9_sssp_weighted"](spark, SF).collect()
    max_edge_cost = -(-SSSP_COST_NUM // BFS_MIN_ORDERS)
    dists = {r["dist"] for r in rows}
    assert 0 in dists  # the seed level is never empty
    for r in rows:
        assert -1 <= r["dist"] <= SSSP_MAX_ROUNDS * max_edge_cost
        assert r["n_customers"] + r["n_suppliers"] == r["n_nodes"]
        if r["dist"] == 0:
            assert r["n_suppliers"] == 0, r
    bfs = _Q["x9_bfs_reach"](spark, SF).collect()
    sssp_reached = sum(r["n_nodes"] for r in rows if r["dist"] >= 0)
    bfs_reached = sum(r["n_nodes"] for r in bfs if r["hop"] >= 0)
    assert sssp_reached == bfs_reached
    assert sum(r["n_nodes"] for r in rows) == sum(r["n_nodes"] for r in bfs)


def test_decontaminate_containment_broadcasts_eval_side(spark):
    """Containment-protocol decontamination (VERDICT r12 ask #3): the
    benchmark side must BROADCAST into the shingle join — the training
    corpus streams past it with no data-sized shuffle before the
    per-pair partial aggregation — and per flagged row the containment
    must be a valid fraction with the integer threshold respected."""
    from weather_data_pipeline_spark.operators.dedup import (
        DECON_CONT_DEN,
        DECON_CONT_NUM,
    )
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x2_decontaminate_containment"](spark, SF)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    rows = df.collect()
    assert rows  # the synthetic corpus has cross-split near-dups
    thresh = DECON_CONT_NUM / DECON_CONT_DEN
    for r in rows:
        assert r["n_eval_hits"] >= 1
        # floor-trunc slack low; containment can reach exactly 1.0
        assert thresh - 1e-6 <= r["max_containment"] <= 1.0


def test_stl_decompose_plan_and_reconstruction(spark):
    """STL-lite decomposition: no cartesian/BNL anywhere (the trend is
    a RANGE-frame window, never a self-join), aggregates partial; per
    row the emitted components must reconstruct the daily value within
    the stacked floor-trunc slack (each of trend/seasonal/remainder
    gives up < 1e-6), and per user the centered seasonal indices must
    sum to ~0 (within one microunit per weekday from the floor)."""
    import collections

    from weather_data_pipeline_spark.operators.sessionize import STL_PERIOD
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x6_stl_decompose"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)
    rows = df.collect()
    assert rows
    for r in rows:
        resid = r["v_daily"] - (r["trend"] + r["seasonal"] + r["remainder"])
        assert -1e-9 <= resid < 3e-6, r  # float-eps slack on the Python sum
    per_user_wd = collections.defaultdict(dict)
    for r in rows:
        per_user_wd[r["user_id"]][r["d"] % STL_PERIOD] = r["seasonal"]
    for u, wd in per_user_wd.items():
        # ≥14 observed days need not cover all 7 weekdays (gappy
        # series); centering is over the OBSERVED weekday means
        assert 1 <= len(wd) <= STL_PERIOD
        assert abs(sum(wd.values())) <= len(wd) * 1e-6 + 1e-9, u


def test_rank_fusion_plan_and_rrf_bounds(spark):
    """RRF hybrid retrieval: the lexical arm's query shingles must
    BROADCAST into the corpus-postings join (never a data-sized
    shuffle on the query side), aggregates partial, no cartesian on
    the Spark side (the dense arm's query matrix rides a driver
    broadcast into mapInPandas); per fused row the RRF score must
    equal what its arm count permits: 1/(K+TOP_K) ≤ rrf ≤ n_arms/(K+1),
    with n_arms ∈ {1, 2}."""
    from weather_data_pipeline_spark.operators.similarity import (
        RRF_K,
        TOP_K,
    )
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x3_rank_fusion"](spark, SF)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows
    assert any(r["n_arms"] == 2 for r in rows)  # the arms do agree somewhere
    for r in rows:
        assert r["n_arms"] in (1, 2)
        lo = 1.0 / (RRF_K + TOP_K) - 1e-6
        hi = r["n_arms"] / (RRF_K + 1.0)
        assert lo <= r["rrf"] <= hi, r


def test_cdc_chunk_dedup_plan_is_narrow_until_df(spark):
    """CDC chunk dedup: boundary detection, span assembly and chunk
    hashing are ONE narrow per-doc projection — the only exchanges are
    the chunk-hash df groupBy, its join back, and the per-doc rollup;
    no cartesian, aggregates partial. Rollup invariants: dup_chunks ≤
    n_chunks and ppm within [0, 1e6]."""
    from weather_data_pipeline_spark.plans.inspect import executed_plan

    df = _Q["x1_cdc_chunk_dedup"](spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df)
    assert num_shuffles(df) <= 4
    rows = df.collect()
    assert rows
    assert any(r["dup_chunks"] > 0 for r in rows)  # corpus has near-dups
    for r in rows:
        assert 0 <= r["dup_chunks"] <= r["n_chunks"]
        assert 0 <= r["dup_token_ppm"] <= 1_000_000


def test_mmr_diversify_reorders_but_preserves_candidates(spark):
    """MMR (round 13): rank-1 must be the pure-relevance argmax per
    query (the greedy seed), the selected set must equal the cosine
    top-K candidate set (with |cand| = K, MMR permutes membership
    never changes), and the permutation must actually BITE on this
    corpus — near-dup embeddings exist, so at least one query's MMR
    order must differ from relevance order (8/10 do at sf0.01)."""
    import collections

    from weather_data_pipeline_spark.operators.similarity import (
        TOP_K,
        x3_cosine_topk,
    )

    mmr_rows = _Q["x3_mmr_diversify"](spark, SF).collect()
    rel = collections.defaultdict(list)
    for r in x3_cosine_topk(spark, SF).collect():
        rel[r["query_id"]].append((r["sim"], -r["vec_id"]))
    by_q = collections.defaultdict(dict)
    for r in mmr_rows:
        by_q[r["query_id"]][r["mmr_rank"]] = r["doc_id"]
    assert set(by_q) == set(rel)
    reordered = 0
    for q, picks in by_q.items():
        assert sorted(picks) == list(range(1, TOP_K + 1))
        docs_rel = [int(-k) for _, k in sorted(rel[q], reverse=True)]
        assert picks[1] == docs_rel[0]  # greedy seed = max relevance
        docs_mmr = [picks[i] for i in range(1, TOP_K + 1)]
        assert set(docs_mmr) == set(docs_rel)
        if docs_mmr != docs_rel:
            reordered += 1
    assert reordered > 0


def test_mmr_driver_walk_bound_fails_fast(spark, monkeypatch):
    """VERDICT r13 ask #8: the MMR greedy walk collects candidates to
    the driver under a |queries|·TOP_K contract; if the upstream arm
    ever returns more (an N_QUERIES bump out of sync, a top-k filter
    regression), the rung must FAIL FAST, not silently grow the
    collect. Simulated by patching the cosine arm to return an
    inflated candidate table."""
    import pytest

    from weather_data_pipeline_spark.operators import similarity as sim

    real = sim.x3_cosine_topk

    def inflated(spark_, sf_dir_):
        base = real(spark_, sf_dir_)
        return base.unionByName(
            base.withColumn(
                "query_id", F.col("query_id") + sim.N_QUERIES
            )
        )

    monkeypatch.setattr(sim, "x3_cosine_topk", inflated)
    with pytest.raises(AssertionError, match="driver-walk bound"):
        sim.x3_mmr_diversify(spark, SF)


def test_nsw_beam_recall_floor(spark):
    """NSW beam search (round 14, VERDICT r13 ask #4): the rung is an
    APPROXIMATE search, so correctness is two-sided — the oracle pins
    exact parity of the beam itself, and this test pins that the beam
    is a GOOD approximation: mean recall@NSW_BEAM vs the exact cosine
    ranking must clear 0.8 at sf0.01 (measured 0.92 at the committed
    (M, B, R); the pre-tuning sizing measured 0.12, which is what
    this floor exists to catch). Also pins the structural contract:
    every query returns exactly NSW_BEAM rows ranked 1..B with
    non-increasing sims, never containing the query itself."""
    import collections

    from weather_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        NSW_BEAM,
        x3_cosine_topk,
    )

    rows = _Q["x3_nsw_beam"](spark, SF).collect()
    by_q = collections.defaultdict(dict)
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        by_q[r["query_id"]][r["beam_rank"]] = (r["vec_id"], r["sim"])
    assert len(by_q) == N_QUERIES
    # exact top-B per query from the brute-force arm's full sim table
    import numpy as np

    from weather_data_pipeline_spark.operators.similarity import (
        _seq_dot,
        _seq_self_norms,
    )
    from weather_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings").sort("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array(
        [list(r["embedding"]) for r in emb], dtype=np.float64
    )
    norms = _seq_self_norms(mat)
    recalls = []
    for q, picks in by_q.items():
        ranks = sorted(picks)
        assert ranks == list(range(1, NSW_BEAM + 1)), (q, ranks)
        sims = [picks[k][1] for k in ranks]
        assert sims == sorted(sims, reverse=True), (q, sims)
        qi = int(np.where(ids == q)[0][0])
        s = np.round(_seq_dot(mat, mat[qi]) / (norms[qi] * norms), 6)
        s[ids == q] = -9.0
        exact = set(ids[np.lexsort((ids, -s))[:NSW_BEAM]].tolist())
        beam = {picks[k][0] for k in ranks}
        recalls.append(len(beam & exact) / NSW_BEAM)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_nsw_planes_for_matches_oracle_geometry():
    """x3_nsw_beam_blocked's adaptive plane count must compute the
    oracle's STATIC 8-plane geometry at every driver test SF (50 /
    500 / 5000 vectors — parity depends on it), grow past that
    (12 planes at the 10x replica's 50k, 15 at the 100x spot's
    500k — the bounded-bucket-population lever), and cap at the
    deterministic plane family's size."""
    from weather_data_pipeline_spark.operators.similarity import (
        MAX_PLANES,
        _nsw_planes_for,
        _PLANES,
        _PLANES_ALL,
    )

    for n in (1, 50, 500, 5000):
        assert _nsw_planes_for(n) == 8, n
    assert _nsw_planes_for(50_000) == 12
    assert _nsw_planes_for(500_000) == 15
    assert _nsw_planes_for(10**12) == MAX_PLANES
    # the 8-plane prefix IS the historical plane set (oracle parity)
    assert (_PLANES_ALL[:8] == _PLANES).all()


def test_nsw_exact_build_fails_fast_past_broadcast_ceiling(
    spark, monkeypatch
):
    """x3_nsw_beam's scale posture is a DESIGNED refusal: past
    MAX_BROADCAST_VECTORS the broadcast |V|^2 graph build must raise
    naming x3_nsw_beam_blocked (the implemented scale path), not
    attempt the quadratic pass — which is why the scale spot table
    carries the blocked rung instead of this one. The refusal is a
    ValueError, so it also holds under ``python -O``."""
    import pytest

    from weather_data_pipeline_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "MAX_BROADCAST_VECTORS", 10)
    with pytest.raises(ValueError, match="x3_nsw_beam_blocked"):
        sim.x3_nsw_beam(spark, SF)


def test_hnsw_level_draw_geometric_and_mixed():
    """x3_hnsw_beam's level assignment must be (a) deterministic pure
    int arithmetic, (b) geometrically distributed — P(level >= 1)
    near 1/4, P(level = 2) near 1/16 over a sequential-id corpus —
    and (c) actually MIXED: the draw reads the hash's TOP nibble
    because the Knuth multiplier is odd, so h's low bits are just
    vec_id's own low bits (the low-bit draw would degenerate to
    vec_id % 16 — caught during the round-15 build)."""
    import collections

    from weather_data_pipeline_spark.operators.similarity import (
        HNSW_HASH_MOD,
        HNSW_HASH_MULT,
    )

    def level(vec_id: int) -> int:
        t = ((vec_id * HNSW_HASH_MULT) % HNSW_HASH_MOD) >> 28
        return 2 if t == 0 else (1 if t % 4 == 0 else 0)

    n = 100_000
    counts = collections.Counter(level(i) for i in range(n))
    assert 0.2 < (counts[1] + counts[2]) / n < 0.3
    assert 0.04 < counts[2] / n < 0.09
    # mixed, not id-periodic: multiples of 16 are NOT all level 2
    lv16 = [level(i) for i in range(0, 1600, 16)]
    assert len(set(lv16)) == 3, collections.Counter(lv16)


def test_hnsw_beam_recall_floor(spark):
    """x3_hnsw_beam (round 15): hierarchy over the LSH-blocked layer
    graphs. Recall is BOUNDED BY the blocked graph's quality (the
    Hamming-1 probe set — x3_nsw_beam_blocked measured 0.50 at sf0.1
    in BENCH_NSW_AB.json), so the floor pins 0.5 at sf0.01 (measured
    0.625); what the hierarchy buys is the ENTRY — a log-depth
    descent instead of the fixed entry node — which is the term that
    decays at fixed sizing as the corpus grows. Structural contract:
    every query returns exactly NSW_BEAM rows ranked 1..B with
    non-increasing sims, never the query itself."""
    import collections

    import numpy as np

    from weather_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        NSW_BEAM,
        _seq_dot,
        _seq_self_norms,
    )
    from weather_data_pipeline_spark.sources.testdata import load_table

    rows = _Q["x3_hnsw_beam"](spark, SF).collect()
    by_q = collections.defaultdict(dict)
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        by_q[r["query_id"]][r["beam_rank"]] = (r["vec_id"], r["sim"])
    assert len(by_q) == N_QUERIES
    emb = load_table(spark, SF, "embeddings").sort("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    norms = _seq_self_norms(mat)
    recalls = []
    for q, picks in by_q.items():
        ranks = sorted(picks)
        assert ranks == list(range(1, NSW_BEAM + 1)), (q, ranks)
        sims = [picks[k][1] for k in ranks]
        assert sims == sorted(sims, reverse=True), (q, sims)
        qi = int(np.where(ids == q)[0][0])
        s = np.round(_seq_dot(mat, mat[qi]) / (norms[qi] * norms), 6)
        s[ids == q] = -9.0
        exact = set(ids[np.lexsort((ids, -s))[:NSW_BEAM]].tolist())
        beam = {picks[k][0] for k in ranks}
        recalls.append(len(beam & exact) / NSW_BEAM)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_record_linkage_blocking_complete():
    """x2_record_linkage's candidate generation must be COMPLETE for
    the match predicate (the docstring's pigeonhole + banding
    claims), else the rung silently drops true matches that the
    oracle's exhaustive same-nation scan keeps:
    - pigeonhole: any two 9-char digit tails within edit distance
      RL_NAME_EDIT(=2) — equal length, so substitutions only — agree
      exactly on >= 1 of the three 3-char segments;
    - banding: |Δcents| < RL_BAL_CENTS implies the bucket pair
      floor(a/W), floor(b/W) differs by <= 1 (incl. negatives).
    Deterministic exhaustive-ish sweeps, no RNG."""
    import math

    from weather_data_pipeline_spark.operators.dedup import (
        RL_BAL_CENTS,
        RL_NAME_EDIT,
    )

    def segs(s):
        return [s[0:3], s[3:6], s[6:9]]

    base = "123456789"
    # all <=2-substitution variants of a representative tail
    for i in range(9):
        for j in range(i, 9):
            v = list(base)
            v[i] = "0"
            v[j] = "7"
            v = "".join(v)
            dist = sum(a != b for a, b in zip(base, v))
            assert dist <= RL_NAME_EDIT
            assert any(x == y for x, y in zip(segs(base), segs(v))), (base, v)
    # banding, including the negative-cents floor behavior
    W = RL_BAL_CENTS
    for a in range(-3 * W, 3 * W, 997):
        for d in (-W + 1, -1, 0, 1, W - 1):
            b = a + d
            assert abs(math.floor(a / W) - math.floor(b / W)) <= 1, (a, b)


def test_record_linkage_entities_nontrivial(spark):
    """The rung must actually LINK at the test SFs (a threshold that
    matches nothing would pass oracle parity vacuously): at sf0.01
    the driver data yields 129 entities, largest cluster 6, every
    entity_id equal to the min custkey its sum/count imply bounds
    for. Pins the measured shape so a match-predicate regression
    (e.g. a broken cents cast matching nothing) fails loudly."""
    rows = _Q["x2_record_linkage"](spark, SF).collect()
    assert len(rows) == 129
    assert max(r["n_records"] for r in rows) == 6
    for r in rows:
        # entity_id is the component MIN, so strictly below the mean
        # of the remaining members' keys packed into sum_custkey
        assert r["sum_custkey"] > r["entity_id"] * r["n_records"]


def test_record_linkage_collapse_exact(spark):
    """The exact-duplicate COLLAPSE stage (x2_record_linkage stage 0)
    must be EXACT on data that actually contains identical records —
    the driver SFs' names are unique, so oracle parity exercises the
    collapse only trivially, and the 10x/100x replicas (verbatim
    name copies) are where it carries the scale. Synthetic frame:
    records 1,2 identical; 3 within edit 1 + $0.50 of them; 4 a
    lone exact-dup pair member with 14; 5 isolated -> expect entity
    {1,2,3} (sum 6) and entity {4,14} (sum 18), nothing else."""
    from weather_data_pipeline_spark.operators.dedup import (
        RL_BAL_CENTS,
        _rl_link,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "Customer#000000001", 7, 10000),
        (2, "Customer#000000001", 7, 10000),
        (3, "Customer#000000002", 7, 10050),
        (4, "Customer#000000777", 7, 500000),
        (14, "Customer#000000777", 7, 500000),
        (5, "Customer#000000555", 3, 900000),
    ]
    rec = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, bal_cents long"
    ).withColumn("bucket", F.floor(F.col("bal_cents") / F.lit(RL_BAL_CENTS)))
    out = {
        r["entity_id"]: (r["n_records"], r["sum_custkey"])
        for r in _rl_link(rec).collect()
    }
    assert out == {1: (3, 6), 4: (2, 18)}, out
