"""X9 — graph analytics over the TPC-H trade graph.

Nodes are customers and suppliers (supplier keys offset by
``SUPP_OFFSET``), edges the customer↔supplier trade relationships
induced by orders⋈lineitem. The module holds the iterative Pregel-style
kernels — PageRank, label propagation (LPA), k-core peeling, hop-bounded
BFS reach and weighted shortest paths (one delta-Bellman–Ford kernel,
``sssp_rounds``; BFS is its unit-weight case) — plus the one-pass
shape queries: triangle count, degree histogram and neighborhood
Jaccard. Connected components live with the dedup tier
(``dedup.star_components``).

Shared pieces, each built once here:

- ``_trade_pairs`` / ``_trade_edges``: the distinct trade pairs and
  their symmetric, checkpointed edge list (PageRank, LPA, k-core,
  degree histogram);
- ``_strength_graph``: the strength-thinned edge list, node universe
  and seed set (BFS, SSSP);
- ``_node_rollup`` / ``_reach_rollup``: the per-group node rollup
  (count, customer/supplier split, min member) for LPA, BFS and SSSP.

Every per-round vector join hints a broadcast only under the shared
row budget (``functions.broadcast``), probed from a materialized
checkpoint; past it the planner's keyed shuffle join carries the round.
Each round joins a |V|-bounded vector to the checkpointed edges and
aggregates per node — no driver-side state beyond loop counters and
bounded probes.

Determinism across engines: PageRank floor-quantizes every per-edge
contribution to an integer before an exact DECIMAL sum, LPA breaks ties
to the smallest label, and path costs are integers, so every oracle —
the same rounds unrolled as DuckDB CTEs from one Python template —
agrees row for row.

Reference parity: no graph ops in the reference (440-line pandas ETL);
§2.10 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.broadcast import broadcast_under_budget
from ..registry import query
from ..sources.testdata import load_table

#: power-method iterations (unrolled in the oracle; loop here)
N_ITER = 3

#: damping factor
DAMPING = 0.85

#: supplier node-id offset (disjoint from customer keys at any SF)
SUPP_OFFSET = 100_000_000


def _pairs_sql() -> str:
    """Distinct customer→supplier trade pairs, supplier keys offset."""
    return f"""
        SELECT DISTINCT o_custkey AS src, l_suppkey + {SUPP_OFFSET} AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """


def _edges_sql() -> str:
    """Symmetric distinct trade edges — the DuckDB twin of
    ``_trade_edges``."""
    return f"""
      SELECT src, dst FROM ({_pairs_sql()})
      UNION ALL
      SELECT dst AS src, src AS dst FROM ({_pairs_sql()})
    """


def _rollup_sql(key: str, src: str) -> str:
    """DuckDB twin of ``_node_rollup`` over a (node, ``key``)
    relation."""
    return f"""
    SELECT {key}, COUNT(*) AS n_nodes,
           CAST(SUM(CASE WHEN node < {SUPP_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN node >= {SUPP_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           MIN(node) AS min_node
    FROM {src}
    GROUP BY {key}
    """


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier trade pairs as (src, dst) — the Spark
    twin of ``_pairs_sql``."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric trade edges (both directions of every pair — influence
    flows both ways), materialized once for every round that reads them.

    Without reuse each round re-runs the orders⋈lineitem build (PageRank
    measured 53 exchanges → 13 at N_ITER=3). localCheckpoint rather than
    cache(): storage follows the RDD's driver-side lifetime, so the
    ContextCleaner frees it once the caller drops the result — no
    per-sf_dir MEMORY_AND_DISK entries pinned for the session — and it
    truncates the iteration lineage. Cluster caveat: a lost executor
    loses checkpoint partitions; a long-lived production job would set a
    reliable checkpoint dir and use checkpoint() here."""
    base = _trade_pairs(spark, sf_dir)
    return base.unionAll(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)


def _node_rollup(df: DataFrame, key: Column | str) -> DataFrame:
    """Per-``key`` rollup of a frame with a ``node`` column: node count,
    customer/supplier split and min member."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("node") < SUPP_OFFSET).cast("int"))
        .cast("long")
        .alias("n_customers"),
        F.sum((F.col("node") >= SUPP_OFFSET).cast("int"))
        .cast("long")
        .alias("n_suppliers"),
        F.min("node").alias("min_node"),
    )


def _pagerank_oracle() -> str:
    """N_ITER unrolled power-method steps as nested CTEs."""
    steps = []
    steps.append(f"""
    edges AS ({_edges_sql()}),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT node, 1.0 / n AS rank FROM deg CROSS JOIN nn)
    """)
    for i in range(N_ITER):
        steps.append(f"""
    pr{i + 1} AS (
      SELECT d.node,
             (1.0 - {DAMPING}) / nn.n
               + {DAMPING} * (CAST(COALESCE(s.acc, 0) AS DOUBLE)
                              / 1000000000000000) AS rank
      FROM deg d CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(p.rank / g.outdeg * 1000000000000000)
                        AS DECIMAL(38,0))) AS acc
        FROM edges e
        JOIN pr{i} p ON p.node = e.src
        JOIN deg g ON g.node = e.src
        GROUP BY e.dst
      ) s ON s.node = d.node
    )
    """)
    return (
        "WITH "
        + ",".join(steps)
        + f"""
    SELECT node,
           CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier'
                ELSE 'customer' END AS node_type,
           FLOOR(rank * 1000000000) / 1000000000.0 AS rank
    FROM pr{N_ITER}
    """
    )


@query("x9_pagerank", oracle=_pagerank_oracle())
def x9_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph, ``N_ITER``
    power-method steps. Per iteration: contributions = rank/outdeg per
    edge source (one join on src), summed per destination (one
    partial-aggregated shuffle on dst). The edge list and degrees are
    built once and reused by every iteration; only the rank vector
    (|nodes| rows) changes. Emitted ranks floor-truncate at 1e-9 (ranks
    are O(1/N) — 6 decimals would flatten them)."""
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint(eager=True)
    n = deg.count()  # |nodes| — one bounded job over the materialized deg
    # outdeg rides INSIDE the rank vector, so each step is ONE edge join
    # + one partial-aggregated shuffle + the frontier re-join — not a
    # separate degree join per step
    pr = deg.select("node", "outdeg", (F.lit(1.0) / n).alias("rank"))
    # Under the broadcast budget the rank vector broadcasts into the edge
    # join (no edge shuffle, no SMJ sort — the per-step cost collapses
    # to one partial-aggregated exchange of ≤|nodes| combiner rows) and
    # the |nodes|-row contribution table broadcasts back into the degree
    # join; past it both fall back to keyed shuffles. localCheckpoint
    # does NOT preserve output partitioning, so pre-partitioning edges by
    # src cannot elide the shuffle; the broadcast is what removes it.
    for _ in range(N_ITER):
        pv = pr.withColumnRenamed("node", "src")
        # per-edge contributions floor-quantize to integers at 1e-15
        # before the exact DECIMAL(38,0) sum — a derived double never
        # casts to decimal; contrib ≤ 1 so contrib·1e15 < 2^53 always
        contrib = (
            edges.join(broadcast_under_budget(pv, n), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    F.col("rank") / F.col("outdeg") * F.lit(1e15)
                )
                .cast("decimal(38,0)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("acc"))
        )
        pr = deg.join(
            broadcast_under_budget(contrib, n), "node", "left"
        ).select(
            "node",
            "outdeg",
            (
                F.lit((1.0 - DAMPING) / n)
                + DAMPING
                * (
                    F.coalesce(F.col("acc").cast("double"), F.lit(0.0))
                    / F.lit(1e15)
                )
            ).alias("rank"),
        )
    return pr.select(
        "node",
        F.when(F.col("node") >= SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        (F.floor(F.col("rank") * 1_000_000_000) / 1e9).alias("rank"),
    )


# ----------------------------------------------------------------------
# Triangle counting over the supplier co-occurrence graph
# ----------------------------------------------------------------------
#: strongest co-occurrence edges kept for the triangle pass. An
#: UNCAPPED co-occurrence graph over a bounded entity set densifies as
#: orders accumulate (at sf0.1 it is already half-complete: 453k of
#: 500k possible pairs) and triangle work on a near-complete graph is
#: Θ(n³) for ANY algorithm — the graph, not the plan, is the problem.
#: Capping at the top-K support-ranked edges bounds wedge volume at
#: O(K^1.5) FOREVER, independent of data scale, and is also the
#: analytically honest choice: triangle/community structure over the
#: noise-floor edges (pairs sharing one random order) is meaningless.
EDGE_K = 5_000


def _cooccur_edges_sql() -> str:
    """Top-``EDGE_K`` supplier pairs by co-shipment support (orders
    shared), canonicalized s1 < s2, ties broken by (s1, s2) so the cap
    boundary is deterministic (the customer↔supplier trade graph is
    bipartite — triangle-free by construction — so this op uses the
    supplier co-occurrence projection instead)."""
    return f"""
      SELECT s1, s2 FROM (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
               COUNT(*) AS support
        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
      ) ORDER BY support DESC, s1, s2 LIMIT {EDGE_K}
    """


@query(
    "x9_triangle_count",
    oracle=f"""
    WITH e AS ({_cooccur_edges_sql()})
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e e1
              JOIN e e2 ON e2.s1 = e1.s2
              JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2) AS n_triangles
    """,
)
def x9_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count — the clustering-coefficient / community-density
    primitive — over the top-``EDGE_K`` strongest supplier
    co-occurrence edges (suppliers are adjacent iff they co-shipped
    orders; support = shared-order count ranks the edges — see
    ``EDGE_K`` for why the graph must be capped: an uncapped
    co-occurrence graph densifies toward complete as data grows, and
    triangle counting on a near-complete graph is Θ(n³) regardless of
    algorithm). The scalable piece is the support build — a fact
    self-join reduced by a partial-agg pair groupBy — and the top-K,
    which plans as TakeOrderedAndProject (per-partition top-K merged on
    the driver, never a global sort of the pair table).

    The oracle counts via the naive id-canonical double join; the
    Spark plan uses the DEGREE-ORIENTED algorithm (Cohen 2009 /
    Suri–Vassilvitskii "Counting Triangles and the Curse of the Last
    Reducer"): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher, build wedges only at each edge pair's
    common LOW vertex, and close them against the oriented edge list.
    Orientation bounds the wedge fan-out by O(sqrt(|E|)) per node
    instead of the max raw degree — the celebrity-node blowup that
    kills id-ordered wedge builds — while counting each triangle
    exactly once (its minimum-order vertex builds it)."""
    sl = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    top = _top_support_edges(sl, EDGE_K)
    # materialize the capped list ONCE: the driver collect is bounded at
    # EDGE_K rows by construction (the same bounded-collect pattern as
    # the IVF centroid build), and every downstream consumer (degrees,
    # orientation, wedge close, edge count) then works on a local
    # 2-column frame instead of re-running the fact self-join per use —
    # lazily reused DataFrame lineage recomputes the whole support
    # build for EACH of its five consumers otherwise (measured 4x
    # slowdown)
    edges = spark.createDataFrame(
        [(r["s1"], r["s2"]) for r in top.collect()] or [(None, None)],
        schema="s1 bigint, s2 bigint",
    ).filter(F.col("s1").isNotNull())
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.join(_count_triangles(edges, deg))


def _top_support_edges(sl: DataFrame, k: int) -> DataFrame:
    """Top-k co-occurrence edges by support from a DISTINCT
    (l_orderkey, l_suppkey) frame — the dedup happens BEFORE the
    self-join (a supplier with several lineitems in one order would
    otherwise multiply pair rows and force a two-phase count_distinct
    instead of a plain count). Factored so the plan gate asserts the
    TakeOrderedAndProject shape on the SAME code the operator runs."""
    a = sl.alias("a")
    b = sl.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"),
            F.col("b.l_suppkey").alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "s1", "s2")
        .limit(k)
        .select("s1", "s2")
    )


def _count_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-oriented wedge count over canonical (s1 < s2) edges —
    the algorithm core, factored out so the hand-countable-graph
    property test (tests/test_properties.py) can drive it directly."""
    d1 = deg.select(F.col("node").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("node").alias("s2"), F.col("deg").alias("deg2"))
    ranked = edges.join(d1, "s1").join(d2, "s2")
    # orient low-(deg, id) -> high-(deg, id); carry the head's rank so
    # wedge arms can be ordered without re-joining degrees
    lo_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("s1") < F.col("s2"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("s1")).otherwise(F.col("s2")).alias("u"),
        F.when(lo_first, F.col("s2")).otherwise(F.col("s1")).alias("v"),
        F.when(lo_first, F.col("deg2")).otherwise(F.col("deg1")).alias(
            "deg_v"
        ),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("deg_v").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("deg_v").alias("dv2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closer, ["v1", "v2"], "left_semi")
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


# ----------------------------------------------------------------------
# Degree distribution: the graph-shape audit histogram
# ----------------------------------------------------------------------
@query(
    "x9_degree_hist",
    oracle=f"""
    WITH base AS ({_pairs_sql()}),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT UNNEST([src, dst]) AS node FROM base)
      GROUP BY node
    )
    SELECT CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier'
                ELSE 'customer' END AS node_type,
           CAST(len(bin(d)) - 1 AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_deg,
           CAST(MAX(d) AS BIGINT) AS max_deg
    FROM deg
    GROUP BY 1, 2
    """,
)
def x9_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the trade graph, log2-bucketed
    per node type — the first thing to audit before running anything
    iterative on a graph (a power-law tail means skewed joins; a
    near-complete projection means quadratic wedge volume — see the
    EDGE_K rationale on x9_triangle_count).

    Buckets are INTEGER log2 via binary-string length (``len(bin(d))
    - 1``) on both engines — no libm ``log2`` whose last-ulp behavior
    at exact powers of two could disagree across engines.

    Shape note: the symmetric-union degree (deg in the undirected
    graph) is computed in ONE pass by exploding each distinct pair
    into its two endpoints — no union of two copies of the edge-build
    subtree and no checkpoint: a same-session A/B at sf0.1 (best-of-5
    after 3 warmup passes) measured explode 1.44 s vs checkpointed-union
    1.58 s — one scan, one partial-aggregated count, nothing
    materialized. Checkpointing pays off for expensive subtrees; here
    the subtree is one broadcast join + distinct."""
    deg = _trade_pairs(spark, sf_dir).select(
        F.explode(F.array("src", "dst")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(
        F.when(F.col("node") >= SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        (F.length(F.bin("d")) - 1).cast("long").alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").cast("long").alias("min_deg"),
        F.max("d").cast("long").alias("max_deg"),
    )


# ----------------------------------------------------------------------
# Label propagation: synchronous LPA community detection
# ----------------------------------------------------------------------
#: synchronous LPA rounds (unrolled in the oracle; loop here)
LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """``LPA_ROUNDS``-unrolled DuckDB twin: per round, each node adopts
    its neighbors' most frequent label (ties → smallest label), picked
    with a deterministic ROW_NUMBER over (cnt DESC, label)."""
    rounds = []
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(
            f""", lab{i} AS (
      SELECT src AS node, label FROM (
        SELECT e.src, l.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN lab{i - 1} l ON e.dst = l.node
        GROUP BY e.src, l.label
      ) WHERE rn = 1
    )"""
        )
    final = f"(SELECT node, label AS community FROM lab{LPA_ROUNDS})"
    return f"""
    WITH edges AS ({_edges_sql()}),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)
    {"".join(rounds)}
    {_rollup_sql("community", final)}
    """


@query("x9_label_propagation", oracle=_lpa_oracle())
def x9_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007) over the customer↔supplier trade graph:
    every node starts as its own community and per round adopts the
    most frequent label among its neighbors — ties broken to the
    SMALLEST label so every round is engine-deterministic (classic
    LPA breaks ties randomly; a reproducible data pipeline cannot).
    After ``LPA_ROUNDS`` rounds the output is the community rollup
    (size, customer/supplier split, min member).

    Scale shape — the textbook Pregel step as plain DataFrame ops: the
    checkpointed edges join the |nodes|-row label vector every round
    (broadcast under the shared budget — no edge shuffle; keyed shuffle
    past it, the web-scale shape), then ONE per-src
    ``mode(label, deterministic=True)`` aggregate — the smallest of the
    most frequent labels, the oracle's ROW_NUMBER tie rule — whose
    partial form ships each map task's per-src label counts through a
    single exchange. Label vectors localCheckpoint per round (truncated
    lineage)."""
    edges = _trade_edges(spark, sf_dir)
    # Round 0 collapses to min-neighbor-id ("aggregate before you
    # shuffle"): labels start as the node's own id, so round 0's joined
    # label IS dst and — edges being globally distinct rows — every
    # (src, label) count is exactly 1; max_by over all-ones counts picks
    # the SMALLEST label, i.e. min(dst) per src, computable straight off
    # the edge list with a combiner-heavy partial agg (≤|nodes| rows
    # cross the exchange) and no label join. The generic form would ship
    # all |edges| joined rows, because identity labels give partial
    # aggregation nothing to combine. Round 0's output is also the first
    # label vector and its row count is |nodes| (every node is the src of
    # ≥1 edge), so no identity-label init table is built; the count
    # rides the checkpoint's own job as an Observation.
    obs = Observation()
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("label"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n = obs.get["n"]
    # Rounds ≥ 1: mode's partial aggregate keeps a per-src label-count
    # map, so each map task ships its (src → label counts) combiners,
    # not every joined edge row, through the round's one exchange.
    for r in range(1, LPA_ROUNDS):
        lv = labels.withColumnRenamed("node", "dst")
        joined = edges.join(broadcast_under_budget(lv, n), "dst")
        labels = joined.groupBy(F.col("src").alias("node")).agg(
            F.mode("label", deterministic=True).alias("label")
        )
        if r < LPA_ROUNDS - 1:
            # truncate lineage between rounds; the LAST round stays
            # lazy so the returned plan exposes the per-round shape
            # (broadcast label join + one partial-agg exchange) for
            # the plan gate, and skips one |nodes|-row materialization
            labels = labels.localCheckpoint(eager=True)
    return _node_rollup(labels, F.col("label").alias("community"))


# ----------------------------------------------------------------------
# k-core peeling: the graph-sparsification kernel — iterative
# degree-threshold peeling with the removal CASCADE made visible
# ----------------------------------------------------------------------
#: peel threshold (chosen so the cascade is non-trivial on the trade
#: graph: degrees are ~sf-invariant — per-customer distinct suppliers
#: and per-supplier customer fan-in are ratios of the TPC-H generators,
#: not totals — so the same K cascades at every sf)
KCORE_K = 48
#: peel rounds (unrolled in the oracle; loop here)
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """``KCORE_ROUNDS``-unrolled DuckDB twin: per round, keep nodes
    with surviving degree >= K, then keep edges with BOTH endpoints
    kept; emit one stats row per round."""
    ctes, stats = [], []
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f""", k{i} AS (
      SELECT src FROM (SELECT src, COUNT(*) AS d FROM {prev} GROUP BY src)
      WHERE d >= {KCORE_K}
    ), e{i} AS (
      SELECT t.src, t.dst FROM {prev} t
      JOIN k{i} a ON t.src = a.src JOIN k{i} b ON t.dst = b.src
    )"""
        )
        stats.append(
            f"""SELECT {i} AS round,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT CASE WHEN src < {SUPP_OFFSET} THEN src END)
                AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT CASE WHEN src >= {SUPP_OFFSET} THEN src END)
                AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM e{i}"""
        )
        prev = f"e{i}"
    return (
        f"WITH e0 AS ({_edges_sql()}){''.join(ctes)}\n    "
        + "\n    UNION ALL ".join(stats)
    )


@query("x9_kcore_peel", oracle=_kcore_oracle())
def x9_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the customer↔supplier trade graph: per round
    drop every node whose surviving degree is below ``KCORE_K``, then
    drop edges that lost an endpoint — the standard sparsification /
    community-seed kernel (Batagelj-Zaversnik), here with the removal
    CASCADE itself as the output (one stats row per round: surviving
    nodes by type + edges), because on a bipartite trade graph the
    interesting signal IS the cascade — customers peel first, supplier
    degrees collapse, and at K=48 the graph empties by round 3 at
    sf0.01 while K=46 fixpoints after one round. Node counts are
    nodes-with-surviving-edges (COUNT DISTINCT src on the symmetric
    edge list) and n_edges counts DIRECTED rows of that symmetric list
    (2× the undirected count), identical on both engines.

    Scale shape — the same Pregel discipline as x9_label_propagation:
    the edge list localCheckpoints once and per round is filtered by
    TWO semi-joins against the |nodes|-bounded keep set (broadcast under
    the shared budget; keyed-shuffle fallback past it), then
    checkpointed so the next round's degree count reads the shrunken
    list, never the lineage. Per-round stats collect EAGERLY as ONE row
    each: a lazily unioned form would pin EVERY round's edge snapshot
    until the final collect, so resident checkpoint blocks would grow
    with KCORE_ROUNDS × |edges| (it OOMed the 100-copy spot check);
    eager stats drop each superseded snapshot for the ContextCleaner,
    bounding residency at ~2 snapshots. The returned table is a local
    relation of those rows — nothing data-sized reaches the driver."""
    edges = _trade_edges(spark, sf_dir)
    rounds: list[tuple] = []
    # Per-round degree table, materialized once and consumed TWICE: the
    # keep filter AND the round's stats both derive from deg — the
    # symmetric edge list has one row per (node, neighbor), so deg's row
    # set IS the distinct surviving nodes (n_nodes = |deg|,
    # customer/supplier splits are row counts, n_edges = Σ d). The only
    # per-round edge-volume aggregation is the degree count the peel
    # needs anyway; stats are a tiny pass over the |nodes|-bounded deg.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()  # |nodes| — metadata count over the materialized deg
    # Fixpoint skip ("don't compute things you throw away"): if after
    # round i NO surviving node sits below KCORE_K (n_below == 0, folded
    # into the same stats row — zero extra jobs), round i+1's keep set is
    # ALL of deg, both semi-joins are identity (every dst of the
    # symmetric list is also a src), and every later round's stats row
    # equals round i's. Emit the repeated rows from the driver instead
    # of re-filtering, re-checkpointing and re-aggregating an unchanged
    # graph per round; the emptied-graph cascade (sf0.01) hits the same
    # branch with an all-zero row.
    fixpoint = False
    row: tuple = ()
    for i in range(1, KCORE_ROUNDS + 1):
        if fixpoint:
            rounds.append((i, *row))
            continue
        keep = broadcast_under_budget(
            deg.filter(F.col("d") >= KCORE_K).select("src"), n
        )
        edges = (
            edges.join(keep, "src", "semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        deg = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=True)
        )
        full = deg.agg(  # one row per round over |nodes|-bounded deg
            F.count(F.lit(1)).alias("n_nodes"),
            F.count(
                F.when(F.col("src") < SUPP_OFFSET, F.lit(1))
            ).alias("n_customers"),
            F.count(
                F.when(F.col("src") >= SUPP_OFFSET, F.lit(1))
            ).alias("n_suppliers"),
            # COALESCE: an emptied graph (the sf0.01 cascade) must read
            # n_edges 0, not NULL — SUM over zero rows is NULL
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_edges"),
            F.count(
                F.when(F.col("d") < KCORE_K, F.lit(1))
            ).alias("n_below"),
        ).first()
        row = tuple(full)[:4]
        fixpoint = full["n_below"] == 0
        rounds.append((i, *row))
    return spark.createDataFrame(
        rounds,
        schema="round int, n_nodes long, n_customers long,"
        " n_suppliers long, n_edges long",
    )


# ----------------------------------------------------------------------
# Neighborhood-Jaccard node similarity: the link-prediction primitive —
# which customers trade with the same suppliers?
# ----------------------------------------------------------------------
#: per-supplier adjacency cap: keep the K strongest customer links
#: (order-count DESC, custkey tiebreak) before the wedge join, so pair
#: volume is ≤ |suppliers|·K²/2 — LINEAR in suppliers at any corpus
#: size — instead of Σ deg², which on a trade graph (supplier degree
#: ~450 at every sf, a generator ratio) is quadratic blowup. Same
#: rationale as EDGE_K on x9_triangle_count.
ADJ_K = 30
#: emitted pairs (TakeOrderedAndProject, never a global sort)
JACC_TOPN = 100


@query(
    "x9_jaccard_neighbors",
    oracle=f"""
    WITH cs AS (
      SELECT l_suppkey AS supp, o_custkey AS cust,
             COUNT(DISTINCT o_orderkey) AS strength
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), capped AS (
      SELECT supp, cust FROM (
        SELECT supp, cust,
               ROW_NUMBER() OVER (PARTITION BY supp
                                  ORDER BY strength DESC, cust) AS rn
        FROM cs
      ) WHERE rn <= {ADJ_K}
    ), deg AS (
      SELECT cust, COUNT(*) AS d FROM capped GROUP BY cust
    ), pairs AS (
      SELECT a.cust AS c1, b.cust AS c2, COUNT(*) AS inter
      FROM capped a JOIN capped b
        ON a.supp = b.supp AND a.cust < b.cust
      GROUP BY 1, 2
    )
    SELECT c1, c2, CAST(inter AS BIGINT) AS inter,
           CAST(d1.d + d2.d - inter AS BIGINT) AS union_size,
           CAST(inter * 1000000 // (d1.d + d2.d - inter) AS BIGINT)
             AS jacc_ppm
    FROM pairs JOIN deg d1 ON pairs.c1 = d1.cust
               JOIN deg d2 ON pairs.c2 = d2.cust
    ORDER BY jacc_ppm DESC, c1, c2 LIMIT {JACC_TOPN}
    """,
)
def x9_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard customer similarity — the link-prediction /
    recommendation primitive (who trades with the same suppliers?):
    J(c1,c2) = |S(c1)∩S(c2)| / |S(c1)∪S(c2)| over CAPPED supplier
    adjacency lists (top-``ADJ_K`` customers per supplier by
    shared-order strength, custkey tiebreak — see ADJ_K for why the
    cap, not the raw lists, is the only shape that survives scale),
    emitted as the top-``JACC_TOPN`` pairs in integer ppm with full
    deterministic ordering. Degrees are memberships in the SAME capped
    lists, so ∩/∪ are consistent and the score is exact for the capped
    graph — the documented sketch-variant semantics, like
    x9_triangle_count's support-capped graph.

    Scale shape: strength build is one partial-aggregated (supp,cust)
    exchange; the cap rewrites to WindowGroupLimit (per-task top-K
    heap BEFORE the supp exchange); the wedge self-join is equi-keyed
    on supp over lists bounded at K rows each (pair volume
    |suppliers|·K²/2, linear in suppliers); the |customers|-row degree
    table broadcasts back under the shared budget (keyed fallback past
    it); the final top-N is TakeOrderedAndProject. Plan-gated:
    WindowGroupLimit present, no cartesian, TakeOrdered result."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("supp"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.countDistinct("o_orderkey").alias("strength"))
    )
    w = Window.partitionBy("supp").orderBy(F.col("strength").desc(), "cust")
    capped = (
        cs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ADJ_K)
        .select("supp", "cust")
        .localCheckpoint(eager=True)  # feeds deg + BOTH wedge sides
    )
    deg = capped.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    n = capped.select("cust").distinct().count()  # bounded pre-flight
    b = capped.select(F.col("supp"), F.col("cust").alias("c2"))
    pairs = (
        capped.select("supp", F.col("cust").alias("c1"))
        .join(b, "supp")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    d1 = deg.select(F.col("cust").alias("c1"), F.col("d").alias("dd1"))
    d2 = deg.select(F.col("cust").alias("c2"), F.col("d").alias("dd2"))
    scored = (
        pairs.join(broadcast_under_budget(d1, n), "c1")
        .join(broadcast_under_budget(d2, n), "c2")
        .select(
            "c1",
            "c2",
            F.col("inter").cast("long").alias("inter"),
            (F.col("dd1") + F.col("dd2") - F.col("inter"))
            .cast("long")
            .alias("union_size"),
            F.expr("inter * 1000000 DIV (dd1 + dd2 - inter)")
            .cast("long")
            .alias("jacc_ppm"),
        )
    )
    return scored.orderBy(
        F.col("jacc_ppm").desc(), "c1", "c2"
    ).limit(JACC_TOPN)


# ----------------------------------------------------------------------
# Reach over the strength-thinned trade graph: hop-bounded BFS and
# weighted shortest paths share one graph build and one frontier kernel
# ----------------------------------------------------------------------
#: BFS hop bound (unrolled in the oracle; loop + early-stop here). Chosen
#: so the sf0.01 trade graph exposes a 5-level frontier curve
#: (27→42→375→58→287 new nodes) while sf0.001 exhausts early (hop 3) —
#: both the saturating and the early-stop paths are exercised by the
#: driver's two scale factors.
BFS_MAX_HOP = 5
#: seed set: every in-graph customer of this nation — multi-source, the
#: contamination-spread shape (a blocked/flagged origin set, not one node)
BFS_SEED_NATION = 3
#: edge thinning: keep a customer↔supplier edge only when it carries at
#: least this many DISTINCT orders. The raw trade graph is dense
#: bipartite (saturates in 2 hops — every BFS is trivial); repeated-order
#: relationships are the "real link" analog (the same thinning a web
#: graph applies by requiring repeated citations). 3 keeps the curve
#: non-trivial at both test SFs (measured above).
BFS_MIN_ORDERS = 3
#: integer edge-cost numerator: cost = ceil(SSSP_COST_NUM / strength),
#: so a stronger trade link is a CHEAPER propagation step (strength 3
#: → cost 4 … strength ≥ 12 → cost 1). Integer arithmetic end-to-end —
#: distances are exact BIGINT sums on both engines, no float hazard.
SSSP_COST_NUM = 12
#: relaxation-round bound (unrolled in the oracle; loop here). Within
#: R rounds the result is the exact min cost over paths of ≤ R edges —
#: the same bounded-propagation semantics as BFS_MAX_HOP, on costs.
SSSP_MAX_ROUNDS = 5


def _strength_graph_sql() -> str:
    """DuckDB twin of ``_strength_graph``: CTEs ``edges`` (src, dst, w),
    ``nodes`` and ``seeds``."""
    return f"""
      base AS (
        SELECT o_custkey AS c, l_suppkey + {SUPP_OFFSET} AS s,
               ({SSSP_COST_NUM} + COUNT(DISTINCT o_orderkey) - 1)
                 // COUNT(DISTINCT o_orderkey) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT o_orderkey) >= {BFS_MIN_ORDERS}
      ),
      edges AS (
        SELECT c AS src, s AS dst, w FROM base
        UNION ALL
        SELECT s AS src, c AS dst, w FROM base
      ),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (
        SELECT DISTINCT e.src AS node FROM edges e
        JOIN customer ON c_custkey = e.src
        WHERE c_nationkey = {BFS_SEED_NATION} AND e.src < {SUPP_OFFSET}
      )
    """


def _reach_sql(vec: str, key: str) -> str:
    """Rollup of the node universe left-joined to the (node, ``key``)
    vector ``vec``; unreached nodes report -1."""
    return _rollup_sql(
        key,
        f"""(
      SELECT n.node, COALESCE(v.{key}, -1) AS {key}
      FROM nodes n LEFT JOIN {vec} v ON v.node = n.node
    )""",
    )


def _bfs_oracle() -> str:
    """``BFS_MAX_HOP``-unrolled DuckDB twin: per hop, the frontier is
    the distinct neighbors of the previous frontier minus everything
    already visited; unreached nodes report hop -1."""
    steps = []
    for i in range(1, BFS_MAX_HOP + 1):
        steps.append(f""",
    f{i} AS (
      SELECT DISTINCT e.dst AS node FROM edges e
      JOIN vis{i - 1} v ON v.node = e.src AND v.hop = {i - 1}
      WHERE e.dst NOT IN (SELECT node FROM vis{i - 1})
    ),
    vis{i} AS (
      SELECT node, hop FROM vis{i - 1}
      UNION ALL
      SELECT node, {i} AS hop FROM f{i}
    )""")
    return f"""
    WITH {_strength_graph_sql()},
    vis0 AS (SELECT node, 0 AS hop FROM seeds)
    {"".join(steps)}
    {_reach_sql(f"vis{BFS_MAX_HOP}", "hop")}
    """


def _sssp_oracle() -> str:
    """``SSSP_MAX_ROUNDS``-unrolled DuckDB twin: each round is one full
    Bellman–Ford relaxation d_i(v) = min(d_{i-1}(v), min over in-edges
    of d_{i-1}(u) + w) — provably equal per round to the engine's
    delta-relaxation (only improved nodes re-relax), since any ≤i-edge
    path is realized through a chain of improving prefixes."""
    steps = []
    for i in range(1, SSSP_MAX_ROUNDS + 1):
        steps.append(f""",
    d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )""")
    return f"""
    WITH {_strength_graph_sql()},
    d0 AS (SELECT node, 0 AS dist FROM seeds)
    {"".join(steps)}
    {_reach_sql(f"d{SSSP_MAX_ROUNDS}", "dist")}
    """


def _strength_graph(
    spark: SparkSession, sf_dir: str, w: Column
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Strength-thinned symmetric trade graph: ``(edges, nodes, seeds)``
    with edges (src, dst, w) — ``w`` an expression over the pair's
    distinct-order ``strength`` — nodes the (node) universe and seeds
    every in-graph customer of ``BFS_SEED_NATION``.

    The thinning is ONE partial-aggregated (cust,supp) exchange (HAVING
    over countDistinct — map-side partials first); edges localCheckpoint
    once, shared by every round and by the node universe."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("s"),
        )
        .agg(F.countDistinct("o_orderkey").alias("strength"))
        .filter(F.col("strength") >= BFS_MIN_ORDERS)
        .select("c", "s", w.alias("w"))
    )
    edges = base.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(
        base.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    nodes = edges.select("src").distinct().select(F.col("src").alias("node"))
    seeds = (
        edges.filter(F.col("src") < SUPP_OFFSET)
        .join(
            customer.filter(
                F.col("c_nationkey") == BFS_SEED_NATION
            ).select(F.col("c_custkey").alias("src")),
            "src",
        )
        .select(F.col("src").alias("node"))
        .distinct()
    )
    return edges, nodes, seeds


def _reach_rollup(nodes: DataFrame, dist: DataFrame, key: str) -> DataFrame:
    """Rollup of the node universe left-joined to a (node, dist) vector,
    the distance reported as ``key``; never-reached nodes report -1 —
    the reach-vs-isolated split IS the decision artifact."""
    reach = nodes.join(dist, "node", "left").select(
        "node", F.coalesce(F.col("dist"), F.lit(-1)).alias(key)
    )
    return _node_rollup(reach, key)


def sssp_rounds(
    seeds: DataFrame, edges: DataFrame, max_rounds: int
) -> DataFrame:
    """Round-bounded multi-source weighted SSSP kernel (delta
    Bellman–Ford); hop-bounded BFS is its unit-weight case. ``seeds`` is
    a (node) frame, ``edges`` a directed (src, dst, w) frame with
    non-negative integer weights (pass both directions for an
    undirected walk); returns (node, dist) = the exact minimum path cost
    over paths of ≤ ``max_rounds`` edges (full shortest distances once
    the bound reaches the shortest-path diameter — the hypothesis tests
    pin agreement with Bellman–Ford, Dijkstra and queue BFS).

    Each round relaxes ONLY the frontier (nodes whose dist improved last
    round): one frontier⋈edges equi-join (frontier broadcasts under the
    shared budget, keyed shuffle past it), one |V|-bounded candidate
    min, one full-outer merge against the dist vector; dist
    localCheckpoints per round (truncated lineage) and the early-stop
    probe counts an already-materialized ≤|V|-row improved set, skipped
    on the final round. Whole rounds move |frontier⋈edges| + |V| rows —
    linear frontier expansion, never the |V|² closure."""
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    # probe the SEED count too (bounded job over the materialized
    # checkpoint) — a web-scale origin set must not broadcast blindly
    n_frontier = dist.count()
    for r in range(1, max_rounds + 1):
        cand = (
            edges.join(
                broadcast_under_budget(
                    frontier.withColumnRenamed("node", "src"), n_frontier
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        merged = dist.join(cand, "node", "full_outer").select(
            "node",
            F.least("dist", "nd").alias("dist"),
            (
                F.col("nd").isNotNull()
                & (F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            ).alias("improved"),
        ).localCheckpoint(eager=True)
        dist = merged.select("node", "dist")
        if r == max_rounds:
            break  # final round: the early-stop probe's result is unused
        frontier = merged.filter("improved").select("node", "dist")
        n_frontier = frontier.count()  # ≤|V| rows, already materialized
        if n_frontier == 0:
            break
    return dist


@query("x9_bfs_reach", oracle=_bfs_oracle())
def x9_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source hop-bounded BFS over the strength-thinned trade
    graph — the taint-propagation primitive of a curation pipeline
    (a flagged origin set — here every in-graph customer of nation
    ``BFS_SEED_NATION`` — contaminates everything within
    ``BFS_MAX_HOP`` link hops; dedup-cluster spill, licensing taint,
    and benchmark-contamination spread are all this kernel). Output is
    the per-hop reach rollup (first-reached node counts, customer/
    supplier split, min member), with never-reached nodes reported as
    hop -1.

    Scale shape: ``sssp_rounds`` over unit-weight edges — a node's
    min-cost distance IS its min hop, and the improved set of round h is
    exactly the nodes first reached at hop h, so the kernel's frontier
    and early stop are BFS's. Unreached nodes come from ONE left join of
    the node universe at the end."""
    edges, nodes, seeds = _strength_graph(spark, sf_dir, F.lit(1))
    # hop stays INTEGER, the oracle's type (the kernel's dist is BIGINT)
    hops = sssp_rounds(seeds, edges, BFS_MAX_HOP).select(
        "node", F.col("dist").cast("int").alias("dist")
    )
    return _reach_rollup(nodes, hops, "hop")


@query("x9_sssp_weighted", oracle=_sssp_oracle())
def x9_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest path over the strength-weighted
    trade graph — the cost-aware half of the traversal pair
    (``x9_bfs_reach`` answers "within how many links"; this answers
    "at what minimum cost", with link cost inverse to trade strength:
    cost = ceil(``SSSP_COST_NUM``/strength), so taint/lineage flows
    preferentially through strong relationships). Same graph, seeds and
    kernel as BFS with the strength-derived weight; output is the
    per-cost reach rollup (node counts, customer/supplier split, min
    member) with never-reached nodes at dist -1.

    Integer costs make the result hash-exact with no float discipline
    needed. At 100 TB the bound is rounds × (|E| + |V|) rows with rounds
    fixed by the propagation-depth policy, the same posture as
    BFS/PageRank/k-core."""
    cost = F.expr(
        f"CAST(({SSSP_COST_NUM} + strength - 1) DIV strength AS LONG)"
    )
    edges, nodes, seeds = _strength_graph(spark, sf_dir, cost)
    return _reach_rollup(
        nodes, sssp_rounds(seeds, edges, SSSP_MAX_ROUNDS), "dist"
    )
