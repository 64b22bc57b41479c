"""Advanced relational operators the reference never needed but a general
engine must ship (SURVEY.md §2.9 [ext] tier): as-of join, exact
percentiles, skew-safe salted aggregation, GROUPING SETS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import dec_out
from ..registry import query
from ..sources.testdata import load_table, register_views

# ----------------------------------------------------------------------
# X7 — as-of join (time-series point-in-time lookup)
# ----------------------------------------------------------------------
_ASOF_ORACLE = """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_event_id
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT *,
             last_value(view_ts IGNORE NULLS) OVER pit AS asof_view_ts,
             last_value(view_event_id IGNORE NULLS) OVER pit AS asof_view_event_id
      FROM tagged
      WINDOW pit AS (
        PARTITION BY user_id
        ORDER BY ts, CASE event_type WHEN 'view' THEN 0 ELSE 1 END, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value, asof_view_ts, asof_view_event_id
    FROM w WHERE event_type = 'purchase'
"""


def asof_join_latest(
    df: DataFrame,
    key: str,
    order: str,
    left_pred,  # Column: rows being enriched
    right_pred,  # Column: rows supplying the as-of value
    carry: list[tuple[str, str]],  # (source col, output col) from the right side
    tiebreak: str,
) -> DataFrame:
    """As-of join as a single-shuffle union+window — Spark has no ASOF JOIN
    operator, but the classic restatement needs none: tag both streams,
    sort within key by (order, side, tiebreak), and carry the right side's
    values forward with last(ignorenulls). One hash shuffle on ``key``, no
    join, no range explosion — at 100 TB this beats any join-based plan
    because each partition is one linear sweep.

    Right-side rows at the same ``order`` value sort BEFORE left rows, so
    the match predicate is right.order <= left.order (inclusive).
    """
    both = df.filter(left_pred | right_pred)
    side = F.when(right_pred, 0).otherwise(1)
    tagged = both.select(
        "*",
        side.alias("_side"),
        *[
            F.when(right_pred, F.col(src)).alias(f"_r_{out}")
            for src, out in carry
        ],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(order, "_side", tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "*",
        *[
            F.last(f"_r_{out}", ignorenulls=True).over(w).alias(out)
            for _, out in carry
        ],
    )
    return carried.filter(left_pred).drop(
        "_side", *[f"_r_{out}" for _, out in carry]
    )


@query("x7_asof_join", oracle=_ASOF_ORACLE)
def x7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each purchase gets the user's latest view
    at-or-before it (ts tie → view first, then event_id order)."""
    ev = load_table(spark, sf_dir, "events")
    out = asof_join_latest(
        ev,
        key="user_id",
        order="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "view",
        carry=[("ts", "asof_view_ts"), ("event_id", "asof_view_event_id")],
        tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "asof_view_ts", "asof_view_event_id"
    )


# ----------------------------------------------------------------------
# Exact percentiles (order statistics as aggregation)
# ----------------------------------------------------------------------
@query(
    "ext_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def ext_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). At 100 TB swap in ``approx_percentile`` (t-digest
    sketch, bounded memory, mergeable across partitions) — same call shape,
    sketch result is engine-specific so the exact form carries the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.99)
        ]
    )


#: rank-tolerance for the approx-percentile band twin: the sketch at
#: accuracy 10⁴ guarantees rank error ≤ 10⁻⁴·N; the band accepts the
#: estimate anywhere between the exact quantiles at q ± 0.02 — two
#: orders of magnitude of headroom, so a miss means a broken sketch
#: (wrong column, merge bug), never sketch noise.
APPROX_PCT_ACCURACY = 10_000
APPROX_PCT_TOL = 0.02


@query(
    "ext_approx_percentile_band",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows,
           TRUE AS p50_in_band, TRUE AS p90_in_band
    FROM events GROUP BY event_type
    """,
)
def ext_approx_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band oracle for the t-digest-style percentile sketch (the same
    contract pattern as ``ext_acd_error_band``): runs the
    engine-specific ``percentile_approx`` — the op a 100 TB pipeline
    actually uses for order statistics (bounded memory, mergeable
    partials) — and value-checks its rank-error contract against exact
    quantiles computed in the same plan, per group, with the group's
    exact row count riding along for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    q = APPROX_PCT_TOL
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile_approx(
            "value", F.lit(0.5), F.lit(APPROX_PCT_ACCURACY)
        ).alias("ap50"),
        F.percentile_approx(
            "value", F.lit(0.9), F.lit(APPROX_PCT_ACCURACY)
        ).alias("ap90"),
        F.percentile("value", F.lit(0.5 - q)).alias("lo50"),
        F.percentile("value", F.lit(0.5 + q)).alias("hi50"),
        F.percentile("value", F.lit(0.9 - q)).alias("lo90"),
        F.percentile("value", F.lit(0.9 + q)).alias("hi90"),
    )
    return agg.select(
        "event_type",
        "n_rows",
        ((F.col("ap50") >= F.col("lo50")) & (F.col("ap50") <= F.col("hi50"))).alias(
            "p50_in_band"
        ),
        ((F.col("ap90") >= F.col("lo90")) & (F.col("ap90") <= F.col("hi90"))).alias(
            "p90_in_band"
        ),
    )


# ----------------------------------------------------------------------
# Skew-safe salted aggregation
# ----------------------------------------------------------------------
@query(
    "ext_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY event_type
    """,
)
def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: stage 1 groups on (key, salt) — a hot
    key's rows spread over 16 reducers — stage 2 merges the partials. The
    oracle is the plain single-stage groupBy: salting must be semantically
    invisible. (For built-in aggs Spark's partial aggregation + AQE skew
    handling already do this; the explicit form is the template for
    non-partial-izable aggregations and extreme key skew.)"""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.groupBy(
        "event_type", (F.col("event_id") % 16).alias("_salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
    )
    return salted.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pv").cast("double"), 2).alias("total_value"),
    )


# ----------------------------------------------------------------------
# GROUPING SETS (multi-granularity rollup in one pass)
# ----------------------------------------------------------------------
_GSETS_SQL = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
"""


@query("ext_grouping_sets", oracle=_GSETS_SQL)
def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — all four granularities in one shuffle (Spark expands
    to a single Expand + aggregate, not four scans)."""
    register_views(spark, sf_dir)
    return spark.sql(_GSETS_SQL)


# ----------------------------------------------------------------------
# Skew-safe salted join
# ----------------------------------------------------------------------
def salted_join(
    large: DataFrame,
    small: DataFrame,
    large_key: str,
    small_key: str,
    salt_from: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join where a hot key on the ``large`` side would overwhelm one
    reducer: the large side is salted deterministically from one of its
    own unique columns (``salt_from``), the small side is replicated
    ``n_salts`` ways, and the join runs on (key, salt) — the hot key's
    rows spread over ``n_salts`` reducers. Semantically invisible:
    identical rows to the plain join, ``n_salts``× the small side's
    shuffle volume as the price. (AQE's skew-join split handles moderate
    skew on its own; the explicit form is the template for extreme skew
    and for stateful/streaming joins AQE can't re-plan.)"""
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts))
    lg = large.withColumn("_salt", salt.cast("int"))
    sm = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return lg.join(
        sm, (F.col(large_key) == F.col(small_key)) & (lg._salt == sm._salt)
    ).drop("_salt")


@query(
    "ext_salted_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders through the salted-join template; the oracle is
    the plain join — salting must not change a single row."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(
        li, orders, "l_orderkey", "o_orderkey", salt_from="l_linenumber"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_price"),
    )


# ----------------------------------------------------------------------
# Binned range (interval) join
# ----------------------------------------------------------------------
def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-interval join without a nested-loop: both sides are mapped
    to ``bin_width``-sized buckets of the (numeric) range dimension — a
    point lands in one bin, an interval explodes to the bins it spans —
    then an equi-join on the bin plus the residual range predicate.
    Candidate pairs are bounded by bin co-residency, so cost tracks true
    overlap; a plain ``points.join(intervals, between)`` would plan as a
    broadcast-nested-loop, quadratic at scale. Pick ``bin_width`` near the
    typical interval length: much smaller multiplies interval replication,
    much larger multiplies false candidates."""
    p_bin = (F.col(point_col) / bin_width).cast("long")
    i_bins = F.sequence(
        (F.col(start_col) / bin_width).cast("long"),
        (F.col(end_col) / bin_width).cast("long"),
    )
    p = points.withColumn("_bin", p_bin)
    i = intervals.withColumn("_bin", F.explode(i_bins))
    return (
        p.join(i, "_bin")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_bin")
    )


@query(
    "ext_range_join",
    oracle="""
    WITH iv AS (
      SELECT event_id AS iv_id, user_id AS iv_user,
             epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
             epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS end_us
      FROM events WHERE event_type = 'signup'
    )
    SELECT iv_id, iv_user, event_id, event_type
    FROM events JOIN iv
      ON epoch_us(CAST(ts AS TIMESTAMP)) >= start_us
     AND epoch_us(CAST(ts AS TIMESTAMP)) <= end_us
    WHERE event_id <> iv_id
    """,
)
def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which events fall inside the hour after each signup — binned
    interval join (1h bins = interval length); the oracle is the naive
    inequality join DuckDB can afford at sf0.01."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    iv = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("iv_id"),
        F.col("user_id").alias("iv_user"),
        F.col("us").alias("start_us"),
        (F.col("us") + 3_600_000_000).alias("end_us"),
    )
    hits = range_join_binned(
        ev.select("event_id", "event_type", "us"),
        iv,
        "us",
        "start_us",
        "end_us",
        bin_width=3_600_000_000,
    )
    return hits.filter(F.col("event_id") != F.col("iv_id")).select(
        "iv_id", "iv_user", "event_id", "event_type"
    )


#: staleness tolerance for the bounded as-of variant
ASOF_TOLERANCE_US = 2 * 60 * 60 * 1_000_000  # 2 hours


@query(
    "x7_asof_join_tolerance",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_event_id
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT *,
             last_value(view_ts IGNORE NULLS) OVER pit AS raw_ts,
             last_value(view_event_id IGNORE NULLS) OVER pit AS raw_id
      FROM tagged
      WINDOW pit AS (
        PARTITION BY user_id
        ORDER BY ts, CASE event_type WHEN 'view' THEN 0 ELSE 1 END, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(raw_ts) <= {ASOF_TOLERANCE_US}
                THEN raw_ts END AS asof_view_ts,
           CASE WHEN epoch_us(ts) - epoch_us(raw_ts) <= {ASOF_TOLERANCE_US}
                THEN raw_id END AS asof_view_event_id,
           raw_ts IS NOT NULL
             AND epoch_us(ts) - epoch_us(raw_ts) > {ASOF_TOLERANCE_US}
             AS stale_dropped
    FROM w WHERE event_type = 'purchase'
    """,
)
def x7_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound — pandas' ``merge_asof(...,
    tolerance=...)`` semantics: a match older than the tolerance is
    DISCARDED (NULL enrichment + a stale flag) rather than silently
    used, the difference between 'latest quote' and 'latest quote
    that's still meaningful'. Same single-shuffle union+window sweep
    as x7_asof_join; the tolerance is a post-sweep projection, so the
    knob costs nothing at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    out = asof_join_latest(
        ev,
        key="user_id",
        order="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "view",
        carry=[("ts", "raw_ts"), ("event_id", "raw_id")],
        tiebreak="event_id",
    )
    age = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("raw_ts").cast("timestamp")
    )
    fresh = age <= ASOF_TOLERANCE_US
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("raw_ts")).alias("asof_view_ts"),
        F.when(fresh, F.col("raw_id")).alias("asof_view_event_id"),
        (F.col("raw_ts").isNotNull() & ~fresh).alias("stale_dropped"),
    )


# ----------------------------------------------------------------------
# As-of join, direction='nearest' (round 8)
# ----------------------------------------------------------------------
_ASOF_NEAREST_ORACLE = """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_event_id
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT *,
             last_value(view_ts IGNORE NULLS) OVER back AS b_ts,
             last_value(view_event_id IGNORE NULLS) OVER back AS b_id,
             last_value(view_ts IGNORE NULLS) OVER fwd AS f_ts,
             last_value(view_event_id IGNORE NULLS) OVER fwd AS f_id
      FROM tagged
      WINDOW back AS (
        PARTITION BY user_id
        ORDER BY ts, CASE event_type WHEN 'view' THEN 0 ELSE 1 END, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      fwd AS (
        PARTITION BY user_id
        ORDER BY ts DESC,
                 CASE event_type WHEN 'purchase' THEN 0 ELSE 1 END,
                 event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(ts))
                THEN b_id ELSE f_id END AS nearest_view_event_id,
           CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(ts))
                THEN epoch_us(ts) - epoch_us(b_ts)
                ELSE epoch_us(f_ts) - epoch_us(ts) END AS delta_us,
           CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN 'none'
                WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                  OR epoch_us(ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(ts))
                THEN 'backward' ELSE 'forward' END AS direction
    FROM w WHERE event_type = 'purchase'
"""


@query("x7_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def x7_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with ``direction='nearest'`` (the third merge_asof
    mode, completing backward / backward+tolerance): each purchase is
    matched to the view closest in time on EITHER side — backward
    inclusive, forward strictly-after, ties (equal |Δt|) to backward —
    with the signed-to-absolute delta in integer MICROSECONDS (BIGINT
    on both engines; timestamp-interval arithmetic never crosses the
    engine boundary).

    Execution: the same no-join restatement as ``x7_asof_join`` run in
    BOTH directions over one hash shuffle on user_id — two window
    sorts share the single exchange (Spark plans Window(asc) then
    Window(desc) over the same partitioning), each partition is two
    linear sweeps. No range join, no |purchases|×|views| blowup at any
    scale. Equal-ts views sort before the purchase in the backward
    sweep (inclusive) and after it in the forward sweep (exclusive),
    so a Δ=0 match is always a backward match."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_view = F.col("event_type") == "view"
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(is_view, F.col("ts")).alias("view_ts"),
        F.when(is_view, F.col("event_id")).alias("view_event_id"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy(
            "ts",
            F.when(is_view, 0).otherwise(1),
            "event_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(),
            F.when(F.col("event_type") == "purchase", 0).otherwise(1),
            "event_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = tagged.select(
        "*",
        F.last("view_ts", ignorenulls=True).over(back).alias("b_ts"),
        F.last("view_event_id", ignorenulls=True).over(back).alias("b_id"),
        F.last("view_ts", ignorenulls=True).over(fwd).alias("f_ts"),
        F.last("view_event_id", ignorenulls=True).over(fwd).alias("f_id"),
    ).filter(F.col("event_type") == "purchase")
    db = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("b_ts").cast("timestamp")
    )
    df_ = F.unix_micros(F.col("f_ts").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    use_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (db <= df_)
    )
    return w.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(use_back, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .alias("nearest_view_event_id"),
        F.when(use_back, db).otherwise(df_).alias("delta_us"),
        F.when(
            F.col("b_ts").isNull() & F.col("f_ts").isNull(), "none"
        )
        .when(use_back, "backward")
        .otherwise("forward")
        .alias("direction"),
    )


# ----------------------------------------------------------------------
# X7 — interval × interval overlap: per-window aggregates by sweep line
# ----------------------------------------------------------------------
_INTERVAL_OVERLAP_ORACLE = """
    WITH transit AS (
      SELECT CAST(l_shipdate AS DATE) AS t_start,
             CAST(l_shipdate AS DATE)
               + CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT)
               AS t_end,
             l_quantity
      FROM lineitem
    ), win AS (
      SELECT s_suppkey AS window_id,
             DATE '1994-01-01'
               + CAST((s_suppkey * 37) % 2400 AS INT) AS w_start,
             DATE '1994-01-01'
               + CAST((s_suppkey * 37) % 2400
                      + 7 + (s_suppkey * 11) % 84 AS INT) AS w_end
      FROM supplier
    )
    SELECT w.window_id, w.w_start, w.w_end,
           COUNT(*) AS n_transit,
           ROUND(CAST(SUM(CAST(t.l_quantity AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS sum_qty
    FROM win w JOIN transit t
      ON t.t_start <= w.w_end AND t.t_end >= w.w_start
    GROUP BY 1, 2, 3
"""


@query("x7_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE)
@query("x7_interval_overlap_sweep", oracle=_INTERVAL_OVERLAP_ORACLE)
def x7_interval_overlap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP — the temporal-join mode next to
    point-in-time (x7_temporal_join, an equi key) and point-in-range
    (ext_range_join): BOTH sides are intervals with arbitrary endpoints
    and no shared key. Business shape: per supplier audit window, how
    many shipments were in transit (derived [ship, ship+1..30 d]) at
    any moment of the window, with total quantity. The oracle states
    the semantics as the plain inequality join.

    Both names run this body. The output is per-window AGGREGATES, so
    no overlap pair is ever built: any pair join matches
    Θ(|A|·|B| / span) pairs whenever a window overlaps a constant
    fraction of history. The sweep-line identity replaces the pairs:

        n_overlap(w)  = #{t_start <= w_end} − #{t_end <= w_start − 1}
        sum_qty(w)    = same difference over decimal qty prefix sums

    (the subtracted set is contained in the first — every transit
    ended before w_start also started before w_end — so the
    difference is exactly the overlap set.)

    Execution: one pass explodes each transit to two endpoint rows
    (start: +count/+qty, end: +count/+qty in separate columns) and
    injects every window's two lookup dates as zero rows; ONE hash
    aggregate by date collapses this to ≤ calendar-span rows (~3.3k
    days here — bounded by physical time, NOT by data volume, which
    is why the subsequent single-partition cumulative window is
    principled: O(days) forever); the four running sums then serve
    every window via TWO broadcast equi-joins on the injected dates.
    Total cost O(|A| + |B|) rows shuffled, output only windows with
    n_transit > 0 (matching the oracle's inner join). Decimal sums
    make the prefix-difference order-independent and engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("t_start"),
        F.date_add(
            F.to_date("l_shipdate"),
            (
                1 + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 30
            ).cast("int"),
        ).alias("t_end"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    start = F.date_add(
        F.to_date(F.lit("1994-01-01")),
        ((F.col("s_suppkey") * 37) % 2400).cast("int"),
    )
    win = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("window_id"),
        start.alias("w_start"),
        F.date_add(start, (7 + (F.col("s_suppkey") * 11) % 84).cast("int")).alias(
            "w_end"
        ),
    )
    zero_q = F.lit(0).cast("decimal(18,2)")
    ep = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t_start").alias("d"),
                    F.lit(1).alias("n_s"),
                    F.col("qty").alias("q_s"),
                    F.lit(0).alias("n_e"),
                    zero_q.alias("q_e"),
                ),
                F.struct(
                    F.col("t_end").alias("d"),
                    F.lit(0).alias("n_s"),
                    zero_q.alias("q_s"),
                    F.lit(1).alias("n_e"),
                    F.col("qty").alias("q_e"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    # zero rows pin both lookup dates into the calendar, so the final
    # probes are exact equi-joins — no as-of machinery needed
    probes = win.select(
        F.explode(
            F.array(F.col("w_end"), F.date_sub("w_start", 1))
        ).alias("d"),
        F.lit(0).alias("n_s"),
        zero_q.alias("q_s"),
        F.lit(0).alias("n_e"),
        zero_q.alias("q_e"),
    )
    daily = (
        ep.unionByName(probes)
        .groupBy("d")
        .agg(
            F.sum("n_s").alias("dn_s"),
            F.sum("q_s").alias("dq_s"),
            F.sum("n_e").alias("dn_e"),
            F.sum("q_e").alias("dq_e"),
        )
    )
    cal = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cum is consumed by BOTH lookup joins: materialize it once (eager
    # localCheckpoint, the repo's doubly-consumed-aggregate fix) so the
    # endpoint scan + aggregate + cumulative window run exactly once —
    # without it Spark replays the whole subtree per consumer, scanning
    # lineitem twice. The checkpoint is ≤ calendar-span rows, i.e. tiny.
    cum = daily.select(
        "d",
        F.sum("dn_s").over(cal).alias("c_ns"),
        F.sum("dq_s").over(cal).alias("c_qs"),
        F.sum("dn_e").over(cal).alias("c_ne"),
        F.sum("dq_e").over(cal).alias("c_qe"),
    ).localCheckpoint(eager=True)
    at_end = F.broadcast(cum.select("d", "c_ns", "c_qs"))
    before_start = F.broadcast(cum.select("d", "c_ne", "c_qe"))
    out = (
        win.join(at_end, win.w_end == at_end.d)
        .drop("d")
        .join(before_start, F.date_sub(win.w_start, 1) == before_start.d)
        .drop("d")
    )
    n = (F.col("c_ns") - F.col("c_ne")).cast("long")
    return out.where(n > 0).select(
        "window_id",
        "w_start",
        "w_end",
        n.alias("n_transit"),
        dec_out(F.col("c_qs") - F.col("c_qe"), 2).alias("sum_qty"),
    )


_INTERVAL_COVERAGE_ORACLE = """
    WITH transit AS (
      SELECT CAST(l_shipdate AS DATE) AS t_start,
             CAST(l_shipdate AS DATE)
               + CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT)
               AS t_end
      FROM lineitem
    ), win AS (
      SELECT s_suppkey AS window_id,
             DATE '1994-01-01'
               + CAST((s_suppkey * 37) % 2400 AS INT) AS w_start,
             DATE '1994-01-01'
               + CAST((s_suppkey * 37) % 2400
                      + 7 + (s_suppkey * 11) % 84 AS INT) AS w_end
      FROM supplier
    )
    SELECT w.window_id, w.w_start, w.w_end,
           COUNT(*) AS n_transit,
           CAST(SUM(CAST(date_diff('day',
                 GREATEST(t.t_start, w.w_start),
                 LEAST(t.t_end, w.w_end)) AS BIGINT) + 1) AS BIGINT)
             AS covered_days
    FROM win w JOIN transit t
      ON t.t_start <= w.w_end AND t.t_end >= w.w_start
    GROUP BY 1, 2, 3
"""


@query("x7_interval_coverage", oracle=_INTERVAL_COVERAGE_ORACLE)
def x7_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURATION-weighted interval overlap — per audit window, the total
    in-transit days Σ (min(t_end, w_end) − max(t_start, w_start) + 1)
    over every overlapping shipment. The third rung of the
    interval-overlap ladder: counts (sweep rung) weigh a 1-day graze
    the same as a full containment; capacity/exposure questions need
    the integral.

    Same zero-pair sweep-line machinery as ``x7_interval_overlap_sweep``
    — the min/max terms DECOMPOSE into four calendar prefix sums
    (counts and coordinate-sums of starts and ends):

      Σ min(te, we) = Ste(we) − Ste(ws−1) + we·(Cts(we) − Cte(we))
      Σ max(ts, ws) = Sts(we) − Sts(ws−1) + ws·(n − Cts(we) + Cts(ws−1))
      n             = Cts(we) − Cte(ws−1)
      covered_days  = Σ min − Σ max + n

    (each identity splits the overlap set on which operand wins the
    min/max; the loser's side collapses to a count times the window
    constant). ONE endpoint aggregate (≤ calendar-span rows, the
    windows' two lookup dates injected as zero rows), one bounded
    cumulative materialized once, two broadcast equi-join lookups —
    cost O(|A| + |B|), pure BIGINT day arithmetic on both engines.
    Oracle states the semantics as the plain inequality join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("t_start"),
        F.date_add(
            F.to_date("l_shipdate"),
            (
                1 + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 30
            ).cast("int"),
        ).alias("t_end"),
    )
    start = F.date_add(
        F.to_date(F.lit("1994-01-01")),
        ((F.col("s_suppkey") * 37) % 2400).cast("int"),
    )
    win = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("window_id"),
        start.alias("w_start"),
        F.date_add(start, (7 + (F.col("s_suppkey") * 11) % 84).cast("int")).alias(
            "w_end"
        ),
    )
    zero = F.lit(0).cast("long")
    ep = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t_start").alias("d"),
                    F.lit(1).cast("long").alias("n_s"),
                    F.unix_date("t_start").cast("long").alias("x_s"),
                    zero.alias("n_e"),
                    zero.alias("x_e"),
                ),
                F.struct(
                    F.col("t_end").alias("d"),
                    zero.alias("n_s"),
                    zero.alias("x_s"),
                    F.lit(1).cast("long").alias("n_e"),
                    F.unix_date("t_end").cast("long").alias("x_e"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    probes = win.select(
        F.explode(
            F.array(F.col("w_end"), F.date_sub("w_start", 1))
        ).alias("d"),
        zero.alias("n_s"),
        zero.alias("x_s"),
        zero.alias("n_e"),
        zero.alias("x_e"),
    )
    daily = (
        ep.unionByName(probes)
        .groupBy("d")
        .agg(
            F.sum("n_s").alias("dn_s"),
            F.sum("x_s").alias("dx_s"),
            F.sum("n_e").alias("dn_e"),
            F.sum("x_e").alias("dx_e"),
        )
    )
    cal = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "d",
        F.sum("dn_s").over(cal).alias("c_ts"),
        F.sum("dx_s").over(cal).alias("s_ts"),
        F.sum("dn_e").over(cal).alias("c_te"),
        F.sum("dx_e").over(cal).alias("s_te"),
    ).localCheckpoint(eager=True)
    at_end = F.broadcast(
        cum.select(
            F.col("d").alias("d1"),
            F.col("c_ts").alias("cts_e"),
            F.col("s_ts").alias("sts_e"),
            F.col("c_te").alias("cte_e"),
            F.col("s_te").alias("ste_e"),
        )
    )
    before_start = F.broadcast(
        cum.select(
            F.col("d").alias("d2"),
            F.col("c_ts").alias("cts_b"),
            F.col("s_ts").alias("sts_b"),
            F.col("c_te").alias("cte_b"),
            F.col("s_te").alias("ste_b"),
        )
    )
    out = win.join(at_end, win.w_end == F.col("d1")).join(
        before_start, F.date_sub(win.w_start, 1) == F.col("d2")
    )
    we = F.unix_date("w_end").cast("long")
    ws = F.unix_date("w_start").cast("long")
    n = F.col("cts_e") - F.col("cte_b")
    sum_min = (
        F.col("ste_e") - F.col("ste_b") + we * (F.col("cts_e") - F.col("cte_e"))
    )
    sum_max = (
        F.col("sts_e")
        - F.col("sts_b")
        + ws * (n - F.col("cts_e") + F.col("cts_b"))
    )
    return out.where(n > 0).select(
        "window_id",
        "w_start",
        "w_end",
        n.alias("n_transit"),
        (sum_min - sum_max + n).alias("covered_days"),
    )
