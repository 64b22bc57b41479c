"""X6 — sessionization & event-time windows (SURVEY.md §2.10, §2.8).

The reference's cadence is a daily tumbling window expressed as
one-table-per-day naming (weather_etl.py:105); here it's first-class:
tumbling windows via time bucketing, session windows via the classic
lag-gap + running-sum composition (all window functions — one shuffle on
user_id, no UDFs). The streaming twins live in ``streaming/``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.testdata import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


@query(
    "x6_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def x6_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window as time-bucketed groupBy (batch form of
    ``F.window(ts, '1 hour')`` — same buckets, plain column group key)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + session_id per user (gap > 30 min ⇒ new session)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(
        prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    return ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def _session_cte(boundary_op: str) -> str:
    """Lag-gap sessionization CTE. ``boundary_op`` encodes the convention
    for an event exactly ``gap`` after its predecessor: ``">"`` keeps it in
    the session — which is ALSO Spark native ``session_window`` behavior
    (verified by tests/test_properties.py::
    test_native_session_window_boundary_convention: an event landing
    exactly on the previous window's end extends the session; Spark merges
    touching windows). ``">="`` would model a strict [start, end) engine
    and is kept only for documentation/contrast."""
    return f"""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                       {boundary_op} {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT * EXCLUDE (new_sess),
             -- DuckDB SUM(int) yields HUGEINT → Arrow decimal128(38,0); the
             -- driver's hash is type-sensitive, so cast at the source since
             -- session_id is emitted by x6_session_windows' output.
             CAST(SUM(new_sess) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked
    )
"""


_SESSION_CTE = _session_cte(">")


@query(
    "x6_session_windows",
    oracle=_SESSION_CTE
    + """
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def x6_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions: lag → boundary flag → running sum → group.
    One shuffle on user_id feeds both the window and the aggregation."""
    sess = _sessionized(spark, sf_dir)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("duration_us"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("session_value"),
    )


@query(
    "x6_session_stats_per_user",
    oracle=_SESSION_CTE
    + """
    , per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events_per_session,
           MAX(n_events) AS max_session_len
    FROM per_session GROUP BY user_id
    """,
)
def x6_session_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _sessionized(spark, sf_dir)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "avg_events_per_session"
        ),
        F.max("n_events").alias("max_session_len"),
    )


@query(
    "x6_session_window_native",
    oracle=_session_cte(">")
    + """
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def x6_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (same operator Structured
    Streaming uses for stateful sessionization). Its window end is
    last-event + gap; the oracle reproduces that from the lag-gap CTE.
    Boundary convention verified by test: an event exactly ``gap`` after
    its predecessor MERGES into the session (Spark merges touching
    windows), so the oracle's gap test is strict ``>`` — the same
    convention as the lag-gap composition."""
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return ev.groupBy("user_id", sw).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


# ----------------------------------------------------------------------
# Shared pieces of the recurrence ladder: the daily series each rung
# reads, and the one sharded per-user walk the recurrences run in
# ----------------------------------------------------------------------
def _daily_close(ev: DataFrame) -> DataFrame:
    """(user_id, day, close_value): each user's last value per day under
    the total (ts, event_id) order — ``max_by`` is a partial aggregate,
    so one map-side-combined exchange and no window — rounded through
    DECIMAL(18,2) like every raw value the oracles compare."""
    return ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.max_by("value", F.struct("ts", "event_id"))
            .cast("decimal(18,2)")
            .cast("double"),
            2,
        ).alias("close_value")
    )


#: ``_daily_close``'s DuckDB twin: the ``ranked``/``daily`` CTE pair,
#: ``daily`` carrying ``rn`` = the day's 1-based position in the user's
#: series, which the recursive oracles step along (``d.rn = r.rn + 1``).
_DAILY_CLOSE_CTES = """ranked AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2)
               AS close_value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts DESC, event_id DESC) AS pick
      FROM events
    ), daily AS (
      SELECT user_id, day, close_value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM ranked WHERE pick = 1
    )"""


def _daily_mean(ev: DataFrame) -> DataFrame:
    """(user_id, d, v, vq): each user's mean value per day, ``d`` = days
    since the epoch. ``v`` is the exact DECIMAL sum over the count;
    ``vq`` floor-quantizes it to BIGINT microunits, the integer-microunit
    scheme of ``x6_acf_lags`` and ``x6_stl_decompose``. One partial-agg
    (user, day) exchange; a caller that reads one of the two columns
    has the other pruned."""
    mean = F.sum(F.col("value").cast("decimal(28,12)")).cast(
        "double"
    ) / F.count(F.lit(1))
    return ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .alias("d"),
    ).agg(mean.alias("v"), F.floor(mean * F.lit(1e6)).alias("vq"))


#: ``_daily_mean``'s DuckDB twin, the ``daily`` CTE.
_DAILY_MEAN_CTE = """daily AS (
      SELECT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS v,
             CAST(FLOOR(v * 1000000) AS BIGINT) AS vq
      FROM events GROUP BY 1, 2
    )"""


#: Shard-count FLOOR for the walk: one applyInPandas group per shard
#: (not per user) — grouped-map sends ONE Arrow frame per group, so
#: per-user grouping paid ~2 ms of frame overhead × |users| (measured
#: 4.1 s at sf0.1 for the EMA); sharding with the per-user loop inside
#: cut that to kernel-side microseconds (same trick as
#: x8_sequence_packing). The default shard count scales to cluster
#: parallelism, never below this floor.
EMA_SHARDS = 32

#: Fail-fast memory guard: a grouped-map shard frame is fully
#: materialized in one executor's memory, so its row count IS the
#: kernel's memory bound. 5M rows × 4 narrow columns ≈ 160 MB of Arrow
#: — comfortable in a multi-GB executor. A shard exceeding this raises
#: with the remedy (raise ``shards``) instead of OOM-killing the
#: executor mid-job — the same fail-fast posture as the gated all-pairs
#: similarity rung (similarity.py).
EMA_MAX_SHARD_ROWS = 5_000_000


def ema_shards_for(n_daily_rows: int | None = None) -> int:
    """Shard count sized to the data: enough shards that every shard
    frame stays under half the ``EMA_MAX_SHARD_ROWS`` guard (headroom
    for modulo-hash imbalance), never below cluster parallelism or the
    ``EMA_SHARDS`` floor. Callers at known scale pass their row count;
    with no hint the default covers parallelism only."""
    from ..session import default_parallelism

    base = max(EMA_SHARDS, default_parallelism())
    if n_daily_rows is None:
        return base
    return max(base, math.ceil(n_daily_rows / (EMA_MAX_SHARD_ROWS // 2)))


def _shard_walk(walk, names, order, max_shard_rows=EMA_MAX_SHARD_ROWS):
    """The pandas kernel of ``_walk_users``: guard the shard frame's
    size, sort it by (user_id, *order), hand each user's rows to
    ``walk(uid, rows)`` as records with the frame's column names, and
    frame the tuples it yields as ``names``. Numeric columns become
    Python scalars (fast arithmetic) and datetime columns stay numpy
    datetime64 (no per-value Timestamp boxing)."""
    import itertools
    from collections import namedtuple
    from operator import attrgetter

    import pandas as pd

    def walk_shard(pdf):
        if len(pdf) > max_shard_rows:
            raise ValueError(
                f"{walk.__name__}: shard frame has {len(pdf)} rows > "
                f"bound {max_shard_rows}: raise `shards` "
                f"(ema_shards_for(n_rows)) so each grouped-map frame "
                f"fits executor memory"
            )
        pdf = pdf.sort_values(["user_id", *order])
        record = namedtuple("record", pdf.columns)
        cols = [
            c.to_numpy() if c.dtype.kind == "M" else c.tolist()
            for _, c in pdf.items()
        ]
        users = itertools.groupby(
            map(record._make, zip(*cols)), key=attrgetter("user_id")
        )
        rows = []
        for uid, recs in users:
            rows.extend(walk(uid, list(recs)))
        return pd.DataFrame.from_records(rows, columns=names)

    return walk_shard


def _walk_users(
    df: DataFrame, walk, schema: str, order, shards: int | None = None
) -> DataFrame:
    """The recurrence ladder's one execution shape: ``user_id % shards``
    sends each user's whole series to one shard (one exchange), and an
    Arrow-batched ``applyInPandas`` kernel walks the shard's users one
    at a time in ``order`` — parallel across shards, per-user work
    bounded by the series length, the shape a 100 TB feature pipeline
    uses for per-entity state sweeps. ``walk(uid, rows)`` gets one
    user's rows in order and yields output rows in ``schema`` order. ``shards`` bounds per-executor memory: a
    shard's whole frame (≈ |df| / shards rows; ``user_id % shards`` is
    near-uniform, bound test in tests/test_scale_design.py) is
    materialized per grouped-map call, so at 100 TB it must scale with
    data — size it via ``ema_shards_for(n_rows)``; the kernel fail-fasts
    past ``EMA_MAX_SHARD_ROWS`` instead of OOMing. Output is
    shard-invariant (each user's series lives wholly in one shard)."""
    if shards is None:
        shards = ema_shards_for()
    names = [field.split()[0] for field in schema.split(",")]
    return (
        df.withColumn("shard", F.col("user_id") % shards)
        .groupBy("shard")
        .applyInPandas(_shard_walk(walk, names, order), schema=schema)
    )


def _trunc6(x: float) -> float:
    """Floor-truncate to 6 decimals — floor agrees between Python and
    DuckDB for negatives too, unlike round-half modes."""
    return math.floor(x * 1_000_000) / 1e6


# ----------------------------------------------------------------------
# Time-series rollup + gap fill (hypertable-style downsampling)
# ----------------------------------------------------------------------
@query(
    "x6_gap_fill_locf",
    oracle=f"""
    WITH {_DAILY_CLOSE_CTES}, spans AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM spans
    )
    SELECT g.user_id, g.day,
           last_value(d.close_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_value,
           d.close_value IS NULL AS filled
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    """,
)
def x6_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style daily rollup with gap fill: last event value per
    (user, day) — ``max_by`` with a total (ts, event_id) order, one
    shuffle, no window — then a dense per-user day grid
    (``sequence`` + explode: the grid is generated, never stored) left-
    joined back and forward-filled with an IGNORE NULLS window. Missing
    days are flagged. At scale the grid explode is output-proportional
    (|users| × span days) and the fill is one partition-local window —
    no shuffle beyond the rollup's own key exchange."""
    daily = _daily_close(load_table(spark, sf_dir, "events"))
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("close_value", ignorenulls=True).over(w).alias("close_value"),
        F.col("close_value").isNull().alias("filled"),
    )


@query(
    "x6_ohlc_daily",
    oracle="""
    WITH ranked AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts, event_id) AS rf,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts DESC, event_id DESC) AS rl
      FROM events
    )
    SELECT user_id, day,
           ROUND(CAST(CAST(MAX(CASE WHEN rf = 1 THEN value END)
                 AS DECIMAL(18,2)) AS DOUBLE), 2) AS open,
           ROUND(CAST(CAST(MAX(value) AS DECIMAL(18,2)) AS DOUBLE), 2)
             AS high,
           ROUND(CAST(CAST(MIN(value) AS DECIMAL(18,2)) AS DOUBLE), 2)
             AS low,
           ROUND(CAST(CAST(MAX(CASE WHEN rl = 1 THEN value END)
                 AS DECIMAL(18,2)) AS DOUBLE), 2) AS close,
           COUNT(*) AS n_events
    FROM ranked GROUP BY user_id, day
    """,
)
def x6_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars — the canonical hypertable/time-series downsample: per
    (user, day), the first/last value by event time (total order via the
    (ts, event_id) tiebreak) plus the extremes. All four statistics are
    partializable aggregates (``min_by``/``max_by``/min/max), so the op
    is ONE map-side-combined shuffle — never a window: a ROW_NUMBER
    formulation would shuffle every event row and sort each partition;
    this form reduces before the exchange, the difference between
    moving |events| rows and |user·day| rows at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")

    def r2(c):
        return F.round(c.cast("decimal(18,2)").cast("double"), 2)

    return ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        r2(F.min_by("value", order)).alias("open"),
        r2(F.max("value")).alias("high"),
        r2(F.min("value")).alias("low"),
        r2(F.max_by("value", order)).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ----------------------------------------------------------------------
# Exponential moving average — a sequential recurrence over time
# ----------------------------------------------------------------------
#: EMA smoothing factor (ema_t = ALPHA * x_t + (1 - ALPHA) * ema_{t-1})
EMA_ALPHA = 0.3

def _ema_walk(uid, rows):
    """One user's EMA over the days in order — the textbook recurrence
    in float64, emitted floor-truncated to 6 decimals."""
    ema = None
    for r in rows:
        x = r.close_value
        ema = x if ema is None else EMA_ALPHA * x + (1.0 - EMA_ALPHA) * ema
        yield uid, r.day, x, _trunc6(ema)


def ema_daily(daily: DataFrame, shards: int | None = None) -> DataFrame:
    """Per-user EMA of a ``_daily_close`` frame on the sharded walk
    (see ``x6_ema_daily``); ``shards`` as in ``_walk_users``."""
    schema = "user_id long, day timestamp_ntz, close_value double, ema double"
    return _walk_users(daily, _ema_walk, schema, ("day",), shards)


@query(
    "x6_ema_daily",
    oracle=f"""
    WITH RECURSIVE {_DAILY_CLOSE_CTES},
    rec(user_id, day, close_value, rn, ema) AS (
      SELECT user_id, day, close_value, rn, close_value
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.day, d.close_value, d.rn,
             {EMA_ALPHA} * d.close_value + (1.0 - {EMA_ALPHA}) * r.ema
      FROM rec r JOIN daily d ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, day, close_value,
           FLOOR(ema * 1000000) / 1000000.0 AS ema
    FROM rec
    """,
)
def x6_ema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average of each user's daily close — the
    time-series recurrence plain window functions cannot express (each
    row depends on the previous OUTPUT, not the previous input). The
    scalable form is ``_walk_users``: one shuffle groups users into
    deterministic shards (count = ``ema_shards_for``, guarded by a
    per-shard row bound), an Arrow-batched ``applyInPandas`` kernel
    walks each user's series in order. Oracle: the identical recurrence
    as a recursive CTE over per-user day ranks (the x8_sequence_packing
    pattern), with floor-based 6-decimal truncation on both engines —
    floor agrees across engines for negative values where round-half
    modes differ."""
    return ema_daily(_daily_close(load_table(spark, sf_dir, "events")))


# ----------------------------------------------------------------------
# Sliding (hopping) windows — each event lands in size/slide windows
# ----------------------------------------------------------------------
@query(
    "x6_sliding_windows",
    oracle="""
    WITH assigned AS (
      SELECT event_type, value,
             UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts)
                       - INTERVAL 30 MINUTE]) AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM assigned GROUP BY window_start, event_type
    """,
)
def x6_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping/sliding windows — Spark's native ``F.window(ts, size,
    slide)`` with a 1 h window hopping every 30 min: every event is
    assigned to size/slide = 2 overlapping windows and aggregated into
    both. The replication factor is the expression (explode of 2
    computed window starts), not a join, so the op is one map-side
    expansion + one partial-aggregated shuffle — the same plan shape
    Structured Streaming uses for hopping-window state. Oracle: each
    event's two epoch-aligned bucket starts via ``time_bucket``,
    unnested then aggregated identically."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ----------------------------------------------------------------------
# SCD Type-2 validity intervals — CDC change-capture over an event log
# ----------------------------------------------------------------------
@query(
    "x6_validity_intervals",
    oracle="""
    WITH obs AS (
      SELECT user_id, event_type, ts, event_id,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value
      FROM events
    ), changes AS (
      SELECT * FROM (
        SELECT user_id, event_type, ts, event_id, value,
               LAG(value) OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS prev_value
        FROM obs
      ) WHERE prev_value IS NULL OR value <> prev_value
    )
    SELECT user_id, event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    """,
)
def x6_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change log — the CDC staple:
    collapse consecutive identical observations per (entity, attribute)
    into change rows, then stamp each change with a [valid_from,
    valid_to) interval, a version number, and an is_current flag
    (valid_to NULL = open interval). Composition: lag to detect
    change points, filter, then lead + row_number over the surviving
    rows — all three windows share the (user_id, event_type)
    partitioning, so the whole op is ONE hash shuffle with the window
    sorts running partition-local; at 100 TB this is the merge-free way
    to maintain a slowly-changing dimension from an append-only log.
    The change filter drops ties on (value) only — the (ts, event_id)
    tiebreak makes the lag order total, so which duplicate survives is
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    r2 = F.round(
        F.col("value").cast("decimal(18,2)").cast("double"), 2
    ).alias("value")
    obs = ev.select("user_id", "event_type", "ts", "event_id", r2)
    key = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    changes = obs.withColumn("prev_value", F.lag("value").over(key)).filter(
        F.col("prev_value").isNull()
        | (F.col("value") != F.col("prev_value"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# ----------------------------------------------------------------------
# Per-entity z-score anomaly flags — exact two-pass moments, one shuffle
# ----------------------------------------------------------------------
@query(
    "x6_zscore_anomaly",
    oracle="""
    WITH obs AS (
      SELECT event_id, user_id,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value,
             CAST(value AS DECIMAL(18,2)) AS dv
      FROM events
    ), stats AS (
      SELECT event_id, user_id, value,
             COUNT(*) OVER pw AS n,
             CAST(SUM(dv) OVER pw AS DOUBLE) AS s1,
             CAST(SUM(dv * dv) OVER pw AS DOUBLE) AS s2
      FROM obs
      WINDOW pw AS (PARTITION BY user_id)
    )
    SELECT event_id, user_id, value,
           CASE WHEN n >= 2 AND (n * s2 - s1 * s1) > 0 THEN
             FLOOR(((value - s1 / n)
               / sqrt((n * s2 - s1 * s1) / (n * (n - 1)))) * 1000000)
               / 1000000.0
           END AS z,
           CASE WHEN n >= 2 AND (n * s2 - s1 * s1) > 0 THEN
             ABS((value - s1 / n)
               / sqrt((n * s2 - s1 * s1) / (n * (n - 1)))) > 2.0
           END AS is_anomaly
    FROM stats
    """,
)
def x6_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly flags: z-score each event's value against its
    user's mean/stddev, flag |z| > 2 — the per-key outlier filter a
    training-data pipeline runs before ingesting telemetry. Determinism
    across engines: the moments are EXACT decimal sums (count, Σv, Σv²
    — order-independent), converted to double once, after which mean,
    sample variance and z are identical IEEE-double expression trees on
    both engines; z is floor-truncated at 6 decimals. Plan: a single
    hash shuffle on user_id computes all three moments as one window
    partition pass, then the z projection is scan-local arithmetic —
    no join, no second shuffle, and at 100 TB the window's partition-
    by-only frame (no ORDER BY) needs only a key-clustering sort, and
    the whole-partition frame is computed once, not per row. Degenerate
    keys (n < 2 or zero variance) yield NULL z/flag rather than NaN."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,2)")
    obs = ev.select(
        "event_id",
        "user_id",
        F.round(dv.cast("double"), 2).alias("value"),
        dv.alias("dv"),
    )
    pw = Window.partitionBy("user_id")
    stats = obs.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(pw).alias("n"),
        F.sum("dv").over(pw).cast("double").alias("s1"),
        F.sum(F.col("dv") * F.col("dv")).over(pw).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    m2 = n * s2 - s1 * s1
    z = (F.col("value") - s1 / n) / F.sqrt(m2 / (n * (n - 1)))
    ok = (n >= 2) & (m2 > 0)
    return stats.select(
        "event_id",
        "user_id",
        "value",
        F.when(ok, F.floor(z * 1_000_000) / 1e6).alias("z"),
        F.when(ok, F.abs(z) > 2.0).alias("is_anomaly"),
    )


# ----------------------------------------------------------------------
# Robust outliers — median/MAD, the heavy-tail-safe twin of z-score
# ----------------------------------------------------------------------
#: scale factor making MAD a consistent sigma estimator under normality
MAD_K = 1.4826

#: robust-z magnitude above which a point is flagged
MAD_Z_CUT = 3.5


@query(
    "x6_mad_outliers",
    oracle=f"""
    WITH obs AS (
      SELECT event_id, user_id,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value
      FROM events
    ), med AS (
      SELECT event_id, user_id, value,
             quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS med
      FROM obs
    ), mad AS (
      SELECT event_id, user_id, value, med,
             quantile_cont(abs(value - med), 0.5)
               OVER (PARTITION BY user_id) AS mad
      FROM med
    )
    SELECT event_id, user_id, value,
           CASE WHEN mad > 0 THEN
             FLOOR(((value - med) / ({MAD_K} * mad)) * 1000000) / 1000000.0
           END AS robust_z,
           CASE WHEN mad > 0 THEN
             ABS((value - med) / ({MAD_K} * mad)) > {MAD_Z_CUT}
           END AS is_outlier
    FROM mad
    """,
)
def x6_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags per entity — the heavy-tail-safe
    twin of ``x6_zscore_anomaly``: one extreme value inflates a mean and
    stddev enough to mask itself (z never flags it), while the median
    and MAD barely move. Two stacked whole-partition windows (median,
    then median absolute deviation) share the user_id partitioning, so
    the op is ONE hash shuffle; Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` both linearly interpolate at even counts over the
    same 2-decimal inputs, making the medians IEEE-identical, and the
    robust z is floor-truncated at 6 decimals. Zero-MAD keys (>50% of
    the user's values identical) yield NULL rather than ±inf."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value").cast("decimal(18,2)").cast("double"), 2).alias(
            "value"
        ),
    )
    pw = Window.partitionBy("user_id")
    med = obs.withColumn("med", F.percentile("value", F.lit(0.5)).over(pw))
    mad = med.withColumn(
        "mad",
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).over(pw),
    )
    rz = (F.col("value") - F.col("med")) / (MAD_K * F.col("mad"))
    ok = F.col("mad") > 0
    return mad.select(
        "event_id",
        "user_id",
        "value",
        F.when(ok, F.floor(rz * 1_000_000) / 1e6).alias("robust_z"),
        F.when(ok, F.abs(rz) > MAD_Z_CUT).alias("is_outlier"),
    )


# ----------------------------------------------------------------------
# Funnel analysis — ordered stage progression per entity
# ----------------------------------------------------------------------
@query(
    "x6_funnel_stages",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS first_view_ts
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.signup_ts
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.first_view_ts
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.signup_ts, s2.first_view_ts, s3.first_purchase_ts,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS stage_reached
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def x6_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel progression (signup → first view AFTER signup →
    first purchase AFTER that view) per user — the product-analytics
    staple whose ORDER constraint plain per-type mins can't express
    (a view before the signup must not count). Three STACKED
    conditional-min windows over the same user_id partitioning (each
    stage's predicate references the previous stage's timestamp), then
    a groupBy on the already-partitioned key — the whole funnel is ONE
    hash shuffle of events, verified by the plan gate; the join-per-
    stage formulation the oracle uses would re-exchange events once per
    stage. Deeper funnels add window passes (partition-local), never
    another shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    df = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    df = df.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    df = df.withColumn("t3", t3)
    return (
        df.filter(F.col("t1").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("t1").alias("signup_ts"),
            F.min("t2").alias("first_view_ts"),
            F.min("t3").alias("first_purchase_ts"),
        )
        .select(
            "user_id",
            "signup_ts",
            "first_view_ts",
            "first_purchase_ts",
            F.when(F.col("first_purchase_ts").isNotNull(), 3)
            .when(F.col("first_view_ts").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage_reached"),
        )
    )


# ----------------------------------------------------------------------
# Holt double exponential smoothing — level + trend recurrences
# ----------------------------------------------------------------------
#: Holt smoothing factors (level, trend)
HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


def _holt_walk(uid, rows):
    """One user's Holt recurrence (the EMA walk generalized to TWO
    mutually-dependent states): level_t = α·x_t + (1-α)(level+trend),
    trend_t = β(level_t - level_{t-1}) + (1-β)·trend. Initialization:
    level_1 = x_1, trend_1 = 0 (first observation carries no slope
    information). Floor-truncated at 6 decimals per emitted value; the
    RAW (untruncated) states carry the recurrence so truncation error
    never compounds — the oracle does the same."""
    level = trend = None
    for r in rows:
        x = r.close_value
        if level is None:
            level, trend = x, 0.0
        else:
            prev = level
            level = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (level + trend)
            trend = HOLT_BETA * (level - prev) + (1.0 - HOLT_BETA) * trend
        yield uid, r.day, x, _trunc6(level), _trunc6(trend)


@query(
    "x6_holt_smoothing",
    oracle=f"""
    WITH RECURSIVE {_DAILY_CLOSE_CTES},
    rec(user_id, day, close_value, rn, level, trend) AS (
      SELECT user_id, day, close_value, rn,
             CAST(close_value AS DOUBLE), CAST(0.0 AS DOUBLE)
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.day, d.close_value, d.rn,
             {HOLT_ALPHA} * d.close_value
               + {1.0 - HOLT_ALPHA} * (r.level + r.trend),
             {HOLT_BETA} * (({HOLT_ALPHA} * d.close_value
               + {1.0 - HOLT_ALPHA} * (r.level + r.trend)) - r.level)
               + {1.0 - HOLT_BETA} * r.trend
      FROM rec r JOIN daily d ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, day, close_value,
           FLOOR(level * 1000000) / 1000000.0 AS level,
           FLOOR(trend * 1000000) / 1000000.0 AS trend
    FROM rec
    """,
)
def x6_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of each user's daily close —
    level AND trend, the recurrence pair single-EMA can't express
    (each state feeds the other's next step). Same scalable shape as
    ``x6_ema_daily``: the ``_walk_users`` sharded walk. Oracle: the
    identical two-state recurrence as a recursive CTE; both engines
    carry RAW states and floor-truncate only the emitted values, so
    truncation never compounds through the recursion."""
    return _walk_users(
        _daily_close(load_table(spark, sf_dir, "events")),
        _holt_walk,
        "user_id long, day timestamp_ntz, close_value double, "
        "level double, trend double",
        ("day",),
    )


# ----------------------------------------------------------------------
# Retention cohorts — first-seen week × activity-week offsets
# ----------------------------------------------------------------------
@query(
    "x6_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                            date_trunc('week', e.ts)) AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           COUNT(*) AS active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def x6_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort table — the product-analytics staple: users
    bucketed by first-seen week, then counted once per (cohort,
    weeks-since-cohort) cell they were active in. Three keyed steps —
    first-seen agg, activity join, distinct+count — ALL on user_id
    until the final tiny cell aggregation, so the events table crosses
    one hash partitioning; the distinct dedups (user, cell) BEFORE the
    cell count, exactly the pre-aggregation that keeps the final
    exchange at cohort·offset cardinality. Week arithmetic is
    calendar-truncated on both engines (Spark date_trunc('week') and
    DuckDB agree on ISO Monday starts)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


# ----------------------------------------------------------------------
# RFM scoring — recency/frequency/monetary quintiles per user
# ----------------------------------------------------------------------
_RFM_ORACLE = """
    WITH agg AS (
      SELECT user_id,
             MAX(ts) AS last_purchase,
             COUNT(*) AS frequency,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, last_purchase, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY last_purchase, user_id) AS INTEGER)
             AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INTEGER)
             AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS INTEGER)
             AS m_score
    FROM agg
    """


@query("x6_rfm_scores", oracle=_RFM_ORACLE)
@query("x6_rfm_scores_scalable", oracle=_RFM_ORACLE)
def x6_rfm_scores_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary from the
    purchase stream, each scored into quintiles; every ORDER BY carries
    the user_id tiebreak so quintile boundaries are deterministic on
    both engines.

    Both names run this body. The aggregation is one partial-agg
    shuffle on user_id. Each of the three quintile dimensions gets
    exact global ranks from ``functions.distributed.global_ranks``
    (range-partition + prefix-sum offsets) and NTILE(5) as arithmetic
    on (rank, n), in place of the oracle's unpartitioned NTILE windows;
    the three score columns join back on user_id. Cost: three narrow
    range exchanges + three user_id joins over per-user rows, and no
    task ever holds the whole user table. The per-user aggregate is
    materialized once (localCheckpoint) so the three rank passes don't
    re-run the events groupBy."""
    from ..functions.distributed import global_ranks, ntile_of_rank

    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("monetary"),
        )
        .localCheckpoint(eager=True)
    )
    out = agg
    for dim, score in (
        ("last_purchase", "r_score"),
        ("frequency", "f_score"),
        ("monetary", "m_score"),
    ):
        ranked, n = global_ranks(
            spark,
            agg.select("user_id", dim),
            [F.col(dim), F.col("user_id")],
        )
        scores = ranked.select(
            F.col("user_id").alias("_uid"),
            ntile_of_rank(F.col("k"), n, 5).cast("int").alias(score),
        )
        out = out.join(
            scores, out.user_id == scores._uid
        ).drop("_uid")
    return out.select(
        "user_id", "last_purchase", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


# ----------------------------------------------------------------------
# Interval merge — gaps-and-islands coverage (overlap coalescing)
# ----------------------------------------------------------------------
#: each event opens a 30-minute activity interval
INTERVAL_MIN = 30


@query(
    "x6_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, ts, event_id,
             ts + INTERVAL {INTERVAL_MIN} MINUTE AS iv_end
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, iv_end,
             CASE WHEN ts > MAX(iv_end) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               OR MAX(iv_end) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), islands AS (
      SELECT user_id, ts, iv_end,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ), merged AS (
      SELECT user_id, island,
             MIN(ts) AS start_ts, MAX(iv_end) AS end_ts
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(SUM(date_diff('microsecond', start_ts, end_ts))
             // 1000000 AS BIGINT) AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)
def x6_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (gaps-and-islands): every event
    opens a 30-minute activity interval; per user, merge all
    overlapping or nested intervals into islands and report the island
    count and TOTAL covered wall-clock — the double-counting-free
    "time active" metric (a naive SUM of interval lengths counts
    overlap regions twice; sessionization with a fixed gap is the
    special case where intervals chain off the previous EVENT, while
    this merges against the running MAX of all previous ENDS, which
    handles nested intervals sessionize_gap misses).

    Shape: an island starts where the event time clears the running max
    of every earlier interval end (cumulative-max window, 1-row-lagged
    frame); island ids are the running sum of those starts; both
    windows plus the two aggregations share ONE user_id exchange.
    Durations subtract in integer microseconds — no float time math."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_MIN} MINUTES")).alias(
            "iv_end"
        ),
    )
    prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "is_new",
        F.when(
            F.col("ts") > F.max("iv_end").over(prev), 1
        ).when(F.max("iv_end").over(prev).isNull(), 1).otherwise(0),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn("island", F.sum("is_new").over(cum))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("ts").alias("start_ts"), F.max("iv_end").alias("end_ts")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.expr(
            "CAST(sum(timestampdiff(MICROSECOND, start_ts, end_ts)) "
            "DIV 1000000 AS BIGINT)"
        ).alias("covered_seconds"),
    )


# ----------------------------------------------------------------------
# Temporal join — facts against SCD2 dimension history at event time
# ----------------------------------------------------------------------
@query(
    "x7_temporal_join",
    oracle="""
    WITH obs AS (
      SELECT user_id, ts, event_id,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value
      FROM events WHERE event_type = 'signup'
    ), changes AS (
      SELECT * FROM (
        SELECT user_id, ts, event_id, value,
               LAG(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_value
        FROM obs
      ) WHERE prev_value IS NULL OR value <> prev_value
    ), dim AS (
      SELECT user_id, value AS dim_value,
             ts AS valid_from,
             LEAD(ts) OVER w AS valid_to,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT f.event_id, f.user_id, f.ts,
           d.version AS dim_version, d.dim_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to > f.ts OR d.valid_to IS NULL)
    """,
)
def x7_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join: stamp every purchase with the
    signup-dimension VERSION that was valid at the purchase's event
    time — the fact-vs-SCD2 lookup every warehouse does to avoid
    leaking future dimension values into historical facts. The SCD2
    side is the x6_validity_intervals build restricted to one
    attribute; because [valid_from, valid_to) intervals PARTITION each
    user's timeline, every fact matches at most one version (left join
    keeps pre-history facts with NULLs).

    Plan shape: this is NOT a range join — the equi key (user_id)
    carries the join and the interval predicate is a residual on the
    matched pairs, so it plans as a plain hash/sort-merge join on
    user_id (plan-gated: no nested loop). Contrast with x7_asof_join's
    union+window form, which wins when the 'dimension' is derived from
    the same stream; the JOIN form wins when the SCD2 table is built
    once and reused across many fact tables — at 100 TB you pay the
    dimension build once, then every fact join is one co-partitioned
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    r2 = F.round(
        F.col("value").cast("decimal(18,2)").cast("double"), 2
    ).alias("value")
    obs = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", r2
    )
    key = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = obs.withColumn("prev_value", F.lag("value").over(key)).filter(
        F.col("prev_value").isNull()
        | (F.col("value") != F.col("prev_value"))
    )
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("value").alias("dim_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(key).alias("valid_to"),
        F.row_number().over(key).cast("long").alias("dim_version"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & ((F.col("valid_to") > F.col("ts")) | F.col("valid_to").isNull()),
        "left",
    ).select("event_id", "user_id", "ts", "dim_version", "dim_value")


# ----------------------------------------------------------------------
# Day-of-week seasonal baseline + residual anomalies (round 8)
# ----------------------------------------------------------------------
@query(
    "x6_seasonal_baseline",
    oracle="""
    WITH ev AS (
      SELECT event_type, dayofweek(ts) + 1 AS dow,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ), base AS (
      SELECT event_type, dow,
             COUNT(*) AS n,
             SUM(v) AS s,
             SUM(v * v) AS s2
      FROM ev GROUP BY event_type, dow
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow,
           CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_value,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 6)
             AS var_value
    FROM base
    """,
)
def x6_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline per event type — the profile a
    seasonality-aware anomaly detector subtracts before flagging (a
    Monday spike is only anomalous relative to Mondays). Mean and
    population variance per (event_type, dow) cell from EXACT decimal
    sums (v and v² summed as DECIMAL — order-independent across
    partitions and engines; the only doubles are the two divisions at
    the emit boundary, identical IEEE ops both sides). DuckDB's dow is
    0-based Sunday, Spark's 1-based — the oracle shifts by one. One
    partial-aggregated shuffle carrying ≤ |types|·7 combiner rows per
    task; Sunday=1 dayofweek convention matches on both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    n = F.count(F.lit(1))
    s = F.sum(v)
    s2 = F.sum(v * v)
    mean = s.cast("double") / n
    return ev.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(
        n.alias("n_events"),
        F.round(mean, 6).alias("mean_value"),
        F.round(s2.cast("double") / n - mean * mean, 6).alias("var_value"),
    )


# ----------------------------------------------------------------------
# Event-gap downtime report (round 8)
# ----------------------------------------------------------------------
#: report gaps longer than this many microseconds (6 h)
GAP_REPORT_US = 6 * 3600 * 1_000_000


@query(
    "x6_gap_report",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
    FROM ordered
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > {GAP_REPORT_US}
    """,
)
def x6_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime/dropout report — the inverse of sessionization: instead
    of grouping activity, emit every SILENCE longer than the threshold
    (per user: gap start, end, exact integer-microsecond duration).
    The monitoring primitive behind 'which sensors went dark and for
    how long'; x6_session_windows groups what this query excludes.

    One hash shuffle on user_id feeding a single lag window (ts ties
    pinned by event_id); the gap predicate and duration are integer
    microsecond arithmetic on both engines — no interval types cross
    the engine boundary."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    gaps = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    ).filter(F.col("prev_ts").isNotNull())
    dur = us("ts") - us("prev_ts")
    return gaps.filter(dur > GAP_REPORT_US).select(
        "user_id",
        F.col("prev_ts").alias("gap_start"),
        F.col("ts").alias("gap_end"),
        dur.cast("long").alias("gap_us"),
    )


# ----------------------------------------------------------------------
# CUSUM change-point detection (round 8)
# ----------------------------------------------------------------------
#: CUSUM slack (absorbs noise below this per-step drift)
CUSUM_K = 5.0
#: CUSUM alarm threshold on the accumulated statistic
CUSUM_H = 20.0


def _cusum_walk(uid, rows):
    """One user's two-sided CUSUM walk: against the user's FIRST daily
    close as the reference mean μ, accumulate s_hi = max(0, s_hi + x −
    μ − k) and s_lo = max(0, s_lo + μ − x − k); alarm when either
    exceeds h, resetting both on the NEXT step (restart-after-alarm
    form). Emitted statistics floor-truncate at 6 decimals; raw states
    carry the recurrence (the Holt convention)."""
    mu = None
    s_hi = s_lo = 0.0
    alarm = False
    for r in rows:
        x = r.close_value
        if mu is None:
            mu = x
        else:
            if alarm:
                s_hi = s_lo = 0.0
            s_hi = max(0.0, s_hi + x - mu - CUSUM_K)
            s_lo = max(0.0, s_lo + mu - x - CUSUM_K)
            alarm = s_hi > CUSUM_H or s_lo > CUSUM_H
        yield uid, r.day, x, _trunc6(s_hi), _trunc6(s_lo), alarm


@query(
    "x6_cusum_changepoints",
    oracle=f"""
    WITH RECURSIVE {_DAILY_CLOSE_CTES},
    rec(user_id, day, close_value, rn, mu, s_hi, s_lo, alarm) AS (
      SELECT user_id, day, close_value, rn,
             CAST(close_value AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), FALSE
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.day, d.close_value, d.rn, r.mu,
             GREATEST(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s_hi END)
                           + d.close_value - r.mu - {CUSUM_K}),
             GREATEST(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s_lo END)
                           + r.mu - d.close_value - {CUSUM_K}),
             GREATEST(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s_hi END)
                           + d.close_value - r.mu - {CUSUM_K}) > {CUSUM_H}
             OR GREATEST(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s_lo END)
                           + r.mu - d.close_value - {CUSUM_K}) > {CUSUM_H}
      FROM rec r JOIN daily d ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, day, close_value,
           FLOOR(s_hi * 1000000) / 1000000.0 AS s_hi,
           FLOOR(s_lo * 1000000) / 1000000.0 AS s_lo,
           alarm
    FROM rec
    """,
)
def x6_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection over each user's daily
    close — the sequential drift detector (Page's test) that flags
    SUSTAINED shifts z-scores miss (many small same-direction steps
    accumulate; a single outlier doesn't). Reference mean = the user's
    first observation; alarms reset the statistic (restart form), so
    repeated regime changes each fire once.

    Same scalable shape as x6_ema_daily/x6_holt_smoothing — the
    recurrence family windows can't express, on the ``_walk_users``
    sharded walk; oracle = the identical recurrence as a recursive CTE,
    raw states carried, floor-truncated only at the emit boundary
    (max(0,·) is exact in IEEE, so both engines walk bit-identical
    states)."""
    return _walk_users(
        _daily_close(load_table(spark, sf_dir, "events")),
        _cusum_walk,
        "user_id long, day timestamp_ntz, close_value double, "
        "s_hi double, s_lo double, alarm boolean",
        ("day",),
    )


# ----------------------------------------------------------------------
# Fixed-grid resampling with linear interpolation (round 9)
# ----------------------------------------------------------------------
#: resample step — 6-hour grid keeps the output ~bounded while the
#: construction is step-agnostic
RESAMPLE_HOURS = 6


@query(
    "x6_resample_interpolate",
    oracle=f"""
    WITH obs AS (
      SELECT user_id, ts,
             ROUND(CAST(CAST(arg_min(value, event_id) AS DECIMAL(18,2))
                   AS DOUBLE), 2) AS v
      FROM events GROUP BY user_id, ts
    ), bounds AS (
      SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx FROM obs GROUP BY user_id
    ), grid AS (
      SELECT user_id, g AS gts
      FROM bounds,
           UNNEST(generate_series(date_trunc('hour', mn),
                                  date_trunc('hour', mx),
                                  INTERVAL {RESAMPLE_HOURS} HOUR)) AS t(g)
      WHERE g >= mn
    ), un AS (
      SELECT user_id, ts AS pt, v, 0 AS is_grid FROM obs
      UNION ALL
      SELECT user_id, gts AS pt, NULL AS v, 1 AS is_grid FROM grid
    ), w AS (
      SELECT user_id, pt, v, is_grid,
        LAST_VALUE(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY pt, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN pt END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY pt, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        LAST_VALUE(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY pt DESC, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_v,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN pt END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY pt DESC, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_t
      FROM un
    )
    SELECT user_id, pt AS grid_ts,
           ROUND(CASE WHEN prev_t = next_t THEN prev_v
                 ELSE prev_v + (next_v - prev_v)
                      * (CAST(date_diff('microsecond', prev_t, pt) AS DOUBLE)
                         / CAST(date_diff('microsecond', prev_t, next_t)
                                AS DOUBLE))
                 END, 6) AS value
    FROM w WHERE is_grid = 1
    """,
)
def x6_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid RESAMPLING with linear interpolation — the
    regularization step every time-series pipeline runs before
    models that need an even cadence: per user, a {RESAMPLE_HOURS}-hour
    grid spanning [first obs, last obs], each grid point linearly
    interpolated between its surrounding observations (exact
    observation hits pass through unchanged; the grid starts at the
    first aligned point ≥ the first observation, so every grid point
    has both neighbors — no extrapolation policy needed). Duplicate
    (user, ts) observations resolve deterministically (min event_id).

    Shape: the as-of machinery in BOTH directions without a range
    join — observations and grid points union-sort once per user and
    two cumulative last-non-null windows (forward + reverse) find the
    neighbors; interpolation weights are integer microsecond diffs on
    TIMESTAMP_NTZ (timestampdiff — no session-timezone arithmetic),
    value math in double with the identical expression shape on both
    engines, rounded once at the boundary. The deduped observation
    frame is localCheckpointed — bounds, grid, and the union all read
    the one materialization, so events scans once. Grid size is
    span/{RESAMPLE_HOURS}h rows per user — output-volume-bounded, no
    pair blowup at any scale."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.groupBy("user_id", "ts")
        .agg(
            F.round(
                F.min_by("value", "event_id")
                .cast("decimal(18,2)")
                .cast("double"),
                2,
            ).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("mn")),
                F.date_trunc("hour", F.col("mx")),
                F.expr(f"INTERVAL {RESAMPLE_HOURS} HOURS"),
            )
        ).alias("gts"),
        "mn",
    ).filter(F.col("gts") >= F.col("mn"))
    un = obs.select(
        "user_id", F.col("ts").alias("pt"), "v", F.lit(0).alias("is_grid")
    ).unionByName(
        grid.select(
            "user_id",
            F.col("gts").alias("pt"),
            F.lit(None).cast("double").alias("v"),
            F.lit(1).alias("is_grid"),
        )
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("pt", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("pt").desc(), "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_t = F.when(F.col("v").isNotNull(), F.col("pt"))
    w = (
        un.withColumn("prev_v", F.last("v", ignorenulls=True).over(fwd))
        .withColumn("prev_t", F.last(obs_t, ignorenulls=True).over(fwd))
        .withColumn("next_v", F.last("v", ignorenulls=True).over(rev))
        .withColumn("next_t", F.last(obs_t, ignorenulls=True).over(rev))
    )
    frac = F.expr(
        "CAST(timestampdiff(MICROSECOND, prev_t, pt) AS DOUBLE)"
        " / CAST(timestampdiff(MICROSECOND, prev_t, next_t) AS DOUBLE)"
    )
    return w.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("pt").alias("grid_ts"),
        F.round(
            F.when(F.col("prev_t") == F.col("next_t"), F.col("prev_v"))
            .otherwise(
                F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
            ),
            6,
        ).alias("value"),
    )


# ----------------------------------------------------------------------
# LTTB-style triangle-area downsampling (round 9)
# ----------------------------------------------------------------------
#: total output points per series: first + LTTB_BUCKETS winners + last
LTTB_OUT = 12
LTTB_BUCKETS = LTTB_OUT - 2

_LTTB_ORACLE = f"""
    WITH obs AS (
      SELECT user_id, ts,
             ROUND(CAST(CAST(arg_min(value, event_id) AS DECIMAL(18,2))
                   AS DOUBLE), 2) AS v
      FROM events GROUP BY user_id, ts
    ), ranked AS (
      SELECT user_id, ts, v,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             CAST(date_diff('second',
                  MIN(ts) OVER (PARTITION BY user_id), ts) AS BIGINT) AS x,
             CAST(ROUND(v * 100) AS BIGINT) AS y
      FROM obs
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), small AS (
      SELECT user_id, ts AS pt, v, rn - 1 AS slot
      FROM ranked WHERE n <= {LTTB_OUT}
    ), big AS (
      SELECT * FROM ranked WHERE n > {LTTB_OUT}
    ), interior AS (
      SELECT *, CAST(((rn - 2) * {LTTB_BUCKETS}) // (n - 2) AS BIGINT)
                  AS bucket
      FROM big WHERE rn > 1 AND rn < n
    ), stats AS (
      SELECT user_id, bucket, COUNT(*) AS nb,
             SUM(x) AS sx, SUM(y) AS sy
      FROM interior GROUP BY user_id, bucket
      UNION ALL
      SELECT user_id, -1 AS bucket, 1 AS nb, x AS sx, y AS sy
      FROM big WHERE rn = 1
      UNION ALL
      SELECT user_id, {LTTB_BUCKETS} AS bucket, 1 AS nb, x AS sx, y AS sy
      FROM big WHERE rn = n
    ), anchors AS (
      SELECT user_id, bucket,
             LAG(nb)  OVER wb AS np, LAG(sx)  OVER wb AS sxp,
             LAG(sy)  OVER wb AS syp,
             LEAD(nb) OVER wb AS nn, LEAD(sx) OVER wb AS sxn,
             LEAD(sy) OVER wb AS syn
      FROM stats
      WINDOW wb AS (PARTITION BY user_id ORDER BY bucket)
    ), scored AS (
      SELECT i.user_id, i.ts, i.v, i.bucket,
             ABS((CAST(a.sxp AS HUGEINT) * a.nn
                    - CAST(a.sxn AS HUGEINT) * a.np)
                 * (CAST(i.y AS HUGEINT) * a.np - a.syp)
               - (CAST(a.sxp AS HUGEINT) - CAST(i.x AS HUGEINT) * a.np)
                 * (CAST(a.syn AS HUGEINT) * a.np
                    - CAST(a.syp AS HUGEINT) * a.nn)) AS area,
             ROW_NUMBER() OVER (
               PARTITION BY i.user_id, i.bucket
               ORDER BY ABS((CAST(a.sxp AS HUGEINT) * a.nn
                    - CAST(a.sxn AS HUGEINT) * a.np)
                 * (CAST(i.y AS HUGEINT) * a.np - a.syp)
               - (CAST(a.sxp AS HUGEINT) - CAST(i.x AS HUGEINT) * a.np)
                 * (CAST(a.syn AS HUGEINT) * a.np
                    - CAST(a.syp AS HUGEINT) * a.nn)) DESC, i.ts) AS pk
      FROM interior i
      JOIN anchors a ON a.user_id = i.user_id AND a.bucket = i.bucket
    )
    SELECT user_id, pt, v, CAST(slot AS BIGINT) AS slot FROM small
    UNION ALL
    SELECT user_id, ts AS pt, v, CAST(0 AS BIGINT) AS slot
    FROM big WHERE rn = 1
    UNION ALL
    SELECT user_id, ts AS pt, v, CAST(bucket + 1 AS BIGINT) AS slot
    FROM scored WHERE pk = 1
    UNION ALL
    SELECT user_id, ts AS pt, v, CAST({LTTB_BUCKETS} + 1 AS BIGINT) AS slot
    FROM big WHERE rn = n
"""


@query("x6_lttb_downsample", oracle=_LTTB_ORACLE)
def x6_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-area downsampling to {LTTB_OUT} points per series — the
    dashboard/visualization reduction that preserves spikes and shape
    where every-Nth or per-bucket-mean sampling erases them
    (Steinarsson's largest-triangle family). Endpoints always survive;
    each of the {LTTB_BUCKETS} equal-count interior buckets keeps the
    point with the largest triangle area against its NEIGHBOR-BUCKET
    MEAN anchors. That static-anchor variant (vs exact LTTB's
    previously-SELECTED point) is the deliberate scale trade: exact
    LTTB is sequential per series (it would ride the sharded
    recurrence family like x6_cusum_changepoints), while mean anchors
    make every bucket's argmax INDEPENDENT — selection is one
    groupBy + rank, embarrassingly parallel across 10⁹ series.

    Engine-exactness: x is tz-free wall-clock seconds from the
    series start (``timestampdiff`` — a non-UTC driver session cannot
    skew it, unlike epoch extraction on NTZ), y is integer cents from
    the already-rounded value; the triangle area is the fully
    cross-multiplied integer form (×np·nn·np clears all three mean
    denominators), compared in DECIMAL(38,0)/HUGEINT — argmax ties
    broken on ts, so both engines pick identical points. Series with
    ≤ {LTTB_OUT} points pass through whole. Spark plan: every stage
    (obs dedup, rank, bucket stats, anchor lag/lead, winner rank) is
    user_id-(prefix-)keyed — one logical partitioning serves the
    whole pipeline; anchors join candidates co-partitioned; no
    Python, no SinglePartition."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("user_id", "ts").agg(
        F.round(
            F.min_by("value", "event_id").cast("decimal(18,2)").cast("double"),
            2,
        ).alias("v")
    )
    wu = Window.partitionBy("user_id")
    ranked = obs.select(
        "user_id",
        "ts",
        "v",
        F.row_number().over(wu.orderBy("ts")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
        F.expr(
            "timestampdiff(SECOND, min(ts) over "
            "(partition by user_id), ts)"
        ).cast("long").alias("x"),
        F.round(F.col("v") * 100).cast("long").alias("y"),
    )
    # ranked feeds SEVEN consumers (small/first/last/interior twice over
    # + both union tails): materialize it once (eager localCheckpoint —
    # the doubly-consumed-subtree fix) or Spark replays the scan +
    # dedup + rank window per consumer (measured: 7 parquet scans, 14
    # exchanges without it).
    ranked = ranked.localCheckpoint(eager=True)
    small = ranked.filter(F.col("n") <= LTTB_OUT).select(
        "user_id",
        F.col("ts").alias("pt"),
        "v",
        (F.col("rn") - 1).cast("long").alias("slot"),
    )
    big = ranked.filter(F.col("n") > LTTB_OUT)
    interior = big.filter((F.col("rn") > 1) & (F.col("rn") < F.col("n"))).withColumn(
        "bucket",
        F.expr(f"((rn - 2) * {LTTB_BUCKETS}) div (n - 2)").cast("long"),
    )
    first = big.filter(F.col("rn") == 1)
    last = big.filter(F.col("rn") == F.col("n"))
    stats = (
        interior.groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
        )
        .unionByName(
            first.select(
                "user_id",
                F.lit(-1).cast("long").alias("bucket"),
                F.lit(1).cast("long").alias("nb"),
                F.col("x").alias("sx"),
                F.col("y").alias("sy"),
            )
        )
        .unionByName(
            last.select(
                "user_id",
                F.lit(LTTB_BUCKETS).cast("long").alias("bucket"),
                F.lit(1).cast("long").alias("nb"),
                F.col("x").alias("sx"),
                F.col("y").alias("sy"),
            )
        )
    )
    wb = Window.partitionBy("user_id").orderBy("bucket")
    anchors = stats.select(
        "user_id",
        "bucket",
        F.lag("nb").over(wb).alias("np"),
        F.lag("sx").over(wb).alias("sxp"),
        F.lag("sy").over(wb).alias("syp"),
        F.lead("nb").over(wb).alias("nn"),
        F.lead("sx").over(wb).alias("sxn"),
        F.lead("sy").over(wb).alias("syn"),
    ).filter(
        (F.col("bucket") >= 0) & (F.col("bucket") < LTTB_BUCKETS)
    )

    def d(c):  # exact wide-decimal arithmetic (HUGEINT twin in the oracle)
        return c.cast("decimal(19,0)")

    t = (d(F.col("sxp")) * d(F.col("nn")) - d(F.col("sxn")) * d(F.col("np"))) * (
        d(F.col("y")) * d(F.col("np")) - d(F.col("syp"))
    ) - (d(F.col("sxp")) - d(F.col("x")) * d(F.col("np"))) * (
        d(F.col("syn")) * d(F.col("np")) - d(F.col("syp")) * d(F.col("nn"))
    )
    scored = interior.join(anchors, ["user_id", "bucket"]).withColumn(
        "area", F.abs(t)
    )
    wk = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("area").desc(), "ts"
    )
    winners = (
        scored.withColumn("pk", F.row_number().over(wk))
        .filter(F.col("pk") == 1)
        .select(
            "user_id",
            F.col("ts").alias("pt"),
            "v",
            (F.col("bucket") + 1).cast("long").alias("slot"),
        )
    )
    return (
        small.unionByName(
            first.select(
                "user_id",
                F.col("ts").alias("pt"),
                "v",
                F.lit(0).cast("long").alias("slot"),
            )
        )
        .unionByName(winners)
        .unionByName(
            last.select(
                "user_id",
                F.col("ts").alias("pt"),
                "v",
                F.lit(LTTB_BUCKETS + 1).cast("long").alias("slot"),
            )
        )
    )


# ----------------------------------------------------------------------
# M4 downsampling (round 9) — LTTB's industry-standard sibling
# ----------------------------------------------------------------------
#: fixed equal-TIME-width bins per series (the "pixel columns")
M4_BINS = 12

_M4_ORACLE = f"""
    WITH obs AS (
      SELECT user_id, ts,
             ROUND(CAST(CAST(arg_min(value, event_id) AS DECIMAL(18,2))
                   AS DOUBLE), 2) AS v
      FROM events GROUP BY user_id, ts
    ), spanned AS (
      SELECT user_id, ts, v,
             CAST(date_diff('second',
                  MIN(ts) OVER (PARTITION BY user_id), ts) AS BIGINT) AS x,
             CAST(date_diff('second',
                  MIN(ts) OVER (PARTITION BY user_id),
                  MAX(ts) OVER (PARTITION BY user_id)) AS BIGINT) AS span,
             CAST(ROUND(v * 100) AS BIGINT) AS y
      FROM obs
    ), binned AS (
      SELECT *,
             CASE WHEN span = 0 THEN 0
                  ELSE LEAST((x * {M4_BINS}) // span, {M4_BINS} - 1)
             END AS bin
      FROM spanned
    ), rn AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, bin ORDER BY ts) AS rf,
        ROW_NUMBER() OVER (PARTITION BY user_id, bin ORDER BY ts DESC) AS rl,
        ROW_NUMBER() OVER (PARTITION BY user_id, bin ORDER BY y, ts) AS rmn,
        ROW_NUMBER() OVER (PARTITION BY user_id, bin ORDER BY y DESC, ts)
          AS rmx
      FROM binned
    )
    SELECT user_id, CAST(bin AS BIGINT) AS bin, 'first' AS role,
           ts AS pt, v FROM rn WHERE rf = 1
    UNION ALL
    SELECT user_id, CAST(bin AS BIGINT) AS bin, 'last' AS role,
           ts AS pt, v FROM rn WHERE rl = 1
    UNION ALL
    SELECT user_id, CAST(bin AS BIGINT) AS bin, 'min' AS role,
           ts AS pt, v FROM rn WHERE rmn = 1
    UNION ALL
    SELECT user_id, CAST(bin AS BIGINT) AS bin, 'max' AS role,
           ts AS pt, v FROM rn WHERE rmx = 1
"""


@query("x6_m4_downsample", oracle=_M4_ORACLE)
def x6_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014) — the pixel-perfect
    line-chart reduction and x6_lttb_downsample's industry-standard
    sibling: per series, {M4_BINS} equal-TIME-width bins each keep
    exactly the first/last/min/max points (long form, one row per
    role; a point holding several roles appears once per role, so the
    output is partitioning-independent). M4's guarantee is
    pixel-exactness of the rendered line, LTTB's is perceptual shape
    — a real dashboard stack ships both.

    Wholly relational and selection-parallel: min/max/first/last per
    bin are four rank-1 windows over the SAME (user_id, bin)
    partitioning (one exchange serves all four sorts), emitted in a
    single pass via a conditional-array explode — no union of four
    re-reads of the windowed frame, no join, no Python. Determinism:
    y is integer cents, role ranks tie-break on ts (unique per user
    after the obs dedup), x/bin arithmetic is integer (tz-free
    timestampdiff seconds; bin = x·B // span capped at B−1, span-0
    series collapse to bin 0) — both engines select identical rows."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("user_id", "ts").agg(
        F.round(
            F.min_by("value", "event_id").cast("decimal(18,2)").cast("double"),
            2,
        ).alias("v")
    )
    wu = Window.partitionBy("user_id")
    spanned = obs.select(
        "user_id",
        "ts",
        "v",
        F.expr(
            "timestampdiff(SECOND, min(ts) over "
            "(partition by user_id), ts)"
        ).cast("long").alias("x"),
        F.expr(
            "timestampdiff(SECOND, min(ts) over "
            "(partition by user_id), max(ts) over "
            "(partition by user_id))"
        ).cast("long").alias("span"),
        F.round(F.col("v") * 100).cast("long").alias("y"),
    )
    binned = spanned.withColumn(
        "bin",
        F.when(F.col("span") == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.expr(f"(x * {M4_BINS}) div span"),
                F.lit(M4_BINS - 1).cast("long"),
            )
        ),
    )
    wb = Window.partitionBy("user_id", "bin")
    rn = binned.select(
        "user_id",
        "bin",
        "ts",
        "v",
        F.row_number().over(wb.orderBy("ts")).alias("rf"),
        F.row_number().over(wb.orderBy(F.col("ts").desc())).alias("rl"),
        F.row_number().over(wb.orderBy("y", "ts")).alias("rmn"),
        F.row_number().over(wb.orderBy(F.col("y").desc(), "ts")).alias("rmx"),
    )
    role = F.explode(
        F.filter(
            F.array(
                F.when(F.col("rf") == 1, F.lit("first")),
                F.when(F.col("rl") == 1, F.lit("last")),
                F.when(F.col("rmn") == 1, F.lit("min")),
                F.when(F.col("rmx") == 1, F.lit("max")),
            ),
            lambda c: c.isNotNull(),
        )
    )
    return rn.select(
        "user_id",
        F.col("bin").cast("long").alias("bin"),
        role.alias("role"),
        F.col("ts").alias("pt"),
        "v",
    )


# ----------------------------------------------------------------------
# Exact LTTB (round 9) — the sequential-anchor form, recurrence family
# ----------------------------------------------------------------------
_LTTB_EXACT_ORACLE = f"""
    WITH RECURSIVE obs AS (
      SELECT user_id, ts,
             ROUND(CAST(CAST(arg_min(value, event_id) AS DECIMAL(18,2))
                   AS DOUBLE), 2) AS v
      FROM events GROUP BY user_id, ts
    ), ranked AS (
      SELECT user_id, ts, v,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             CAST(date_diff('second',
                  MIN(ts) OVER (PARTITION BY user_id), ts) AS BIGINT) AS x,
             CAST(ROUND(v * 100) AS BIGINT) AS y
      FROM obs
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), small AS (
      SELECT user_id, ts AS pt, v, rn - 1 AS slot
      FROM ranked WHERE n <= {LTTB_OUT}
    ), big AS (
      SELECT * FROM ranked WHERE n > {LTTB_OUT}
    ), interior AS (
      SELECT *, CAST(((rn - 2) * {LTTB_BUCKETS}) // (n - 2) AS BIGINT)
                  AS bucket,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS irn
      FROM big WHERE rn > 1 AND rn < n
    ), bstats AS (
      SELECT user_id, bucket, COUNT(*) AS nb, SUM(x) AS sx, SUM(y) AS sy
      FROM interior GROUP BY user_id, bucket
      UNION ALL
      SELECT user_id, {LTTB_BUCKETS} AS bucket, 1 AS nb, x AS sx, y AS sy
      FROM big WHERE rn = n
    ), nxt AS (
      SELECT user_id, bucket - 1 AS bucket, nb AS nn, sx AS sxn, sy AS syn
      FROM bstats WHERE bucket >= 1
    ), firstpt AS (
      SELECT user_id, x AS px, y AS py FROM big WHERE rn = 1
    ), walk(user_id, irn, psx, psy, bucket, bx, by, bts, bv, barea,
            cts, cv, cbucket) AS (
      SELECT i.user_id, i.irn,
             CAST(f.px AS BIGINT), CAST(f.py AS BIGINT),
             i.bucket, i.x, i.y, i.ts, i.v,
             ABS((CAST(f.px AS HUGEINT) * m.nn - m.sxn)
                   * (CAST(i.y AS HUGEINT) - f.py)
                 - (CAST(f.px AS HUGEINT) - i.x)
                   * (CAST(m.syn AS HUGEINT) - CAST(f.py AS HUGEINT) * m.nn)),
             CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
             CAST(NULL AS BIGINT)
      FROM interior i
      JOIN firstpt f ON f.user_id = i.user_id
      JOIN nxt m ON m.user_id = i.user_id AND m.bucket = i.bucket
      WHERE i.irn = 1
      UNION ALL
      SELECT i.user_id, i.irn,
             CASE WHEN i.bucket > r.bucket THEN r.bx ELSE r.psx END,
             CASE WHEN i.bucket > r.bucket THEN r.by ELSE r.psy END,
             i.bucket,
             CASE WHEN i.bucket > r.bucket THEN i.x
                  WHEN ABS((CAST(r.psx AS HUGEINT) * m.nn - m.sxn)
                         * (CAST(i.y AS HUGEINT) - r.psy)
                       - (CAST(r.psx AS HUGEINT) - i.x)
                         * (CAST(m.syn AS HUGEINT)
                            - CAST(r.psy AS HUGEINT) * m.nn)) > r.barea
                  THEN i.x ELSE r.bx END,
             CASE WHEN i.bucket > r.bucket THEN i.y
                  WHEN ABS((CAST(r.psx AS HUGEINT) * m.nn - m.sxn)
                         * (CAST(i.y AS HUGEINT) - r.psy)
                       - (CAST(r.psx AS HUGEINT) - i.x)
                         * (CAST(m.syn AS HUGEINT)
                            - CAST(r.psy AS HUGEINT) * m.nn)) > r.barea
                  THEN i.y ELSE r.by END,
             CASE WHEN i.bucket > r.bucket THEN i.ts
                  WHEN ABS((CAST(r.psx AS HUGEINT) * m.nn - m.sxn)
                         * (CAST(i.y AS HUGEINT) - r.psy)
                       - (CAST(r.psx AS HUGEINT) - i.x)
                         * (CAST(m.syn AS HUGEINT)
                            - CAST(r.psy AS HUGEINT) * m.nn)) > r.barea
                  THEN i.ts ELSE r.bts END,
             CASE WHEN i.bucket > r.bucket THEN i.v
                  WHEN ABS((CAST(r.psx AS HUGEINT) * m.nn - m.sxn)
                         * (CAST(i.y AS HUGEINT) - r.psy)
                       - (CAST(r.psx AS HUGEINT) - i.x)
                         * (CAST(m.syn AS HUGEINT)
                            - CAST(r.psy AS HUGEINT) * m.nn)) > r.barea
                  THEN i.v ELSE r.bv END,
             CASE WHEN i.bucket > r.bucket THEN
                  ABS((CAST(r.bx AS HUGEINT) * m.nn - m.sxn)
                        * (CAST(i.y AS HUGEINT) - r.by)
                      - (CAST(r.bx AS HUGEINT) - i.x)
                        * (CAST(m.syn AS HUGEINT)
                           - CAST(r.by AS HUGEINT) * m.nn))
                  ELSE GREATEST(r.barea,
                  ABS((CAST(r.psx AS HUGEINT) * m.nn - m.sxn)
                        * (CAST(i.y AS HUGEINT) - r.psy)
                      - (CAST(r.psx AS HUGEINT) - i.x)
                        * (CAST(m.syn AS HUGEINT)
                           - CAST(r.psy AS HUGEINT) * m.nn))) END,
             CASE WHEN i.bucket > r.bucket THEN r.bts END,
             CASE WHEN i.bucket > r.bucket THEN r.bv END,
             CASE WHEN i.bucket > r.bucket THEN r.bucket END
      FROM walk r
      JOIN interior i ON i.user_id = r.user_id AND i.irn = r.irn + 1
      JOIN nxt m ON m.user_id = i.user_id AND m.bucket = i.bucket
    ), tails AS (
      SELECT user_id, MAX(irn) AS m_irn FROM walk GROUP BY user_id
    )
    SELECT user_id, pt, v, CAST(slot AS BIGINT) AS slot FROM small
    UNION ALL
    SELECT user_id, ts AS pt, v, CAST(0 AS BIGINT) AS slot
    FROM big WHERE rn = 1
    UNION ALL
    SELECT user_id, cts AS pt, cv AS v, CAST(cbucket + 1 AS BIGINT) AS slot
    FROM walk WHERE cts IS NOT NULL
    UNION ALL
    SELECT w.user_id, w.bts AS pt, w.bv AS v,
           CAST(w.bucket + 1 AS BIGINT) AS slot
    FROM walk w JOIN tails t
      ON t.user_id = w.user_id AND w.irn = t.m_irn
    UNION ALL
    SELECT user_id, ts AS pt, v, CAST({LTTB_BUCKETS} + 1 AS BIGINT) AS slot
    FROM big WHERE rn = n
"""


def _lttb_walk(uid, rows):
    """One user's exact-LTTB walk: interior points in (bucket, ts)
    order, the previously SELECTED point as the moving anchor. All
    arithmetic in Python ints — the walk gets numeric columns as Python
    scalars, arbitrary precision where numpy int64 products would
    overflow silently — so the argmax matches the oracle's HUGEINT walk
    bit-for-bit."""
    px, py = rows[0].px, rows[0].py
    cur = best = None  # cur: bucket; best: (area, ts, v, x, y)
    for row in rows:
        x, y, nn, sxn, syn = row.x, row.y, row.nn, row.sxn, row.syn
        if cur is not None and row.bucket > cur:
            yield uid, best[1], best[2], cur + 1
            px, py = best[3], best[4]
            best = None
        cur = row.bucket
        area = abs((px * nn - sxn) * (y - py) - (px - x) * (syn - py * nn))
        if best is None or area > best[0]:
            best = (area, row.ts, row.v, x, y)
    if best is not None:
        yield uid, best[1], best[2], cur + 1


@query("x6_lttb_exact", oracle=_LTTB_EXACT_ORACLE)
def x6_lttb_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT LTTB (Steinarsson's original): identical bucketing and
    output contract as ``x6_lttb_downsample``, but each bucket's
    triangle anchor is the PREVIOUSLY SELECTED point — a sequential
    dependency across buckets that no window/join can express, so the
    selection rides the sharded recurrence family (sixth member, after
    EMA/Holt/CUSUM/pack): users hash into shard frames, the kernel
    walks each user's interior points once, O(series) per user, with
    the fail-fast per-shard row bound. Delivered to substantiate the
    variant rung's claim rather than leave it prose.

    Anchor coordinates and areas are pure-integer (Python ints in the
    kernel — numpy int64 products would overflow silently; HUGEINT in
    the oracle's per-point recursive-CTE walk, which carries
    (prev-selected, current-bucket-best) state and commits on bucket
    boundaries), strict-> replacement ties to the earlier point — both
    engines select identical rows. The bucket-mean next anchors, first
    coords, and candidate rows are the SAME relational prework as the
    variant; only the argmax is sequential. Choose the variant when
    mean anchors are acceptable (selection-parallel); choose this rung
    when exact LTTB output is contractual."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("user_id", "ts").agg(
        F.round(
            F.min_by("value", "event_id").cast("decimal(18,2)").cast("double"),
            2,
        ).alias("v")
    )
    wu = Window.partitionBy("user_id")
    ranked = obs.select(
        "user_id",
        "ts",
        "v",
        F.row_number().over(wu.orderBy("ts")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
        F.expr(
            "timestampdiff(SECOND, min(ts) over "
            "(partition by user_id), ts)"
        ).cast("long").alias("x"),
        F.round(F.col("v") * 100).cast("long").alias("y"),
    ).localCheckpoint(eager=True)
    small = ranked.filter(F.col("n") <= LTTB_OUT).select(
        "user_id",
        F.col("ts").alias("pt"),
        "v",
        (F.col("rn") - 1).cast("long").alias("slot"),
    )
    big = ranked.filter(F.col("n") > LTTB_OUT)
    interior = big.filter((F.col("rn") > 1) & (F.col("rn") < F.col("n"))).withColumn(
        "bucket",
        F.expr(f"((rn - 2) * {LTTB_BUCKETS}) div (n - 2)").cast("long"),
    )
    first = big.filter(F.col("rn") == 1)
    last = big.filter(F.col("rn") == F.col("n"))
    bstats = interior.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    ).unionByName(
        last.select(
            "user_id",
            F.lit(LTTB_BUCKETS).cast("long").alias("bucket"),
            F.lit(1).cast("long").alias("nb"),
            F.col("x").alias("sx"),
            F.col("y").alias("sy"),
        )
    )
    nxt = bstats.filter(F.col("bucket") >= 1).select(
        "user_id",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("nb").alias("nn"),
        F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
    )
    firstpt = first.select(
        "user_id", F.col("x").alias("px"), F.col("y").alias("py")
    )
    cand = interior.join(nxt, ["user_id", "bucket"]).join(firstpt, "user_id")
    winners = _walk_users(
        cand,
        _lttb_walk,
        "user_id long, pt timestamp_ntz, v double, slot long",
        ("bucket", "ts"),
    )
    return (
        small.unionByName(
            first.select(
                "user_id",
                F.col("ts").alias("pt"),
                "v",
                F.lit(0).cast("long").alias("slot"),
            )
        )
        .unionByName(winners)
        .unionByName(
            last.select(
                "user_id",
                F.col("ts").alias("pt"),
                "v",
                F.lit(LTTB_BUCKETS + 1).cast("long").alias("slot"),
            )
        )
    )



# ----------------------------------------------------------------------
# Holt–Winters additive seasonal smoothing (round 9)
# ----------------------------------------------------------------------
HW_ALPHA = 0.3
HW_BETA = 0.1
HW_GAMMA = 0.2
#: cycle length: position-in-series weekly seasonality (7 daily closes)
HW_M = 7

_HW_ORACLE = f"""
    WITH RECURSIVE {_DAILY_CLOSE_CTES}, seeds AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN close_value END) AS c1,
             MAX(CASE WHEN rn = 2 THEN close_value END) AS c2,
             MAX(CASE WHEN rn = 3 THEN close_value END) AS c3,
             MAX(CASE WHEN rn = 4 THEN close_value END) AS c4,
             MAX(CASE WHEN rn = 5 THEN close_value END) AS c5,
             MAX(CASE WHEN rn = 6 THEN close_value END) AS c6,
             MAX(CASE WHEN rn = 7 THEN close_value END) AS c7
      FROM daily WHERE rn <= 7 GROUP BY user_id
      HAVING COUNT(*) = 7
    ), seeded AS (
      SELECT user_id, (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS l,
             c1 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s0,
             c2 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s1,
             c3 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s2,
             c4 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s3,
             c5 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s4,
             c6 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s5,
             c7 - (c1 + c2 + c3 + c4 + c5 + c6 + c7) / 7 AS s6
      FROM seeds
    ), rec(user_id, day, close_value, rn, l, b,
           s0, s1, s2, s3, s4, s5, s6) AS (
      SELECT d.user_id, d.day, d.close_value, d.rn,
             s.l, CAST(0.0 AS DOUBLE),
             s.s0, s.s1, s.s2, s.s3, s.s4, s.s5, s.s6
      FROM daily d JOIN seeded s USING (user_id) WHERE d.rn = 7
      UNION ALL
      SELECT d.user_id, d.day, d.close_value, d.rn,
             l_new.v,
             {HW_BETA} * (l_new.v - r.l) + {1.0 - HW_BETA} * r.b,
             CASE WHEN (d.rn - 1) % 7 = 0 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s0
               ELSE r.s0 END,
             CASE WHEN (d.rn - 1) % 7 = 1 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s1
               ELSE r.s1 END,
             CASE WHEN (d.rn - 1) % 7 = 2 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s2
               ELSE r.s2 END,
             CASE WHEN (d.rn - 1) % 7 = 3 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s3
               ELSE r.s3 END,
             CASE WHEN (d.rn - 1) % 7 = 4 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s4
               ELSE r.s4 END,
             CASE WHEN (d.rn - 1) % 7 = 5 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s5
               ELSE r.s5 END,
             CASE WHEN (d.rn - 1) % 7 = 6 THEN
               {HW_GAMMA} * (d.close_value - l_new.v)
                 + {1.0 - HW_GAMMA} * r.s6
               ELSE r.s6 END
      FROM rec r
      JOIN daily d ON d.user_id = r.user_id AND d.rn = r.rn + 1
      CROSS JOIN LATERAL (SELECT
        {HW_ALPHA} * (d.close_value - CASE (d.rn - 1) % 7
            WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
            WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
            ELSE r.s6 END)
          + {1.0 - HW_ALPHA} * (r.l + r.b) AS v) AS l_new
    )
    SELECT user_id, day, close_value,
           FLOOR(l * 1000000) / 1000000.0 AS level,
           FLOOR(b * 1000000) / 1000000.0 AS trend,
           FLOOR(CASE (rn - 1) % 7
             WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
             WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END * 1000000)
             / 1000000.0 AS season
    FROM rec WHERE rn >= 8
"""


def _hw_walk(uid, rows):
    """One user's Holt–Winters walk — raw float64 states, seed = mean
    of the first 7 closes summed LEFT-TO-RIGHT (the oracle writes the
    same 7-term sum in the same order, so the seed double is
    bit-identical), b seeded 0, seasonal seeds y_i − mean. Users with
    fewer than 8 daily closes emit nothing (seed consumes 7, the walk
    starts at the 8th)."""
    ys = [r.close_value for r in rows]
    if len(ys) < HW_M + 1:
        return
    acc = 0.0
    for v in ys[:HW_M]:  # left-to-right, matches the SQL sum
        acc = acc + v
    level = acc / HW_M
    trend = 0.0
    season = [ys[i] - level for i in range(HW_M)]
    for i in range(HW_M, len(ys)):
        pos = i % HW_M  # rn = i+1 → (rn−1) % 7
        prev_l = level
        level = HW_ALPHA * (ys[i] - season[pos]) + (1.0 - HW_ALPHA) * (
            level + trend
        )
        trend = HW_BETA * (level - prev_l) + (1.0 - HW_BETA) * trend
        season[pos] = HW_GAMMA * (ys[i] - level) + (1.0 - HW_GAMMA) * (
            season[pos]
        )
        yield (
            uid, rows[i].day, ys[i], _trunc6(level), _trunc6(trend),
            _trunc6(season[pos]),
        )


@query("x6_holt_winters", oracle=_HW_ORACLE)
def x6_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters ADDITIVE seasonal smoothing of each user's daily
    close — the smoothing ladder's last rung (EMA → Holt → here):
    level, trend AND a 7-slot seasonal component, the triple recurrence
    a seasonality-blind smoother mistakes for noise. Seasonality is
    position-in-series (slot = (rn−1) mod 7 from each user's first
    close), so the contract is calendar-free and deterministic; seeds
    are the classic first-cycle ones (level = mean of the first 7
    closes, trend 0, s_i = y_i − mean), emission starts at the 8th
    close, users with shorter histories emit nothing.

    Same scalable shape as EMA/Holt/CUSUM — the ``_walk_users``
    sharded walk with its fail-fast per-shard row bound. Oracle: the identical triple recurrence as a recursive CTE
    carrying (l, b, s0..s6) state columns with the seasonal slot
    rotated via CASE; BOTH engines seed the level from the same
    left-to-right 7-term sum and carry RAW float64 states,
    floor-truncating only the emitted values — bit-identical walks."""
    return _walk_users(
        _daily_close(load_table(spark, sf_dir, "events")),
        _hw_walk,
        "user_id long, day timestamp_ntz, close_value double, "
        "level double, trend double, season double",
        ("day",),
    )


# ----------------------------------------------------------------------
# Expanding-window backtest folds (round 10): the time-series
# cross-validation split the forecast rungs (O27-O29) presuppose
# ----------------------------------------------------------------------
#: number of expanding-window folds; the day span splits into
#: FOLDS + 1 equal integer slices, fold i training on slices [0, i)
#: and testing on slice i — the standard walk-forward protocol that
#: never leaks future rows into training
BACKTEST_FOLDS = 3


@query(
    "x6_backtest_folds",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value FROM events
    ), bounds AS (
      SELECT MIN(day) AS d0,
             date_diff('day', MIN(day), MAX(day)) + 1 AS span
      FROM d
    ), idx AS (
      SELECT date_diff('day', d0, day) AS i, value, span FROM d CROSS JOIN bounds
    ), folds AS (
      SELECT f.fold,
             CAST(f.fold * span // {BACKTEST_FOLDS + 1} AS BIGINT) AS cut_lo,
             CAST((f.fold + 1) * span // {BACKTEST_FOLDS + 1} AS BIGINT)
               AS cut_hi,
             i, value
      FROM idx, UNNEST(generate_series(1, {BACKTEST_FOLDS})) AS f(fold)
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           cut_lo AS train_days, cut_hi - cut_lo AS test_days,
           CAST(SUM(CASE WHEN i < cut_lo THEN 1 ELSE 0 END) AS BIGINT)
             AS train_rows,
           CAST(SUM(CASE WHEN i >= cut_lo AND i < cut_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS test_rows,
           ROUND(CAST(SUM(CASE WHEN i >= cut_lo AND i < cut_hi
                               THEN CAST(value AS DECIMAL(18,2)) END)
                      AS DOUBLE), 2) AS test_value
    FROM folds GROUP BY fold, cut_lo, cut_hi
    """,
)
def x6_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window backtest folds — the walk-forward
    cross-validation protocol behind every honest time-series model
    eval (the random splits of O27 leak the future into training;
    forecast models need TEMPORAL holdouts): the event-day span splits
    into ``BACKTEST_FOLDS + 1`` equal integer slices and fold i trains
    on everything before cut i, tests on slice i — one row per fold
    with train/test row counts, day widths, and the test-slice value
    total (decimal-exact). Cut points are pure integer arithmetic on
    (min_day, span), so fold membership is engine- and
    partitioning-exact. Reference scope: the reference's eval is a
    random holdout (weather_etl.py:131); temporal-CV extension tier.

    Scale shape: ONE scan + one partial-aggregated (fold, cuts)
    exchange — the fold assignment is a conditional-aggregate fan-out
    over a BACKTEST_FOLDS-wide generated array (|folds| ≪ |rows|, so
    the explode multiplies rows only inside the map side where the
    partial agg immediately collapses them), with the 2-column bounds
    row broadcast. No window, no per-fold rescan."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    bounds = ev.agg(
        F.min("day").alias("d0"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span"),
    )
    idx = ev.join(F.broadcast(bounds)).select(
        F.datediff("day", "d0").alias("i"), "value", "span"
    )
    folds = idx.select(
        "i",
        "value",
        "span",
        F.explode(
            F.sequence(F.lit(1), F.lit(BACKTEST_FOLDS))
        ).alias("fold"),
    ).select(
        F.col("fold").cast("long").alias("fold"),
        F.expr(f"fold * span DIV {BACKTEST_FOLDS + 1}")
        .cast("long")
        .alias("cut_lo"),
        F.expr(f"(fold + 1) * span DIV {BACKTEST_FOLDS + 1}")
        .cast("long")
        .alias("cut_hi"),
        "i",
        "value",
    )
    return folds.groupBy("fold", "cut_lo", "cut_hi").agg(
        F.sum(F.when(F.col("i") < F.col("cut_lo"), 1).otherwise(0))
        .cast("long")
        .alias("train_rows"),
        F.sum(
            F.when(
                (F.col("i") >= F.col("cut_lo"))
                & (F.col("i") < F.col("cut_hi")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("test_rows"),
        F.round(
            F.sum(
                F.when(
                    (F.col("i") >= F.col("cut_lo"))
                    & (F.col("i") < F.col("cut_hi")),
                    F.col("value").cast("decimal(18,2)"),
                )
            ).cast("double"),
            2,
        ).alias("test_value"),
    ).select(
        "fold",
        F.col("cut_lo").alias("train_days"),
        (F.col("cut_hi") - F.col("cut_lo")).alias("test_days"),
        "train_rows",
        "test_rows",
        "test_value",
    )


# ----------------------------------------------------------------------
# Theil–Sen robust trend (round 12): the outlier-immune slope estimator
# ----------------------------------------------------------------------
#: minimum observed days for a meaningful trend (below this the pair
#: set is too thin for a median to be robust)
THEILSEN_MIN_DAYS = 3


@query(
    "x6_theil_sen",
    oracle=f"""
    WITH {_DAILY_MEAN_CTE},
    pairs AS (
      SELECT a.user_id, a.d AS d1, b.d AS d2,
             (b.v - a.v) / (b.d - a.d) AS slope
      FROM daily a JOIN daily b
        ON a.user_id = b.user_id AND a.d < b.d
    ),
    ranked AS (
      SELECT user_id, slope, d1, d2,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM pairs
    ),
    med AS (
      SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_pairs,
             FLOOR(AVG(slope) * 1000000) / 1000000.0 AS ts_slope
      FROM ranked
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY user_id
    ),
    days AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY user_id
    )
    SELECT m.user_id, y.n_days, m.n_pairs, m.ts_slope
    FROM med m JOIN days y ON y.user_id = m.user_id
    WHERE y.n_days >= {THEILSEN_MIN_DAYS}
    """,
)
def x6_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil–Sen robust trend (Theil 1950 / Sen 1968): the
    slope estimate is the MEDIAN of all pairwise day-to-day slopes, so
    up to ~29% of corrupted observations cannot move it — the
    activity-drift detector ordinary least squares can't be trusted
    for on spiky telemetry. Emits (n_days, n_pairs, ts_slope) per user
    over daily mean values. Reference scope: no robust stats in the
    reference (440-line pandas ETL); §2.10 extension tier.

    Determinism: daily means are exact DECIMAL sums over counts;
    per-pair slopes are single IEEE divisions of identical inputs; the
    median is selected STRUCTURALLY — rank the pair slopes with a
    total order (slope, d1, d2) and average the ≤2 middle ranks — so
    no engine median/percentile interpolation is ever invoked (the
    round-half hazard class ADVICE r5/r11 flagged twice).

    Scale shape: daily rollup is one partial-aggregated (user, day)
    exchange that CAPS all downstream work — the pair join is
    user-equi-keyed over calendar-bounded runs (≤ days²/2 pairs per
    user per window of interest, never |events|²), the rank window
    rides the same user partitioning, and the middle-rank filter
    reduces pairs to ≤2 rows per user before the final agg. At 100 TB
    the bound is |users| · days² with days fixed by the analysis
    window — linear in users, the only dimension that grows."""
    daily = _daily_mean(load_table(spark, sf_dir, "events"))
    a = daily.select(
        "user_id", F.col("d").alias("d1"), F.col("v").alias("v1")
    )
    b = daily.select(
        "user_id", F.col("d").alias("d2"), F.col("v").alias("v2")
    )
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "user_id",
            "d1",
            "d2",
            (
                (F.col("v2") - F.col("v1"))
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("slope", "d1", "d2")
    wn = Window.partitionBy("user_id")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("(n + 2) div 2"))
        )
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_pairs"),
            # floor-truncation, not ROUND: the sf0.1 sweep caught two
            # users whose middle-rank average lands on a .5e-6 boundary
            # where the engines' round-half conventions split — the
            # repo-wide _trunc6 discipline (ADVICE r5/r11); FLOOR of
            # the same IEEE double is engine-exact
            (F.floor(F.avg("slope") * F.lit(1e6)) / F.lit(1e6)).alias(
                "ts_slope"
            ),
        )
    )
    days = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        med.join(days, "user_id")
        .filter(F.col("n_days") >= THEILSEN_MIN_DAYS)
        .select("user_id", "n_days", "n_pairs", "ts_slope")
    )


# ----------------------------------------------------------------------
# autocorrelation function (round 12): the seasonality detector
# ----------------------------------------------------------------------
#: lags profiled: adjacent-day persistence and the weekly cycle
ACF_LAGS = (1, 7)
#: minimum days per series (a 2-point series has no lag-7 pairs and a
#: degenerate variance)
ACF_MIN_DAYS = 10


@query(
    "x6_acf_lags",
    oracle=f"""
    WITH {_DAILY_MEAN_CTE},
    stats AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(vq) AS DOUBLE) / COUNT(*) AS mean_q
      FROM daily GROUP BY user_id
    ),
    dev AS (
      SELECT d.user_id, d.d,
             (CAST(d.vq AS DOUBLE) - s.mean_q) / 1000000.0 AS ed,
             s.n_days
      FROM daily d JOIN stats s ON s.user_id = d.user_id
      WHERE s.n_days >= {ACF_MIN_DAYS}
    ),
    denom AS (
      SELECT user_id, MAX(n_days) AS n_days,
             SUM(CAST(FLOOR(ed * ed * 1000000) AS DECIMAL(38,0))) AS ssq
      FROM dev GROUP BY user_id
    ),
    lagged AS (
      SELECT a.user_id, l.lag,
             SUM(CAST(FLOOR(a.ed * b.ed * 1000000) AS DECIMAL(38,0)))
               AS spq,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM dev a
      JOIN (VALUES {", ".join(f"({k})" for k in ACF_LAGS)}) AS l(lag)
        ON TRUE
      JOIN dev b ON b.user_id = a.user_id AND b.d = a.d + l.lag
      GROUP BY a.user_id, l.lag
    )
    SELECT g.user_id, g.lag, d.n_days, g.n_pairs,
           CASE WHEN d.ssq = 0 THEN NULL
                ELSE FLOOR(CAST(g.spq AS DOUBLE) / CAST(d.ssq AS DOUBLE)
                           * 1000000) / 1000000.0
           END AS acf
    FROM lagged g JOIN denom d ON d.user_id = g.user_id
    """,
)
def x6_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation at lags {1, 7} — the seasonality
    detector the smoothing ladder presupposes (a material lag-7 ACF is
    WHY Holt–Winters carries a 7-slot seasonal component; lag-1 is the
    persistence every forecast baseline exploits). Available-case
    estimator over the daily-mean series: calendar-lag equi-join, so
    gap days simply contribute no pair (documented semantics — the
    estimator of record for irregularly-observed series). Reference
    scope: no time-series diagnostics in the reference; §2.10 tier.

    Determinism — INTEGER-MICROUNIT scheme (the x6_stl_decompose
    discipline, migrated here per VERDICT r13 ask #3: deviations are
    arithmetic-derived doubles, the proven decimal-cast tie hazard):
    daily means floor-quantize to BIGINT microunits, the series mean
    is one exact-integer-sum division, deviations and their products
    are single IEEE ops on bit-identical inputs, each product
    floor-quantizes to an integer BEFORE the exact DECIMAL(38,0) sum
    (order-independent by arithmetic — no rounding convention in any
    aggregation; |ed·ed|·1e6 < 2^53 holds for |value| ≤ 9e4, and the
    events feed is 2dp sensor readings ≤ ~500). The ACF ratio is one
    double division floor-truncated to 6 (the repo-wide _trunc6 rule),
    and a zero-variance series returns NULL identically on both
    engines. NULL contract (ADVICE r14 — deliberately wider than the
    pre-microunit scheme's exact-zero-variance case): a series whose
    EVERY daily-mean deviation is below 1e-3 floors every ed·ed
    microunit term to 0, so ssq = 0 and the ACF is NULL for
    sub-microunit variance too, not only for exactly-constant
    series. Both engines share the widened condition (the oracle
    floors identically), so parity holds; raising the product scale
    would narrow it but break the |ed·ed|·scale < 2^53 exact-integer
    bound for the feed's value range.

    Scale shape: ONE (user, day) partial-agg exchange caps everything
    downstream — the per-series mean and denominator ride the same
    user keying, the lag join is equi-keyed on (user, day+k) over
    calendar-bounded series (≤ days rows each), and the lag fan-out is
    a |ACF_LAGS|-row broadcast values relation expanded map-side. At
    100 TB the volume is |users| · days · |lags| — linear in users."""
    daily = _daily_mean(load_table(spark, sf_dir, "events"))
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum("vq").cast("double") / F.count(F.lit(1))).alias("mean_q"),
    )
    dev = (
        daily.join(stats, "user_id")
        .filter(F.col("n_days") >= ACF_MIN_DAYS)
        .select(
            "user_id",
            "d",
            ((F.col("vq").cast("double") - F.col("mean_q")) / F.lit(1e6))
            .alias("ed"),
            "n_days",
        )
    )
    denom = dev.groupBy("user_id").agg(
        F.max("n_days").alias("n_days"),
        F.sum(
            F.floor(F.col("ed") * F.col("ed") * F.lit(1e6)).cast(
                "decimal(38,0)"
            )
        ).alias("ssq"),
    )
    lags = spark.createDataFrame([(k,) for k in ACF_LAGS], "lag int")
    a = dev.select("user_id", "d", F.col("ed").alias("ea"))
    b = dev.select(
        F.col("user_id").alias("ub"),
        F.col("d").alias("db"),
        F.col("ed").alias("eb"),
    )
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("db") == F.col("d") + F.col("lag")),
        )
        .groupBy("user_id", "lag")
        .agg(
            F.sum(
                F.floor(F.col("ea") * F.col("eb") * F.lit(1e6)).cast(
                    "decimal(38,0)"
                )
            ).alias("spq"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    return lagged.join(denom, "user_id").select(
        "user_id",
        "lag",
        "n_days",
        "n_pairs",
        F.when(
            F.col("ssq") != 0,
            F.floor(
                F.col("spq").cast("double")
                / F.col("ssq").cast("double")
                * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("acf"),
    )


# ----------------------------------------------------------------------
# seasonal decomposition (round 13): what the ACF rung detects, split out
# ----------------------------------------------------------------------
#: centered moving-average half-window for the trend (±3 days = the
#: classical 7-term MA matching the weekly period)
STL_HALF_WINDOW = 3
#: weekly period for the seasonal component
STL_PERIOD = 7
#: minimum observed days per series (two full weeks, so every weekday
#: can be observed and the MA has interior support)
STL_MIN_DAYS = 14


@query(
    "x6_stl_decompose",
    oracle=f"""
    WITH {_DAILY_MEAN_CTE},
    days AS (
      SELECT user_id, COUNT(*) AS n_days FROM daily GROUP BY user_id
    ),
    keep AS (
      SELECT a.user_id, a.d, a.vq FROM daily a
      JOIN days y ON y.user_id = a.user_id
      WHERE y.n_days >= {STL_MIN_DAYS}
    ),
    tr AS (
      SELECT user_id, d, CAST(vq AS DOUBLE) / 1000000.0 AS vd,
             CAST(SUM(vq) OVER w AS DOUBLE)
               / (COUNT(*) OVER w) / 1000000.0 AS trend
      FROM keep
      WINDOW w AS (PARTITION BY user_id ORDER BY d
                   RANGE BETWEEN {STL_HALF_WINDOW} PRECEDING
                         AND {STL_HALF_WINDOW} FOLLOWING)
    ),
    dev AS (
      SELECT user_id, d, vd, trend,
             CAST(FLOOR((vd - trend) * 1000000) AS BIGINT) AS eq
      FROM tr
    ),
    wd AS (
      SELECT user_id, d % {STL_PERIOD} AS wday,
             CAST(FLOOR(CAST(SUM(eq) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS smq
      FROM dev GROUP BY 1, 2
    ),
    ctr AS (
      SELECT user_id, SUM(smq) AS ssum, COUNT(*) AS cnt
      FROM wd GROUP BY user_id
    )
    SELECT t.user_id, t.d,
           t.vd AS v_daily,
           FLOOR(t.trend * 1000000) / 1000000.0 AS trend,
           FLOOR(CAST(w.smq AS DOUBLE)
                 - CAST(c.ssum AS DOUBLE) / c.cnt) / 1000000.0
             AS seasonal,
           FLOOR((t.vd - t.trend
                  - FLOOR(CAST(w.smq AS DOUBLE)
                          - CAST(c.ssum AS DOUBLE) / c.cnt) / 1000000.0)
                 * 1000000) / 1000000.0 AS remainder
    FROM dev t
    JOIN wd w ON w.user_id = t.user_id AND w.wday = t.d % {STL_PERIOD}
    JOIN ctr c ON c.user_id = t.user_id
    """,
)
def x6_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (STL-lite) of each
    user's daily series — the operator the ACF rung motivates: once
    lag-7 autocorrelation says "weekly cycle", this SPLITS the series
    into trend (centered ±``STL_HALF_WINDOW``-day available-case moving
    average), seasonal (per-weekday mean deviation, centered on the
    weekday-mean average) and remainder — the decomposition behind
    anomaly detection on deseasonalized telemetry and the Holt–Winters
    seasonal slots. Available-case everywhere (gap days contribute no
    term — the irregular-series estimator of record, the x6_acf_lags
    convention). Reference scope: no time-series ops in the reference
    (440-line pandas ETL); §2.10 extension tier.

    Determinism — the INTEGER-MICROUNIT scheme, introduced by this rung
    after its first draft exposed a NEW cross-engine hazard: casting a
    DERIVED double (a mean with a /7-style repeating expansion) to
    DECIMAL(28,12) hit an exact 1e-12 rounding tie that Spark (HALF_UP
    on the exact expansion) and DuckDB resolved differently. The repo's
    decimal-cast discipline is safe for RAW table doubles but not for
    computed divisions, so this rung never casts a derived double to
    decimal: every derived quantity is floor-quantized to integer
    microunits (floor of bit-identical doubles is always bit-identical)
    and all aggregation is exact BIGINT summation (order-independent by
    arithmetic, not by rounding convention); the only float ops are
    single divisions/subtractions of identical inputs, and emits
    floor-truncate at 1e-6.

    Scale shape: ONE (user, day) partial-agg exchange caps everything —
    the trend is a RANGE-frame window riding the user partitioning
    (≤ 2·HALF+1 values per frame, no self-join), the weekday and
    centering aggregates are |users|·7- and |users|-row BIGINT
    partial-agg exchanges, and the final assembly is two user-keyed
    equi-joins of those bounded relations. At 100 TB the volume is
    |users| · days — linear in users, the only growing dimension."""
    daily = _daily_mean(load_table(spark, sf_dir, "events"))
    days = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    keep = (
        daily.join(days, "user_id")
        .filter(F.col("n_days") >= STL_MIN_DAYS)
        .select("user_id", "d", "vq")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rangeBetween(-STL_HALF_WINDOW, STL_HALF_WINDOW)
    )
    dev = keep.select(
        "user_id",
        "d",
        (F.col("vq").cast("double") / F.lit(1e6)).alias("vd"),
        (
            F.sum("vq").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
            / F.lit(1e6)
        ).alias("trend"),
    ).withColumn(
        "eq", F.floor((F.col("vd") - F.col("trend")) * F.lit(1e6))
    )
    wd = dev.groupBy(
        "user_id", (F.col("d") % STL_PERIOD).alias("wday")
    ).agg(
        F.floor(
            F.sum("eq").cast("double") / F.count(F.lit(1))
        ).alias("smq")
    )
    ctr = wd.groupBy("user_id").agg(
        F.sum("smq").alias("ssum"), F.count(F.lit(1)).alias("cnt")
    )
    seasonal = (
        F.floor(
            F.col("smq").cast("double")
            - F.col("ssum").cast("double") / F.col("cnt")
        )
        / F.lit(1e6)
    )

    def trunc6(c):
        return F.floor(c * F.lit(1e6)) / F.lit(1e6)

    return (
        dev.join(
            wd,
            (wd.user_id == dev.user_id)
            & (F.col("wday") == F.col("d") % STL_PERIOD),
        )
        .drop(wd.user_id)
        .join(ctr, "user_id")
        .select(
            "user_id",
            "d",
            F.col("vd").alias("v_daily"),
            trunc6(F.col("trend")).alias("trend"),
            seasonal.alias("seasonal"),
            trunc6(
                F.col("vd") - F.col("trend") - seasonal
            ).alias("remainder"),
        )
    )
