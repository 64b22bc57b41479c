"""Streaming queries for the driver contract — each runs a Structured
Streaming job to completion (availableNow) and returns the result as a
DataFrame, oracle-checked against the batch semantics it must match:
stream-batch parity is the correctness bar for §2.8.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..streaming import jobs
from .text_analysis import (
    C4_KEEP_LANG as _C4_LANG,
    C4_MAX_WORDS as _C4_MAX,
    C4_MIN_WORDS as _C4_MIN,
    HTML_EXTRACT_ORACLE as _HTML_ORACLE,
)
from .weather_queries import _STAGED_SQL

_GAP_US = 30 * 60 * 1_000_000


@query(
    "s_latest_per_key_stream",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT e.*, ROW_NUMBER() OVER
        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e
    ) WHERE rn = 1
    """,
)
def s_latest_per_key_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship O15 as an incremental stream: file source → foreachBatch
    merge into a latest-per-key state table. Oracle = the batch flagship —
    stream and batch must agree exactly."""
    state = jobs._ckpt("s_latest_state")
    src = jobs.stream_events(spark, sf_dir)
    jobs.incremental_latest_per_key(
        spark, src, key="user_id", order="ts", tiebreak="event_id", state_path=state
    )
    return jobs.read_state(spark, state).select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )


@query(
    "s_tumbling_hourly_stream",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def s_tumbling_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h watermark agg, complete mode — every window in the memory
    sink equals the batch time-bucketed aggregation."""
    sink = f"s_tumbling_{uuid.uuid4().hex[:8]}"
    jobs.tumbling_counts(jobs.stream_events(spark, sf_dir), sink)
    return spark.table(sink).select(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n",
        F.round(F.col("total_value").cast("double"), 2).alias("total_value"),
    )


@query(
    "s_m4_hourly_stream",
    oracle="""
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, ts, event_id,
             ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS v,
             CAST(ROUND(ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE),
                  2) * 100) AS BIGINT) AS y
      FROM events
    ), rn AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                           ORDER BY ts, event_id) AS rf,
        ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                           ORDER BY ts DESC, event_id DESC) AS rl,
        ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                           ORDER BY y, ts, event_id) AS rmn,
        ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                           ORDER BY y DESC, ts, event_id) AS rmx
      FROM ev
    )
    SELECT hour_start, event_type, COUNT(*) AS n,
           MAX(CASE WHEN rf = 1 THEN ts END) AS ts_first,
           MAX(CASE WHEN rf = 1 THEN v END) AS v_first,
           MAX(CASE WHEN rl = 1 THEN ts END) AS ts_last,
           MAX(CASE WHEN rl = 1 THEN v END) AS v_last,
           MIN(v) AS v_min,
           MAX(CASE WHEN rmn = 1 THEN ts END) AS ts_min,
           MAX(v) AS v_max,
           MAX(CASE WHEN rmx = 1 THEN ts END) AS ts_max
    FROM rn GROUP BY hour_start, event_type
    """,
)
def s_m4_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x6_m4_downsample's role selection, at the
    hourly-dashboard grain: per tumbling 1h window and event_type the
    first/last/min/max points with their timestamps, computed
    INCREMENTALLY — every statistic is a mergeable declarative
    aggregate (min/max/min_by/max_by with integer-cent + (ts,
    event_id) struct keys), so open-window state is O(1) per group at
    any event volume. Oracle = the identical batch selection via
    rank-1 windows; stream-batch parity is the correctness bar."""
    sink = f"s_m4_{uuid.uuid4().hex[:8]}"
    jobs.m4_hourly(jobs.stream_events(spark, sf_dir), sink)
    return spark.table(sink).select(
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n",
        F.col("ts_first").cast("timestamp_ntz").alias("ts_first"),
        "v_first",
        F.col("ts_last").cast("timestamp_ntz").alias("ts_last"),
        "v_last",
        "v_min",
        F.col("ts_min").cast("timestamp_ntz").alias("ts_min"),
        "v_max",
        F.col("ts_max").cast("timestamp_ntz").alias("ts_max"),
    )


@query(
    "s_session_window_stream",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, CAST(SUM(new_sess) OVER
               (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT MAX(ts) FROM events)
    """,
)
def s_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via native session_window (append
    mode, zero watermark delay). Emits exactly the *closed* sessions —
    end ≤ max event time; the oracle is the batch lag-gap CTE restricted
    the same way (open tail sessions stay in state, by design)."""
    sink = f"s_session_{uuid.uuid4().hex[:8]}"
    jobs.session_windows(jobs.stream_events(spark, sf_dir), sink)
    return spark.table(sink).select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@query(
    "s_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           ROUND(CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value,
           v.event_id AS view_id, v.ts AS v_ts
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(v.ts AS TIMESTAMP))
     AND epoch_us(CAST(p.ts AS TIMESTAMP))
         <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
    """,
)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (purchase ⋈ views of the same
    user in the prior hour): the event-time bound lets Spark expire join
    state, so state stays bounded on an unbounded stream. Oracle = the
    batch interval join (µs-truncated on both engines)."""
    sink = f"s_ssjoin_{uuid.uuid4().hex[:8]}"
    jobs.stream_stream_interval_join(jobs.stream_events(spark, sf_dir), sink)
    return spark.table(sink).select(
        F.col("purchase_id"),
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.round(F.col("value").cast("decimal(18,2)").cast("double"), 2).alias(
            "value"
        ),
        "view_id",
        F.col("v_ts").cast("timestamp_ntz").alias("v_ts"),
    )


@query(
    "s_dedup_stream",
    oracle="""
    SELECT md5(text) AS content_hash, length(text) AS n_chars
    FROM documents GROUP BY 1, 2
    """,
)
def s_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x1_exact_dedup_hash: the corpus streams in and
    duplicates are dropped at ingest (first-seen wins per content digest).
    Oracle = the batch distinct digest set — stream-batch parity on the
    dedup gate itself; every output column is digest-determined, so the
    check is value-exact despite arrival order being free."""
    sink = f"s_dedup_{uuid.uuid4().hex[:8]}"
    jobs.streaming_dedup(jobs.stream_documents(spark, sf_dir), sink)
    return spark.table(sink).select("content_hash", "n_chars")


@query(
    "s_weather_latest_stream",
    oracle=f"""
    WITH staged AS ({_STAGED_SQL})
    SELECT city, localtime, localtime_epoch, temp_c, condition FROM (
      SELECT s.*, ROW_NUMBER() OVER (
        PARTITION BY city ORDER BY localtime DESC, localtime_epoch DESC) AS rn
      FROM staged s
    ) WHERE rn = 1
    """,
)
def s_weather_latest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole pipeline as a stream: file-stream over the
    raw JSON tree → staging flatten → foreachBatch incremental
    latest-per-key state (snapshot-versioned parquet, atomic pointer
    flip). Oracle = the batch flagship SQL over the same fixture —
    stream-batch parity on the reference's own data shape."""
    from ..sources import weather as wsrc
    from ..transforms import flatten_raw

    root = wsrc.ensure_fixture()
    state = jobs._ckpt("s_weather_state")
    src = flatten_raw(jobs.stream_raw_weather(spark, root))
    jobs.incremental_latest_per_key(
        spark,
        src,
        key="city",
        order="localtime",
        tiebreak="localtime_epoch",
        state_path=state,
    )
    return jobs.read_state(spark, state).select(
        "city", "localtime", "localtime_epoch", "temp_c", "condition"
    )


@query(
    "s_sliding_hourly_stream",
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
def s_sliding_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 1h/30m watermarked window agg on the event stream —
    stream/batch parity with x6_sliding_windows' oracle: every event
    counted in both overlapping windows, window starts epoch-aligned to
    the slide."""
    sink = f"s_sliding_{uuid.uuid4().hex[:8]}"
    jobs.sliding_counts(jobs.stream_events(spark, sf_dir), sink)
    return spark.table(sink).select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        F.round(F.col("total_value").cast("double"), 2).alias("total_value"),
    )


@query(
    "s_topk_stream",
    oracle="""
    SELECT user_id, event_id,
           ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value
    FROM (
      SELECT e.*, ROW_NUMBER() OVER
        (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events e
    ) WHERE rn <= 3
    """,
)
def s_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 event values maintained incrementally — the
    mergeable-summary streaming state pattern: top-k is associative
    (topk(state ∪ batch) = topk(history)), so each micro-batch merges
    the ≤ k-rows-per-key snapshot with the batch and state stays
    bounded at k rows per key regardless of stream length — the
    leaderboard / best-offers primitive. Oracle = the batch window
    top-k over the full table: stream and batch must agree exactly
    (value ties break on event_id on both engines)."""
    state = jobs._ckpt("s_topk_state")
    src = jobs.stream_events(spark, sf_dir).select(
        "user_id", "event_id", "value"
    )
    jobs.incremental_topk_per_key(
        spark,
        src,
        key="user_id",
        score="value",
        tiebreak="event_id",
        k=3,
        state_path=state,
    )
    return jobs.read_state(spark, state).select(
        "user_id",
        "event_id",
        F.round(
            F.col("value").cast("decimal(18,2)").cast("double"), 2
        ).alias("value"),
    )


@query(
    "s_c4_gate_stream",
    oracle=f"""
    SELECT md5(text) AS content_hash,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
    FROM documents
    WHERE len(string_split(text, ' ')) BETWEEN {_C4_MIN} AND {_C4_MAX}
      AND lang = '{_C4_LANG}'
    GROUP BY 1, 2
    """,
)
def s_c4_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the x8_c4_pipeline KEEP path: the corpus
    streams in and the quality band, language keep and first-seen
    exact dedup run at ingest — predicates before the stateful dedup
    so rejected docs never grow the digest state. Oracle = the batch
    funnel's surviving digest set (stream-batch parity on the whole
    composed gate; all output columns digest-determined)."""
    sink = f"s_c4gate_{uuid.uuid4().hex[:8]}"
    jobs.streaming_c4_gate(jobs.stream_documents(spark, sf_dir), sink)
    return spark.table(sink).select("content_hash", "wc")


@query(
    "s_stream_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           ROUND(CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value,
           v.event_id AS view_id, v.ts AS v_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(v.ts AS TIMESTAMP))
     AND epoch_us(CAST(p.ts AS TIMESTAMP))
         <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
    """,
)
def s_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (purchases kept even
    with no prior-hour view — NULL view columns): the semantics the
    inner join can't show, because outer rows emit only when the
    watermark PROVES no future match exists. The job appends a
    far-future sentinel view as a second micro-batch so the watermark
    passes every real purchase and the availableNow no-data cleanup
    batch flushes every unmatched row — making the drained sink equal
    the batch LEFT JOIN exactly (oracle), instead of losing the
    stream-tail's unmatched purchases to retained state."""
    sink = f"s_ssleft_{uuid.uuid4().hex[:8]}"
    jobs.stream_stream_left_join(spark, sf_dir, sink)
    return spark.table(sink).select(
        F.col("purchase_id"),
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.round(F.col("value").cast("decimal(18,2)").cast("double"), 2).alias(
            "value"
        ),
        "view_id",
        F.col("v_ts").cast("timestamp_ntz").alias("v_ts"),
    )


@query("s_api_stream", oracle=_STAGED_SQL)
def s_api_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 as a Spark 4 PYTHON STREAMING data source
    (``SimpleDataSourceStreamReader``, ``sources/api_source.py``): the
    weather API surfaced as an unbounded snapshot stream, one
    micro-batch per ingest day, with deterministic
    ``readBetweenOffsets`` replay (synthetic documents are a pure
    function of (city, date)) — the recovery contract a production
    ingest stream needs. Oracle = the same ``read_json`` staged SQL as
    the batch DataSource twin ``w_api_source``: the drained stream
    equals the batch fixture scan exactly (stream-batch parity at the
    CONNECTOR level, not just the query level)."""
    sink = f"s_api_{uuid.uuid4().hex[:8]}"
    jobs.api_stream_ingest(spark, sink)
    return spark.table(sink)


@query("s_html_extract_stream", oracle=_HTML_ORACLE)
def s_html_extract_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``x4_html_extract`` — markup→text extraction
    as the first ingest stage (where a crawl pipeline actually runs
    it): the same stateless expression chain applied per micro-batch,
    no watermark, no state. Oracle = the batch rung's oracle verbatim:
    extraction is a pure per-row function, so the drained sink equals
    the batch scan exactly — stream-batch parity on kept/dropped
    counts, cleaned-text fingerprints, and the in-band extract_ok
    recovery proof."""
    sink = f"s_htmlx_{uuid.uuid4().hex[:8]}"
    jobs.streaming_html_extract(jobs.stream_documents(spark, sf_dir), sink)
    return spark.table(sink)


@query(
    "s_stream_full_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COALESCE(p.user_id, v.user_id) AS user_id,
           p.ts AS p_ts,
           ROUND(CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE), 2) AS value,
           v.event_id AS view_id, v.ts AS v_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(v.ts AS TIMESTAMP))
     AND epoch_us(CAST(p.ts AS TIMESTAMP))
         <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
    """,
)
def s_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — completes the
    stream-join mode set (interval inner, LEFT OUTER, full outer):
    on top of the left join's unmatched purchases, unmatched VIEWS
    also emit with NULL purchase columns, each only once the
    watermark proves no purchase in [v_ts, v_ts + horizon] can still
    arrive. Same job and two-sided sentinel staging as
    s_stream_left_join (join_type is the only difference — the
    sentinels already park the watermark past both sides' flush
    thresholds and themselves stay in state); drained sink equals the
    batch FULL JOIN exactly."""
    sink = f"s_ssfull_{uuid.uuid4().hex[:8]}"
    jobs.stream_stream_left_join(spark, sf_dir, sink, join_type="full_outer")
    return spark.table(sink).select(
        F.col("purchase_id"),
        F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.round(F.col("value").cast("decimal(18,2)").cast("double"), 2).alias(
            "value"
        ),
        "view_id",
        F.col("v_ts").cast("timestamp_ntz").alias("v_ts"),
    )


from .multimodal import _SCENE_ORACLE  # noqa: E402


@query("s_scene_cuts_stream", oracle=_SCENE_ORACLE)
def s_scene_cuts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``mm_scene_cuts`` — shot-boundary detection as
    the first ingest stage of a video pipeline, and the multimodal
    tier's first CONNECTOR-level twin: the media payload synth and the
    Arrow frame-diff kernel are both stateless per-row/per-batch
    transforms, applied per micro-batch with no watermark or state.
    Oracle = the batch rung's oracle verbatim (the kernel is a pure
    per-clip function, so the drained sink equals the batch scan
    exactly — stream-batch parity on frame counts, cut counts, and
    first-cut indices)."""
    sink = f"s_scenes_{uuid.uuid4().hex[:8]}"
    jobs.streaming_scene_cuts(jobs.stream_documents(spark, sf_dir), sink)
    return spark.table(sink)


from .dedup import _RAW_URL_DUCK, _RAW_URL_SPARK  # noqa: E402


@query(
    "s_url_dedup_stream",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents
    ), parts AS (
      SELECT doc_id,
             lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
             split_part(split_part(url, '#', 1), '://', 2) AS rest
      FROM raw
    ), hp AS (
      SELECT doc_id, scheme,
             split_part(rest, '/', 1) AS hostport,
             substr(rest, len(split_part(rest, '/', 1)) + 1) AS path_q
      FROM parts
    ), comps AS (
      SELECT doc_id, scheme,
             regexp_replace(lower(split_part(hostport, ':', 1)),
                            '^www\\.', '') AS host,
             CASE WHEN contains(hostport, ':')
                       AND NOT (scheme = 'https'
                                AND split_part(hostport, ':', 2) = '443')
                       AND NOT (scheme = 'http'
                                AND split_part(hostport, ':', 2) = '80')
                  THEN ':' || split_part(hostport, ':', 2) ELSE '' END
               AS port,
             CASE WHEN split_part(path_q, '?', 1) = '/' THEN '/'
                  ELSE regexp_replace(split_part(path_q, '?', 1),
                                      '/$', '') END AS path,
             array_to_string(list_sort(list_filter(
               string_split(CASE WHEN contains(path_q, '?')
                                 THEN split_part(path_q, '?', 2)
                                 ELSE '' END, '&'),
               x -> x <> '' AND NOT x LIKE 'utm_%')), '&') AS query
      FROM hp
    )
    SELECT DISTINCT scheme || '://' || host || port || path
             || CASE WHEN query <> '' THEN '?' || query ELSE '' END
             AS canonical_url
    FROM comps
    """,
)
def s_url_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``x1_url_dedup`` at its real deployment point,
    the crawl frontier: raw decorated URLs canonicalize scan-side per
    micro-batch and ``dropDuplicates`` keys the state store on the
    canonical string (first-seen wins; state carries one row per page
    identity, never the decorated variants). Oracle = the batch
    DISTINCT canonical set — every output column is canonical-key-
    determined, so the check is value-exact despite free arrival
    order (the s_dedup_stream discipline, with the canonical key
    replacing the content digest)."""
    sink = f"s_urldd_{uuid.uuid4().hex[:8]}"
    src = jobs.stream_documents(spark, sf_dir).select(
        "doc_id"
    ).withColumn("url", F.expr(_RAW_URL_SPARK))
    jobs.streaming_url_dedup(src, sink)
    return spark.table(sink)


from .dedup import (  # noqa: E402
    MINHASH_BAND_ROWS as _MH_R,
    MINHASH_K as _MH_K,
    _MINHASH_HX_CTE,
    _bands_sql,
)

_MH_BANDS = _MH_K // _MH_R


@query(
    "s_minhash_dedup_stream",
    oracle=f"""
    WITH {_MINHASH_HX_CTE}, {_bands_sql("bands", _MH_R)}, wins AS (
      SELECT band, band_key, MIN(doc_id) AS keeper
      FROM bands GROUP BY band, band_key
    )
    SELECT w.keeper AS doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars
    FROM wins w JOIN documents d ON d.doc_id = w.keeper
    GROUP BY w.keeper, length(d.text)
    HAVING COUNT(*) = {_MH_BANDS}
    """,
)
def s_minhash_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup twin (VERDICT r10 ask #3) — the X2 tier's
    crawl-frontier shape, completing the ladder the X1 twins started
    (content digest ``s_dedup_stream``, canonical URL
    ``s_url_dedup_stream``; a real frontier dedups FUZZILY at ingest):
    per micro-batch the portable MinHash band keys probe-and-merge
    into a growing (band, band_key) → min-doc registry
    (jobs.streaming_minhash_dedup — mergeable-min state, so the
    drained registry is arrival-order-free), and the keeper set
    derives from the final state alone: a doc survives iff it holds
    all {_MH_BANDS} of its band keys, i.e. NO band collides with a
    lower-id doc. Oracle = the batch banded keeper set on the same
    portable signatures (md5 permutations replay in SQL — the
    x2_minhash_lsh_portable discipline); n_chars rides along so the
    row is a value check, not a bare id list. Docs under 3 words have
    no shingles hence no keys on either engine (the batch rungs'
    convention)."""
    state = jobs._ckpt("mhdd")
    src = jobs.stream_documents(spark, sf_dir)
    jobs.streaming_minhash_dedup(src, state)
    st = jobs.read_state(spark, state)
    return (
        st.groupBy("doc_id", "n_chars")
        .agg(F.count(F.lit(1)).alias("n_won"))
        .filter(F.col("n_won") == _MH_BANDS)
        .select("doc_id", "n_chars")
    )


from .dedup import (  # noqa: E402
    BLOOM_K as _BLOOM_K,
    _bloom_pos_cols,
)
from ..registry import _ORACLE as _ORACLE_REG  # noqa: E402
from ..sources.testdata import load_table as _load_table  # noqa: E402


@query("s_bloom_prefilter_stream", oracle=_ORACLE_REG["x1_bloom_prefilter"])
def s_bloom_prefilter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom-registry twin — the BOUNDED-state frontier
    shape (VERDICT-r10-ask-#3 family, completing the state-size
    ladder: exact digests grow forever (s_dedup_stream), the MinHash
    band registry grows with distinct content
    (s_minhash_dedup_stream), the Bloom position registry is CAPPED
    at BLOOM_M rows by geometry alone): registry docs stream in and
    their portable hash positions set-union into snapshot state
    (jobs.streaming_bloom_register — union is mergeable, so the
    drained registry is arrival-order-free); at drain every corpus
    doc probes the final position set and the output is EXACTLY the
    batch rung's (flag = all K positions present, ground truth rides
    along) — oracle reused VERBATIM from x1_bloom_prefilter, the
    strongest stream-batch parity statement the contract can make."""
    state = jobs._ckpt("bloomreg")
    src = jobs.stream_documents(spark, sf_dir)
    jobs.streaming_bloom_register(src, state)
    rpos = jobs.read_state(spark, state)
    doc = _load_table(spark, sf_dir, "documents")
    reg = (
        doc.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    probe = doc.select("doc_id", F.md5("text").alias("digest"))
    hits = (
        probe.select(
            "doc_id", F.explode(F.array(*_bloom_pos_cols())).alias("p")
        )
        .join(F.broadcast(rpos), "p")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    truth = probe.join(
        F.broadcast(reg.select(F.col("digest").alias("r_digest"))),
        probe.digest == F.col("r_digest"),
        "left",
    ).select("doc_id", F.col("r_digest").isNotNull().alias("in_registry"))
    return truth.join(hits, "doc_id", "left").select(
        "doc_id",
        "in_registry",
        (F.coalesce(F.col("h"), F.lit(0)) == _BLOOM_K).alias(
            "bloom_flagged"
        ),
    )


from .similarity import (  # noqa: E402
    _DUCK_CENTROIDS as _IVF_DUCK_CENTROIDS,
    _vectors as _ivf_vectors,
    ivf_quantizer as _ivf_quantizer,
)


@query(
    "s_ivf_assign_stream",
    oracle=f"""
    WITH {_IVF_DUCK_CENTROIDS}
    SELECT CAST(bucket AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           MIN(vec_id) AS min_vec,
           MAX(vec_id) AS max_vec
    FROM assigned GROUP BY bucket
    """,
)
def s_ivf_assign_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF assignment — the X3 similarity tier's frontier
    twin: the online-index shape, where a serving index is built
    OFFLINE (here: ``ivf_quantizer``'s label-centroid quantizer,
    collected k-bounded and broadcast — frozen for the stream's
    lifetime) and arriving
    vectors fold into a per-cell occupancy registry
    (jobs.streaming_ivf_assign — count/min/max are mergeable, so the
    drained registry is arrival-order-free and bounded at k rows by
    index geometry, the Bloom-registry bound with cells for bits).
    Oracle = the batch IVF assignment on the SAME centroids
    (_DUCK_CENTROIDS' assigned CTE — the x1_bloom_prefilter-style
    verbatim-oracle reuse), aggregated per cell; min/max vec_id ride
    along so the row is a value check on cell MEMBERSHIP edges, not a
    bare count."""
    emb = _load_table(spark, sf_dir, "embeddings")
    _, bc, _ = _ivf_quantizer(_ivf_vectors(emb, "label"))
    state = jobs._ckpt("ivfassign")
    jobs.streaming_ivf_assign(jobs.stream_embeddings(spark, sf_dir), state, bc)
    return jobs.read_state(spark, state).select(
        "cluster", "n_assigned", "min_vec", "max_vec"
    )


from .text_analysis import DOMAIN_DOC_CAP as _DOM_CAP  # noqa: E402


@query("s_domain_caps_stream", oracle=_ORACLE_REG["x8_domain_caps"])
def s_domain_caps_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming domain-quota twin — the X8 curation tier's frontier
    shape, the last extension tier without one: docs stream in and the
    per-domain top-{_DOM_CAP} registry (priority n_chars DESC, doc_id
    tiebreak — the batch rung's exact order) merges per micro-batch
    (jobs.streaming_domain_caps; per-key top-N is mergeable, so the
    drained keep set is arrival-order-free and bounded at
    |domains| × cap rows by quota geometry). At drain, domain_rank
    derives from the final ≤|domains|×cap-row state alone — oracle
    reused VERBATIM from x8_domain_caps, the strongest stream-batch
    parity statement the contract can make (the
    s_bloom_prefilter_stream discipline)."""
    from pyspark.sql.window import Window

    state = jobs._ckpt("domcaps")
    jobs.streaming_domain_caps(jobs.stream_documents(spark, sf_dir), state)
    st = jobs.read_state(spark, state)
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return st.withColumn(
        "domain_rank", F.row_number().over(w).cast("long")
    ).select("doc_id", "domain", "domain_rank")


from .graph import SUPP_OFFSET as _SUPP_OFF  # noqa: E402


@query("s_degree_hist_stream", oracle=_ORACLE_REG["x9_degree_hist"])
def s_degree_hist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming graph twin — the X9 tier's frontier shape, the last
    extension tier without one: lineitem facts stream in, join the
    static orders dimension per micro-batch, and the DISTINCT
    (customer, supplier) edge set accretes as the state registry
    (jobs.streaming_edge_registry — set union is mergeable, state ∝
    distinct edges, never arriving facts). The degree distribution
    derives from the drained registry alone — one endpoint explode +
    partial-agg count + log2 bucketing, the batch rung's exact shape —
    so the oracle is x9_degree_hist VERBATIM (the strongest
    stream-batch parity statement the contract can make)."""
    state = jobs._ckpt("edgereg")
    orders = _load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    jobs.streaming_edge_registry(
        jobs.stream_lineitem(spark, sf_dir), orders, state
    )
    deg = (
        jobs.read_state(spark, state)
        .select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(
        F.when(F.col("node") >= _SUPP_OFF, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        (F.length(F.bin("d")) - 1).cast("long").alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").cast("long").alias("min_deg"),
        F.max("d").cast("long").alias("max_deg"),
    )


from .text_analysis import (  # noqa: E402
    CMS_TOP as _CMS_TOP,
    _cms_pos_structs as _cms_pos,
    cms_term_counts as _cms_tc,
)


@query("s_countmin_stream", oracle=_ORACLE_REG["x4_countmin_sketch"])
def s_countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min twin — the sketch CMS was designed to be
    (cells merge by addition, so per-batch partial sketches SUM into
    the running state; jobs.streaming_countmin): docs stream in, the
    d x w cell registry accretes (bounded by sketch geometry alone —
    the Bloom cap with counters for bits), and at drain the
    top-{_CMS_TOP} candidates' estimates read from the final sketch
    against batch-exact truth — oracle reused VERBATIM from
    x4_countmin_sketch (the s_bloom_prefilter_stream discipline: the
    stream builds the registry, the drain check replays the batch
    rung exactly)."""
    state = jobs._ckpt("cms")
    jobs.streaming_countmin(jobs.stream_documents(spark, sf_dir), state)
    cells = jobs.read_state(spark, state)
    doc = _load_table(spark, sf_dir, "documents")
    tc = _cms_tc(doc).withColumnRenamed("n", "true_count")
    cand = (
        tc.orderBy(F.col("true_count").desc(), "term")
        .limit(_CMS_TOP)
        .select("term", "true_count")
    )
    cand_pos = cand.select(
        "term",
        "true_count",
        F.explode(F.array(*_cms_pos())).alias("ip"),
    ).select(
        "term", "true_count", F.col("ip.i").alias("i"), F.col("ip.p").alias("p")
    )
    return (
        cand_pos.join(F.broadcast(cells), ["i", "p"])
        .groupBy("term", "true_count")
        .agg(F.min("cell").alias("est_count"))
        .select(
            "term",
            F.col("true_count").cast("long").alias("true_count"),
            F.col("est_count").cast("long").alias("est_count"),
            F.expr(
                "(est_count - true_count) * 1000000 DIV true_count"
            ).cast("long").alias("over_ppm"),
        )
    )


@query(
    "s_decontaminate_stream",
    oracle=_ORACLE_REG["x2_decontaminate_containment"],
)
def s_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination twin — the X2 dedup tier's ingest-side
    frontier for the dedup-against-test protocol: the training corpus
    streams in (jobs.stream_documents) while the benchmark side is the
    frozen static relation it is in production, shingled once and
    broadcast into every micro-batch's check. Stateless per batch (a
    doc's shingles arrive with the doc — see jobs.streaming_
    decontaminate), so stream state is ZERO rows regardless of corpus
    size; the drained append sink must equal the batch rung exactly —
    oracle reused VERBATIM from x2_decontaminate_containment."""
    from .dedup import shingle_arrays as _shingles

    sink = os.path.join(jobs.SCRATCH, f"deconflags_{uuid.uuid4().hex[:8]}")
    doc = _load_table(spark, sf_dir, "documents")
    ev = _shingles(doc.filter(F.col("doc_id") % 7 == 0), 3).select(
        F.col("doc_id").alias("eval_doc"),
        F.size("grams").alias("n_ev"),
        F.explode("grams").alias("shingle"),
    )
    jobs.streaming_decontaminate(
        jobs.stream_documents(spark, sf_dir), ev, sink
    )
    # ADVICE r13: if the availableNow drain fired ZERO micro-batches
    # (empty/missing source) foreachBatch never ran and the sink dir
    # was never created — return the oracle's empty relation instead
    # of letting the read throw AnalysisException.
    flags_schema = "doc_id long, n_eval_hits long, max_containment double"
    if not os.path.isdir(sink):
        return spark.createDataFrame([], flags_schema)
    return spark.read.schema(flags_schema).parquet(sink)


@query(
    "s_cdc_chunk_stream",
    oracle=_ORACLE_REG["x1_cdc_chunk_dedup"],
)
def s_cdc_chunk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC chunk-registry twin — the X1 exact-dedup tier's
    STORAGE-layer frontier: documents stream in, each micro-batch's
    content-defined chunks ADD their counts into the registry
    (jobs.streaming_cdc_registry — counts merge by addition, so the
    drained registry is the batch corpus-wide chunk df under any
    arrival order; CDC boundaries are local, so a doc cuts identically
    whenever it arrives). At drain every corpus doc re-chunks once and
    joins the registry's final counts — the per-doc dedup report is
    EXACTLY the batch rung's (oracle reused VERBATIM from
    x1_cdc_chunk_dedup, the Bloom-twin parity statement). State rows =
    |distinct chunks| — grows with content novelty, never with
    re-ingested duplicate volume (BENCH_STREAM_SCALE `cdc_registry`)."""
    from .dedup import cdc_chunks as _cdc_chunks

    state = jobs._ckpt("cdcreg")
    jobs.streaming_cdc_registry(jobs.stream_documents(spark, sf_dir), state)
    reg = jobs.read_state(spark, state)
    chunks = _cdc_chunks(
        _load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return (
        chunks.join(F.broadcast(reg), "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("df") > 1).cast("int"))
            .cast("long")
            .alias("dup_chunks"),
            F.expr(
                "CAST(SUM(CASE WHEN df > 1 THEN clen ELSE 0 END)"
                " * 1000000 DIV MAX(n) AS LONG)"
            ).alias("dup_token_ppm"),
        )
    )


@query(
    "s_record_linkage_stream", oracle=_ORACLE_REG["x2_record_linkage"]
)
def s_record_linkage_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming entity-resolution twin — customer records stream in
    (the MDM-ingest frontier: re-ingests, migrations, CDC replays)
    and the COLLAPSE stage runs as a mergeable state registry
    (jobs.streaming_record_registry: per-(name, nation, cents)
    min-custkey / member-count / key-sum — min of mins, sum of sums,
    so the drained registry equals the batch collapse under ANY
    arrival order or batching, replay-guarded because counts add).
    At drain, BLOCK/MATCH/CLUSTER run over the registry via the batch
    rung's OWN ``_rl_link_groups`` — identical code after the state
    read — so the oracle is x2_record_linkage VERBATIM (the
    s_bloom_prefilter_stream discipline, the strongest stream-batch
    parity statement the contract can make). State rows = |distinct
    attribute combinations| — the rung's collapse scale property
    carried into streaming: arriving duplicate volume only increments
    counters, never grows state or downstream pair work."""
    from .dedup import RL_BAL_CENTS as _RL_W
    from .dedup import _rl_link_groups

    state = jobs._ckpt("recreg")
    jobs.streaming_record_registry(jobs.stream_customer(spark, sf_dir), state)
    grp = jobs.read_state(spark, state).withColumn(
        "bucket", F.floor(F.col("bal_cents") / F.lit(_RL_W))
    )
    return _rl_link_groups(grp)
