"""Structured Streaming restatement of the reference's incremental shape
(SURVEY.md §2.8).

The reference's cadence — files land under ``data/{date}/`` daily
(weather_etl.py:33-40), each run processes the new partition
(weather_etl.py:63), flagship = latest-per-key (weather_etl.py:145) — is a
textbook incremental stream. Spark-native forms:

- file stream source over the raw tree (schema-full; new files are
  discovered per trigger, ``availableNow`` = process-backlog-then-stop,
  which replaces Airflow's daily batch + catchup);
- latest-per-key state via ``foreachBatch`` running the batch O15 plan on
  (state ∪ new batch) — the engine's batch operator reused incrementally,
  exactly once per trigger;
- event-time windows: tumbling ``F.window`` and gap-based
  ``F.session_window`` aggregations with watermarks for late data.

Every job takes ``trigger(availableNow=True)`` and a checkpoint dir, so
tests and batch-parity oracles run it to completion deterministically.

Versioned state: the ten state registries (latest-per-key, per-key
top-k, and the frontier registries from the MinHash band keys to the
collapsed-record registry) each supply only a ``fold(batch, prev,
batch_id)``; one step, ``_versioned_merge``, does the rest. A state
directory holds immutable snapshot directories plus a ``_VERSION``
pointer: each micro-batch writes a NEW snapshot and atomically flips
the pointer, so readers (``read_state``) never see a torn state. The
snapshot name starts ``v{run token}b{batch id}-``, where the run token
hashes the checkpoint path (the stream's lineage). foreachBatch is
at-least-once: a crash after the flip and before the checkpoint commit
re-delivers the batch on restart, so a batch whose prefix already heads
``_VERSION`` is skipped — additive registries never double-count, and
every other registry is left as it was.

Each snapshot records its schema as ``_SCHEMA.json`` (written after the
parquet files, before the flip), and the next trigger's ``prev`` and
``read_state`` read the snapshot under it, so no read runs parquet's
footer-inference job: a trigger over existing state runs 2 Spark jobs
(the fold's shuffle and the write), the same as the first trigger. A
snapshot without the file (one written before schemas were recorded)
is read by footer inference. After the flip the step deletes every
snapshot but the live one and its predecessor, so a state directory
holds at most two and a reader still scanning the previous
``read_state`` keeps its files. Checkpoints the jobs create for
themselves (no ``checkpoint`` argument) are deleted once the query has
terminated, since no caller knows their path to resume them; a caller's
checkpoint is kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.tokens import words
from ..schemas import TESTDATA, WEATHER_RAW

#: Scratch root for checkpoints/state (inside the repo; gitignored).
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def _ckpt(tag: str) -> str:
    path = os.path.join(SCRATCH, f"{tag}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path, exist_ok=True)
    return path


@contextmanager
def _checkpoint(tag: str, checkpoint: str | None) -> Iterator[str]:
    """The caller's ``checkpoint``, or a fresh ``_ckpt`` directory that is
    deleted on exit: nothing can resume a checkpoint whose path only this
    call knows."""
    if checkpoint is not None:
        yield checkpoint
        return
    path = _ckpt(tag)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def stream_raw_weather(spark: SparkSession, root: str) -> DataFrame:
    """File-stream source over the raw weather tree (O3's streaming twin).
    Explicit schema — a streaming source must never infer."""
    return (
        spark.readStream.schema(WEATHER_RAW)
        .option("pathGlobFilter", "*.txt")
        .json(os.path.join(root, "data", "*"))
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events parquet (same footer-sniffed unit
    handling as the batch reader, sources/testdata.py — the driver has
    shipped both ns- and µs-unit testdata across rounds).

    ``ts`` stays TIMESTAMP here (not NTZ): watermarks require an instant
    type. The session timezone is pinned UTC (session.tune), so
    NTZ↔TIMESTAMP casts at the job edges are exact identities."""
    from ..sources.testdata import EVENTS_TS_NTZ, events_ts_unit

    if events_ts_unit(sf_dir) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(TESTDATA["events"])
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(EVENTS_TS_NTZ)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the documents parquet (the ingest-side view of a
    training corpus: docs arrive continuously)."""
    return (
        spark.readStream.schema(TESTDATA["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the embeddings parquet (the online-index view of
    an embedding corpus: new vectors arrive continuously and must be
    folded into a serving index built offline)."""
    return (
        spark.readStream.schema(TESTDATA["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def streaming_dedup(source: DataFrame, sink_table: str) -> None:
    """Streaming exact dedup: first-seen wins per md5(text) — the
    exactly-once ingest gate of a training-data pipeline, as
    ``dropDuplicates`` on the 16-byte content digest (state carries the
    digest, never document bytes). Output columns are all functionally
    dependent on the digest, so the result is deterministic even though
    which physical row survives is arrival-order-dependent. Unbounded
    keys ⇒ unbounded state by design here (the corpus-lifetime dedup
    set); with an ingest-time column the same job bounds state via
    ``dropDuplicatesWithinWatermark`` — the knob is orthogonal to the
    plan shape."""
    deduped = source.select(
        F.md5("text").alias("content_hash"),
        F.length("text").alias("n_chars"),
    ).dropDuplicates(["content_hash"])
    run_to_completion(
        deduped.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"dedup-{sink_table}",
    )


def run_to_completion(writer, tag: str, checkpoint: str | None = None):
    """Start with availableNow (drain backlog, stop) and block until done.
    A caller-supplied ``checkpoint`` makes repeat runs incremental: only
    files not yet recorded in the checkpoint's file log are processed;
    without one, the checkpoint made here is deleted once the query ends."""
    with _checkpoint(tag, checkpoint) as path:
        q = writer.option("checkpointLocation", path).trigger(
            availableNow=True
        ).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()  # a no-op once drained; an interrupted wait stops the query
    return q


#: A snapshot's schema, as ``StructType.json()`` (hidden from parquet scans).
_SCHEMA = "_SCHEMA.json"


def _state_version(state_path: str) -> str | None:
    ptr = os.path.join(state_path, "_VERSION")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip() or None


def _read_snapshot(spark: SparkSession, state_path: str, version: str) -> DataFrame:
    """One snapshot, read under its recorded schema when it has one."""
    snap = os.path.join(state_path, version)
    try:
        with open(os.path.join(snap, _SCHEMA)) as f:
            schema = StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return spark.read.parquet(snap)  # written before schemas were recorded
    return spark.read.schema(schema).parquet(snap)


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the current snapshot of an incremental state directory."""
    version = _state_version(state_path)
    if version is None:
        raise FileNotFoundError(f"no state snapshot at {state_path}")
    return _read_snapshot(spark, state_path, version)


def _versioned_merge(
    source: DataFrame,
    state_path: str,
    fold: Callable[[DataFrame, DataFrame | None, int], DataFrame],
    tag: str,
    checkpoint: str | None = None,
) -> None:
    """Drain ``source`` into the versioned state at ``state_path``: per
    micro-batch, ``fold(batch, prev, batch_id)`` returns the next state
    from the batch and the current snapshot (``prev=None`` before the
    first one).

    Snapshot protocol: the step writes the fold's result to a NEW
    directory ``v{token}b{batch_id}-{uuid}``, then atomically replaces
    the ``_VERSION`` pointer (tmp file + ``os.replace``) — the
    write-new-then-swap protocol of Delta/Iceberg, done by hand so the
    engine carries no table-format dependency. Each step rewrites the
    full state, so a drain costs O(batches × |state|). The step also
    records the snapshot's schema and deletes superseded snapshots
    (module docstring); that assumes one writer per state directory, as
    the pointer flip already does.

    Replay rule: the run token is the checkpoint path's hash (a fresh
    checkpoint, hence a fresh token, when ``checkpoint=None``). A true
    at-least-once replay restarts from the same checkpoint, so it
    carries the same (token, batch id) and finds that prefix already
    heading ``_VERSION``: the batch is skipped. A new lineage (fresh
    checkpoint, batch ids restarting at 0) against the same state has a
    different token and merges normally. Skipping is right for every
    fold — additive ones would double-count, idempotent ones would
    rewrite the same state — and costs one string compare on the
    version the step reads anyway."""
    with _checkpoint(tag, checkpoint) as checkpoint:
        token = hashlib.sha1(checkpoint.encode()).hexdigest()[:8]

        def step(batch: DataFrame, batch_id: int) -> None:
            version = _state_version(state_path)
            head = f"v{token}b{batch_id}-"
            if version is not None and version.startswith(head):
                return  # at-least-once replay: same lineage, same batch id
            prev = (
                None
                if version is None
                else _read_snapshot(batch.sparkSession, state_path, version)
            )
            new_version = head + uuid.uuid4().hex[:8]
            snap = os.path.join(state_path, new_version)
            state = fold(batch, prev, batch_id)
            state.write.parquet(snap)
            with open(os.path.join(snap, _SCHEMA), "w") as f:
                f.write(state.schema.json())
            tmp = os.path.join(state_path, f"_VERSION.{new_version}")
            with open(tmp, "w") as f:
                f.write(new_version)
            os.replace(tmp, os.path.join(state_path, "_VERSION"))  # atomic flip
            # The predecessor stays: a reader of the last read_state may still scan it.
            for name in os.listdir(state_path):
                if name.startswith("v") and name not in (new_version, version):
                    shutil.rmtree(os.path.join(state_path, name), ignore_errors=True)

        run_to_completion(
            source.writeStream.foreachBatch(step).outputMode("update"), tag, checkpoint
        )


def incremental_latest_per_key(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    order: str,
    tiebreak: str,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Latest-per-key maintained incrementally: each micro-batch merges into
    a state snapshot via the batch O15 plan over (state ∪ batch) — the
    §2.8 'latest-per-key state' pattern with exactly-once output per
    trigger. The per-batch plan is one shuffle on the key."""
    from ..operators.flagship import latest_per_key

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        merged = batch if prev is None else prev.unionByName(batch)
        return latest_per_key(merged, key, order, tiebreak)

    _versioned_merge(source, state_path, fold, "latest-state", checkpoint)


def tumbling_counts(source: DataFrame, sink_table: str) -> None:
    """Tumbling 1h event-time window agg with a 1-day watermark (§2.8's
    'one-table-per-day' cadence as a real window). Complete mode → the
    memory sink holds every window, comparable to the batch oracle."""
    agg = (
        source.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    run_to_completion(
        agg.writeStream.format("memory").queryName(sink_table).outputMode("complete"),
        f"tumbling-{sink_table}",
    )


def m4_hourly(source: DataFrame, sink_table: str) -> None:
    """Streaming M4 downsampling at ingest: per tumbling 1h event-time
    window and event_type, the first/last/min/max points (values AND
    their timestamps) — the dashboard-feed reduction of
    x6_m4_downsample run incrementally. Every statistic is a
    declarative aggregate with a partial merge (min/max/min_by/max_by),
    so state per OPEN window is O(1) regardless of event volume.
    Test-harness caveat: this job runs outputMode('complete') into the
    memory sink so the batch oracle can compare every window, which
    retains all window rows for the run's lifetime — total sink+state
    is O(#windows), not watermark-bounded. A production deploy flips
    to append mode, where the 1-day watermark evicts closed windows
    and the O(1)-per-open-window bound is the whole story.
    Determinism matches the batch twin: integer-cent ordering keys
    with (ts, event_id) tiebreaks inside the min_by/max_by structs."""
    v = F.round(F.col("value").cast("decimal(18,2)").cast("double"), 2)
    prepped = source.select(
        "ts",
        "event_type",
        "event_id",
        v.alias("v"),
        F.round(v * 100).cast("long").alias("y"),
    )
    tie = F.struct("ts", "event_id")
    agg = (
        prepped.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("ts_first"),
            F.min_by("v", tie).alias("v_first"),
            F.max("ts").alias("ts_last"),
            F.max_by("v", tie).alias("v_last"),
            F.min("v").alias("v_min"),
            F.min_by("ts", F.struct("y", "ts", "event_id")).alias("ts_min"),
            F.max("v").alias("v_max"),
            F.min_by(
                "ts", F.struct((F.col("y") * -1).alias("ny"), "ts", "event_id")
            ).alias("ts_max"),
        )
    )
    run_to_completion(
        agg.writeStream.format("memory").queryName(sink_table).outputMode("complete"),
        f"m4-{sink_table}",
    )


def session_windows(source: DataFrame, sink_table: str, gap: str = "30 minutes") -> None:
    """Native stateful sessionization: ``session_window`` aggregation,
    append mode (the only mode session windows support on streams).

    Zero watermark delay → when the availableNow run drains, the final
    no-data batch flushes every *closed* session (end ≤ max event time);
    still-open sessions (the last one per key) correctly stay in state
    awaiting more data — that withheld tail IS the streaming semantics,
    not a bug."""
    agg = (
        source.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_to_completion(
        agg.writeStream.format("memory").queryName(sink_table).outputMode("append"),
        f"session-{sink_table}",
    )


def stream_stream_interval_join(
    source: DataFrame, sink_table: str, horizon: str = "1 hour"
) -> None:
    """Watermarked stream-stream inner join: purchases matched to every
    view by the same user within ``horizon`` before the purchase.

    Both sides carry a watermark and the join condition bounds event-time
    distance, so Spark can expire join state: a buffered view is dropped
    once the purchase-side watermark passes ``view ts + horizon`` —
    bounded state on an unbounded stream. With availableNow all input
    lands in one micro-batch and inner-join results emit immediately, so
    the memory sink equals the batch interval join exactly."""
    views = source.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("v_ts", horizon)
    purchases = source.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    ).withWatermark("p_ts", horizon)
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    run_to_completion(
        joined.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"ssjoin-{sink_table}",
    )


def sliding_counts(
    source: DataFrame, sink_table: str, size: str = "1 hour", slide: str = "30 minutes"
) -> None:
    """Hopping-window event-time agg (size/slide overlapping windows per
    event — 2 at the defaults). Same watermark/state machinery as
    ``tumbling_counts``; state rows scale by the overlap factor, which is
    why production slides are chosen as small integer fractions of the
    window. Complete mode → memory sink equals the batch hopping agg."""
    agg = (
        source.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", size, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    run_to_completion(
        agg.writeStream.format("memory").queryName(sink_table).outputMode("complete"),
        f"sliding-{sink_table}",
    )


def incremental_topk_per_key(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    score: str,
    tiebreak: str,
    k: int,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Per-key top-k maintained incrementally — the mergeable-summary
    state pattern: topk(state ∪ batch) == topk(full history) because
    per-key top-k is an associative, idempotent summary (any row outside
    a key's current top-k can never re-enter). Each micro-batch merges
    the previous ≤ k-rows-per-key snapshot with the batch and re-takes
    the top-k; state stays bounded at k rows per key FOREVER, so the
    merge cost tracks the ACTIVE keys per trigger, not history."""
    from pyspark.sql.window import Window as W

    def topk(df: DataFrame) -> DataFrame:
        w = W.partitionBy(key).orderBy(
            F.col(score).desc(), F.col(tiebreak)
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        merged = batch if prev is None else prev.unionByName(batch)
        # Rows re-delivered as a NEW file (not a replayed batch, which
        # the step skips) would each occupy a second top-k slot and
        # evict a legitimate one (latest_per_key survives this because
        # rn=1 collapses duplicates; top-k does not). (key, tiebreak) is
        # the event identity, so idempotency is exact.
        return topk(merged.dropDuplicates([key, tiebreak]))

    _versioned_merge(source, state_path, fold, "topk-state", checkpoint)


def streaming_c4_gate(source: DataFrame, sink_table: str):
    """The C4-style cleaning funnel at INGEST time: quality gate
    (word-count band) → language keep → first-seen exact dedup, as one
    streaming pipeline — the stream twin of the x8_c4_pipeline batch
    funnel's keep path. The cheap scan-side predicates run BEFORE the
    stateful dedup, so rejected documents never enter (or grow) the
    digest state store — at ingest scale the state carries only
    accepted-corpus digests. Output columns are digest-determined
    (hash, word count), so the drained sink is deterministic under any
    arrival order."""
    from ..operators.text_analysis import (
        C4_KEEP_LANG,
        C4_MAX_WORDS,
        C4_MIN_WORDS,
    )

    wc = F.size(words())
    gated = (
        source.filter(
            (wc >= C4_MIN_WORDS)
            & (wc <= C4_MAX_WORDS)
            & (F.col("lang") == C4_KEEP_LANG)
        )
        .select(
            F.md5("text").alias("content_hash"),
            wc.cast("long").alias("wc"),
        )
        .dropDuplicates(["content_hash"])
    )
    return run_to_completion(
        gated.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"c4gate-{sink_table}",
    )


def stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str,
    horizon: str = "1 hour",
    join_type: str = "left_outer",
) -> None:
    """Watermarked stream-stream LEFT OUTER join — the capability inner
    joins don't exercise: an unmatched purchase must eventually emit
    with NULL view columns, and "eventually" is an event-time fact —
    the row can only emit once the watermark proves no future view can
    still match (v_ts ≥ p_ts − horizon is impossible once watermark >
    p_ts). A drain that stops before the watermark passes the stream's
    tail would silently LOSE the tail's unmatched rows, so this job
    stages the events file plus a SENTINEL view at max(ts) + 2·horizon
    as a second file and processes them as separate micro-batches
    (maxFilesPerTrigger=1): the sentinel batch advances the watermark
    past every real purchase, and the no-data cleanup batch that
    availableNow appends flushes every remaining null row. The memory
    sink then equals the batch LEFT JOIN exactly — deterministic
    stream-batch parity for OUTER results."""
    import tempfile

    from ..sources.testdata import EVENTS_TS_NTZ, events_ts_unit

    # the staged copy is only read while the query runs; the memory sink
    # holds the drained rows, so the directory goes once it returns
    with tempfile.TemporaryDirectory(prefix="ssleft_", dir=SCRATCH) as work:
        src_file = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src_file, os.path.join(work, "a_events.parquet"))
        # sentinel: one far-future view for a user id no purchase carries.
        # Unit sniff + legacy conf BEFORE the read — parquet schema
        # inference is eager, and TIMESTAMP(NANOS) without nanosAsLong
        # fails at DataFrame creation, not at collect.
        unit = events_ts_unit(sf_dir)
        if unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            max_ts = spark.read.parquet(src_file).agg(
                F.max(F.timestamp_micros(F.expr("ts div 1000")))
            ).collect()[0][0]
        else:
            max_ts = spark.read.parquet(src_file).agg(
                F.max(F.col("ts").cast("timestamp"))
            ).collect()[0][0]
        sent_dir = os.path.join(work, "_sentinel_build")
        # sentinels on BOTH sides: the global watermark is the MIN across
        # the two watermark operators (default multipleWatermarkPolicy), so
        # a view-only sentinel leaves the purchase side's max — and with it
        # the global watermark — stuck at the real stream's tail (observed:
        # wm never advanced and the tail's unmatched rows never flushed).
        # Distinct negative user ids keep the two sentinels from matching
        # each other, the view side never appears in left-join output, and
        # the sentinel purchase itself stays in state (wm stops 1·horizon
        # short of it) so it never emits either.
        # far enough that the engine's CONSERVATIVE state watermark
        # (global watermark minus the interval slack) still clears
        # every real purchase: watermark arithmetic subtracts the
        # horizon once more on the buffered side, so 2·horizon is the
        # minimum and 4·horizon leaves margin
        sent_ts = (F.col("ts") + F.expr(f"INTERVAL {horizon}") * 4).cast(
            "timestamp"
        )
        # the sentinel file must carry the SAME physical ts unit as the
        # staged source copy — the stream reads the whole dir under one
        # schema. ns sources stage ns longs, so the sentinel writes ns
        # longs too (mirroring stream_events' unit handling, ADVICE r8);
        # µs sources write NTZ, matching EVENTS_TS_NTZ.
        if unit == "ns":
            sent_ts = (F.unix_micros(sent_ts) * F.lit(1000)).alias("ts")
        else:
            sent_ts = sent_ts.cast("timestamp_ntz").alias("ts")
        spark.createDataFrame(
            [
                (int(-1), max_ts, int(-2), "view", 0.0, None),
                (int(-2), max_ts, int(-1), "purchase", 0.0, None),
            ],
            schema="event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).select(
            "event_id",
            sent_ts,
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.mode("overwrite").parquet(sent_dir)
        part = sorted(
            p for p in os.listdir(sent_dir) if p.endswith(".parquet")
        )[0]
        # TWO sentinel batches: the watermark a batch RUNS WITH comes from
        # the PREVIOUS batch's max event time, and availableNow terminates
        # after the last data batch without a trailing no-data cleanup
        # batch — so the flush of the stream-tail's unmatched purchases
        # needs a data batch that EXECUTES after the watermark has already
        # passed them. Sentinel 1 advances the watermark; sentinel 2 is
        # the batch that runs under it and emits the tail's null rows.
        shutil.copy(
            os.path.join(sent_dir, part), os.path.join(work, "b_sentinel.parquet")
        )
        shutil.copy(
            os.path.join(sent_dir, part), os.path.join(work, "c_sentinel.parquet")
        )
        if unit == "ns":
            # the staged copy keeps the source's ns unit and the sentinel
            # above was written as ns longs, so the whole dir reads under
            # the long-ts schema and converts exactly as stream_events
            # does (nanosAsLong was set when max_ts was computed). Covered
            # by test_stream_left_join_ns_unit against a synthetic ns
            # fixture — not dead code even though driver testdata has
            # shipped µs since round 3.
            raw = (
                spark.readStream.schema(TESTDATA["events"])
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .parquet(work)
                .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            )
        else:
            raw = (
                spark.readStream.schema(EVENTS_TS_NTZ)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .parquet(work)
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
        views = raw.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        ).withWatermark("v_ts", horizon)
        purchases = raw.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        ).withWatermark("p_ts", horizon)
        # join_type="full_outer" adds the symmetric capability: unmatched
        # VIEWS also emit (NULL purchase columns) once the watermark proves
        # no purchase in [v_ts, v_ts + horizon] can still arrive. The same
        # two-sided sentinel staging covers it: the watermark parks ~3x
        # horizon past the real tail, clearing v_ts + horizon for every
        # real view, while both sentinels stay in state (4x horizon out)
        # and never reach the sink on either side of either mode.
        joined = purchases.join(
            views,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
            join_type,
        )
        run_to_completion(
            joined.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode("append"),
            f"ssleft-{sink_table}",
        )


def api_stream_ingest(
    spark: SparkSession, sink_table: str, timeout_s: float = 120.0
) -> None:
    """Drain the weather-API STREAMING source (one micro-batch per
    ingest day) into a memory sink. availableNow can't drain it — a
    Python SimpleDataSourceStreamReader prefetches exactly one batch
    ahead, so "available now" is one day, not the axis — hence a
    continuous trigger polled until the source's date axis is
    exhausted (row count = |dates|·|cities|, both known from the
    source's own options) and then stopped. The flatten is the same
    staging projection the batch path uses."""
    import time as _t

    from ..sources import api_source
    from ..sources import weather as wsrc
    from ..transforms import flatten_raw

    api_source.register(spark)
    src = flatten_raw(
        spark.readStream.format("weather_api").load(), with_ingest_date=True
    )
    expected = len(wsrc.CITIES) * len(wsrc.FIXTURE_DATES)
    with _checkpoint(f"apistream-{sink_table}", None) as checkpoint:
        q = (
            src.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .start()
        )
        deadline = _t.time() + timeout_s
        try:
            while _t.time() < deadline:
                if spark.table(sink_table).count() >= expected:
                    break
                _t.sleep(0.3)
            else:
                raise TimeoutError(
                    f"api stream drained {spark.table(sink_table).count()} of "
                    f"{expected} rows within {timeout_s}s"
                )
        finally:
            q.stop()
            q.awaitTermination()


def streaming_html_extract(source: DataFrame, sink_table: str) -> None:
    """Markup→text extraction at INGEST time — the stream twin of
    ``x4_html_extract``: the extraction chain is stateless per-row
    expressions (``operators.text_analysis.html_extract_frame``), so it
    drops into the micro-batch plan unchanged, runs scan-side on each
    arriving file, and needs no watermark or state store. This is where
    a real crawl pipeline runs extraction — before anything is stored —
    so the drained sink must equal the batch scan row-for-row
    (stream-batch parity on the full transform)."""
    from ..operators.text_analysis import html_extract_frame

    run_to_completion(
        html_extract_frame(source.select("doc_id", "text"))
        .writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"htmlx-{sink_table}",
    )


def streaming_scene_cuts(source: DataFrame, sink_table: str) -> None:
    """Scene-cut detection at INGEST time — the stream twin of
    ``mm_scene_cuts`` and the multimodal tier's first connector-level
    twin: the media synth is pure per-row expressions
    (``operators.multimodal.media_frame``) and the frame-diff kernel is
    a stateless Arrow ``mapInPandas`` pass, so both drop into the
    micro-batch plan unchanged — no watermark, no state store. A video
    pipeline segments clips before storing them (cuts gate frame
    sampling and clip dedup), so the drained sink must equal the batch
    scan row-for-row (stream-batch parity on the full kernel)."""
    from ..operators.multimodal import (
        _SCENE_SCHEMA,
        _scene_cut_batches,
        media_frame,
    )

    cuts = (
        media_frame(source)
        .filter(F.col("media_type") == "video/mp4")
        .mapInPandas(_scene_cut_batches, schema=_SCENE_SCHEMA)
    )
    run_to_completion(
        cuts.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"scenecuts-{sink_table}",
    )


def streaming_url_dedup(source: DataFrame, sink_table: str) -> None:
    """URL-canonicalization dedup at the CRAWL FRONTIER — the stream
    twin of ``x1_url_dedup`` and the op's real deployment point (a
    frontier dedups fetch candidates as they arrive, before any fetch
    is spent): the canonical rules are pure per-row expressions
    (``operators.dedup.with_canonical_url``), so they run scan-side
    per micro-batch, and ``dropDuplicates`` keys the state store on
    the CANONICAL string — state carries one canonical URL per page
    identity, never the raw decorated variants (the same
    state-payload discipline as streaming_dedup's 16-byte digests).
    Output columns are canonical-key-determined, so the drained sink
    equals the batch distinct canonical set exactly even though which
    raw variant arrives first is order-dependent."""
    from ..operators.dedup import with_canonical_url

    deduped = (
        with_canonical_url(source)
        .select("canonical_url")
        .dropDuplicates(["canonical_url"])
    )
    run_to_completion(
        deduped.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append"),
        f"urldedup-{sink_table}",
    )


def streaming_minhash_dedup(
    source: DataFrame, state_path: str, checkpoint: str | None = None
) -> None:
    """MinHash NEAR-dup dedup at the crawl frontier — the X2 tier's
    first streaming twin: per micro-batch, the portable banded-LSH keys
    of the batch's docs
    (``operators.dedup.minhash_band_keys`` — the batch rung's exact key
    derivation) merge into a growing band-key REGISTRY keyed on
    (band, band_key), keeping the MIN-doc_id holder per key. Min is
    MERGEABLE state — min(state ∪ batch) = min(history), the
    s_topk_stream discipline — so the drained registry is
    arrival-order-FREE and a batch oracle replays it exactly; state
    carries one (band, band_key, keeper, n_chars) row per DISTINCT
    band key, never documents and never candidate pairs (state size ∝
    distinct content regions, the crawl-frontier bound measured in
    BENCH_STREAM_SCALE.json). The keep decision derives at drain: a
    doc survives iff it holds ALL of its bands' keys — the frontier's
    drop-on-any-band-collision policy with crawl-id order standing in
    for arrival order (what makes the keeper set deterministic under
    availableNow's free micro-batching; a literal first-ARRIVED
    registry is the same plan with min over an ingest stamp)."""
    from ..operators.dedup import minhash_band_keys

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        keys = minhash_band_keys(batch).select("band", "band_key", "doc_id", "n_chars")
        merged = keys if prev is None else prev.unionByName(keys)
        return (
            merged.groupBy("band", "band_key")
            .agg(F.min(F.struct("doc_id", "n_chars")).alias("w"))
            .select(
                "band",
                "band_key",
                F.col("w.doc_id").alias("doc_id"),
                F.col("w.n_chars").alias("n_chars"),
            )
        )

    _versioned_merge(source, state_path, fold, "minhash-dedup-state", checkpoint)


def streaming_bloom_register(
    source: DataFrame, state_path: str, checkpoint: str | None = None
) -> None:
    """Bloom-registry build at the frontier — the streaming twin of
    ``x1_bloom_prefilter``'s filter-build side, and the BOUNDED-state
    counterpoint to streaming_dedup: per micro-batch, registry-side
    docs (doc_id % 3 = 0) contribute their K portable hash positions,
    set-UNIONed into the state snapshot. Set union is mergeable state
    (union(state, batch) = union(history) — order-free like the
    minhash registry's min), and the state can NEVER exceed BLOOM_M
    rows regardless of stream length: the filter geometry, not the
    corpus, bounds the store — exactly why a crawl frontier keeps a
    Bloom registry next to (or instead of) the exact digest set whose
    state grows forever."""
    from ..operators.dedup import _bloom_pos_cols

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        keys = (
            batch.filter(F.col("doc_id") % 3 == 0)
            .select(F.md5("text").alias("digest"))
            .distinct()
            .select(F.explode(F.array(*_bloom_pos_cols())).alias("p"))
            .distinct()
        )
        return keys if prev is None else prev.unionByName(keys).distinct()

    _versioned_merge(source, state_path, fold, "bloom-register-state", checkpoint)


def streaming_ivf_assign(
    source: DataFrame, state_path: str, bc, checkpoint: str | None = None
) -> None:
    """Online IVF assignment — the X3 tier's frontier twin, completing
    the streaming ladder (X1 digests/URL/bloom, X2 bands, X4 html, mm
    scene cuts): per micro-batch, arriving vectors
    are assigned to FROZEN centroids (``bc`` is the broadcast
    (labels, matrix, norms) triple the batch IVF pipeline builds —
    the offline index; a real deployment retrains it on a schedule,
    never per batch) via the same broadcast-argmax Arrow kernel as
    every batch assignment (operators.similarity._assign_fn), then
    fold into a per-CELL registry: (cluster, n_assigned, min_vec,
    max_vec). Count/min/max are all MERGEABLE state — merge(state,
    batch) = aggregate(history), the s_topk_stream discipline — so
    the drained registry is arrival-order-FREE and the batch
    assignment replays it exactly in SQL. State can never exceed k
    rows regardless of stream length: the index geometry, not the
    corpus, bounds the store (the Bloom-registry bound with k cells
    in place of M bits — an online index tracks list occupancy, not
    members)."""
    from ..operators.similarity import _ASSIGNED_SCHEMA, _assign_fn

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        cells = (
            batch.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            .mapInPandas(_assign_fn(bc), schema=_ASSIGNED_SCHEMA)
            .groupBy(F.col("bucket").alias("cluster"))
            .agg(
                F.count(F.lit(1)).alias("n_assigned"),
                F.min("vec_id").alias("min_vec"),
                F.max("vec_id").alias("max_vec"),
            )
        )
        if prev is not None:
            cells = prev.unionByName(cells)
        return cells.groupBy("cluster").agg(
            F.sum("n_assigned").alias("n_assigned"),
            F.min("min_vec").alias("min_vec"),
            F.max("max_vec").alias("max_vec"),
        )

    _versioned_merge(source, state_path, fold, "ivf-assign-state", checkpoint)


def streaming_domain_caps(
    source: DataFrame, state_path: str, checkpoint: str | None = None
) -> None:
    """Per-domain contribution caps at the crawl frontier — the X8
    curation tier's streaming twin (completing the frontier ladder:
    X1 digests/URL/bloom, X2 bands, X3 cells, X4 html, mm scene cuts;
    a real crawl enforces domain quotas at INGEST, not in a nightly
    batch): per micro-batch, arriving docs' registrable domains are
    extracted scan-side (operators.text_analysis._with_domain — the
    batch rung's exact derivation) and the state snapshot keeps at
    most DOMAIN_DOC_CAP (doc_id, domain, n_chars) rows per domain
    under the batch rung's priority order (n_chars DESC, doc_id).
    Per-key top-N under a total order is MERGEABLE state —
    topN(state ∪ batch) = topN(history), the min/count/set discipline
    of the sibling registries — so the drained keep set is
    arrival-order-FREE and the batch oracle replays it VERBATIM.
    State can never exceed |domains| × DOMAIN_DOC_CAP rows: the quota
    geometry, not the corpus, bounds the store — exactly the point of
    capping an over-represented domain whose raw rows grow without
    bound."""
    from pyspark.sql.window import Window

    from ..operators.text_analysis import DOMAIN_DOC_CAP, _with_domain

    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        keys = _with_domain(batch).select("doc_id", "domain", "n_chars")
        if prev is not None:
            keys = prev.unionByName(keys)
        return (
            keys.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= DOMAIN_DOC_CAP)
            .drop("rn")
        )

    _versioned_merge(source, state_path, fold, "domain-caps-state", checkpoint)


def stream_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the lineitem parquet (the arriving-fact view of
    the trade graph: new line items land continuously and accrete
    edges)."""
    return (
        spark.readStream.schema(TESTDATA["lineitem"])
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sf_dir)
    )


def streaming_edge_registry(
    source: DataFrame,
    orders: DataFrame,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Distinct-edge registry at the frontier — the X9 graph tier's
    streaming twin, completing the ladder (every other extension tier
    already has one): per micro-batch, arriving lineitem facts join
    the static orders dimension (the stream-static enrichment shape)
    into (customer, supplier) edges, set-UNIONed into the state
    snapshot. The distinct edge set is the MINIMAL SUFFICIENT state
    for every degree-derived statistic — degrees, histograms, and the
    iterative kernels' inputs all derive from it at drain, so the
    registry is what a 100 TB graph pipeline actually checkpoints.
    Set union is mergeable (order-free, the Bloom-registry discipline)
    and state grows with DISTINCT edges, not with arriving facts — a
    re-purchased (customer, supplier) pair costs nothing, the same
    distinct-content bound as the MinHash band registry."""
    from ..operators.graph import SUPP_OFFSET

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        keys = (
            batch.join(orders, batch.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
            )
            .distinct()
        )
        return keys if prev is None else prev.unionByName(keys).distinct()

    _versioned_merge(source, state_path, fold, "edge-registry-state", checkpoint)


def streaming_countmin(
    source: DataFrame, state_path: str, checkpoint: str | None = None
) -> None:
    """Count-min sketch build at the frontier — the mergeable-frequency
    registry (the reason CMS exists: cells merge by plain ADDITION, so
    per-batch partial sketches sum into the running sketch with no
    rescan — the textbook mergeable summary): per micro-batch, the
    batch's term counts fan out d cells per DISTINCT term
    (operators.text_analysis._cms_pos_structs — the batch rung's exact
    hash family) and ADD into the state snapshot. State can never
    exceed CMS_D x CMS_W rows regardless of stream length or
    vocabulary: the sketch geometry, not the corpus, bounds the store
    (the Bloom-registry bound with counters for bits)."""
    from ..operators.text_analysis import _cms_pos_structs, cms_term_counts

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        cells = (
            cms_term_counts(batch)
            .select("n", F.explode(F.array(*_cms_pos_structs())).alias("ip"))
            .select(
                F.col("ip.i").alias("i"), F.col("ip.p").alias("p"), "n"
            )
            .groupBy("i", "p")
            .agg(F.sum("n").alias("cell"))
        )
        if prev is None:
            return cells
        return (
            prev.unionByName(cells)
            .groupBy("i", "p")
            .agg(F.sum("cell").alias("cell"))
        )

    _versioned_merge(source, state_path, fold, "countmin-state", checkpoint)


def streaming_decontaminate(
    source: DataFrame, ev: DataFrame, sink_dir: str
) -> None:
    """Benchmark decontamination at INGEST time — the stream twin of
    ``x2_decontaminate_containment``: training documents stream in and
    each micro-batch's docs are shingled and checked against the
    STATIC broadcast benchmark postings (the deployment shape — the
    benchmark file is frozen; the corpus grows). A training doc's
    shingles arrive whole with the doc, so its flags are complete
    within its batch — the kernel is STATELESS per micro-batch (no
    watermark, no state store; the only cross-batch artifact is the
    append-only flags sink). foreachBatch is AT-LEAST-ONCE: a crash
    between the sink append and the checkpoint commit could duplicate
    a batch's flags on restart; the availableNow drain used here
    commits per batch, and a production job would key the sink by
    batch_id partition and overwrite (idempotent re-append)."""
    from ..operators.dedup import (
        decontaminate_containment_flags,
        shingle_arrays,
    )

    def flag(batch: DataFrame, batch_id: int) -> None:
        tr = shingle_arrays(
            batch.filter(F.col("doc_id") % 7 != 0), 3
        ).select(
            F.col("doc_id").alias("train_doc"),
            F.explode("grams").alias("shingle"),
        )
        decontaminate_containment_flags(tr, ev).write.mode(
            "append"
        ).parquet(sink_dir)

    run_to_completion(
        source.writeStream.foreachBatch(flag).outputMode("update"),
        "decon-stream",
    )


def streaming_cdc_registry(
    source: DataFrame,
    state_path: str,
    checkpoint: str | None = None,
    evict_df1_after: int | None = None,
) -> None:
    """Content-defined-chunk registry at INGEST time — the storage-dedup
    frontier (the stream twin of ``x1_cdc_chunk_dedup``'s corpus-wide
    chunk-frequency build): each micro-batch's documents are cut with
    the SAME CDC boundaries (operators.dedup.cdc_chunks — boundaries
    depend only on local content, so a doc chunks identically whenever
    it arrives) and the batch's per-chunk-hash counts ADD into the
    state snapshot — counts are mergeable by plain addition (the
    count-min merge discipline, keyed by chunk hash instead of fixed
    cells), so with the default exact mode the drained registry equals
    the batch corpus-wide df exactly under ANY arrival order or
    batching.

    State bound: exact mode grows with DISTINCT chunk content (the
    content-novelty class — re-ingested dup volume only increments
    counters, but novel corpus keeps adding rows).
    ``evict_df1_after=K`` bounds it: after each merge, df=1 rows last
    seen more than K batches ago are EVICTED — the dedup decision only
    needs the df>1 survivors, so steady-state rows ≈ |dup chunks| +
    the last K batches' singleton tail (constant per batch at a fixed
    trigger size). The documented compromise: a duplicate arriving
    more than K batches after its first copy restarts at df=1 (the
    standard streaming-dedup TTL horizon); the oracle-exact rung keeps
    the default ``None``.

    State-format compatibility: snapshots written before the
    ``last_batch`` column existed are backfilled with -1 on merge
    (their chunks read as "older than any batch", so
    ``evict_df1_after`` treats pre-upgrade singletons as immediately
    stale — the conservative reading).

    Wall-clock class: each step rewrites the FULL state snapshot
    (``_versioned_merge``), so drain wall is O(n_batches x |state|)
    even though state itself is bounded — at 10x corpus with 20
    micro-batches the BENCH_STREAM_SCALE ``cdc_registry_bounded`` wall
    ratio reads 4.41 while its state ratio reads 1.2x; the wall number
    measures batch count times snapshot size, not a state leak. A
    production run sizes triggers so batch count grows sublinearly
    with corpus, or swaps the full-snapshot rewrite for a delta-log
    compaction cadence."""
    from ..operators.dedup import cdc_chunks

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        counts = (
            cdc_chunks(batch.select("doc_id", "text"))
            .groupBy("ch")
            .agg(F.count(F.lit(1)).alias("df"))
            .withColumn("last_batch", F.lit(batch_id).cast("long"))
        )
        if prev is not None:
            if "last_batch" not in prev.columns:  # pre-upgrade snapshot
                prev = prev.withColumn("last_batch", F.lit(-1).cast("long"))
            counts = (
                prev.unionByName(counts)
                .groupBy("ch")
                .agg(
                    F.sum("df").alias("df"),
                    F.max("last_batch").alias("last_batch"),
                )
            )
        if evict_df1_after is not None:
            counts = counts.filter(
                (F.col("df") > 1)
                | (F.col("last_batch") > batch_id - evict_df1_after)
            )
        return counts

    _versioned_merge(source, state_path, fold, "cdcreg-state", checkpoint)


def stream_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the customer parquet (the MDM-ingest view of a
    record source: customer rows arrive continuously — re-ingests,
    migrations, CDC re-plays — and must fold into the entity
    registry)."""
    return (
        spark.readStream.schema(TESTDATA["customer"])
        .option("pathGlobFilter", "customer.parquet")
        .parquet(sf_dir)
    )


def streaming_record_registry(
    source: DataFrame,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Collapsed-record registry at INGEST time — the stream twin of
    ``x2_record_linkage``'s COLLAPSE stage: each micro-batch's
    customer rows fold to per-(name, nation, cents) representative
    rows (min custkey / member count / key sum — all mergeable: min
    of mins, sum of sums), which ADD into the state snapshot. The
    registry is the MINIMAL SUFFICIENT state for the whole linkage —
    BLOCK/MATCH/CLUSTER at drain run on representatives only
    (operators.dedup._rl_link_groups, the batch rung's exact code) —
    and it carries the rung's scale property into streaming: state
    grows with DISTINCT attribute combinations, never with arriving
    row volume, so re-ingested duplicate records only increment
    counters (the content-novelty class beside the CDC chunk
    registry's exact mode)."""

    def fold(batch: DataFrame, prev: DataFrame | None, batch_id: int) -> DataFrame:
        grp = (
            batch.select(
                "c_custkey",
                "c_name",
                "c_nationkey",
                F.round(F.col("c_acctbal") * 100)
                .cast("long")
                .alias("bal_cents"),
            )
            .groupBy("c_name", "c_nationkey", "bal_cents")
            .agg(
                F.min("c_custkey").alias("rep_key"),
                F.count(F.lit(1)).alias("n_dup"),
                F.sum("c_custkey").alias("sum_keys"),
            )
        )
        if prev is None:
            return grp
        return (
            prev.unionByName(grp)
            .groupBy("c_name", "c_nationkey", "bal_cents")
            .agg(
                F.min("rep_key").alias("rep_key"),
                F.sum("n_dup").alias("n_dup"),
                F.sum("sum_keys").alias("sum_keys"),
            )
        )

    _versioned_merge(source, state_path, fold, "record-registry-state", checkpoint)
