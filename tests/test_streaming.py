"""Streaming jobs (§2.8): incremental file arrival must converge to the
batch answer — stream-batch parity is the correctness bar."""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark import pipeline
from weather_data_pipeline_spark.operators.flagship import latest_per_key
from weather_data_pipeline_spark.sources import weather as wsrc
from weather_data_pipeline_spark.streaming import jobs
from weather_data_pipeline_spark.transforms import flatten_raw

from .conftest import SF_SMOKE, job_id


def test_incremental_latest_matches_batch(spark, tmp_path):
    """Files arrive day by day; after each drain the latest-per-key state
    equals the batch flagship over everything seen so far."""
    root = str(tmp_path)
    state = f"{root}/_state"
    ckpt = f"{root}/_checkpoint"  # stable → each run reads only new files

    for n_days in (1, 2, 3):
        date = wsrc.FIXTURE_DATES[n_days - 1]
        wsrc.write_raw_docs(wsrc.synthesize_raw_docs([date]), root)
        src = flatten_raw(jobs.stream_raw_weather(spark, root))
        jobs.incremental_latest_per_key(
            spark, src, key="city", order="localtime",
            tiebreak="localtime_epoch", state_path=state, checkpoint=ckpt,
        )
        got = {
            (r.city, r.localtime)
            for r in jobs.read_state(spark, state).select("city", "localtime").collect()
        }
        batch = flatten_raw(wsrc.read_raw(spark, root))
        want = {
            (r.city, r.localtime)
            for r in latest_per_key(batch, "city", "localtime", "localtime_epoch")
            .select("city", "localtime")
            .collect()
        }
        assert got == want, f"divergence after {n_days} day(s)"
        assert len(got) == 9
        # Superseded snapshots are deleted: the live one and its predecessor stay.
        assert len([d for d in os.listdir(state) if d.startswith("v")]) <= 2


def test_latest_trigger_runs_two_jobs(spark, tmp_path):
    """Each trigger of the incremental latest-per-key job runs 2 jobs, the
    fold's shuffle and the snapshot write, over fresh or existing state:
    the previous snapshot and ``read_state`` are read under the schema the
    snapshot recorded, so neither runs parquet's footer-inference job."""
    root = str(tmp_path)
    state, ckpt = f"{root}/_state", f"{root}/_checkpoint"
    for date in wsrc.FIXTURE_DATES[:2]:
        wsrc.write_raw_docs(wsrc.synthesize_raw_docs([date]), root)
        src = flatten_raw(jobs.stream_raw_weather(spark, root))
        before = job_id(spark)
        jobs.incremental_latest_per_key(
            spark, src, key="city", order="localtime",
            tiebreak="localtime_epoch", state_path=state, checkpoint=ckpt,
        )
        assert job_id(spark) - before == 2, date
        before = job_id(spark)
        jobs.read_state(spark, state)
        assert job_id(spark) == before


def test_self_made_checkpoints_are_removed(spark, tmp_path):
    """A drain without a caller checkpoint deletes the one it made once the
    query has terminated, and the stream-stream join deletes its staged
    source copy; a caller's checkpoint stays for the next run."""
    root = str(tmp_path)
    wsrc.write_raw_docs(wsrc.synthesize_raw_docs(wsrc.FIXTURE_DATES[:1]), root)
    before = set(os.listdir(jobs.SCRATCH))
    for ckpt in (None, f"{root}/_checkpoint"):
        jobs.incremental_latest_per_key(
            spark, flatten_raw(jobs.stream_raw_weather(spark, root)),
            key="city", order="localtime", tiebreak="localtime_epoch",
            state_path=f"{root}/_state", checkpoint=ckpt,
        )
    jobs.tumbling_counts(jobs.stream_events(spark, SF_SMOKE), "tumbling_ckpt_gc")
    assert spark.table("tumbling_ckpt_gc").count() > 0
    jobs.stream_stream_left_join(spark, SF_SMOKE, "ssleft_ckpt_gc")
    assert spark.table("ssleft_ckpt_gc").count() > 0
    assert set(os.listdir(jobs.SCRATCH)) == before
    assert os.path.isdir(f"{root}/_checkpoint/commits")


def test_stream_source_schema_full(spark):
    """The file-stream source exposes the explicit raw schema, no inference."""
    src = jobs.stream_raw_weather(spark, wsrc.ensure_fixture())
    assert src.isStreaming
    assert src.schema.fieldNames() == ["location", "current"]


def test_tws_capability_gate(spark):
    """transformWithStateInPandas needs protobuf for its state-protocol
    worker; without it the op must fail fast naming the
    applyInPandasWithState twin — never crash the state worker mid-query.
    Where the runtime has protobuf, the op must match its batch twin."""
    import pytest as _pytest

    from weather_data_pipeline_spark.operators import python_exec as px

    from .conftest import SF_ORACLE

    if not px.tws_available():
        with _pytest.raises(NotImplementedError, match="s_stateful_running_totals"):
            px.s_user_stats_tws(spark, SF_ORACLE)
        return
    from .oracle_harness import compare

    compare(
        spark,
        "s_user_stats_tws",
        px.s_user_stats_tws,
        px.S_USER_STATS_TWS_ORACLE,
        SF_ORACLE,
    )


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The watermark CONTRACT, demonstrated end-to-end: once the
    watermark passes a window's end and its state is evicted, a
    subsequently-ARRIVING row with an older timestamp is dropped
    (surfacing in numRowsDroppedByWatermark) — the closed window is
    emitted exactly once with the on-time count, never reopened or
    duplicated. Three parquet FILES (the file source ignores
    non-partition subdirs) + maxFilesPerTrigger=1 force the trigger
    sequence; mtimes pin the order."""
    import glob
    import os
    import shutil
    import uuid
    from datetime import datetime as t

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    sch = "event_id long, ts timestamp, value double"
    seq = [0]

    def write_file(name, rows):
        tmp = os.path.join(src, "_tmp")
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, name)
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        seq[0] += 1
        os.utime(dest, (1_700_000_000 + 100 * seq[0],) * 2)

    # trigger 1: events to 12:00 => watermark (1h delay) becomes 11:00
    write_file(
        "b1.parquet",
        [
            (1, t(2024, 1, 1, 9, 30), 1.0),
            (2, t(2024, 1, 1, 10, 30), 1.0),
            (3, t(2024, 1, 1, 12, 0), 1.0),
        ],
    )
    # trigger 2: in-watermark event; the 9:00/10:00 windows (ends <= 11)
    # are emitted here and their state evicted
    write_file("b2.parquet", [(5, t(2024, 1, 1, 11, 30), 1.0)])
    # trigger 3: a 9:45 straggler BEHIND the evicted window -> must be
    # dropped; 13:00 advances the watermark so 11:00's window flushes
    write_file(
        "b3.parquet",
        [(4, t(2024, 1, 1, 9, 45), 1.0), (6, t(2024, 1, 1, 13, 0), 1.0)],
    )

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # exactly the 9:45 straggler

    got = [
        (r["window"]["start"].hour, r["n"]) for r in spark.table(sink).collect()
    ]
    assert sorted(got) == [(9, 1), (10, 1), (11, 1)], got


def test_incremental_topk_matches_batch(spark, tmp_path):
    """Event files arrive in waves; after each drain the per-key top-3
    state equals the batch window top-3 over everything seen so far —
    the mergeability property (topk(state ∪ batch) = topk(history))
    across real multi-run checkpointed triggers, including evictions
    (later waves push earlier rows OUT of a key's top-3)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    root = str(tmp_path)
    src_dir, state, ckpt = f"{root}/in", f"{root}/_state", f"{root}/_ckpt"
    waves = [
        [(1, 10, 5.0), (1, 11, 7.0), (2, 12, 1.0)],
        [(1, 20, 9.0), (1, 21, 6.0), (2, 22, 3.0), (2, 23, 2.0)],
        [(1, 30, 8.0), (2, 31, 0.5), (2, 32, 4.0)],
    ]
    seen = []
    for i, wave in enumerate(waves):
        seen.extend(wave)
        spark.createDataFrame(
            wave, "user_id long, event_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src_dir)
        src = (
            spark.readStream.schema("user_id long, event_id long, value double")
            .parquet(src_dir)
        )
        jobs.incremental_topk_per_key(
            spark, src, key="user_id", score="value", tiebreak="event_id",
            k=3, state_path=state, checkpoint=ckpt,
        )
        got = {
            (r.user_id, r.event_id)
            for r in jobs.read_state(spark, state).collect()
        }
        full = spark.createDataFrame(
            seen, "user_id long, event_id long, value double"
        )
        w = W.partitionBy("user_id").orderBy(
            F.col("value").desc(), F.col("event_id")
        )
        want = {
            (r.user_id, r.event_id)
            for r in full.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .collect()
        }
        assert got == want, f"divergence after wave {i}: {got} != {want}"
    # eviction actually happened: event 10 (value 5.0) left user 1's top-3
    assert (1, 10) not in got
    # AT-LEAST-ONCE replay: redeliver wave 2's rows as a new file (same
    # (user_id, event_id) identities — what a post-flip crash replays).
    # Without the merge-side dropDuplicates, each replayed row would
    # occupy a second top-k slot and evict a legitimate one; state must
    # be byte-identical to the pre-replay answer.
    spark.createDataFrame(
        waves[1], "user_id long, event_id long, value double"
    ).coalesce(1).write.mode("append").parquet(src_dir)
    src = (
        spark.readStream.schema("user_id long, event_id long, value double")
        .parquet(src_dir)
    )
    jobs.incremental_topk_per_key(
        spark, src, key="user_id", score="value", tiebreak="event_id",
        k=3, state_path=state, checkpoint=ckpt,
    )
    replayed = {
        (r.user_id, r.event_id)
        for r in jobs.read_state(spark, state).collect()
    }
    assert replayed == want, (replayed, want)
    rows = jobs.read_state(spark, state).collect()
    assert len(rows) == len(replayed)  # no duplicate identities in state


def test_c4_gate_state_holds_only_accepted_digests(spark):
    """The ingest C4 gate's WHOLE state-bound claim, measured from the
    state-store metrics: the dedup operator's numRowsTotal must equal
    the number of ACCEPTED distinct digests (quality+lang survivors) —
    rejected documents never enter (or grow) the digest state. A
    CASE-keyed or post-dedup-filtered pipeline would hold one state
    row per document and fail this."""
    import uuid

    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.text_analysis import (
        C4_KEEP_LANG,
        C4_MAX_WORDS,
        C4_MIN_WORDS,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.01"
    sink = f"s_c4state_{uuid.uuid4().hex[:8]}"
    q = jobs.streaming_c4_gate(jobs.stream_documents(spark, sf), sink)
    rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert rows, "no state-operator progress recorded"
    doc = spark.read.parquet(f"{sf}/documents.parquet")
    wc = F.size(F.split("text", " "))
    expected = (
        doc.filter(
            (wc >= C4_MIN_WORDS)
            & (wc <= C4_MAX_WORDS)
            & (F.col("lang") == C4_KEEP_LANG)
        )
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    assert max(rows) == expected


def test_stream_left_join_ns_unit(spark, tmp_path):
    """The ns-unit branch of stream_stream_left_join, exercised against
    a synthetic nanosecond-physical events.parquet (ADVICE r8: the
    branch used to be dead-identical to the µs path and would have
    mis-read ns data under the NTZ schema). The sentinel file must be
    written in the SAME ns unit as the staged copy, the whole dir read
    under the long-ts schema, and the converted join must equal the
    batch LEFT JOIN: one matched purchase, two tail purchases flushed
    with NULL view columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000_000  # 2023-11-14T22:13:20Z in ns
    hour = 3_600_000_000_000  # ns
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(
                [base, base + hour // 2, base + 3 * hour, base + 4 * hour],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 10, 10, 20], pa.int64()),
            "event_type": pa.array(
                ["view", "purchase", "purchase", "purchase"], pa.string()
            ),
            "value": pa.array([0.0, 5.0, 7.0, 9.0], pa.float64()),
            "props": pa.array([None] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    from weather_data_pipeline_spark.sources.testdata import events_ts_unit

    assert events_ts_unit(str(tmp_path)) == "ns"
    sink = "s_ssleft_nsunit"
    jobs.stream_stream_left_join(spark, str(tmp_path), sink)
    out = {
        r["purchase_id"]: (r["view_id"], r["value"])
        for r in spark.table(sink).collect()
    }
    assert out == {2: (1, 5.0), 3: (None, 7.0), 4: (None, 9.0)}
    # the matched row's timestamps round-trip the ns→µs conversion
    row = spark.table(sink).filter(F.col("purchase_id") == 2).collect()[0]
    assert int(row["p_ts"].timestamp() * 1e6) == (base + hour // 2) // 1000


def test_minhash_dedup_stream_multibatch_order_free(spark, tmp_path):
    """Stream-batch parity for the near-dup frontier twin ACROSS
    micro-batches, with arrival order deliberately different from
    doc_id order: documents split into three files by doc_id % 3
    (maxFilesPerTrigger=1 → three triggers, each interleaving the id
    range), drained registry must equal the batch min-per-band-key
    wins, and the derived keeper set must equal the batch keeper set —
    the mergeable-min state contract (min(state ∪ batch) =
    min(history)) that makes the decision arrival-order-free."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import (
        MINHASH_BAND_ROWS,
        MINHASH_K,
        minhash_band_keys,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_minhash_dedup(stream, state)

    st = jobs.read_state(spark, state)
    got_state = sorted(tuple(r) for r in st.collect())

    batch_wins = (
        minhash_band_keys(doc)
        .groupBy("band", "band_key")
        .agg(F.min(F.struct("doc_id", "n_chars")).alias("w"))
        .select("band", "band_key", "w.doc_id", "w.n_chars")
    )
    want_state = sorted(tuple(r) for r in batch_wins.collect())
    assert got_state == want_state
    assert len(got_state) > 0

    n_bands = MINHASH_K // MINHASH_BAND_ROWS
    got_keep = sorted(
        r["doc_id"]
        for r in st.groupBy("doc_id")
        .count()
        .filter(F.col("count") == n_bands)
        .collect()
    )
    want_keep = sorted(
        r["doc_id"]
        for r in batch_wins.groupBy("doc_id")
        .count()
        .filter(F.col("count") == n_bands)
        .collect()
    )
    assert got_keep == want_keep
    # near-dups exist in the synthetic corpus: some docs must be dropped
    n_banded = minhash_band_keys(doc).select("doc_id").distinct().count()
    assert 0 < len(got_keep) < n_banded


def test_bloom_register_stream_multibatch_capped_state(spark, tmp_path):
    """The streaming Bloom registry across shuffled micro-batches:
    drained position set equals the batch build exactly (set union is
    mergeable/order-free), and the state can never exceed BLOOM_M rows
    — the geometry bound that distinguishes this frontier registry
    from the unbounded exact-digest state."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import (
        BLOOM_M,
        _bloom_pos_cols,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_bloom_register(stream, state)

    got = sorted(r["p"] for r in jobs.read_state(spark, state).collect())
    want = sorted(
        r["p"]
        for r in doc.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .select(F.explode(F.array(*_bloom_pos_cols())).alias("p"))
        .distinct()
        .collect()
    )
    assert got == want
    assert 0 < len(got) <= BLOOM_M


def test_ivf_assign_stream_multibatch_mergeable_state(spark, tmp_path):
    """The streaming IVF cell registry across shuffled micro-batches:
    the drained (cluster, n_assigned, min_vec, max_vec) state equals
    the batch assignment on the SAME frozen centroids exactly
    (count/min/max are mergeable, order-free), and the state is
    bounded at k cells by index geometry — the Bloom-registry bound
    with cells for bits."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.similarity import _assign_fn
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    bc = _frozen_ivf_centroids(spark, emb)
    c_labels = bc.value[0]

    src = str(tmp_path / "emb_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        emb.filter(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_ivf_assign(stream, state, bc)

    got = sorted(
        tuple(r) for r in jobs.read_state(spark, state)
        .select("cluster", "n_assigned", "min_vec", "max_vec").collect()
    )
    want = sorted(
        tuple(r)
        for r in base.select("vec_id", "embedding")
        .mapInPandas(
            _assign_fn(bc),
            schema="vec_id long, embedding array<double>, bucket long",
        )
        .groupBy(F.col("bucket").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
        .collect()
    )
    assert got == want
    assert 0 < len(got) <= len(c_labels)  # k cells bound the store


def test_domain_caps_stream_multibatch_quota_bound(spark, tmp_path):
    """The streaming domain-quota registry across shuffled micro-batches:
    the drained keep set equals the batch x8_domain_caps output exactly
    (per-key top-N is mergeable/order-free), and the state can never
    exceed |domains| × DOMAIN_DOC_CAP rows — the quota-geometry bound
    that distinguishes this registry from the raw per-domain row counts
    it throttles."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.operators.text_analysis import (
        DOMAIN_DOC_CAP,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_domain_caps(stream, state)

    st = jobs.read_state(spark, state)
    from pyspark.sql.window import Window

    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    got = sorted(
        tuple(r)
        for r in st.withColumn(
            "domain_rank", F.row_number().over(w).cast("long")
        ).select("doc_id", "domain", "domain_rank").collect()
    )
    want = sorted(
        tuple(r)
        for r in registry.queries()["x8_domain_caps"](spark, sf).collect()
    )
    assert got == want and got
    n_domains = st.select("domain").distinct().count()
    assert st.count() <= n_domains * DOMAIN_DOC_CAP


def test_edge_registry_stream_multibatch_distinct_bound(spark, tmp_path):
    """The streaming edge registry across shuffled micro-batches: the
    drained distinct-edge set equals the batch build exactly (set union
    is mergeable/order-free; a re-purchased pair costs nothing), so the
    derived degree histogram matches the batch rung row-for-row."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.operators.graph import SUPP_OFFSET
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )

    src = str(tmp_path / "li_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        li.filter(F.pmod("l_orderkey", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_edge_registry(stream, orders, state)

    got_edges = sorted(
        tuple(r) for r in jobs.read_state(spark, state).collect()
    )
    want_edges = sorted(
        tuple(r)
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
        .collect()
    )
    assert got_edges == want_edges and got_edges
    # facts exceed distinct edges: the registry deduplicates arrivals
    assert len(got_edges) < li.count()


def test_countmin_stream_multibatch_additive_state(spark, tmp_path):
    """The streaming CMS across shuffled micro-batches: per-batch
    partial sketches SUM into the running state (the mergeable-summary
    property CMS exists for), so the drained cells equal the batch
    sketch exactly, and the state is bounded at d x w rows by sketch
    geometry regardless of vocabulary."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.text_analysis import (
        CMS_D,
        CMS_W,
        _cms_pos_structs,
        cms_term_counts,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_countmin(stream, state)

    got = sorted(
        tuple(r) for r in jobs.read_state(spark, state).collect()
    )
    want = sorted(
        tuple(r)
        for r in cms_term_counts(doc)
        .select("n", F.explode(F.array(*_cms_pos_structs())).alias("ip"))
        .select(F.col("ip.i").alias("i"), F.col("ip.p").alias("p"), "n")
        .groupBy("i", "p")
        .agg(F.sum("n").alias("cell"))
        .collect()
    )
    assert got == want
    assert 0 < len(got) <= CMS_D * CMS_W


def test_decontaminate_stream_multibatch_stateless(spark, tmp_path):
    """Stream-batch parity for the decontamination frontier twin ACROSS
    micro-batches with arrival order different from doc_id order:
    training docs split into three files by doc_id % 3
    (maxFilesPerTrigger=1 → three triggers), benchmark side static. A
    doc's shingles arrive whole with the doc, so each batch's flags
    are complete and the appended union must equal the batch kernel on
    the full corpus — the statelessness contract (zero stream state,
    order-free by construction)."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import (
        decontaminate_containment_flags,
        shingle_arrays,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    ev = shingle_arrays(doc.filter(F.col("doc_id") % 7 == 0), 3).select(
        F.col("doc_id").alias("eval_doc"),
        F.size("grams").alias("n_ev"),
        F.explode("grams").alias("shingle"),
    )
    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = str(tmp_path / "flags")
    jobs.streaming_decontaminate(stream, ev, sink)

    got = sorted(
        tuple(r)
        for r in spark.read.schema(
            "doc_id long, n_eval_hits long, max_containment double"
        )
        .parquet(sink)
        .collect()
    )
    tr = shingle_arrays(doc.filter(F.col("doc_id") % 7 != 0), 3).select(
        F.col("doc_id").alias("train_doc"),
        F.explode("grams").alias("shingle"),
    )
    want = sorted(
        tuple(r) for r in decontaminate_containment_flags(tr, ev).collect()
    )
    assert got == want
    assert len(got) > 0  # the synthetic corpus has cross-split near-dups


def test_cdc_registry_stream_multibatch_additive_counts(spark, tmp_path):
    """The CDC chunk registry across shuffled micro-batches: counts
    merge by ADDITION, so the drained registry must equal the batch
    corpus-wide chunk df exactly (any arrival order / batching), and
    the derived per-doc dedup report must equal the batch kernel's.
    Split documents into three files by doc_id % 3 with
    maxFilesPerTrigger=1 → three triggers interleaving the id range."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import cdc_chunks
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        doc.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_cdc_registry(stream, state)

    got = sorted(
        (r["ch"], r["df"]) for r in jobs.read_state(spark, state).collect()
    )
    want = sorted(
        (r["ch"], r["df"])
        for r in cdc_chunks(doc.select("doc_id", "text"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    )
    assert got == want
    assert len(got) > 0
    assert any(df > 1 for _, df in got)  # dup chunks exist in the corpus


def _frozen_ivf_centroids(spark, emb):
    """The batch IVF pipeline's broadcast (labels, matrix, norms)
    triple over ``emb`` — the frozen index streaming_ivf_assign reads."""
    from weather_data_pipeline_spark.operators.similarity import ivf_quantizer

    return ivf_quantizer(
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        )
    )[1]


#: registry -> (input table, (spark, input frame) -> the registry's drain)
_REPLAY_CASES = {
    "cdc_registry": ("documents", lambda spark, df: jobs.streaming_cdc_registry),
    "record_registry": ("customer", lambda spark, df: jobs.streaming_record_registry),
    "countmin": ("documents", lambda spark, df: jobs.streaming_countmin),
    "ivf_assign": (
        "embeddings",
        lambda spark, df: partial(
            jobs.streaming_ivf_assign, bc=_frozen_ivf_centroids(spark, df)
        ),
    ),
    "domain_caps": ("documents", lambda spark, df: jobs.streaming_domain_caps),
}


@pytest.mark.parametrize("registry", list(_REPLAY_CASES))
def test_registry_replay_of_merged_batch_is_skipped(
    spark, tmp_path, registry
):
    """foreachBatch is at-least-once: a crash after the _VERSION flip
    but before the checkpoint commit re-delivers the batch on restart
    FROM THE SAME CHECKPOINT, and the versioned-merge step must skip
    it (its (run token, batch id) prefix already heads _VERSION).
    Simulated faithfully: drain once, delete the checkpoint's
    ``commits/0`` marker (the exact crash window — flip done, commit
    not), re-drain with the SAME checkpoint → Spark re-executes batch
    0 → the state must equal the single-drain state. Without the skip
    additive registries double their counts (cdc, record, countmin,
    ivf_assign) and the per-domain cap stores each doc twice and
    evicts legitimate ones (domain_caps)."""
    import glob
    import os
    import shutil

    table, make_drain = _REPLAY_CASES[registry]
    df = spark.read.parquet(f"{SF_SMOKE}/{table}.parquet")
    drain = make_drain(spark, df)
    src = str(tmp_path / "src")
    os.makedirs(src)
    tmp = str(tmp_path / "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(
        glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
        os.path.join(src, "b0.parquet"),
    )

    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    commit = os.path.join(ck, "commits", "0")

    def state_rows():
        return sorted(tuple(r) for r in jobs.read_state(spark, state).collect())

    drain(spark.readStream.schema(df.schema).parquet(src), state, checkpoint=ck)
    once = state_rows()
    assert once
    os.remove(commit)  # crash window
    crc = os.path.join(ck, "commits", ".0.crc")  # local-FS sibling
    if os.path.exists(crc):
        os.remove(crc)
    drain(spark.readStream.schema(df.schema).parquet(src), state, checkpoint=ck)
    assert os.path.exists(commit)  # batch 0 really was re-delivered
    assert state_rows() == once  # the replayed merge was skipped


def test_cdc_registry_new_lineage_same_batch_id_merges(spark, tmp_path):
    """ADVICE r14 pin (the disambiguation side): a NEW stream lineage
    (fresh checkpoint, batch ids restarting at 0) against an existing
    state dir is NOT a replay — its batch 0 must merge even though
    the head _VERSION also ends in batch id 0. Two full ingests of
    the same corpus under different checkpoints → every df doubles."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import cdc_chunks
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    tmp = str(tmp_path / "_tmp")
    doc.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(
        glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
        os.path.join(src, "b0.parquet"),
    )

    state = str(tmp_path / "state")
    for ck in ("ck_first", "ck_second"):
        stream = spark.readStream.schema(doc.schema).parquet(src)
        jobs.streaming_cdc_registry(
            stream, state, checkpoint=str(tmp_path / ck)
        )
    got = sorted(
        (r["ch"], r["df"]) for r in jobs.read_state(spark, state).collect()
    )
    want = sorted(
        (r["ch"], 2 * r["df"])
        for r in cdc_chunks(doc.select("doc_id", "text"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    )
    assert got == want  # second lineage's ingest ADDED (not skipped)


def test_cdc_registry_merges_over_pre_upgrade_state_format(
    spark, tmp_path
):
    """ADVICE r14 pin: a state snapshot written before ``last_batch``
    existed (columns: ch, df) must not crash the merge — the column
    is backfilled with -1 (older than any batch), so pre-upgrade
    singletons are immediately evictable under ``evict_df1_after``."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    tmp = str(tmp_path / "_tmp")
    doc.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(
        glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
        os.path.join(src, "b0.parquet"),
    )

    # Hand-write an old-format snapshot: one dup chunk, one singleton.
    state = str(tmp_path / "state")
    os.makedirs(state)
    old = spark.createDataFrame(
        [(-777001, 5), (-777002, 1)], "ch long, df long"
    )  # ch is the chunk-hash BIGINT; sentinels outside the real range
    old.write.parquet(os.path.join(state, "v99legacy"))
    with open(os.path.join(state, "_VERSION"), "w") as f:
        f.write("v99legacy")

    stream = spark.readStream.schema(doc.schema).parquet(src)
    jobs.streaming_cdc_registry(
        stream,
        state,
        checkpoint=str(tmp_path / "ck"),
        evict_df1_after=1,  # keeps last_batch > -1: evicts exactly the
        # backfilled -1 singletons, keeps batch-0 singletons
    )
    rows = {r["ch"]: r for r in jobs.read_state(spark, state).collect()}
    assert -777001 in rows  # df>1 survives regardless of age
    assert rows[-777001]["df"] == 5
    assert rows[-777001]["last_batch"] == -1  # backfilled
    assert -777002 not in rows  # pre-upgrade singleton evicted
    assert any(r["last_batch"] == 0 for r in rows.values())  # new batch in


def test_cdc_registry_bounded_evicts_stale_singletons(spark, tmp_path):
    """VERDICT r13 ask #2 pin: ``evict_df1_after=K`` bounds the
    registry — after the drain, every surviving df=1 row was last
    seen within the final K batches (here K=1 → only the last
    batch's singleton tail survives), df>1 survivors are a subset of
    the exact registry's dup chunks, every WITHIN-batch dup chunk is
    still flagged df>1, and total state is strictly smaller than the
    exact registry."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import cdc_chunks
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    n_batches = 3
    batch_docs = []
    for i in range(n_batches):
        part_df = doc.filter(F.pmod("doc_id", F.lit(n_batches)) == i)
        batch_docs.append(part_df)
        tmp = str(tmp_path / "_tmp")
        part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_cdc_registry(stream, state, evict_df1_after=1)

    rows = jobs.read_state(spark, state).collect()
    exact = {
        r["ch"]: r["df"]
        for r in cdc_chunks(doc.select("doc_id", "text"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    }
    # (a) the bound: no stale singleton survives
    for r in rows:
        if r["df"] == 1:
            assert r["last_batch"] == n_batches - 1, dict(r)
    # (b) no spurious dups: bounded df>1 ⊆ exact df>1
    for r in rows:
        if r["df"] > 1:
            assert exact[r["ch"]] > 1, dict(r)
    # (c) within-batch dups always survive (never split by eviction)
    for bd in batch_docs:
        within = (
            cdc_chunks(bd.select("doc_id", "text"))
            .groupBy("ch")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter("df > 1")
            .collect()
        )
        got_dup = {r["ch"] for r in rows if r["df"] > 1}
        for w in within:
            assert w["ch"] in got_dup, w["ch"]
    # (d) the registry is strictly smaller than the exact one
    assert 0 < len(rows) < len(exact)


def test_record_registry_stream_multibatch_mergeable_collapse(
    spark, tmp_path
):
    """The collapsed-record registry across shuffled micro-batches
    (s_record_linkage_stream's state): min/count/sum merge per
    attribute group, so the drained registry must equal the batch
    COLLAPSE exactly under any arrival order/batching — including
    when the SAME attribute combination arrives in different batches
    (customers split by custkey % 3, so identical synthetic dups land
    apart). Injects two exact-duplicate rows of customer 1 with fresh
    keys to make the cross-batch merge path real (the driver SFs'
    names are otherwise unique)."""
    import glob
    import os
    import shutil

    from weather_data_pipeline_spark.operators.dedup import (
        _rl_collapse,
        _rl_records,
    )
    from weather_data_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    dup = (
        cust.filter(F.col("c_custkey") == 1)
        .drop("c_custkey")
        .crossJoin(
            spark.createDataFrame([(100001,), (100002,)], "c_custkey long")
        )
        .select(*cust.columns)
    )
    cust = cust.unionByName(dup)

    src = str(tmp_path / "cust_src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / "_tmp")
        cust.filter(F.pmod("c_custkey", F.lit(3)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(src, f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(cust.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    jobs.streaming_record_registry(stream, state)

    key = ["c_name", "c_nationkey", "bal_cents"]
    got = sorted(
        tuple(r[c] for c in key + ["rep_key", "n_dup", "sum_keys"])
        for r in jobs.read_state(spark, state).collect()
    )
    # batch collapse over the same injected frame, via the rung's own
    # record prep (write the frame out so _rl_records reads it)
    bdir = str(tmp_path / "batch_sf")
    cust.write.parquet(os.path.join(bdir, "customer.parquet"))
    want = sorted(
        tuple(r[c] for c in key + ["rep_key", "n_dup", "sum_keys"])
        for r in _rl_collapse(_rl_records(spark, bdir)).collect()
    )
    assert got == want
    # the injected dups collapsed across batches: one group of 3
    assert any(g[-2] == 3 for g in got)

