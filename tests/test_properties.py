"""Property-based tests: the two latest-per-key physical strategies (window
rank vs max_by aggregation) must agree with a driver-side brute force on
ARBITRARY inputs — not just the fixture (SURVEY.md §5: the engine supplies
the test rigor the reference never had)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from weather_data_pipeline_spark.operators.flagship import (
    latest_per_key,
    latest_per_key_agg,
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key (few → collisions)
        st.integers(min_value=0, max_value=50),  # order (ties likely)
        st.integers(min_value=0, max_value=10_000),  # tiebreak id
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda r: r[2],  # tiebreak id unique → total order
)


def brute_force(data):
    best = {}
    for key, order, tid, val in data:
        cur = best.get(key)
        if cur is None or (order, tid) > (cur[1], cur[2]):
            best[key] = (key, order, tid, val)
    return sorted(best.values())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=rows)
def test_latest_per_key_strategies_agree(spark, data):
    df = spark.createDataFrame(data, "key int, ord int, tid int, val double")
    expect = brute_force(data)
    w = sorted(
        tuple(r)
        for r in latest_per_key(df, "key", "ord", "tid")
        .select("key", "ord", "tid", "val")
        .collect()
    )
    a = sorted(
        tuple(r)
        for r in latest_per_key_agg(df, "key", "ord", "tid", ["val"])
        .select("key", "ord", "tid", "val")
        .collect()
    )
    assert w == expect
    assert a == expect


def test_native_session_window_boundary_convention(spark):
    """An event exactly GAP after its predecessor MERGES into the session:
    Spark's native session_window merges touching windows (the new event's
    window starts exactly at the previous window's end and they coalesce).
    This pins the x6_session_window_native oracle's strict `>` gap test —
    the same convention as the lag-gap composition. (An advisory claimed
    the opposite; this test is the ground truth.)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),  # exactly 30min later → merges
            (1, "2024-01-01 01:00:01"),  # 30min + 1s → new session
        ],
        "user_id int, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    sessions = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in sessions) == [1, 2]


# ---------------------------------------------------------------------------
# Sequence packing: the greedy per-shard recurrence (kernel) must match a
# brute-force reimplementation on arbitrary token-length sequences,
# including docs larger than the whole bin budget.
# ---------------------------------------------------------------------------

pack_lengths = st.lists(
    st.integers(min_value=1, max_value=300),  # > PACK_BUDGET possible
    min_size=1,
    max_size=50,
)


@settings(max_examples=50, deadline=None)
@given(lengths=pack_lengths)
def test_pack_shard_matches_brute_force(lengths):
    import pandas as pd

    from weather_data_pipeline_spark.operators.text_analysis import (
        PACK_BUDGET,
        _pack_shard,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lengths)),
            "shard": 0,
            "n_tokens": lengths,
        }
    )
    got = _pack_shard(pdf)["bin_id"].tolist()

    expect, cum, b = [], 0, 0
    for n in lengths:
        if cum + n > PACK_BUDGET and cum > 0:
            b, cum = b + 1, 0
        cum += n
        expect.append(b)
    assert got == expect
    # every doc lands in a bin; bins are contiguous from 0
    assert sorted(set(got)) == list(range(max(got) + 1))
    # an oversized doc always sits alone: it opens a bin (any prior cum
    # overflows) and the next doc necessarily overflows out of it
    for i, n in enumerate(lengths):
        if n > PACK_BUDGET:
            assert got.count(got[i]) == 1


# ---------------------------------------------------------------------------
# pack_sequences shard-count sweep (r3 ask #7): the shard count is a tuning
# knob, not a semantic constant — the packed output must satisfy the greedy
# recurrence per shard at 1 (global sequential), 32 (default), and 1024
# (more shards than docs → every shard is a trivial singleton pack).
# ---------------------------------------------------------------------------


def test_pack_sequences_across_shard_counts(spark):
    import pytest  # noqa: F401

    from weather_data_pipeline_spark.operators.text_analysis import (
        PACK_BUDGET,
        pack_sequences,
    )
    from weather_data_pipeline_spark.sources.testdata import load_table

    doc = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_docs = doc.count()
    for shards in (1, 32, 1024):
        rows = sorted(
            (r.doc_id, r.shard, r.n_tokens, r.bin_id)
            for r in pack_sequences(doc, shards=shards).collect()
        )
        assert len(rows) == n_docs, shards  # every doc packed exactly once
        by_shard: dict = {}
        for doc_id, shard, n, b in rows:
            assert shard == doc_id % shards
            by_shard.setdefault(shard, []).append((doc_id, n, b))
        for shard, docs in by_shard.items():
            cum, bb = 0, 0
            for doc_id, n, b in sorted(docs):
                if cum + n > PACK_BUDGET and cum > 0:
                    bb, cum = bb + 1, 0
                cum += n
                assert b == bb, (shards, shard, doc_id)


def test_pii_redaction_seeded(spark):
    """Positive-match semantics for the PII scrub: the corpus-level
    oracle only proves clean text passes through, so this fixture
    seeds every rule class plus the ordering traps — an IPv4 whose
    octets would otherwise feed the card rule, a '+'-phone vs a bare
    card run — and pins counts and redacted text on BOTH engines."""
    import duckdb

    from weather_data_pipeline_spark.operators.text_analysis import (
        PII_RULES,
        redact_pii,
    )

    rows = [
        (0, "contact alice.smith+spam@example.co.uk today"),
        (1, "server 192.168.100.200 then card 4111111111111111"),
        (2, "call +14155552671 or +442071838750 now"),
        (3, "plain text with digits 123 and 1234567890 stays"),
        (4, "mix a@b.io at 10.0.0.1 pay 5500005555555559 tel +919876543210"),
    ]
    expected = [
        (0, 1, 0, 0, 0, "contact <EMAIL> today"),
        (1, 0, 1, 0, 1, "server <IP> then card <CARD>"),
        (2, 0, 0, 2, 0, "call <PHONE> or <PHONE> now"),
        (3, 0, 0, 0, 0, "plain text with digits 123 and 1234567890 stays"),
        (4, 1, 1, 1, 1, "mix <EMAIL> at <IP> pay <CARD> tel <PHONE>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    names = [f"n_{n}" for n, _, _ in PII_RULES]
    got = [
        tuple(r)
        for r in redact_pii(df)
        .select("doc_id", *names, "text")
        .orderBy("doc_id")
        .collect()
    ]
    assert got == expected
    # same rows through the DuckDB side of the rule table
    txt = "text"
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(f"len(regexp_extract_all({txt}, '{pat}')) AS n_{name}")
        txt = f"regexp_replace({txt}, '{pat}', '{repl}', 'g')"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    o = con.execute(
        f"SELECT doc_id, {', '.join(counts)}, {txt} AS text "
        "FROM documents ORDER BY doc_id"
    ).fetchall()
    assert [tuple(r) for r in o] == expected


def test_funnel_order_constraint(spark):
    """The funnel's reason to exist: a view BEFORE the signup (user 2)
    or a purchase BEFORE the first qualifying view (user 3) must not
    advance the stage; per-type mins alone would."""
    from datetime import datetime

    from weather_data_pipeline_spark.operators.sessionize import (
        x6_funnel_stages,
    )

    def ts(h):
        return datetime(2024, 1, 1, h)

    rows = [
        # user 1: clean signup -> view -> purchase
        (1, 1, ts(1), "signup", 1.0, "{}"),
        (2, 1, ts(2), "view", 1.0, "{}"),
        (3, 1, ts(3), "purchase", 1.0, "{}"),
        # user 2: view BEFORE signup, none after -> stage 1
        (4, 2, ts(1), "view", 1.0, "{}"),
        (5, 2, ts(2), "signup", 1.0, "{}"),
        # user 3: purchase between signup and first view -> stage 2
        (6, 3, ts(1), "signup", 1.0, "{}"),
        (7, 3, ts(2), "purchase", 1.0, "{}"),
        (8, 3, ts(3), "view", 1.0, "{}"),
        # user 4: never signs up -> absent from output
        (9, 4, ts(1), "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp_ntz, "
        "event_type string, value double, props string",
    )
    import weather_data_pipeline_spark.operators.sessionize as sess

    orig = sess.load_table
    sess.load_table = lambda s, d, t: df if t == "events" else orig(s, d, t)
    try:
        out = {
            r["user_id"]: r["stage_reached"]
            for r in x6_funnel_stages(spark, "unused").collect()
        }
    finally:
        sess.load_table = orig
    assert out == {1: 3, 2: 1, 3: 2}


def test_heavy_hitter_candidates_partition_independent(spark):
    """The Misra-Gries candidate union must contain every true heavy
    hitter under ANY partitioning (the no-false-negatives guarantee the
    verify pass relies on) — exercised across three repartitionings of
    a corpus with one planted heavy term."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.text_analysis import _mg_sketch

    # 300 docs of unique filler + 'hot' in every doc => 'hot' is ~3% of
    # tokens (threshold 1%), filler words all unique (never heavy)
    rows = [(i, f"w{i}a w{i}b hot w{i}c") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for parts in (1, 7, 32):
        cand = set(
            r["term"]
            for r in df.repartition(parts)
            .select("text")
            .mapInPandas(_mg_sketch, schema="term string, lb long")
            .select("term")
            .distinct()
            .collect()
        )
        assert "hot" in cand, parts


@given(
    st.integers(min_value=0, max_value=1 << 20),
    st.integers(min_value=0, max_value=1 << 20),
)
@settings(max_examples=60, deadline=None)
def test_morton_code_is_invertible(x, y):
    """The z-order interleave must be a bijection on 16-bit pairs: the
    de-interleaved halves recover (x & 0xFFFF, y & 0xFFFF) exactly —
    the property file-skipping correctness rests on (two distinct key
    pairs can never share a z-value)."""
    import duckdb

    from weather_data_pipeline_spark.operators.layout import zorder_expr

    z = duckdb.connect().execute(
        f"SELECT {zorder_expr('x', 'y')} FROM (SELECT {x} AS x, {y} AS y)"
    ).fetchone()[0]
    dx = dy = 0
    for i in range(16):
        dx |= ((z >> (2 * i)) & 1) << i
        dy |= ((z >> (2 * i + 1)) & 1) << i
    assert (dx, dy) == (x & 0xFFFF, y & 0xFFFF)


def test_triangle_count_known_graphs(spark):
    """Degree-oriented wedge counting must agree with ground truth on
    graphs whose triangle count is known by hand: K4 (4 triangles), a
    square + one diagonal (2), a path (0). Exercises the orientation
    machinery directly — the corpus query's oracle checks only the
    co-occurrence graph, which never hits the hand-countable shapes."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators import graph as g

    cases = [
        # K4: every pair — C(4,3)=4 triangles
        ([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], 4),
        # square 1-2-3-4 + diagonal 1-3: triangles (1,2,3), (1,3,4)
        ([(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], 2),
        # path: no triangles
        ([(1, 2), (2, 3), (3, 4)], 0),
    ]
    for edges_py, want in cases:
        edges = spark.createDataFrame(edges_py, "s1 bigint, s2 bigint")
        deg = (
            edges.select(F.col("s1").alias("node"))
            .unionAll(edges.select(F.col("s2").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        got = g._count_triangles(edges, deg).collect()[0]["n_triangles"]
        assert got == want, (edges_py, got, want)


def test_line_dedup_conservation(spark):
    """Cross-corpus line dedup keeps each DISTINCT line exactly once:
    Σ n_kept over the output equals the number of distinct lines in the
    corpus, and re-splitting every clean_text yields no duplicate line
    anywhere."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark import registry

    out = registry.queries()["x1_line_dedup"](
        spark, "/root/testdata/sf0.001"
    )
    kept_total = out.agg(F.sum("n_kept").alias("s")).collect()[0]["s"]
    # distinct lines, rebuilt the same way the operator splits them
    from weather_data_pipeline_spark.operators.dedup import LINE_WORDS

    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = doc.select("doc_id", F.split("text", " ").alias("words"))
    lines = words.select(
        F.explode(
            F.sequence(F.lit(1), F.size("words"), F.lit(LINE_WORDS))
        ).alias("start"),
        "words",
    ).select(
        F.concat_ws(" ", F.slice("words", F.col("start"), LINE_WORDS)).alias(
            "line"
        )
    )
    n_distinct = lines.distinct().count()
    assert kept_total == n_distinct, (kept_total, n_distinct)


def test_interval_merge_invariants(spark):
    """Coalesced coverage is bounded by both the naive sum of interval
    lengths (no overlap counted twice) and below by one interval's
    length; island count never exceeds the event count."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.operators.sessionize import INTERVAL_MIN

    sf = "/root/testdata/sf0.001"
    out = registry.queries()["x6_interval_merge"](spark, sf)
    ev_counts = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out.collect():
        n_ev = ev_counts[r["user_id"]]
        assert 1 <= r["n_islands"] <= n_ev
        assert INTERVAL_MIN * 60 <= r["covered_seconds"] <= n_ev * INTERVAL_MIN * 60


def test_prefix_sum_twins_partitioning_invariant(spark, monkeypatch):
    """Every name that shares a body with another name must match its
    DuckDB oracle under adversarial partition counts — 1 (degenerate
    single range), 3 (bucket/score ranges straddle partition borders),
    and 97 (more partitions than some buckets have rows, so many empty
    or single-row window groups). This is the property the distributed
    prefix-sum and sweep constructions claim: output identical on ANY
    partitioning. Every registered query re-applies the session conf
    through ``tune``, which sizes the shuffle from
    SPARK_GRAFT_SHUFFLE_PARTITIONS, so the count is set there."""
    import collections

    from tests.oracle_harness import compare
    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.session import tune

    sf = "/root/testdata/sf0.001"
    qs, oracles = registry.queries(), registry.oracle_sql()
    bodies = collections.Counter(fn.__name__ for fn in qs.values())
    shared = sorted(n for n, fn in qs.items() if bodies[fn.__name__] > 1)
    assert len(shared) >= 10, shared
    try:
        for n in (1, 3, 97):
            monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(n))
            for name in shared:
                compare(spark, f"{name}@{n}", qs[name], oracles[name], sf)
                assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        monkeypatch.undo()
        tune(spark)


def test_substring_rewrite_first_occurrence_wins(spark, tmp_path):
    """End-to-end semantics of the exact-substring rungs on a crafted
    corpus (testdata has no byte-identical docs, so the collapse branch
    needs a fixture): the corpus-FIRST copy survives byte-exact, a
    byte-identical later doc collapses to '', an embedded copy of a
    span is excised from an otherwise-unique doc, a short doc passes
    through untouched with zero windows, and an intra-doc repeat loses
    its second copy. Removal is always a subset of reported dup
    coverage."""
    import hashlib

    from pyspark.sql import functions as F

    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.operators.dedup import SPAN_K

    span = " ".join(f"s{i}" for i in range(SPAN_K))  # 16 unique tokens
    t1 = span + " " + " ".join(f"a{i}" for i in range(4))  # keeper
    t2 = t1  # byte-identical later copy -> collapses
    t3 = " ".join(f"b{i}" for i in range(SPAN_K - 6))  # short doc
    pre = " ".join(f"c{i}" for i in range(5))
    post = " ".join(f"d{i}" for i in range(5))
    t4 = f"{pre} {span} {post}"  # embedded copy of the span
    fill = " ".join(f"e{i}" for i in range(SPAN_K))
    t5 = f"{span} {fill}"  # within-corpus dup of span, unique tail
    rows = [(i + 1, t, "en", "syn", len(t)) for i, t in
            enumerate([t1, t2, t3, t4, t5])]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    rw = {
        r["doc_id"]: r
        for r in registry.queries()["x1_substring_rewrite"](
            spark, str(tmp_path)
        ).collect()
    }
    sp = {
        r["doc_id"]: r
        for r in registry.queries()["x1_substring_spans"](
            spark, str(tmp_path)
        ).collect()
    }
    # corpus-first copy survives byte-exact; identical later doc collapses
    assert rw[1]["n_removed"] == 0 and rw[1]["cleaned_fp"] == md5(t1)
    assert rw[2]["cleaned_fp"] == md5("") and rw[2]["n_removed"] == rw[2]["n_tokens"]
    # short doc: no windows, untouched, trivially kept
    assert sp[3]["n_windows"] == 0 and sp[3]["keep"]
    assert rw[3]["n_removed"] == 0 and rw[3]["cleaned_fp"] == md5(t3)
    # embedded span excised, surroundings survive in order
    assert rw[4]["n_removed"] == SPAN_K
    assert rw[4]["cleaned_fp"] == md5(f"{pre} {post}")
    # later within-corpus copy of the span excised, unique tail kept
    assert rw[5]["n_removed"] == SPAN_K
    assert rw[5]["cleaned_fp"] == md5(fill)
    # removal never exceeds reported dup coverage; the keeper is
    # dup-covered but not removed
    for i in rw:
        assert rw[i]["n_removed"] <= sp[i]["dup_covered"]
    assert sp[1]["dup_covered"] > 0 and rw[1]["n_removed"] == 0


def test_downsampling_rungs_edge_cases(spark, tmp_path):
    """Edge semantics of the downsampling trio on a crafted series set
    the driver testdata can't be relied on to contain: a single-event
    user (span 0 — M4's division guard), a user whose every event
    shares one timestamp (collapses to n=1 after the obs dedup), a
    user at exactly the passthrough boundary (n == 12), same-ts
    duplicate events (min_by event_id wins), and an all-constant
    series (areas/values tie everywhere → ts tiebreaks must hold on
    both LTTB forms and M4)."""
    import datetime

    from pyspark.sql import functions as F

    from weather_data_pipeline_spark import registry
    from weather_data_pipeline_spark.operators.sessionize import (
        LTTB_BUCKETS,
        LTTB_OUT,
    )

    t0 = datetime.datetime(2023, 1, 1)
    rows = []
    eid = 0

    def ev(uid, minutes, value):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, t0 + datetime.timedelta(minutes=minutes), uid, "view",
             float(value), "{}")
        )

    ev(1, 0, 5.0)  # user 1: single event (span 0)
    for i in range(7):  # user 2: all events at ONE timestamp; min
        ev(2, 0, 10.0 + i)  # event_id carries value 10.0 -> n=1 kept
    for i in range(LTTB_OUT):  # user 3: exactly at passthrough boundary
        ev(3, i * 60, i)
    for i in range(2 * LTTB_OUT):  # user 4: constant values (all ties)
        ev(4, i * 60, 7.0)
    for i in range(2 * LTTB_OUT):  # user 5: a real series, one spike
        ev(5, i * 60, 100.0 if i == 13 else 1.0)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    qs = registry.queries()
    for name in ("x6_lttb_downsample", "x6_lttb_exact"):
        got = qs[name](spark, str(tmp_path)).collect()
        by_user = {}
        for r in got:
            by_user.setdefault(r["user_id"], []).append(r)
        # single-event + same-ts users pass through as one row, slot 0
        for uid, want_v in ((1, 5.0), (2, 10.0)):
            assert len(by_user[uid]) == 1 and by_user[uid][0]["slot"] == 0
            assert by_user[uid][0]["v"] == want_v, name
        # boundary user: all 12 points, slots 0..11
        assert sorted(r["slot"] for r in by_user[3]) == list(range(LTTB_OUT))
        # downsampled users: exactly 12 rows, slots 0..11, first+last kept
        for uid in (4, 5):
            assert sorted(r["slot"] for r in by_user[uid]) == list(
                range(LTTB_OUT)
            ), (name, uid)
        # constant series: every tie breaks to the EARLIEST candidate,
        # so selected points are identical across both LTTB forms
        # (checked implicitly by comparing the two rungs below)
        # spike survives: slot of the max-v row for user 5
        assert any(r["v"] == 100.0 for r in by_user[5]), name
    # both LTTB forms agree wherever ties decide everything (user 4)
    a = sorted(
        (r["pt"], r["slot"])
        for r in qs["x6_lttb_downsample"](spark, str(tmp_path)).collect()
        if r["user_id"] == 4
    )
    b = sorted(
        (r["pt"], r["slot"])
        for r in qs["x6_lttb_exact"](spark, str(tmp_path)).collect()
        if r["user_id"] == 4
    )
    assert a == b

    m4 = qs["x6_m4_downsample"](spark, str(tmp_path)).collect()
    m4_by_user = {}
    for r in m4:
        m4_by_user.setdefault(r["user_id"], []).append(r)
    # span-0 users: the division guard routes everything to bin 0 and
    # one point holds all four roles (one row per role)
    for uid, want_v in ((1, 5.0), (2, 10.0)):
        g = m4_by_user[uid]
        assert {r["role"] for r in g} == {"first", "last", "min", "max"}
        assert all(r["bin"] == 0 and r["v"] == want_v for r in g), uid
    # spike user: the max role in the spike's bin carries 100.0
    assert any(
        r["role"] == "max" and r["v"] == 100.0 for r in m4_by_user[5]
    )
    # constant user: min == max value everywhere; roles tie to earliest
    # ts within each bin, so min-role and max-role pts coincide
    for r in m4_by_user[4]:
        assert r["v"] == 7.0
    pts = {}
    for r in m4_by_user[4]:
        pts.setdefault(r["bin"], {})[r["role"]] = r["pt"]
    for _bin, roles in pts.items():
        assert roles["min"] == roles["max"] == roles["first"]


def test_interval_ladder_matches_brute_force(spark, tmp_path):
    """All three interval-overlap rungs (grid pair join, sweep counts,
    duration coverage) must agree with a brute-force Python replay of
    the same derivations on a crafted mini-corpus hitting the edges:
    a 1-day graze on each side, exact adjacency (no overlap by one
    day), full containment both directions, and a shipment/window
    overlapping nothing (absent from output under the n>0 contract)."""
    import datetime

    from weather_data_pipeline_spark import registry

    base = datetime.datetime(1994, 1, 1)
    li_rows = []
    for i, (ok, ln, ship_off) in enumerate(
        [
            (1, 1, 30),     # somewhere in window territory
            (2, 3, 0),      # starts at the epoch
            (40, 2, 100),   # long transit (len = 1+(40*7+2)%30)
            (7, 1, 5000),   # far future: overlaps nothing
            (11, 4, 61),    # tuned by brute force, not by hand
            (13, 2, 36),
        ]
    ):
        li_rows.append(
            (ok, 1, 1, ln, 2.0 + i, 10.0, 0.0, 0.0, "N", "O",
             base + datetime.timedelta(days=ship_off))
        )
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    supp = [1, 2, 5, 64]  # 64*37%2400=2368: window far from all transits
    spark.createDataFrame(
        [(k, f"s{k}", 0, 0.0) for k in supp],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/supplier.parquet")

    # brute force with the same derivations
    def day(off):
        return off  # day offsets from 1994-01-01 are enough

    transits = []
    for ok, _, _, ln, qty, *_rest, ship in li_rows:
        off = (ship - base).days
        transits.append((off, off + 1 + (ok * 7 + ln) % 30, qty))
    expect = {}
    for k in supp:
        ws = (k * 37) % 2400
        we = ws + 7 + (k * 11) % 84
        n = sq = cov = 0
        for ts_, te, qty in transits:
            if ts_ <= we and te >= ws:
                n += 1
                sq += qty
                cov += min(te, we) - max(ts_, ws) + 1
        if n:
            expect[k] = (n, round(sq, 2), cov)

    qs = registry.queries()
    got_pairs = {
        r["window_id"]: (r["n_transit"], r["sum_qty"])
        for r in qs["x7_interval_overlap"](spark, str(tmp_path)).collect()
    }
    got_sweep = {
        r["window_id"]: (r["n_transit"], r["sum_qty"])
        for r in qs["x7_interval_overlap_sweep"](
            spark, str(tmp_path)
        ).collect()
    }
    got_cov = {
        r["window_id"]: (r["n_transit"], r["covered_days"])
        for r in qs["x7_interval_coverage"](spark, str(tmp_path)).collect()
    }
    assert set(got_pairs) == set(expect)
    assert set(got_sweep) == set(expect)
    assert set(got_cov) == set(expect)
    for k, (n, sq, cov) in expect.items():
        assert got_pairs[k] == (n, sq), ("pairs", k)
        assert got_sweep[k] == (n, sq), ("sweep", k)
        assert got_cov[k] == (n, cov), ("coverage", k)


# ---------------------------------------------------------------------------
# URL canonicalization: idempotence + crafted edge cases. A canonical
# URL must re-canonicalize to ITSELF (fragments, www, default ports and
# utm params are gone; param order is sorted) — the property the
# crawl-frontier dedup key rests on: if canon were not a fixpoint, two
# fetches of the same canonical URL could land in different groups.
# ---------------------------------------------------------------------------


def test_url_canonicalization_idempotent_and_edges(spark):
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.dedup import (
        with_canonical_url,
    )

    raw = [
        "HTTPS://www.News.Example.COM:443/articles/7/?utm_source=f&id=7#s",
        "https://news.example.com/articles/7?id=7&utm_campaign=x",
        "http://Example.com:80/a?z=2&a=1",
        "http://example.com:8080/a",  # non-default port SURVIVES
        "https://example.com/",  # root slash survives
        "https://example.com/x?utm_a=1&utm_b=2",  # all params dropped
        "ftp://Mixed.Case.Host/Path/",  # unknown scheme: no port rule
    ]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    once = with_canonical_url(df).select(
        F.col("url"), F.col("canonical_url").alias("c1")
    )
    twice = with_canonical_url(
        once.select("url", F.col("c1").alias("url_c"), F.col("c1"))
        .withColumnRenamed("url", "url_orig")
        .withColumnRenamed("url_c", "url")
    ).select("url_orig", "c1", F.col("canonical_url").alias("c2"))
    rows = {r["url_orig"]: (r["c1"], r["c2"]) for r in twice.collect()}
    for u, (c1, c2) in rows.items():
        assert c1 == c2, f"not a fixpoint: {u} -> {c1} -> {c2}"
    c = {u: rows[u][0] for u in rows}
    # the two decorated forms of article 7 collapse to one key
    assert c[raw[0]] == c[raw[1]] == "https://news.example.com/articles/7?id=7"
    assert c["http://Example.com:80/a?z=2&a=1"] == "http://example.com/a?a=1&z=2"
    assert c["http://example.com:8080/a"] == "http://example.com:8080/a"
    assert c["https://example.com/"] == "https://example.com/"
    assert c["https://example.com/x?utm_a=1&utm_b=2"] == "https://example.com/x"


# ---------------------------------------------------------------------------
# Scene-cut kernel: the vectorized numpy windowing/diff must match a
# plain-python reference on arbitrary payloads (frame truncation, the
# zero-frame skip convention, first-cut indexing, tie behavior at the
# threshold).
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=130),
        min_size=1,
        max_size=8,
    )
)
def test_scene_cut_kernel_matches_reference(payloads):
    import pandas as pd

    from weather_data_pipeline_spark.operators.multimodal import (
        SCENE_FRAME,
        SCENE_THRESH,
        _scene_cut_batches,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(payloads))),
            "payload": [b"\x66\x74\x79\x70" + p for p in payloads],
        }
    )
    got = {
        int(r.doc_id): (
            int(r.n_frames),
            int(r.n_cuts),
            int(r.max_diff),
            int(r.first_cut_frame),
        )
        for out in _scene_cut_batches(iter([pdf]))
        for r in out.itertuples()
    }
    for doc_id, p in enumerate(payloads):
        nf = len(p) // SCENE_FRAME
        if nf == 0:
            assert doc_id not in got
            continue
        frames = [
            list(p[j * SCENE_FRAME : (j + 1) * SCENE_FRAME])
            for j in range(nf)
        ]
        diffs = [
            sum(abs(a - b) for a, b in zip(frames[j], frames[j - 1]))
            for j in range(1, nf)
        ]
        cuts = [j + 1 for j, d in enumerate(diffs) if d > SCENE_THRESH]
        expect = (
            nf,
            len(cuts),
            max(diffs) if diffs else 0,
            cuts[0] if cuts else -1,
        )
        assert got[doc_id] == expect, (doc_id, got[doc_id], expect)


# ---------------------------------------------------------------------------
# Backtest folds: the integer cut points must tile the span without
# gaps, overlaps, or future leakage for ANY span — the non-leakage
# property the walk-forward protocol exists for.
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=5000))
def test_backtest_fold_cuts_monotone_no_leak(span):
    from weather_data_pipeline_spark.operators.sessionize import (
        BACKTEST_FOLDS,
    )

    cuts = [
        (i * span) // (BACKTEST_FOLDS + 1)
        for i in range(BACKTEST_FOLDS + 2)
    ]
    assert cuts[0] == 0 and cuts[-1] == span
    for lo, hi in zip(cuts, cuts[1:]):
        assert lo <= hi  # slices tile: no overlap, no gap
    # train window of fold i ends exactly where its test window starts
    for i in range(1, BACKTEST_FOLDS + 1):
        assert cuts[i] <= cuts[i + 1]


# ---------------------------------------------------------------------------
# Round-11 kernels: keyframe tiling vs a plain-python reference, and the
# Bloom position family's structural no-false-negative guarantee
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=130),
        min_size=1,
        max_size=8,
    )
)
def test_keyframe_kernel_matches_reference(payloads):
    """The keyframe kernel against a naive python reference under
    arbitrary payloads: scenes start at 0 and after every cut, tile the
    clip exactly (no gap/overlap), and each keyframe hex is the byte-
    exact slice of the scene's first frame — the same crafted-input
    discipline as the scene-cut kernel above (frame truncation,
    zero-frame skip, single-frame clips)."""
    import pandas as pd

    from weather_data_pipeline_spark.operators.multimodal import (
        SCENE_FRAME,
        SCENE_THRESH,
        _keyframe_batches,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(payloads))),
            "payload": [b"\x66\x74\x79\x70" + p for p in payloads],
        }
    )
    got = {}
    for out in _keyframe_batches(iter([pdf])):
        for r in out.itertuples():
            got.setdefault(int(r.doc_id), []).append(
                (int(r.scene_idx), int(r.start_frame),
                 int(r.scene_len), r.keyframe_hex)
            )
    for doc_id, p in enumerate(payloads):
        nf = len(p) // SCENE_FRAME
        if nf == 0:
            assert doc_id not in got
            continue
        frames = [
            list(p[j * SCENE_FRAME : (j + 1) * SCENE_FRAME])
            for j in range(nf)
        ]
        diffs = [
            sum(abs(a - b) for a, b in zip(frames[j], frames[j - 1]))
            for j in range(1, nf)
        ]
        starts = [0] + [j + 1 for j, d in enumerate(diffs) if d > SCENE_THRESH]
        expect = []
        for si, stt in enumerate(starts):
            end = starts[si + 1] if si + 1 < len(starts) else nf
            kb = bytes(p[stt * SCENE_FRAME : (stt + 1) * SCENE_FRAME])
            expect.append((si, stt, end - stt, kb.hex().upper()))
        rows = sorted(got[doc_id])
        assert rows == expect, (doc_id, rows, expect)
        # tiling: lengths sum to nf and starts chain with no gap/overlap
        assert sum(r[2] for r in rows) == nf
        for a, b in zip(rows, rows[1:]):
            assert b[1] == a[1] + a[2]


@settings(max_examples=100, deadline=None)
@given(
    member=st.text(min_size=0, max_size=40),
    registry=st.lists(st.text(min_size=0, max_size=40), max_size=20),
)
def test_bloom_positions_no_false_negative_by_construction(member, registry):
    """The Bloom family's structural guarantee, on the portable hash
    family both engines share: a registered digest's K positions are a
    subset of the registry's position set, so membership always implies
    a flag — for ANY digest strings, not just the parquet corpus. The
    python model recomputes the md5-prefix positions exactly as the
    SQL/Spark expressions do."""
    import hashlib

    from weather_data_pipeline_spark.operators.dedup import BLOOM_K, BLOOM_M

    def positions(digest: str) -> set:
        return {
            int(hashlib.md5(f"{i}#{digest}".encode()).hexdigest()[:15], 16)
            % BLOOM_M
            for i in range(BLOOM_K)
        }

    reg_positions = set().union(*(positions(d) for d in registry + [member]))
    assert positions(member) <= reg_positions  # member => flagged, always
    # and every position is a valid bit index
    assert all(0 <= p < BLOOM_M for p in reg_positions)


# ----------------------------------------------------------------------
# the frontier kernel at unit weights vs reference breadth-first search
# ----------------------------------------------------------------------

bfs_graphs = st.tuples(
    # directed edges over a small node space (collisions/cycles likely)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    # seed nodes (may include nodes absent from the edge list)
    st.lists(
        st.integers(min_value=0, max_value=12), min_size=1, max_size=4
    ),
    # hop bound, including 0-ish degenerate walks
    st.integers(min_value=1, max_value=4),
)


def _reference_bfs(edges, seeds, max_hop):
    """Textbook queue BFS: min hop per reached node."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    hop = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hop + 1):
        nxt = set()
        for n in frontier:
            for d in adj.get(n, ()):
                if d not in hop:
                    hop[d] = h
                    nxt.add(d)
        if not nxt:
            break
        frontier = nxt
    return sorted(hop.items())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(bfs_graphs)
def test_bfs_kernel_matches_reference(spark, graph):
    """Hop-bounded BFS is the unit-weight case of the frontier kernel:
    ``sssp_rounds`` with ``w = 1`` must agree with a queue BFS on
    arbitrary digraphs — cycles, self-loops, seeds outside the edge
    list, duplicate edges, early exhaustion — for every hop bound
    (min-hop semantics: a later round must never relabel an
    already-reached node with a larger hop)."""
    from weather_data_pipeline_spark.operators.graph import sssp_rounds

    edges, seeds, max_hop = graph
    edf = spark.createDataFrame(
        [(s, d, 1) for s, d in edges], "src long, dst long, w long"
    )
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = sorted(
        (r["node"], r["dist"])
        for r in sssp_rounds(sdf, edf, max_hop).collect()
    )
    assert got == _reference_bfs(edges, set(seeds), max_hop)


def test_zipf_fit_green_path_on_zipfian_table(spark):
    """Both branches of the Zipf naturalness gate must be pinned
    (VERDICT r12 ask #4). The FIRING branch is pinned on the template
    corpus by tests/test_plans.py::
    test_zipf_fit_plan_and_diagnostic_direction (slope<0, R²<0.5);
    here the GREEN branch: a genuinely Zipf-distributed term table —
    counts n(r) = floor(C / r^s) for s in {0.9, 1.0, 1.1} — run
    through the SAME extracted fit must recover slope ≈ −s with a
    near-perfect log-log fit (floor() quantization keeps it off 1.0),
    proving a natural corpus would PASS the gate the synthetic corpus
    fails."""
    from weather_data_pipeline_spark.operators.text_analysis import (
        ZIPF_TOP,
        zipf_fit_from_tf,
    )

    C = 1_000_000
    rows = [
        (f"zipf_s{int(s * 10)}", f"t{r:03d}", int(C / r**s))
        for s in (0.9, 1.0, 1.1)
        for r in range(1, ZIPF_TOP + 1)
    ]
    tf = spark.createDataFrame(rows, "lang string, term string, n long")
    got = {r["lang"]: r for r in zipf_fit_from_tf(tf).collect()}
    assert set(got) == {"zipf_s9", "zipf_s10", "zipf_s11"}
    for s, lang in ((0.9, "zipf_s9"), (1.0, "zipf_s10"), (1.1, "zipf_s11")):
        r = got[lang]
        assert r["n_terms"] == ZIPF_TOP
        # floor(C/r^s) quantization perturbs the exact power law only
        # at the tail, so the fitted slope sits within 2% of −s
        assert abs(r["zipf_slope"] - (-s)) < 0.02 * s, (lang, r)
        assert r["fit_r2"] is not None and r["fit_r2"] > 0.999, (lang, r)
        # and the green branch of the gate the query documents: a
        # natural corpus clears the R² < 0.5 diagnostic with room
        assert r["fit_r2"] >= 0.5


# ----------------------------------------------------------------------
# round 13: the weighted SSSP kernel vs reference Bellman–Ford/Dijkstra
# ----------------------------------------------------------------------

sssp_graphs = st.tuples(
    # weighted directed edges over a small node space (cycles, parallel
    # edges with different weights, zero-weight edges all likely)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    # seed nodes (may include nodes absent from the edge list)
    st.lists(
        st.integers(min_value=0, max_value=12), min_size=1, max_size=4
    ),
    # round bound, including bounds far below convergence
    st.integers(min_value=1, max_value=4),
)


def _reference_bounded_bf(edges, seeds, rounds):
    """Textbook full Bellman–Ford, ``rounds`` relaxation sweeps: the
    exact min cost over paths of ≤ rounds edges."""
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and (d not in nxt or dist[s] + w < nxt[d]):
                nxt[d] = dist[s] + w
        dist = nxt
    return sorted(dist.items())


def _reference_dijkstra(edges, seeds):
    """Heap Dijkstra: converged multi-source shortest distances."""
    import heapq

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {}
    heap = [(0, s) for s in set(seeds)]
    heapq.heapify(heap)
    while heap:
        d, n = heapq.heappop(heap)
        if n in dist:
            continue
        dist[n] = d
        for m, w in adj.get(n, ()):
            if m not in dist:
                heapq.heappush(heap, (d + w, m))
    return sorted(dist.items())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sssp_graphs)
def test_sssp_kernel_matches_reference(spark, graph):
    """The delta-relaxation SSSP must agree with FULL Bellman–Ford at
    every round bound (the bounded-propagation semantics the oracle
    unrolls), and with heap Dijkstra once the bound covers the
    shortest-path diameter (13 nodes → 12 edges suffices) — on
    arbitrary weighted digraphs: cycles, parallel edges, zero weights,
    seeds outside the edge list (VERDICT r12 ask #5)."""
    from weather_data_pipeline_spark.operators.graph import sssp_rounds

    edges, seeds, rounds = graph
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = sorted(
        (r["node"], r["dist"])
        for r in sssp_rounds(sdf, edf, rounds).collect()
    )
    assert got == _reference_bounded_bf(edges, set(seeds), rounds)
    converged = sorted(
        (r["node"], r["dist"])
        for r in sssp_rounds(sdf, edf, 12).collect()
    )
    assert converged == _reference_dijkstra(edges, seeds)


def test_cdc_chunking_insertion_stable(spark):
    """The defining CDC property (round 13): boundaries depend only on
    the local CDC_W-token window, so inserting one token re-hashes
    only the chunks overlapping the edit while every later chunk's
    hash SURVIVES (a fixed-size blocker would invalidate all of them).
    Built docs: 200 deterministic pseudo-random tokens vs the same
    with one token inserted mid-doc. Also pins the partition
    invariant: each doc's chunk lengths sum to its token count."""
    from weather_data_pipeline_spark.operators.dedup import cdc_chunks

    rng_tokens = [f"w{(i * 2654435761) % 997:03d}" for i in range(200)]
    original = " ".join(rng_tokens)
    edited = " ".join(rng_tokens[:100] + ["INSERTED"] + rng_tokens[100:])
    doc = spark.createDataFrame(
        [(0, original), (1, edited)], "doc_id long, text string"
    )
    rows = cdc_chunks(doc).collect()
    by_doc = {0: [], 1: []}
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    # partition invariant: chunks tile the token sequence exactly
    assert sum(r["clen"] for r in by_doc[0]) == 200
    assert sum(r["clen"] for r in by_doc[1]) == 201
    h0 = [r["ch"] for r in by_doc[0]]
    h1 = [r["ch"] for r in by_doc[1]]
    shared = set(h0) & set(h1)
    # the edit can disturb at most the chunks whose boundary windows
    # overlap the insertion point; everything before AND after must
    # re-synchronize — require the overwhelming majority shared
    assert len(shared) >= len(h0) - 3, (len(h0), len(h1), len(shared))
    # and chunks strictly after the edit survive in ORDER (suffix
    # stability, the shift-invalidation fixed-size blocks cannot give)
    tail0 = [h for h in h0 if h in shared]
    tail1 = [h for h in h1 if h in shared]
    assert tail0[-3:] == tail1[-3:]


def test_cdc_chunking_short_docs_single_chunk(spark):
    """ADVICE r13 regression pin: docs shorter than CDC_W tokens must
    yield exactly ONE whole-doc chunk (the oracle's empty
    generate_series branch), never crash. Pre-fix, sequence(CDC_W, n)
    ran DESCENDING for n < CDC_W: a 3-token doc crashed on
    slice(th, 0, 4) and 1–2 token docs hit negative slice starts that
    wrapped from the array end (spurious boundaries, clen > n)."""
    from weather_data_pipeline_spark.operators.dedup import (
        CDC_W,
        cdc_chunks,
    )

    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in (1, 2, 3)]
    assert all(len(t.split(" ")) < CDC_W for _, t in docs)
    # plus one boundary doc (n == CDC_W) and one long doc as controls
    docs.append((CDC_W, " ".join(f"t{i}" for i in range(CDC_W))))
    docs.append((50, " ".join(f"w{i * 7 % 13}" for i in range(50))))
    doc = spark.createDataFrame(docs, "doc_id long, text string")
    rows = cdc_chunks(doc).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for n in (1, 2, 3):
        assert len(by_doc[n]) == 1, (n, by_doc[n])
        assert by_doc[n][0]["clen"] == n
    # controls: chunks still tile exactly
    assert sum(r["clen"] for r in by_doc[CDC_W]) == CDC_W
    assert sum(r["clen"] for r in by_doc[50]) == 50


def test_unigram_train_pruning_monotone_and_exact_logprobs(spark):
    """Unigram-LM training properties (round 14, VERDICT r13 ask #5):
    (a) PRUNING MONOTONICITY — each EM round's vocabulary is a subset
    of the previous round's (the M-step can only drop pieces no
    winning segmentation uses; the Laplace floor keeps every single
    char alive in every round); (b) the emitted log-prob microunits
    are EXACTLY floor(ln(cnt/total)·1e12) recomputed in Python from
    the same integer counts; (c) every word remains segmentable —
    the all-singles fallback — so the final vocab covers the corpus
    alphabet."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.text_analysis import (
        UNI_LP_SCALE,
        UNI_ROUNDS,
        unigram_vocab_rounds,
    )

    sf = "/root/testdata/sf0.001"
    doc = spark.read.parquet(f"{sf}/documents.parquet")
    wc = (
        doc.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    vocabs = [
        {r["piece"]: (r["cnt"], r["lp"]) for r in v.collect()}
        for v in unigram_vocab_rounds(wc, UNI_ROUNDS)
    ]
    assert len(vocabs) == UNI_ROUNDS + 1
    chars = {
        c for r in wc.select("word").collect() for c in r["word"]
    }
    for i in range(1, len(vocabs)):
        assert set(vocabs[i]) <= set(vocabs[i - 1])  # (a) monotone
    # pruning bites in round 1 (the seed's unused substrings drop);
    # later rounds may legitimately converge (no further pruning)
    assert len(vocabs[1]) < len(vocabs[0])
    for v in vocabs:
        assert chars <= set(v)  # (c) alphabet never pruned
        import math

        total = sum(c for c, _ in v.values())
        for piece, (cnt, lp) in v.items():  # (b) exact microunits
            assert lp == math.floor(
                math.log(cnt / total) * UNI_LP_SCALE
            ), piece


def test_unigram_dp_equals_mask_enumeration(spark):
    """VERDICT r14 ask #5 pin: the linear Viterbi DP kernel equals the
    2^(L-1) mask enumeration on ≤ UNI_MAX_WORD words — identical
    final vocabulary (piece, cnt, lp) AND identical winning
    segmentation per word under that vocabulary. The synthetic corpus
    is built to FORCE score ties (single-char runs, period-2/3
    repeats — many segmentations share a score, so only a correct
    mask-ASC-equivalent tiebreak passes), with word lengths up to the
    full 16-char enumeration ceiling; a real-corpus cross-check runs
    the same equality on the sf0.001 documents vocabulary."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark.operators.text_analysis import (
        UNI_ROUNDS,
        _unigram_best_seg,
        _unigram_mseg,
        unigram_vocab_rounds,
    )

    def both_paths_equal(wc):
        v_enum = unigram_vocab_rounds(wc, UNI_ROUNDS)
        v_dp = unigram_vocab_rounds(wc, UNI_ROUNDS, use_dp=True)
        for ve, vd in zip(v_enum, v_dp):
            de = {r["piece"]: (r["cnt"], r["lp"]) for r in ve.collect()}
            dd = {r["piece"]: (r["cnt"], r["lp"]) for r in vd.collect()}
            assert de == dd
        mseg = _unigram_mseg(wc)
        se = sorted(
            tuple(r) for r in _unigram_best_seg(wc, v_enum[-1], mseg).collect()
        )
        sd = sorted(
            tuple(r) for r in _unigram_best_seg(wc, v_dp[-1], None).collect()
        )
        assert se == sd
        assert len(se) > 0

    tie_words = [
        ("aaaa", 9),
        ("aaaaaaaa", 7),
        ("aaaaaaaaaaaaaaaa", 2),  # 16 chars: 2^15 masks, all-tie heavy
        ("abababab", 5),
        ("abcabcabcabc", 3),
        ("banana", 4),
        ("bananaban", 2),
        ("xy", 11),
        ("x", 13),
        ("zzzzyzzzz", 1),
    ]
    wc_tie = spark.createDataFrame(tie_words, "word string, n long")
    both_paths_equal(wc_tie)

    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wc_real = (
        doc.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    both_paths_equal(wc_real)


def test_unigram_long_word_corpus_runs_via_dp(spark, tmp_path):
    """VERDICT r14 ask #5, the other half: a corpus with words past
    UNI_MAX_WORD (URLs, code identifiers, agglutinative compounds —
    the ceiling the old fail-fast rejected) now DISPATCHES to the DP
    kernel and runs end-to-end: train emits an alphabet-covering
    vocabulary of ≤ UNI_MAX_PIECE-char pieces, apply tokenizes every
    document (pieces re-concatenate to each word — checked via token
    counts), and both are deterministic across reruns."""
    from weather_data_pipeline_spark.operators.text_analysis import (
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
        x4_unigram_apply,
        x4_unigram_train,
    )

    texts = [
        "https://example.com/downloads/release_notes_v2 readme",
        "internationalization localization handschuhschneeballwerfer",
        "supercalifragilisticexpialidocious plain words here",
        "the quick brown fox jumps over the lazy dog",
    ]
    assert max(len(w) for t in texts for w in t.split()) > UNI_MAX_WORD
    rows = [
        (i, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    vocab = {
        r["piece"]: (r["freq"], r["logp_micro"])
        for r in x4_unigram_train(spark, sf_dir).collect()
    }
    chars = {c for t in texts for w in t.split() for c in w}
    assert chars <= set(vocab)  # alphabet never pruned
    assert all(1 <= len(p) <= UNI_MAX_PIECE for p in vocab)
    vocab2 = {
        r["piece"]: (r["freq"], r["logp_micro"])
        for r in x4_unigram_train(spark, sf_dir).collect()
    }
    assert vocab == vocab2  # deterministic rerun

    ap = {r["doc_id"]: r for r in x4_unigram_apply(spark, sf_dir).collect()}
    assert set(ap) == {0, 1, 2, 3}
    import math

    for i, t in enumerate(texts):
        words = t.split()
        assert ap[i]["n_words"] == len(words)
        # each word costs between ceil(len/P) and len pieces
        lo = sum(math.ceil(len(w) / UNI_MAX_PIECE) for w in words)
        assert lo <= ap[i]["n_tokens"] <= sum(len(w) for w in words)
    ap2 = {r["doc_id"]: r for r in x4_unigram_apply(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in ap.items()} == {
        k: tuple(v) for k, v in ap2.items()
    }


#: documents as (key, text) over a tiny vocabulary; joining token lists
#: that contain "" yields the empty text, leading and trailing spaces
#: and double spaces — the "" tokens on which the term-count callers
#: differ (some keep them, others drop them with min_len)
token_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.lists(
            st.sampled_from(["", "a", "b", "ab", "abc"]), max_size=6
        ).map(" ".join),
    ),
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=token_docs)
@example(docs=[(0, ""), (0, " a"), (1, "ab "), (1, "a  b"), (2, "  abc b ")])
def test_term_counts_match_counter(spark, docs):
    """``term_counts`` with and without a key, at every ``min_len`` the
    callers use, equals ``collections.Counter`` over ``str.split(" ")``;
    ``tokens(pos=True)`` yields each token at its 0-based position."""
    from collections import Counter

    from weather_data_pipeline_spark.functions.tokens import (
        term_counts,
        tokens,
    )

    doc = spark.createDataFrame(docs, "k int, text string")
    for min_len in (0, 1, 2):
        toks = [
            (k, t) for k, text in docs for t in text.split(" ")
            if len(t) >= min_len
        ]
        keyed = term_counts(doc, "k", min_len=min_len).collect()
        assert {(r.k, r.term): r.n for r in keyed} == Counter(toks)
        corpus = term_counts(doc, min_len=min_len).collect()
        assert {r.term: r.n for r in corpus} == Counter(t for _, t in toks)
    positions = sorted(tuple(r) for r in tokens(doc, "k", pos=True).collect())
    assert positions == sorted(
        (k, i, t) for k, text in docs for i, t in enumerate(text.split(" "))
    )
