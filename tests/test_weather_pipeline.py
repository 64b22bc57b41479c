"""End-to-end weather pipeline: raw JSON tree → staged → curated table →
flagship → serving (reference lifecycle §3.1-3.3, restated Spark-first)."""

from __future__ import annotations

import json
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from weather_data_pipeline_spark import pipeline
from weather_data_pipeline_spark.sources import weather as wsrc
from weather_data_pipeline_spark.transforms import flatten_raw

from .conftest import SF_SMOKE, job_id


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wx"))
    table = "weather.weather_test"
    spark.sql("DROP TABLE IF EXISTS weather.weather_test")
    pipeline.extract_to_raw(root)
    staged = pipeline.stage(spark, root)
    pipeline.curate(spark, staged, table=table, path=f"{root}/curated")
    return table


def test_fixture_deterministic(tmp_path):
    """Two generations are byte-identical (the committed fixture is stable)."""
    a, b = tmp_path / "a", tmp_path / "b"
    wsrc.write_raw_docs(wsrc.synthesize_raw_docs(), str(a))
    wsrc.write_raw_docs(wsrc.synthesize_raw_docs(), str(b))
    fa = sorted(p.relative_to(a) for p in a.rglob("*.txt"))
    assert len(fa) == 27
    for rel in fa:
        assert (a / rel).read_bytes() == (b / rel).read_bytes()


def test_staged_schema(spark):
    staged = flatten_raw(wsrc.read_raw(spark, wsrc.ensure_fixture()))
    assert len(staged.columns) == 31  # FIXTURES.md §A flattened schema
    assert staged.columns[0] == "city"
    assert dict(staged.dtypes)["localtime"] == "timestamp_ntz"
    assert staged.count() == 27
    # H:mm single-digit hours parsed, none lost
    assert staged.filter(F.col("localtime").isNull()).count() == 0


def test_partition_pruning_one_day(spark, tmp_path):
    """Reading one date dir (the reference's manual pruning) sees 9 rows."""
    root = str(tmp_path)
    pipeline.extract_to_raw(root)
    one = pipeline.stage(spark, root, date=wsrc.FIXTURE_DATES[0])
    assert one.count() == 9


def test_curated_partitioned_table(spark, curated):
    df = spark.table(curated)
    assert df.count() == 27
    assert "ingest_date" in df.columns
    # date predicate prunes to one partition's files
    pruned = df.filter(F.col("ingest_date") == wsrc.FIXTURE_DATES[1])
    assert pruned.count() == 9
    # partition filter must reach the scan, not run as a post-filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ingest_date" in plan


def test_flagship_latest_snapshot(spark, curated):
    latest = pipeline.latest_snapshot(spark, curated)
    rows = latest.collect()
    assert len(rows) == 9  # one per city
    by_city = {r.city: r for r in rows}
    assert set(by_city) == set(wsrc.CITIES)
    # each flagship row carries the max localtime for its city
    staged = spark.table(curated)
    maxes = {
        r.city: r.mx
        for r in staged.groupBy("city").agg(F.max("localtime").alias("mx")).collect()
    }
    for city, r in by_city.items():
        assert r.localtime == maxes[city]


def test_session_builds_without_call_site_capture(spark):
    """``get_spark`` turns PySpark's per-Column call-site capture off. It
    is a static conf, so the builder is the only place it can be set."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException, match="CANNOT_MODIFY_STATIC_CONFIG"):
        spark.conf.set(key, "true")


def _spark_rows(df, city: str) -> list[str]:
    """The Spark path ``serve`` falls back to, as the reference for its memo."""
    if city != "All":
        df = df.filter(F.col("city") == city)
    return df.toJSON().collect()


def test_serve_filter_and_json(spark, curated):
    latest = pipeline.latest_snapshot(spark, curated)
    all_rows = pipeline.serve(latest, "All")
    assert len(all_rows) == 9
    london = pipeline.serve(latest, "London")
    assert len(london) == 1
    doc = json.loads(london[0])
    assert doc["city"] == "London"
    assert "temp_c" in doc

    # A persisted snapshot: point requests after 'All' run no Spark job and
    # return the Spark path's strings, in its order.
    snap = pipeline.latest_snapshot(spark, curated).persist()
    try:
        assert pipeline.serve(snap, "All") == _spark_rows(snap, "All")
        for city in [*wsrc.CITIES, "Atlantis", "All"]:
            before = job_id(spark)
            got = pipeline.serve(snap, city)
            assert job_id(spark) == before, city
            assert got == _spark_rows(snap, city), city
        assert pipeline.serve(snap, "Atlantis") == []
    finally:
        snap.unpersist()


def test_serve_memo_invalidation(spark, tmp_path, monkeypatch):
    """The memo answers only for the cache entry it was collected from: an
    append re-caches the snapshot, an unpersist drops it, and an entry
    over the row bound or without a ``city`` column takes the Spark path."""
    root, table = str(tmp_path), "weather.weather_memo_test"
    first, second = wsrc.FIXTURE_DATES[:2]
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    pipeline.extract_to_raw(root, [first, second])

    def append(date: str) -> None:
        pipeline.curate(spark, pipeline.stage(spark, root, date=date),
                        table=table, path=f"{root}/curated")

    append(first)
    snap = pipeline.latest_snapshot(spark, table).persist()
    old = pipeline.serve(snap, "London")
    assert pipeline.serve(snap, "All") == _spark_rows(snap, "All")

    append(second)
    new = pipeline.serve(snap, "London")
    assert new == _spark_rows(snap, "London") != old
    assert json.loads(new[0])["localtime"].startswith(second)
    assert pipeline.serve(snap, "All") == _spark_rows(snap, "All")

    snap.unpersist()
    before = job_id(spark)
    assert pipeline.serve(snap, "Tokyo") == _spark_rows(snap, "Tokyo")
    assert job_id(spark) > before

    monkeypatch.setattr(pipeline, "SERVE_MEMO_ROWS", 8)
    big = pipeline.latest_snapshot(spark, table).persist()
    try:
        for city in ["London", "All", "Tokyo", "Atlantis"]:
            before = job_id(spark)
            assert pipeline.serve(big, city) == _spark_rows(big, city), city
            assert job_id(spark) > before, city
        assert pipeline._memos[big].rows is None
    finally:
        big.unpersist()

    # Filter resolves a dropped column through the projection, so a point
    # request on this frame runs on the Spark path; one with no city
    # column at all still raises.
    dropped, no_city = snap.drop("city").persist(), spark.range(3).persist()
    try:
        assert pipeline.serve(dropped, "All") == _spark_rows(dropped, "All")
        assert pipeline.serve(dropped, "London") == _spark_rows(dropped, "London")
        with pytest.raises(AnalysisException):
            pipeline.serve(no_city, "London")
        assert pipeline.serve(no_city, "All") == _spark_rows(no_city, "All")
        with pytest.raises(AnalysisException):
            pipeline.serve(no_city, "London")
    finally:
        dropped.unpersist()
        no_city.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_serve_memo_concurrent_requests(spark, curated):
    """Threads that all miss the memo at once, then keep requesting, get
    the Spark path's rows every time: the memo is shared by every caller."""
    snap = pipeline.latest_snapshot(spark, curated).persist()
    cities = [*wsrc.CITIES, "Atlantis", "All"]
    want = {c: _spark_rows(snap, c) for c in cities}

    def client(k: int) -> None:
        for i in range(40):
            city = cities[(k + i) % len(cities)]
            assert pipeline.serve(snap, city) == want[city], city

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(client, k) for k in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        snap.unpersist()


def test_weather_api_datasource(spark):
    """O1 custom DataSource: one InputPartition per (city, day); synthetic
    rows equal the fixture raw layer exactly; options narrow the fetch."""
    from weather_data_pipeline_spark.sources import api_source
    from weather_data_pipeline_spark.transforms import flatten_raw

    api_source.register(spark)
    df = spark.read.format("weather_api").load()
    assert df.rdd.getNumPartitions() == len(wsrc.CITIES) * len(wsrc.FIXTURE_DATES)

    root = wsrc.ensure_fixture()
    from_files = flatten_raw(wsrc.read_raw(spark, root), with_ingest_date=True)
    from_api = flatten_raw(df, with_ingest_date=True)
    assert sorted(map(tuple, from_api.collect())) == sorted(
        map(tuple, from_files.collect())
    )

    narrow = (
        spark.read.format("weather_api")
        .option("cities", "London,Cairo")
        .option("dates", wsrc.FIXTURE_DATES[0])
        .load()
    )
    rows = narrow.select("location.name", "ingest_date").collect()
    assert sorted((r[0], r[1]) for r in rows) == [
        ("Cairo", wsrc.FIXTURE_DATES[0]),
        ("London", wsrc.FIXTURE_DATES[0]),
    ]


def test_raw_reads_scan_every_day_directory(spark):
    """The batch raw reads name the ``data`` directory (recursive file
    lookup), not a ``data/*`` glob, and scan exactly the files of the
    fixture's day directories — JSON and CSV alike."""
    from pathlib import Path
    from urllib.parse import urlparse

    from weather_data_pipeline_spark.sources import csv_source as csvsrc

    for root, read in (
        (wsrc.ensure_fixture(), wsrc.read_raw),
        (wsrc.ensure_corrupt_fixture(), wsrc.read_raw),
        (csvsrc.ensure_csv_fixture(), csvsrc.read_csv_permissive),
    ):
        want = sorted(str(p) for p in Path(root, "data").glob("*/*"))
        got = sorted(urlparse(f).path for f in read(spark, root).inputFiles())
        assert want and got == want, root


def test_permissive_scan_quarantines_corrupt(spark, tmp_path):
    """A malformed raw document lands in _corrupt; good rows parse; the
    strict scan stays the default."""
    root = str(tmp_path)
    wsrc.write_raw_docs(wsrc.synthesize_raw_docs([wsrc.FIXTURE_DATES[0]]), root)
    day_dir = tmp_path / "data" / wsrc.FIXTURE_DATES[0]
    (day_dir / "Broken.txt").write_text('{"location": {"name": "Broke', "utf-8")

    df = wsrc.read_raw(spark, root, permissive=True)
    rows = df.collect()
    assert len(rows) == len(wsrc.CITIES) + 1
    corrupt = [r for r in rows if r["_corrupt"] is not None]
    assert len(corrupt) == 1
    assert corrupt[0]["_corrupt"].startswith('{"location"')
    good = [r for r in rows if r["_corrupt"] is None]
    assert all(r["location"]["name"] in wsrc.CITIES for r in good)


def test_corrupt_digest_byte_robust(spark):
    """The quarantine digest must be byte-robust, not coincidence-robust
    (VERDICT r2 #5): trailing SPACES are content and survive into
    md5(_corrupt); a trailing LINE TERMINATOR is framing that Spark's
    line-split strips — so the expected digest is md5(payload minus
    trailing \\r\\n only), exactly the oracle's rtrim(content, \\n\\r)."""
    import hashlib
    import os.path

    root = wsrc.ensure_corrupt_fixture()
    rows = (
        wsrc.read_raw(spark, root, permissive=True)
        .withColumn("file", F.input_file_name())
        # Spark refuses plans referencing only _corrupt — keep one real
        # data column in the projection (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        .filter(F.col("_corrupt").isNotNull() | F.col("location.name").isNull())
        .select("file", F.md5("_corrupt").alias("digest"), "location.name")
        .filter(F.col("digest").isNotNull())
        .collect()
    )
    got = {os.path.basename(r["file"]): r["digest"] for r in rows}
    expected = {
        fname: hashlib.md5(payload.rstrip("\r\n").encode()).hexdigest()
        for _, fname, payload, is_corrupt in wsrc.CORRUPT_INJECTIONS
        if is_corrupt
    }
    assert got == expected
    # the variants genuinely differ: spaces kept, newline stripped
    assert expected["TrailingWS.txt"] != hashlib.md5(
        b"not json, trailing spaces"
    ).hexdigest()


def test_df_cap_defuses_viral_shingle(spark, tmp_path):
    """The skew scenario x2_ngram_jaccard_capped exists for: 60 documents
    share a viral boilerplate sentence but are otherwise unrelated. The
    uncapped join must surface ~C(60,2) boilerplate-driven candidate
    pairs; the capped form drops the viral grams (df=60 > DF_CAP) and
    finds NO pairs — while a genuine near-dup pair (unique shared
    content, df=2 grams) survives the cap."""
    import pandas as pd

    from weather_data_pipeline_spark.operators import dedup

    boiler = "subscribe to our newsletter for updates and offers today"
    rows = []
    for i in range(60):
        uniq = " ".join(f"tok{i}x{j}" for j in range(10))
        rows.append((i, f"{boiler} {uniq}", "en", "web", 0))
    # one true near-dup pair with UNIQUE shared content (no boilerplate)
    shared = " ".join(f"dup{j}" for j in range(12))
    rows.append((100, f"{shared} alpha", "en", "web", 0))
    rows.append((101, f"{shared} beta", "en", "web", 0))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    uncapped = dedup.x2_ngram_jaccard(spark, str(tmp_path)).collect()
    capped = dedup.x2_ngram_jaccard_capped(spark, str(tmp_path)).collect()

    boiler_pairs = [r for r in uncapped if r.doc_a < 60 and r.doc_b < 60]
    assert len(boiler_pairs) > 1000  # quadratic blowup on the viral grams
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert capped_pairs == {(100, 101)}  # real near-dups survive the cap


@pytest.mark.parametrize(
    "capped, uncapped",
    [
        ("x2_ngram_jaccard_capped", "x2_ngram_jaccard"),
        ("x2_containment_capped", "x2_containment_pairs"),
    ],
)
def test_capped_pairs_match_uncapped_without_cap(spark, monkeypatch, capped, uncapped):
    """The df-capped and uncapped pair builds differ ONLY by the cap:
    with DF_CAP above every document frequency no gram is dropped and
    each capped rung returns exactly its uncapped twin's rows, while at
    the default cap the testdata's shared grams make them differ."""
    from weather_data_pipeline_spark.operators import dedup

    def rows(name):
        fn = getattr(dedup, name)
        return sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())

    reference = rows(uncapped)
    assert rows(capped) != reference
    monkeypatch.setattr(dedup, "DF_CAP", 10**9)
    assert rows(capped) == reference
