"""End-to-end batch pipeline (SURVEY.md §2.7, O31-O33; lifecycle §3).

The reference's three Airflow tasks (extract >> load_to_cloudStorage >>
load_to_athena, weather_data_dag.py:46) and its Flask serving path
(app/app.py:17-28) restate as plain function composition over one lazy
plan — stage boundaries become shuffle stages, not process hops:

    extract_to_raw   O1/O2  fetch (or synthesize) → data/{date}/{City}.txt
    stage            O3/O9-O11/O19  schema-full scan → 31-col staged frame
    curate           O5/O6  parquet saveAsTable, partitioned by ingest_date
    latest_snapshot  O15    flagship latest-per-key query
    serve            O13/O8 equality filter + JSON-records serialization

Unlike the reference's Flask route (which re-runs the whole pipeline per
HTTP request, app/app.py:19-21), ``serve`` reads whatever cached/curated
DataFrame it is given — recompute-per-request is the anti-pattern §4 calls
out. A persisted snapshot of at most ``SERVE_MEMO_ROWS`` rows is collected
once per cache entry and later requests are answered from driver memory
with no Spark job (see ``serve``); anything else runs the Spark path.
"""

from __future__ import annotations

import json
import weakref
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .operators.flagship import latest_per_key
from .sources import weather as wsrc
from .transforms import flatten_raw

DB = "weather"
TABLE = f"{DB}.weather"


def extract_to_raw(root: str, dates: list[str] | None = None) -> None:
    """O1+O2: land one JSON doc per (city, date). Offline synthesis here;
    swap in ``wsrc.fetch_current`` when a network + key exist."""
    wsrc.write_raw_docs(wsrc.synthesize_raw_docs(dates), root)


def stage(spark: SparkSession, root: str, date: str | None = None) -> DataFrame:
    """O3 scan + O9-O11/O19 flatten → staged frame (with ingest_date)."""
    return flatten_raw(wsrc.read_raw(spark, root, date), with_ingest_date=True)


def curate(
    spark: SparkSession, staged: DataFrame, table: str = TABLE, path: str | None = None
) -> None:
    """O5+O6: database get-or-create + partitioned parquet table append.

    ``partitionBy(ingest_date)`` is the engine form of the reference's
    table-per-day naming (weather_{date}, weather_etl.py:105): one logical
    table, partition-pruned automatically by any date predicate. ``path``
    makes it an external table (tests; lakehouse layouts where data
    location is managed outside the metastore).
    """
    db = table.split(".")[0]
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    writer = (
        staged.write.mode("append").partitionBy("ingest_date").format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def latest_snapshot(spark: SparkSession, table: str = TABLE) -> DataFrame:
    """O7+O15: read the curated table back, latest row per city — the
    reference's flagship Athena query (weather_etl.py:145)."""
    return latest_per_key(
        spark.table(table), key="city", order="localtime", tiebreak="localtime_epoch"
    )


#: Row bound of the serve memo: a cached snapshot with more rows is not
#: held on the driver and every request on it runs the Spark path. The
#: latest snapshot has one row per city, far below it.
SERVE_MEMO_ROWS = 10_000


class _Memo(NamedTuple):
    """``df.toJSON().collect()`` of one cache entry: ``rows`` is None when
    the entry is over ``SERVE_MEMO_ROWS``; ``by_city`` is None when the
    frame has no string ``city`` column to answer point requests from."""

    cache_id: int
    rows: tuple[str, ...] | None
    by_city: dict[str, list[str]] | None


_memos: weakref.WeakKeyDictionary[DataFrame, _Memo] = weakref.WeakKeyDictionary()


def _cache_id(df: DataFrame) -> int | None:
    """Id of the RDD that holds ``df``'s current cache entry, or None when
    ``df`` is not cached. Writing a table re-caches the frames that read it
    under a new entry, and unpersisting drops it, so a changed id means the
    memo is stale. Costs py4j round trips only; building the entry's RDD
    object runs the stage jobs its first scan would run anyway."""
    jdf = getattr(df, "_jdf", None)  # a Spark Connect frame has none
    if jdf is None:
        return None
    manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = manager.lookupCachedData(jdf)
    if cached.isEmpty():
        return None
    return cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


def _memo(df: DataFrame, cache_id: int, rows: list[str]) -> _Memo:
    """Memo of one collect, indexed by the column ``F.col("city")``
    resolves to. The strings are kept as Spark wrote them: re-encoding
    parsed rows would not reproduce Jackson's output."""
    if len(rows) > SERVE_MEMO_ROWS:
        return _Memo(cache_id, None, None)
    try:
        field = df.select(F.col("city")).schema.fields[0]
    except AnalysisException:
        return _Memo(cache_id, tuple(rows), None)
    if field.dataType != StringType():  # other types and collations compare differently
        return _Memo(cache_id, tuple(rows), None)
    by_city: dict[str, list[str]] = {}
    for row in rows:
        key = json.loads(row).get(field.name)  # Jackson drops null fields
        if key is not None:
            by_city.setdefault(key, []).append(row)
    return _Memo(cache_id, tuple(rows), by_city)


def _spark_serve(df: DataFrame, city: str) -> list[str]:
    if city != "All":
        df = df.filter(F.col("city") == city)
    return df.toJSON().collect()


def serve(df: DataFrame, city: str = "All") -> list[str]:
    """O13+O8: the Flask route body (app/app.py:25-28) — equality filter
    ('All' bypass) + JSON-records rows. Driver-side collect is correct
    here: serving output is small by construction (≤ one row per city).

    A cached ``df`` is answered from a driver-side memo of the strings
    ``df.toJSON().collect()`` returned for its current cache entry. The
    memo is valid while that entry is: a write to the table it reads
    re-caches it and an unpersist drops it, and the next call collects
    again. A miss on 'All' collects every row as the Spark path does; a
    miss on a city collects at most ``SERVE_MEMO_ROWS + 1`` rows. An entry
    over ``SERVE_MEMO_ROWS`` rows is remembered as such and, like an
    uncached frame, runs the Spark path on every call. Either way rows
    come back in the Spark path's order, and an unknown city gives [].
    """
    cache_id = _cache_id(df)
    if cache_id is None:
        return _spark_serve(df, city)
    memo = _memos.get(df)
    if memo is None or memo.cache_id != cache_id:
        if city == "All":
            rows = df.toJSON().collect()
            _memos[df] = _memo(df, cache_id, rows)
            return rows
        head = df._jdf.toJSON().limit(SERVE_MEMO_ROWS + 1).toDF()
        rows = [r[0] for r in DataFrame(head, df.sparkSession).collect()]
        memo = _memos[df] = _memo(df, cache_id, rows)
    if memo.rows is None or (city != "All" and memo.by_city is None):
        return _spark_serve(df, city)
    return list(memo.rows if city == "All" else memo.by_city.get(city, ()))


def run_batch(
    spark: SparkSession, root: str, dates: list[str] | None = None, table: str = TABLE
) -> DataFrame:
    """The full O31 DAG as one composition; returns the flagship result."""
    extract_to_raw(root, dates)
    curate(spark, stage(spark, root), table=table)
    return latest_snapshot(spark, table)
