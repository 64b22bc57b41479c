"""Weather raw-layer source/sink (SURVEY.md §2.1, O1-O3).

The reference's raw layer is one JSON document per (city, day) under a
date-partitioned directory ``data/{YYYY-MM-DD}/{City}.txt``
(reference weather_etl.py:33-40), fetched from weatherapi.com
(weather_etl.py:35-37). Here:

- O1 (HTTP source): ``fetch_current`` is the driver-side per-city GET the
  reference does; at reference scale (9 cities) a driver loop is correct.
  At 100 TB-pipeline scale ingest runs as `spark.read.json` over a landing
  zone that upstream collectors fill — the engine never makes the scan
  depend on live HTTP. This container has no network, so the default
  entry point is ``synthesize_raw_docs`` — a deterministic generator of
  schema-identical documents (FIXTURES.md §A), which doubles as the test
  fixture.
- O2 (raw JSON sink): ``write_raw_docs`` reproduces the per-(city,day)
  file layout; the engine-native form for staged data onwards is
  ``partitionBy("ingest_date")`` parquet (see pipeline.curate).
- O3 (JSON directory scan): ``read_raw`` is a schema-full scan (never
  infer at scale) of one day or the whole tree; the date directory is
  manual partition pruning, kept for layout parity.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import WEATHER_RAW

#: The reference's 9 cities (weather_etl.py:174).
CITIES = [
    "London",
    "Tokyo",
    "Sydney",
    "Paris",
    "Berlin",
    "Moscow",
    "Madrid",
    "Rome",
    "Cairo",
]

#: Static per-city facts (synthetic but plausible; tz_id real IANA names so
#: per-row timezone logic is exercised, incl. southern hemisphere).
_CITY_FACTS = {
    "London": ("City of London, Greater London", "United Kingdom", 51.52, -0.11, "Europe/London", 16.0),
    "Tokyo": ("Tokyo", "Japan", 35.69, 139.69, "Asia/Tokyo", 24.0),
    "Sydney": ("New South Wales", "Australia", -33.88, 151.22, "Australia/Sydney", 13.0),
    "Paris": ("Ile-de-France", "France", 48.87, 2.33, "Europe/Paris", 18.0),
    "Berlin": ("Berlin", "Germany", 52.52, 13.4, "Europe/Berlin", 17.0),
    "Moscow": ("Moscow City", "Russia", 55.75, 37.62, "Europe/Moscow", 15.0),
    "Madrid": ("Madrid", "Spain", 40.4, -3.68, "Europe/Madrid", 26.0),
    "Rome": ("Lazio", "Italy", 41.9, 12.48, "Europe/Rome", 25.0),
    "Cairo": ("Al Qahirah", "Egypt", 30.06, 31.25, "Africa/Cairo", 33.0),
}

_CONDITIONS = ["Sunny", "Clear", "Partly cloudy", "Overcast", "Light rain", "Mist"]
_WIND_DIRS = ["N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
              "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW"]

#: Fixture days (3, like the reference's 2023-08-09..11 snapshot set).
FIXTURE_DATES = ["2024-03-01", "2024-03-02", "2024-03-03"]

#: Repo-committed fixture root (generated once by this module; see
#: ``ensure_fixture``). Layout: ``{root}/data/{date}/{City}.txt``.
FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "weather",
)


def _h(*parts: object, mod: int, lo: int = 0) -> int:
    """Deterministic int in [lo, lo+mod) from the md5 of the parts."""
    digest = hashlib.md5("|".join(str(p) for p in parts).encode()).hexdigest()
    return lo + int(digest[:12], 16) % mod


def synthesize_raw_doc(city: str, date: str) -> dict:
    """One schema-exact raw document (FIXTURES.md §A) for (city, date)."""
    region, country, lat, lon, tz_id, base_t = _CITY_FACTS[city]
    hour = _h(city, date, "hour", mod=24)  # single-digit hours occur → H:mm
    minute = _h(city, date, "min", mod=60)
    temp_c = round(base_t + _h(city, date, "t", mod=120) / 10.0 - 6.0, 1)
    wind_mph = round(_h(city, date, "w", mod=250) / 10.0, 1)
    precip_mm = round(_h(city, date, "p", mod=40) / 10.0, 1)
    vis_km = round(2.0 + _h(city, date, "v", mod=90) / 10.0, 1)
    gust_mph = round(wind_mph * 1.6, 1)
    feels_c = round(temp_c - _h(city, date, "f", mod=30) / 10.0, 1)
    y, m, d = (int(x) for x in date.split("-"))
    # Epoch derived from the date arithmetic alone (no tz lookup — the raw
    # layer carries what the API would have sent, it does not interpret it).
    day_number = (y - 1970) * 365 + m * 31 + d
    epoch = day_number * 86400 + hour * 3600 + minute * 60
    return {
        "location": {
            "name": city,
            "region": region,
            "country": country,
            "lat": lat,
            "lon": lon,
            "tz_id": tz_id,
            "localtime_epoch": epoch,
            "localtime": f"{date} {hour}:{minute:02d}",  # H:mm, not zero-padded
        },
        "current": {
            "last_updated_epoch": epoch - 300,
            "last_updated": f"{date} {hour:02d}:{max(minute - 5, 0):02d}",
            "temp_c": temp_c,
            "temp_f": round(temp_c * 9 / 5 + 32, 1),
            "is_day": 1 if 6 <= hour < 18 else 0,
            "condition": {
                "text": _CONDITIONS[_h(city, date, "c", mod=len(_CONDITIONS))],
                "icon": "//cdn.example.com/wx/64x64/icon.png",
                "code": 1000 + _h(city, date, "cc", mod=300),
            },
            "wind_mph": wind_mph,
            "wind_kph": round(wind_mph * 1.609, 1),
            "wind_degree": _h(city, date, "wd", mod=360),
            "wind_dir": _WIND_DIRS[_h(city, date, "wd", mod=360) * 16 // 360],
            "pressure_mb": round(990 + _h(city, date, "pr", mod=400) / 10.0, 1),
            "pressure_in": round((990 + _h(city, date, "pr", mod=400) / 10.0) * 0.02953, 2),
            "precip_mm": precip_mm,
            "precip_in": round(precip_mm / 25.4, 2),
            "humidity": _h(city, date, "h", mod=70, lo=30),
            "cloud": _h(city, date, "cl", mod=101),
            "feelslike_c": feels_c,
            "feelslike_f": round(feels_c * 9 / 5 + 32, 1),
            "vis_km": vis_km,
            "vis_miles": round(vis_km * 0.621, 1),
            "uv": round(_h(city, date, "uv", mod=110) / 10.0, 1),
            "gust_mph": gust_mph,
            "gust_kph": round(gust_mph * 1.609, 1),
        },
    }


def synthesize_raw_docs(dates: list[str] | None = None) -> list[tuple[str, str, dict]]:
    """All (date, city, doc) fixture records — O1's offline stand-in."""
    return [
        (date, city, synthesize_raw_doc(city, date))
        for date in (dates or FIXTURE_DATES)
        for city in CITIES
    ]


def fetch_current(cities: list[str] | None = None, api_key: str | None = None) -> list[dict]:
    """O1 — live per-city GET (reference weather_etl.py:35-37). Driver-side
    by design at this cardinality; requires network + key, so import-gated."""
    import requests  # gated: not needed for any offline path

    key = api_key or os.environ.get("WEATHER_API_KEY", "")
    out = []
    for city in cities or CITIES:
        resp = requests.get(
            "http://api.weatherapi.com/v1/current.json",
            params={"key": key, "q": city},
            timeout=30,
        )
        resp.raise_for_status()
        out.append(resp.json())
    return out


def _atomic_write(path: str, payload: str) -> None:
    """tmp-file + rename so a concurrent reader (parallel pytest worker,
    driver oracle run) never observes a half-written fixture file."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)


def write_raw_docs(docs: list[tuple[str, str, dict]], root: str) -> None:
    """O2 — raw JSON sink with the reference's ``data/{date}/{City}.txt``
    layout (weather_etl.py:33-40). Compact one-line JSON: line-delimited
    readable by both Spark's json reader and DuckDB's read_json."""
    for date, city, doc in docs:
        d = os.path.join(root, "data", date)
        os.makedirs(d, exist_ok=True)
        _atomic_write(
            os.path.join(d, f"{city}.txt"), json.dumps(doc, separators=(",", ":"))
        )


def ensure_fixture(root: str | None = None) -> str:
    """Materialize the deterministic fixture tree if absent; returns root.
    Idempotent — the committed fixture and a regenerated one are identical."""
    root = root or FIXTURE_ROOT
    probe = os.path.join(root, "data", FIXTURE_DATES[-1], f"{CITIES[-1]}.txt")
    if not os.path.exists(probe):
        write_raw_docs(synthesize_raw_docs(), root)
    return root


#: Corrupt-feed fixture root: the standard tree plus three injected files
#: that pin the quarantine semantics (see ``ensure_corrupt_fixture``).
CORRUPT_FIXTURE_ROOT = FIXTURE_ROOT + "_corrupt"

#: (date, filename, raw bytes, is_corrupt) — is_corrupt is the EXPECTED
#: verdict: quarantine is about JSON syntax, not schema. A valid-JSON doc
#: with none of our fields is sparse data (fields null), not corruption.
CORRUPT_INJECTIONS = [
    (FIXTURE_DATES[0], "Broken.txt", '{"location":{"name":"Broken","region":', True),
    (FIXTURE_DATES[1], "Garbage.txt", "this is not json {{{", True),
    (FIXTURE_DATES[2], "Sparse.txt", '{"unrelated_field":123}', False),
    # Byte-robustness variants (VERDICT r2 #5): trailing spaces are CONTENT
    # (both engines must keep them in the digested bytes); a trailing line
    # terminator is FRAMING (Spark's line-split strips it, DuckDB read_text
    # keeps it — the oracle rtrims \n\r before md5 to match). Single-line
    # only: a multi-line corrupt file would be N Spark records vs 1 DuckDB
    # file row and the quarantine COUNT itself would diverge.
    (FIXTURE_DATES[0], "TrailingWS.txt", "not json, trailing spaces   ", True),
    (FIXTURE_DATES[2], "TrailingNL.txt", "broken {{{ trailing newline\n", True),
]


def ensure_corrupt_fixture(root: str | None = None) -> str:
    """Standard fixture tree + injected malformed documents — the O3
    permissive-scan workout: one bad upstream file must never kill the
    batch, and must land intact in ``_corrupt`` for quarantine."""
    root = root or CORRUPT_FIXTURE_ROOT
    last_date, last_fname = CORRUPT_INJECTIONS[-1][0], CORRUPT_INJECTIONS[-1][1]
    probe = os.path.join(root, "data", last_date, last_fname)
    if not os.path.exists(probe):
        write_raw_docs(synthesize_raw_docs(), root)
        for date, fname, payload, _ in CORRUPT_INJECTIONS:
            _atomic_write(os.path.join(root, "data", date, fname), payload)
    return root


def read_raw(
    spark: SparkSession,
    root: str,
    date: str | None = None,
    permissive: bool = False,
) -> DataFrame:
    """O3 — schema-full JSON scan of the raw layer. ``date`` narrows to one
    day's directory (the reference's manual partition pruning,
    weather_etl.py:63); None scans every day.

    ``permissive`` is the SURVEY §1.2 fallback for an external feed that
    can ship malformed documents: instead of failing the scan (or
    silently nulling whole rows), unparseable documents land intact in a
    ``_corrupt`` column for quarantine — at 100 TB one bad upstream file
    must never kill a day's batch.

    Every day is read as the ``data`` directory with
    ``recursiveFileLookup``, not as a ``data/*`` glob: Spark checks a
    glob path literally for a sink metadata log, and the failed lookup
    logs a WARN with a stack trace on every call."""
    path = os.path.join(root, "data", date) if date else os.path.join(root, "data")
    reader = spark.read.option("recursiveFileLookup", "true")
    if permissive:
        schema = T.StructType(
            list(WEATHER_RAW.fields) + [T.StructField("_corrupt", T.StringType())]
        )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt"
        )
    else:
        schema = WEATHER_RAW
    return reader.schema(schema).json(path)
