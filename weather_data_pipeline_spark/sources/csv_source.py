"""CSV source with permissive quarantine — the O3 fallback for the
second-most-common raw feed format.

Mirrors ``sources/weather.py``'s JSON quarantine posture: a malformed
row must never kill a 100 TB batch NOR silently disappear — it lands
intact in ``_corrupt`` for triage. The quarantine rule is pinned by a
deterministic fixture whose rows are unambiguous under BOTH engines'
parsers (see ``CSV_ROWS``): Spark's univocity parser and the oracle's
split-and-TRY_CAST rule must agree row by row.

Reference parity: the reference ingests JSON only (weather_etl.py:63);
CSV is part of the §2.1 source-format extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .weather import FIXTURE_ROOT, _atomic_write

#: Fixture root: ``{root}/data/{date}/part-*.csv`` (no headers).
CSV_FIXTURE_ROOT = FIXTURE_ROOT + "_csv"

CSV_DATES = ("2024-03-01", "2024-03-02")

#: (date, filename, line, is_corrupt). The EXPECTED verdict encodes the
#: shared quarantine rule: at least 3 comma-separated fields AND field 2
#: parses as a number. Kept to cases where Spark's permissive CSV parser
#: provably agrees: a non-numeric measurement is malformed, while EXTRA
#: trailing fields are dropped, not corruption (the lima row pins that —
#: univocity parses the first 3 fields and discards the rest); quoting,
#: embedded commas and short rows are deliberately excluded (their
#: semantics differ across parsers and would make the fixture pin parser
#: trivia, not the quarantine contract).
CSV_ROWS = [
    ("2024-03-01", "a.csv", "berlin,21.5,sunny", False),
    ("2024-03-01", "a.csv", "madrid,25.0,clear", False),
    ("2024-03-01", "b.csv", "oslo,abc,cloudy", True),
    ("2024-03-01", "b.csv", "paris,18.25,rain", False),
    ("2024-03-02", "a.csv", "rome,23.75,sunny", False),
    ("2024-03-02", "a.csv", "lima,17.0,fog,EXTRA", False),
    ("2024-03-02", "b.csv", "cairo,not-a-number,dust", True),
    ("2024-03-02", "b.csv", "quito,14.5,drizzle", False),
]

CSV_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("temp_c", T.DoubleType()),
        T.StructField("sky", T.StringType()),
    ]
)


def ensure_csv_fixture(root: str | None = None) -> str:
    """Materialize the CSV tree if absent (atomic, idempotent)."""
    root = root or CSV_FIXTURE_ROOT
    probe = os.path.join(root, "data", CSV_DATES[-1], "b.csv")
    if not os.path.exists(probe):
        files: dict[str, list[str]] = {}
        for date, fname, line, _ in CSV_ROWS:
            files.setdefault(os.path.join(date, fname), []).append(line)
        for rel, lines in files.items():
            path = os.path.join(root, "data", rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            _atomic_write(path, "\n".join(lines) + "\n")
    return root


def read_csv_permissive(spark: SparkSession, root: str) -> DataFrame:
    """Schema-full CSV scan; unparseable rows land intact in
    ``_corrupt``. Explicit schema always (inference at 100 TB means an
    extra full scan AND nondeterministic types across days). The day
    directories are read through ``data`` with ``recursiveFileLookup``
    (see ``weather.read_raw``)."""
    schema = T.StructType(
        list(CSV_SCHEMA.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("recursiveFileLookup", "true")
        .csv(os.path.join(root, "data"))
    )
