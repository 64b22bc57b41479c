"""Every registered (queries, oracle_sql) pair must hash-match at sf0.01 —
this mirrors the driver's t2 correctness gate exactly."""

from __future__ import annotations

import os

import pytest

from weather_data_pipeline_spark import registry

from .conftest import SF_ORACLE
from .oracle_harness import compare

_QUERIES = registry.queries()
_ORACLE = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_oracle_parity(spark, name):
    compare(spark, name, _QUERIES[name], _ORACLE[name], SF_ORACLE)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SWEEP_SF01") != "1",
    reason="10x-scale parity sweep (~4 min); set SPARK_GRAFT_SWEEP_SF01=1",
)
@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_oracle_parity_sf01(spark, name):
    """Same sweep at sf0.1 — 10x the driver's check scale. Catches
    scale-dependent divergence (integer overflow, precision drift,
    threshold artifacts) the sf0.01 gate can't see. The sweep size is
    asserted (not prosed) by test_rows_only_queries_each_have_a_band_twin:
    it is always len(registry.oracle_sql())."""
    compare(spark, name, _QUERIES[name], _ORACLE[name], "/root/testdata/sf0.1")


#: The ONLY queries allowed to lack an oracle, each paired with the
#: oracle-bearing band twin that value-checks the same engine-specific
#: op's contract (registry.py documents why each raw form has no oracle).
ROWS_ONLY_WITH_TWIN = {
    "x2_minhash_lsh": "x2_minhash_lsh_recall",
    "x2_simhash": "x2_simhash_invariants",
    "ext_approx_count_distinct": "ext_acd_error_band",
    "o27_random_split": "o27_random_split_invariants",
    "o28_gbt_train_predict": "o28_gbt_holdout_band",
    "o29_next_day_forecast": "o29_forecast_band",
}


def test_rows_only_queries_each_have_a_band_twin():
    """The no-oracle set is CLOSED: adding a query without an oracle
    fails here unless it is deliberately registered with a band twin —
    and the sweep count is pinned to the registry, not to prose."""
    rows_only = set(_QUERIES) - set(_ORACLE)
    assert rows_only == set(ROWS_ONLY_WITH_TWIN), rows_only
    for raw, twin in ROWS_ONLY_WITH_TWIN.items():
        assert twin in _ORACLE, (raw, twin)
    assert len(_ORACLE) == len(_QUERIES) - len(ROWS_ONLY_WITH_TWIN)


def test_harness_rejects_hugeint_oracle():
    """The oracle side must be checked at the Arrow layer: a bare
    SUM(<int>) (DuckDB HUGEINT → decimal128(38,0)) has to fail pytest
    locally, BEFORE the driver's type-sensitive hash ever sees it — this
    was the round-1 and round-2 blind spot."""
    import duckdb

    from .oracle_harness import oracle_arrow

    con = duckdb.connect()
    with pytest.raises(AssertionError, match="non-portable"):
        oracle_arrow(
            con, "bare_sum", "SELECT SUM(x) AS s FROM (VALUES (1),(2)) t(x)"
        )
    cols, rows = oracle_arrow(
        con,
        "cast_sum",
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)",
    )
    assert cols == ["s"] and rows == [(3,)]
    con.close()


def test_harness_rejects_array_oracle():
    """Nested output types must fail locally: the driver's pandas
    canonicalizer cannot sort/hash numpy arrays — this is exactly the
    round-4 x3_label_centroids driver crash, now a locally catchable
    regression on both engines."""
    import duckdb

    from .oracle_harness import oracle_arrow

    con = duckdb.connect()
    with pytest.raises(AssertionError, match="non-portable"):
        oracle_arrow(con, "arr", "SELECT [1, 2, 3] AS xs")
    con.close()


def test_harness_rejects_array_spark(spark):
    """Spark-side twin of the nested-type gate."""
    from .oracle_harness import compare

    def q(spark, sf_dir):
        return spark.sql("SELECT array(1, 2) AS xs")

    with pytest.raises(AssertionError, match="nested"):
        compare(spark, "arr", q, "SELECT 1", SF_ORACLE)


def test_no_derived_double_decimal_casts():
    """Registry-wide integer-microunit audit (VERDICT r13 ask #3): the
    x6_stl_decompose round-13 red proved casting a DERIVED double to
    DECIMAL is a cross-engine rounding-tie hazard. Every decimal-cast
    site in the package must either auto-pass (raw column / literal /
    raw-value selection / FLOOR — shapes that cannot round a derived
    double) or carry a justified classification in
    tools.microunit_audit.ALLOWLIST, whose categories deliberately
    exclude 'derived double' — so a new derived-double cast has no
    legal classification and must migrate to floor-quantized
    microunits (the x6_acf_lags / x4_* / x2_tfidf / x9_pagerank
    round-14 migrations are the precedents)."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import microunit_audit as audit

    assert audit.misclassified() == [], audit.misclassified()
    miss = audit.unclassified()
    assert miss == [], (
        "unclassified decimal-cast sites (classify in "
        "tools/microunit_audit.py ALLOWLIST or migrate to integer "
        f"microunits): {miss}"
    )
    live = set(audit.collect_py_sites()) | set(audit.collect_sql_sites())
    stale = [k for k in audit.ALLOWLIST if k not in live]
    assert stale == [], f"stale ALLOWLIST entries: {stale}"


def test_every_query_runs(spark):
    """Queries without an oracle still must run and return a schema."""
    for name, fn in _QUERIES.items():
        if name in _ORACLE:
            continue
        df = fn(spark, SF_ORACLE)
        assert df.columns, name
        assert df.count() >= 0, name
