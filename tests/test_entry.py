"""Smoke: the driver contract round-trips (entry/queries/oracle_sql)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(ROOT / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns


def test_contract_shape(spark):
    mod = _load_entry()
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert "o15_latest_per_key" in qs


def test_first_50_slots_cover_survey_operators():
    """The driver correctness-checks only the first 50 registered queries;
    the explicit priority list must fill exactly those slots, every one
    oracle-paired so each gets a full value-hash row."""
    from weather_data_pipeline_spark import registry

    names = list(registry.queries())
    assert len(registry._PRIORITY) == 50
    assert tuple(names[:50]) == registry._PRIORITY
    oracles = registry.oracle_sql()
    assert all(n in oracles for n in names[:50])
    # at least one representative per operator family
    for prefix in ("o", "w_", "x1", "x2", "x3", "x4", "x5", "x6", "x7",
                   "x8", "x9", "mm_", "ext_q", "ext_cdc", "ext_cogroup",
                   "s_"):
        assert any(n.startswith(prefix) for n in names[:50]), prefix
