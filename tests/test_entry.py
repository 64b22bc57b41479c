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
    # One representative per operator family. Round-7 note: the window was
    # restructured to clear the 49-query rotation backlog (VERDICT r6 ask
    # #1), so the representatives are drawn FROM the backlog — the list
    # gains x9 (graph), ext_cdc (CDC merge) and ext_cogroup (pandas-exec
    # rep; ext_pandas_udf_scalar rotated out r6-green) and swaps the
    # rotated-out ext_window rep for the x6 window family members.
    for prefix in ("o", "w_", "x1", "x2", "x3", "x4", "x5", "x6", "x7",
                   "x8", "x9", "mm_", "ext_q", "ext_cdc", "ext_cogroup",
                   "s_"):
        assert any(n.startswith(prefix) for n in names[:50]), prefix


def test_driver_union_vs_registry():
    """The driver-CORRECTNESS union must cover every registered query
    except the declared next-round rotation queue (registry._R15_QUEUE)
    — computed from the actual CORRECTNESS_r0*.json files plus the current
    window, so a growing backlog fails loudly instead of accumulating
    (the round-6 failure mode: 49 queries with no driver row)."""
    import glob
    import json

    from weather_data_pipeline_spark import registry

    union: set[str] = set(registry._PRIORITY)
    for path in glob.glob(str(ROOT / "CORRECTNESS_r*.json")):
        with open(path) as f:
            union |= set(json.load(f))
    gap = set(registry.queries()) - union
    assert gap == registry._R15_QUEUE, (
        f"undeclared rotation backlog: {sorted(gap ^ registry._R15_QUEUE)}"
    )
    # the queue must clear in one round's rotation capacity (47 slots)
    assert len(registry._R15_QUEUE) <= 47
