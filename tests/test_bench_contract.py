"""The bench.py emit contract (ADVICE r10): the driver's BENCH_r{N}
tail truncates the emitted JSON line to its FINAL dict, so
round-over-round comparability depends on ``queries_median`` being the
physically last key. Pin that here — a new key appended after it, a
key reorder, or a serializer change fails loudly instead of silently
flipping the driver tail back to a non-comparable dict (the r8/r9
stdev-tail incident, VERDICT r9 ask #2)."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_PY = ROOT / "bench.py"


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", str(BENCH_PY))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_median_is_last_key_in_payload():
    bench = _load_bench()
    payload = bench.build_payload(
        times={"q1": 1.0}, medians={"q1": 1.1}, stdevs={"q1": 0.1},
        runs=5, sf=0.1, cpus=32, default_parallelism=32,
    )
    assert list(payload)[-1] == "queries_median"
    # json.dumps preserves insertion order — the serialized line's last
    # dict literal must be the medians (what the driver tail captures)
    line = json.dumps(payload)
    last_open = line.rindex("{")
    assert json.loads(line[last_open:].rstrip("}") + "}") == {"q1": 1.1}
    assert line.index('"queries_median"') < last_open
    # scaling-contract provenance (VERDICT r15 ask #2): the core count
    # the session was built with and the context's defaultParallelism
    # ride the payload — BEFORE queries_median per the key-order rule
    assert payload["cpus"] == 32
    assert payload["default_parallelism"] == 32
    assert line.index('"cpus"') < line.index('"queries_median"')


def test_payload_main_uses_builder():
    """main() must emit through build_payload — a hand-rolled dict in
    main would bypass the ordering contract this file pins."""
    import re

    src = BENCH_PY.read_text()
    body = src[src.index("def main"):]
    assert "build_payload(" in body
    assert not re.search(r'"queries_median"\s*:', body)


def test_planhashes_artifact_matches_plan_audit_surface():
    """PLANHASHES.json (VERDICT r13 ask #6): the committed normalized
    plan-hash map must exist, cover EXACTLY the plan_audit surface
    (HEADLINE + EXTRA), and carry well-formed 16-hex hashes — so
    round-over-round plan stability is a one-line git diff, and a
    query added to the audit surface without a regenerated artifact
    fails here. Paths derive from __file__ (the bench-contract rule:
    no cwd assumptions)."""
    import re
    import sys

    root = Path(__file__).resolve().parents[1]
    payload = json.loads((root / "PLANHASHES.json").read_text())
    sys.path.insert(0, str(root / "tools"))
    sys.path.insert(0, str(root))
    import plan_audit

    bench = _load_bench()
    expected = set(bench.HEADLINE) | set(plan_audit.EXTRA)
    assert set(payload["plans"]) == expected
    for name, h in payload["plans"].items():
        assert re.fullmatch(r"[0-9a-f]{16}", h), (name, h)
    # normalization is run-invariant: ids/locations/stats stripped
    sample = (
        "(12) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/root/testdata/x]\n"
        "Output [2]: [doc_id#123L, text#124]\n"
    )
    moved = sample.replace("#123L", "#999L").replace("(12)", "(77)")
    assert plan_audit.normalized_plan_hash(sample) == (
        plan_audit.normalized_plan_hash(moved)
    )


def test_bench_movers_math_and_committed_artifacts(tmp_path):
    """The bench-stability mover check is mechanical: tools/bench_movers.py
    computes movers from two bench JSONs' per-query fields. Unit-pins the
    math (symmetric threshold, plan-hash annotation, total ratio), then
    runs the file path end to end on two synthetic bench files written
    here — no committed artifact's wall times, which only hold for the
    box that measured them."""
    import json
    import sys as _sys

    _sys.path.insert(0, str(ROOT / "tools"))
    import bench_movers as bm

    old = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 3.0}
    new = {"a": 1.3, "b": 2.1, "c": 0.35, "d": 3.0, "e": 9.9}
    out = bm.movers(
        old,
        new,
        1.25,
        plans_old={"a": "h1", "c": "h2"},
        plans_new={"a": "h1", "c": "h3"},
    )
    assert out["shared_queries"] == 4  # e not shared
    assert out["total_ratio"] == round((1.3 + 2.1 + 0.35 + 3.0) / 6.5, 3)
    got = {m["query"]: m for m in out["movers"]}
    assert set(got) == {"a", "c"}  # both directions past 1.25x
    assert got["a"]["ratio"] == 1.3 and got["a"]["plan_hash_changed"] is False
    assert got["c"]["plan_hash_changed"] is True
    assert out["movers"][0]["query"] == "c"  # 0.7 = 1.43x > 1.3x

    # one file in the bench.py emit shape (a "queries" map beside other
    # keys, plus a non-numeric field the reader drops), one bare map
    old_path = tmp_path / "old.json"
    new_path = tmp_path / "new.json"
    old_path.write_text(
        json.dumps({"metric": "total", "sf": 0.1, "queries": {**old, "note": "x"}})
    )
    new_path.write_text(json.dumps(new))
    q_old, q_new = bm._queries(str(old_path)), bm._queries(str(new_path))
    assert q_old == old and q_new == new
    assert bm.movers(q_old, q_new, 1.25)["total_ratio"] == out["total_ratio"]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"_tool_{name}", str(ROOT / "tools" / f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_splice_keeps_unmoved_sections():
    """A plan_audit rerun keeps the committed text of a section whose
    plan hash and summary held, takes the fresh text where either moved,
    and adds new sections, in the fresh run's order under its header."""
    splice = _load_tool("plan_audit").splice

    def sec(name, summary, plan):
        return f"## {name}\n\n**{summary}**\n\n```\n{plan}\n```\n\n"

    old = (
        "# PLANS (old)\n\n"
        + sec("a", "exchanges=1", "Scan #12")
        + sec("b", "exchanges=2", "Exchange #13")
        + sec("c", "exchanges=0", "Scan #14")
    )
    new = (
        "# PLANS (new)\n\n"
        + sec("a", "exchanges=1", "Scan #98")
        + sec("b", "exchanges=3", "Exchange #99")
        + sec("c", "exchanges=1", "Scan #97")
        + sec("d", "exchanges=0", "Scan #96")
    )
    got = splice(
        old, new, {"a": "h1", "b": "h2", "c": "h3"},
        {"a": "h1", "b": "h5", "c": "h3", "d": "h6"},
    )
    assert got == (
        "# PLANS (new)\n\n"
        + sec("a", "exchanges=1", "Scan #12")
        + sec("b", "exchanges=3", "Exchange #99")
        + sec("c", "exchanges=1", "Scan #97")
        + sec("d", "exchanges=0", "Scan #96")
    )
    assert splice(old, old, {"a": "h1"}, {"a": "h1"}) == old


def test_parity_check_filters_by_prefix():
    """parity_check's name filters are prefixes: ``s_`` selects the
    streaming names, not every name that merely contains ``s_``."""
    select = _load_tool("parity_check").select
    names = [
        "x9_bfs_reach",
        "s_dedup_stream",
        "x6_rfm_scores_scalable",
        "ext_pandas_x6_ema",
        "x6_ema_daily",
    ]
    assert select(names, ["s_"]) == ["s_dedup_stream"]
    assert select(names, ["x6_", "s_"]) == [
        "s_dedup_stream",
        "x6_ema_daily",
        "x6_rfm_scores_scalable",
    ]
    assert select(names, []) == sorted(names)
