"""Every ``tools/*.py`` script imports cleanly without running its
``main``: the A/B and audit tools import helpers from the package
(``ivf_ab.py``, ``nsw_ab.py``, ``semdedup_skew_ab.py``,
``stream_scale.py`` …), so a renamed helper fails here instead of at
the next A/B run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _entries() -> set[str]:
    return {
        str(p.relative_to(ROOT))
        for d in (ROOT, ROOT / "tools")
        for p in d.iterdir()
        if p.name != "__pycache__"
    }


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports_without_side_effects(path):
    before = _entries()
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert _entries() == before, path.name
