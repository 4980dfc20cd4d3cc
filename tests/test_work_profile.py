"""The per-query profiler (tools/work_profile.py) and the importability
of every kept tool."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def test_profile_reports_timings_counters_and_plan(spark, tmp_path):
    from tools.work_profile import profile

    row = profile(spark, ["pricing_summary"], SF_SMOKE, reps=1, explain_dir=tmp_path)[
        "pricing_summary"
    ]
    for key in ("build_s", "exec_s", "jobs", "stages", "tasks", "input_mb",
                "shuffle_write_mb", "shuffle_read_mb"):
        assert key in row, key
    assert row["jobs"] >= 1 and row["tasks"] >= 1
    assert row["top_stages"]
    assert "== Physical Plan ==" in (tmp_path / "pricing_summary.txt").read_text()


@pytest.mark.parametrize("tool", sorted(p.stem for p in TOOLS.glob("*.py")))
def test_tool_imports(tool):
    importlib.import_module(f"tools.{tool}")
