"""Registry-wide physical-plan audit as a CI gate (SURVEY §7: every
operator must carry a scale-correct plan, not just a correct answer).

Red flags = CartesianProduct, BroadcastNestedLoopJoin (outside the
documented allowlist), or row-at-a-time Python eval (BatchEvalPython).
See tools/plan_audit.py for the rationale per flag. One sweep serves
every test here, including the check that PLANAUDIT.md is its
regeneration.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from tools.plan_audit import ALLOWED_FLAGS, run_audit, to_markdown  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def audit(spark):
    return run_audit(spark, SF_DIR)


def test_no_plan_red_flags(audit):
    flagged = {n: r["flags"] for n, r in audit.items() if r["flags"]}
    assert not flagged, f"scale red flags in plans: {flagged}"
    # the sweep must actually cover the registry (guard against an
    # import failure silently auditing nothing)
    assert len(audit) > 70


def test_every_allowlist_entry_is_used(audit):
    """An allowance no plan needs would silently excuse a future one."""
    used = {(n, f) for n, r in audit.items() for f in r["allowed"]}
    assert not ALLOWED_FLAGS - used, sorted(ALLOWED_FLAGS - used)


def test_broadcast_joins_present_where_expected(audit):
    """Dim-table joins must broadcast (no shuffle of the small side)."""
    for name in ("top_revenue_nations", "star_join_wide", "join_broadcast_nation_region"):
        assert audit[name]["broadcasts"] >= 1, name


def test_planaudit_md_is_the_regeneration(audit):
    """Regenerate with ``python tools/plan_audit.py --write-md``."""
    assert (ROOT / "PLANAUDIT.md").read_text() == to_markdown(audit)
