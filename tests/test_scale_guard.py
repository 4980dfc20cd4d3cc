"""Guard the registry's 100x scaling.

1. No query's measured 100x exponent in ``scale_curve_100x_all.json``
   may exceed ALPHA_MAX; a query above it must be re-planned.
2. Each retired naive name serves its scale path's build function and
   oracle (OPTIMIZATION_r15.md, "One plan per answer").

No Spark session needed: this reads the registry and the persisted
scale-curve artifact only.
"""

from __future__ import annotations

import json
from pathlib import Path

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

ROOT = Path(__file__).resolve().parent.parent
CURVE = ROOT / "scale_curve_100x_all.json"

# alpha = log10(t_100x / t_sf0.1): the sf0.1 fixture against its 100x
# replication, so time linear in data volume reads 2.0 (BASELINE.md).
# Fixed costs dominate the small side (pricing_summary reads 1.45 s ->
# 5.06 s, alpha 0.54). 1.25 allows at most about 18x the time for 100x
# the data.
ALPHA_MAX = 1.25


def _alphas() -> dict[str, float]:
    if not CURVE.exists():  # fresh checkout: nothing to assert against
        return {}
    data = json.loads(CURVE.read_text())
    return {
        name: rec["alpha"]
        for name, rec in data.items()
        if isinstance(rec, dict) and "alpha" in rec
    }


def test_no_query_exceeds_the_100x_exponent_gate():
    specs = all_specs()
    over = [
        f"{name} (alpha={alpha:+.2f})"
        for name, alpha in _alphas().items()
        if alpha > ALPHA_MAX and name in specs
    ]
    assert not over, f"queries above the 100x exponent gate (re-plan them): {over}"


def test_retired_naive_names_serve_their_scale_path():
    specs = all_specs()
    for retired, twin in {
        "join_theta_acctbal": "theta_join_rank_rewrite",
        "concurrent_intervals_sweep": "concurrent_intervals_distributed",
        "autocorrelation_lag1_events": "autocorrelation_lag1_distributed",
        "gini_revenue_concentration": "gini_revenue_distributed",
        "decile_lift_acctbal": "decile_lift_distributed",
    }.items():
        assert specs[retired].build is specs[twin].build, retired
        assert specs[retired].oracle is specs[twin].oracle, retired
