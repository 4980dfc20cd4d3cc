"""Measure the headline suite's scaling curve: run every headline query
at sf0.1 (driver fixture) and sf1.0 (tools/gen_scale_fixture.py, 10x)
in ONE session, take the min of N reps per (query, sf), and report the
per-query scaling exponent  alpha = log10(t_sf1 / t_sf0.1)  — alpha 1.0
is perfectly linear in data volume, alpha 0 is fixed-overhead bound,
>1 super-linear.

Usage: python tools/scale_curve.py [reps] [--all] [name ...]
  (writes scale_curve.json; --all sweeps EVERY registry query instead
   of the headline set and writes scale_curve_full.json; explicit query
   names measure just those and MERGE them into scale_curve_full.json —
   the per-round refresh path for new or changed queries)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
from ag_data_ingestion_github_to_snowflake_spark.session import get_spark
from bench import HEADLINE

SF_SMALL = os.environ.get("SPARK_GRAFT_SCALE_SMALL", "/root/testdata/sf0.1")
SF_BIG = os.environ.get(
    "SPARK_GRAFT_SCALE_BIG", str(ROOT / ".localdata" / "sf1.0")
)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    full = "--all" in sys.argv
    reps = int(args[0]) if args and args[0].isdigit() else 2
    explicit = [a for a in args if not a.isdigit()]
    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    if explicit:
        missing = [n for n in explicit if n not in specs]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        names = explicit
    else:
        names = list(specs) if full else list(HEADLINE)
    # JIT/codegen warm-up on the smallest fixture
    for name in names:
        try:
            specs[name].build(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            print(f"{name}: warm-up failed: {e}")

    out: dict[str, dict] = {}
    for name in names:
        times = {}
        try:
            for sf_dir, key in ((SF_SMALL, "t_small"), (SF_BIG, "t_big")):
                best = math.inf
                for _ in range(reps):
                    # between-rep clear: persisted intermediates would
                    # otherwise make rep 2 a zero-build-cost cache read
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    specs[name].build(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                times[key] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": str(e)[:200]}
            print(f"{name:36s} ERROR {str(e)[:120]}")
            spark.catalog.clearCache()
            continue
        spark.catalog.clearCache()  # drop persist() residue between queries
        alpha = math.log10(times["t_big"] / times["t_small"])
        out[name] = {**times, "alpha": round(alpha, 3)}
        print(
            f"{name:36s} {times['t_small']:7.3f}s -> "
            f"{times['t_big']:8.3f}s  alpha={alpha:+.3f}"
        )

    dest_env = os.environ.get("SPARK_GRAFT_SCALE_OUT")
    dest = Path(dest_env) if dest_env else ROOT / (
        "scale_curve_full.json" if (full or explicit) else "scale_curve.json"
    )
    if explicit and dest.exists():
        merged = json.loads(dest.read_text())
        merged.update(out)
        out = merged
    dest.write_text(json.dumps(out, indent=1) + "\n")
    timed = {k: v for k, v in out.items() if "alpha" in v}
    worst = max(timed.items(), key=lambda kv: kv[1]["alpha"])
    print(f"\nworst exponent: {worst[0]} alpha={worst[1]['alpha']}")


if __name__ == "__main__":
    main()
