"""Per-query profile of registry queries: driver plan-build time,
execution time, and the work counters that do not move with box load
(jobs, stages, tasks, input and shuffle bytes, the top stages by
executor run time). Counters come from the Spark UI REST API.

``build_s`` and ``exec_s`` are the minimum over ``--reps``; the counters
are those of the last rep. ``--explain DIR`` writes each query's
formatted plan to ``DIR/<name>.txt``.

Usage:
    python tools/work_profile.py [names...] [--sf-dir D] [--reps N]
        [--explain DIR] [--json out.json]

With no names, profiles the bench HEADLINE list.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

TOP_STAGES = 5


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=30) as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}", timeout=60) as r:
        return json.load(r)


def _snapshot(spark) -> tuple[set, dict]:
    """Job ids and (stage, attempt) -> stage known to the UI, once the
    asynchronous listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {j["jobId"] for j in _rest(spark, "/jobs")}
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _rest(spark, "/stages")
        if s["status"] in ("COMPLETE", "ACTIVE", "FAILED")
    }
    return jobs, stages


def _counters(jobs: set, stages: list) -> dict:
    top = sorted(stages, key=lambda s: -s["executorRunTime"])[:TOP_STAGES]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "input_mb": round(sum(s["inputBytes"] for s in stages) / 1e6, 2),
        "shuffle_write_mb": round(sum(s["shuffleWriteBytes"] for s in stages) / 1e6, 2),
        "shuffle_read_mb": round(sum(s["shuffleReadBytes"] for s in stages) / 1e6, 2),
        "top_stages": [
            {
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"],
                "run_ms": s["executorRunTime"],
                "name": (s.get("description") or s["name"]).splitlines()[0][:70],
            }
            for s in top
        ],
    }


def profile(spark, names, sf_dir: str, reps: int = 1, explain_dir=None) -> dict:
    """Build and run (noop sink) each registry query ``reps`` times and
    return ``{name: {build_s, exec_s, jobs, stages, tasks, input_mb,
    shuffle_write_mb, shuffle_read_mb, top_stages}}``. Jobs that
    ``build()`` itself runs count toward the query's work."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    specs = all_specs()
    out = {}
    for name in names:
        build_s = exec_s = float("inf")
        for _ in range(reps):
            jobs0, stages0 = _snapshot(spark)
            t0 = time.perf_counter()
            df = specs[name].build(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_s, exec_s = min(build_s, t1 - t0), min(exec_s, t2 - t1)
            jobs1, stages1 = _snapshot(spark)
            spark.catalog.clearCache()
        if explain_dir is not None:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = df._jdf.queryExecution().explainString(mode.fromString("formatted"))
            Path(explain_dir).mkdir(parents=True, exist_ok=True)
            (Path(explain_dir) / f"{name}.txt").write_text(plan + "\n")
        new_stages = [s for k, s in stages1.items() if k not in stages0]
        out[name] = {
            "build_s": round(build_s, 3),
            "exec_s": round(exec_s, 3),
            **_counters(jobs1 - jobs0, new_stages),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--explain", default=None, metavar="DIR")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
    from ag_data_ingestion_github_to_snowflake_spark.session import get_spark

    import bench

    specs = all_specs()
    names = []
    for name in args.names or bench.HEADLINE:
        if name in specs:
            names.append(name)
        else:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
    spark = get_spark("ag-work-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session so JIT/codegen doesn't pollute the first query
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    rows = profile(spark, names, args.sf_dir, args.reps, args.explain)
    for name, r in rows.items():
        print(
            f"{name}: build={r['build_s']:.2f}s exec={r['exec_s']:.2f}s "
            f"jobs={r['jobs']} stages={r['stages']} tasks={r['tasks']} "
            f"in={r['input_mb']}MB shW={r['shuffle_write_mb']}MB "
            f"shR={r['shuffle_read_mb']}MB"
        )
        for s in r["top_stages"]:
            print(
                f"  stage {s['stage']:>5} tasks {s['tasks']:>4} "
                f"run {s['run_ms']:>7} ms  {s['name']}"
            )
    if args.json:
        Path(args.json).write_text(json.dumps(rows, indent=1) + "\n")


if __name__ == "__main__":
    main()
