"""Benchmark for the engine, end to end and per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``ingest``: consecutive incremental test-mode CLI batches, each into
  a cleared sink and followed by the README's queries over it.
- ``queries``: pure-SQL, LLM-operator and streaming-drain registry
  queries over seeded fixture tables, in seeded order.

One driver thread runs the ops in a closed loop, one at a time, on
``local[nproc]``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer ones.
Every op's output is checked; the exit code is 1 if any check failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ag_data_ingestion_github_to_snowflake_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")

QUERY_SCALE = 0.01  # lineitem ~60k rows
INGEST_BATCHES = 1  # per pass; 20 pages x 100 repos each
SMOKE_QUERY_SCALE = 0.001
SMOKE_INGEST_BATCHES = 1
SETUP_REPEATS = 3
# Op kinds whose latencies are the op samples (not the sink checks).
OP_KINDS = ("ingest", "relational", "llm_ops", "streaming")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """2 GiB, or a quarter of the available memory if that is less."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return max(512, min(2048, avail_kb // 4096))


def pin_env(work: str) -> None:
    """The run environment, set before the JVM starts: every path the
    engine, Spark and the JVM write to lives under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The JVM settings keep the measured CPU time steady. C1 only: C2's
    # compile threads burn a third more CPU per pass for several passes
    # after the warm-up. The serial GC: parallel GC threads spin while
    # a peer waits for a core the host took. A fixed heap: a growing
    # one makes GC work shrink pass after pass.
    mem = f"{driver_mem_mb()}m"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{mem}"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": mem,
            # Python workers import the package from the checkout.
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # The default of 60 caps every CLI batch at 59 rows.
            "MAX_REQUESTS_PER_RUN": "1000000",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "--conf spark.sql.ui.retainedExecutions=100000",
                    f'--driver-java-options "{java_opts}"',
                    "pyspark-shell",
                ]
            ),
        }
    )


def descendants(root: int) -> set[int]:
    """Every live process below ``root``, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled from /proc. Keeps
    count of the CPU time it spends itself."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self.own_cpu_s = 0.0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_mb(self) -> float:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * self._page / 2**20

    def run(self):
        while not self._stop_event.is_set():
            t0 = time.thread_time()
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self.own_cpu_s += time.thread_time() - t0
            self._stop_event.wait(self.period_s)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak_mb


class CpuClock:
    """CPU seconds, user plus system, spent so far by this process (the
    driver, less what the RSS sampler spent), by the JVM and by the
    Python workers below it (with the ones they have reaped), as an
    array in that order. Unlike wall time, it does not count the time
    the host's other tenants take from this machine's cores."""

    def __init__(self, sampler: RssSampler):
        self.sampler = sampler
        self._tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> np.ndarray:
        me = os.getpid()
        out = np.zeros(3)
        for pid in descendants(me) | {me}:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
                fields = rest.split()
                ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            except (OSError, IndexError, ValueError):
                continue
            out[0 if pid == me else 1 if comm.endswith("(java") else 2] += ticks
        out /= self._tick
        out[0] -= self.sampler.own_cpu_s
        return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until every process it started has ended."""
    from pyspark import SparkContext

    spark.stop()
    children = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while alive := [p for p in children if _running(p)]:
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            break
        time.sleep(0.1)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank): (value, percentile, samples beyond). Below 20
    samples no percentile above the median has ten beyond it, so the
    median is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0, n // 2
    rank = n - 10  # ten samples lie above this one
    return xs[rank - 1], 100.0 * rank / n, 10


def make_workload(name: str, spark, work: str, seed: int, smoke: bool, clock):
    import workloads

    if name == "ingest":
        batches = SMOKE_INGEST_BATCHES if smoke else INGEST_BATCHES
        return workloads.IngestWorkload(spark, work, seed, batches, clock)
    if name == "queries":
        names = workloads.RELATIONAL + workloads.LLM_OPS + workloads.STREAMING
        scale = SMOKE_QUERY_SCALE if smoke else QUERY_SCALE
        return workloads.QueryWorkload(spark, work, seed, scale, names, clock)
    raise SystemExit(f"unknown workload {name!r}; choose ingest or queries")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, passes, setup_s: float, peak_mb: float) -> tuple[dict, list[str]]:
    ops = [o for p in passes for o in p.ops if o.kind in OP_KINDS and o.ok]
    samples = [o.latency_s for o in ops]
    tail_s, tail_pct, beyond = tail(samples)
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "pass_cpu_s": _metric(wl.pass_median(passes, "cpu_s"), "s"),
    }
    # Printed, not in the result: wall times follow the CPU time the
    # host's other tenants steal, the median op of a mix of queries
    # jumps between queries, too few ops per run give no tail, and peak
    # memory swings with GC timing (see README.md).
    notes = [
        f"op_cpu_p50_s = {statistics.median(o.cpu_s for o in ops):.4f} s",
        f"wall_s = {wl.pass_median(passes, 'wall_s'):.4f} s",
        f"op_p50_s = {statistics.median(samples):.4f} s",
        f"op_tail_s = {tail_s:.4f} s (p{tail_pct:.1f} of {len(samples)} ops, {beyond} beyond it)",
        f"peak_rss_mb = {peak_mb:.1f} MB",
    ]
    extra_keys = sorted({k for p in passes for k in p.extra})
    for k in extra_keys:
        notes.append(f"{k} = {statistics.median(p.extra[k] for p in passes if k in p.extra):.4f}")
    by_kind = {}
    for p in passes:
        for o in p.ops:
            if o.ok and o.latency_s:
                by_kind.setdefault(o.kind, []).append(o.latency_s)
    for k, xs in sorted(by_kind.items()):
        notes.append(f"op_p50_s[{k}] = {statistics.median(xs):.4f} over {len(xs)} ops")
    return metrics, notes


def per_layer(
    col: dict, n_passes: int, session: dict, overhead_s: float, extra: dict, cpu: np.ndarray
) -> tuple[dict, list[str]]:
    """Per-layer metrics per traced pass, from the tracer's totals;
    ``cpu`` is the CPU split of an untraced pass."""
    sp = col["spark"]
    stream = col["streaming"]
    counts = col["counts"]
    per = 1.0 / n_passes
    layer = col["layer_self_s"]
    layer_total = sum(layer.values()) or 1.0
    m = {
        "session.start_s": _metric(session["start_s"], "s"),
        "session.warmup_s": _metric(session["warmup_s"], "s"),
        "mem.peak_rss_mb": _metric(session["peak_rss_mb"], "MB"),
        "trace.overhead_s": _metric(overhead_s, "s"),
        "cpu.driver_s": _metric(cpu[0], "s"),
        "cpu.jvm_s": _metric(cpu[1], "s"),
        "cpu.python_workers_s": _metric(cpu[2], "s"),
    }
    for k, v in layer.items():
        m[f"share.{k}"] = _metric(100.0 * v / layer_total, "%")
    m["plans.build_jobs"] = _metric(col["plans_build_jobs"] * per, "count")
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ):
        m[f"spark.{k}"] = _metric(sp.get(k, 0.0) * per, unit)
    m["spark.core_util"] = _metric(
        sp.get("executor_run_s", 0.0) / (col["op_wall_s"] * col["cores"]) if col["op_wall_s"] else 0.0,
        "ratio",
    )
    m["scan.input_mb"] = _metric(sp.get("input_mb", 0.0) * per, "MB")
    m["scan.input_rows"] = _metric(sp.get("input_rows", 0.0) * per, "count")
    m["scan.files_read"] = _metric(sp.get("files_read", 0.0) * per, "count")
    m["udf.python_run_s"] = _metric(sp.get("python_run_s", 0.0) * per, "s")
    m["udf.mb_to_python"] = _metric(sp.get("mb_to_python", 0.0) * per, "MB")
    m["udf.mb_from_python"] = _metric(sp.get("mb_from_python", 0.0) * per, "MB")
    m["streaming.triggers"] = _metric(stream.get("triggers", 0.0) * per, "count")
    m["streaming.state_rows"] = _metric(stream.get("state_rows", 0.0) * per, "count")
    lookups = counts.get("lookups", 0.0)
    batches = counts.get("batches", 0.0)
    m["rest.list_pages"] = _metric(counts.get("list_pages", 0.0) * per, "count")
    m["rest.detail_lookups"] = _metric(lookups * per, "count")
    m["rest.lookup_skipped"] = _metric((lookups - counts.get("found", 0.0)) * per, "count")
    m["rest.landed_ratio"] = _metric(counts.get("valid", 0.0) / lookups if lookups else 0.0, "ratio")
    m["pipeline.jobs_per_batch"] = _metric(col["cli_jobs"] / batches if batches else 0.0, "count")
    m["pipeline.metrics_row_mismatches"] = _metric(extra.get("pipeline.metrics_row_mismatches", 0), "count")
    m["sinks.files_written"] = _metric(extra.get("sinks.files_written", 0.0), "count")
    m["sinks.bytes_per_row"] = _metric(extra.get("sinks.bytes_per_row", 0.0), "B/row")

    kt = col["kind_total_s"]
    cli_children = sum(
        kt.get(k, 0.0) for k in ("pipeline.incremental_extract", "sinks.partitioned_append",
                                 "sinks.write_run_metrics", "state.set")
    )
    times = {
        "plans.build_s": kt.get("plans.build", 0.0),
        "plans.exec_s": kt.get("plans.exec", 0.0),
        "rest.list_s": kt.get("rest.fetch_repo_list", 0.0),
        "pipeline.extract_s": kt.get("pipeline.incremental_extract", 0.0),
        "pipeline.materialize_s": kt.get("cli.run", 0.0) - cli_children,
        "sinks.append_s": kt.get("sinks.partitioned_append", 0.0),
        "sinks.metrics_write_s": kt.get("sinks.write_run_metrics", 0.0),
        "state.commit_s": kt.get("state.set", 0.0),
        "streaming.trigger_s": stream.get("trigger_s", 0.0),
        "streaming.add_batch_s": stream.get("add_batch_s", 0.0),
        "streaming.commit_s": stream.get("commit_s", 0.0),
        "streaming.planning_s": stream.get("planning_s", 0.0),
        "streaming.state_commit_s": stream.get("state_commit_s", 0.0),
    }
    notes = [f"{k} = {v * per:.4f} s per pass" for k, v in times.items()]
    top = max(layer, key=layer.get)
    notes.append(
        f"largest layer by self time: {top} ({layer[top] * per:.3f} s per pass, "
        f"{100.0 * layer[top] / layer_total:.1f}% of traced op time)"
    )
    return m, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for selftest.py")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    sys.path[:0] = [ROOT, HERE]

    import tracing as tr

    from ag_data_ingestion_github_to_snowflake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler()
    sampler.start()
    try:
        wl = make_workload(args.workload, spark, work, args.seed, args.smoke, CpuClock(sampler))
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare_inputs()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = [wl.run_pass(tr.NullTracer()) for _ in range(1 if args.smoke else wl.WARM_PASSES)]
        warmup_s = time.perf_counter() - t0
        setup_s = start_s + warmup_s + statistics.median(prep)

        tracer = tr.Tracer(spark) if args.trace else tr.NullTracer()
        passes, traced, untraced = [], [], []
        # Whole passes, as many as fit in --seconds at the nominal pass
        # time: each pass costs a little less than the one before, so a
        # count that followed the host's speed would move the medians.
        for _ in range(max(wl.MIN_PASSES, math.ceil(args.seconds / wl.PASS_S))):
            on = bool(args.trace) and len(passes) % 2 == 0
            if on:
                tracer.install()
                tracer.active = True
            try:
                p = wl.run_pass(tracer)
            finally:
                if on:
                    tracer.active = False
                    tracer.uninstall()
            passes.append(p)
            (traced if on else untraced).append(p)
        extra = wl.finish()
        peak_mb = sampler.stop()

        if args.trace:
            col = tracer.collect(nproc())
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        sampler.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for p in passes for o in p.ops]
    failed = [o for o in ops if not o.ok]
    warm_failed = [o for p in warm for o in p.ops if not o.ok]
    if args.trace:
        overhead = statistics.median(p.wall_s for p in traced) - statistics.median(
            p.wall_s for p in untraced
        )
        session = {"start_s": start_s, "warmup_s": warmup_s, "peak_rss_mb": peak_mb}
        cpu = np.median([p.cpu for p in untraced], axis=0)
        metrics, notes = per_layer(col, len(traced), session, overhead, extra, cpu)
    else:
        metrics, notes = end_to_end(wl, passes, setup_s, peak_mb)

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cores={nproc()} "
          f"passes={len(passes)} ops={len(ops)} setup: start {start_s:.2f}s warm-up {warmup_s:.2f}s")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {len(failed) / max(len(ops), 1):.4f}")
    for line in notes:
        print(line)
    for o in warm_failed + failed:
        print(f"FAILED {o.name}: {o.detail}")
    correct = not failed and not warm_failed
    result = {"correct": correct, "attempted": len(ops), "failed": len(failed), "metrics": metrics}
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
