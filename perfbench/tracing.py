"""Tracing from outside the program: spans around the engine's public
calls, Spark job tags per span, the UI REST API for per-job work
counters and a StreamingQueryListener for trigger durations.

Spans are kept in memory and written out when the run ends. Every span
tags the Spark jobs it launches (``spark.addTag``), so jobs started
inside the engine without a wrapped call, like the CLI's counts, are
still attributed to the innermost span that was open.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

# Span kind -> layer (module) it times.
LAYER = {
    "cli.run": "cli",
    "pipeline.incremental_extract": "pipeline",
    "pipeline.list_scan_df": "rest",
    "pipeline.enrich_details": "rest",
    "rest.fetch_repo_list": "rest",
    "sinks.partitioned_append": "sinks",
    "sinks.write_run_metrics": "sinks",
    "state.set": "state",
    "sinks.read": "sinks_read",
    "plans.build": "plans_build",
    "plans.exec": "plans_exec",
}
LAYERS = (
    "cli", "pipeline", "rest", "sinks", "state", "sinks_read",
    "plans_build", "plans_exec", "streaming",
)

_UNITS = {
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def _metric_value(text: str) -> float:
    """Total of a SQL UI metric string: "1,234", "12.5 MiB" or the
    "total (min, med, max ...)\\n12.5 MiB (...)" form. Sizes in MB,
    times in seconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def op(self, name):
        return contextlib.nullcontext()

    def span(self, kind, op=""):
        return contextlib.nullcontext()

    def count_batch(self, summary):
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = False
        self.progress: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple] = []
        self._listener = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def _span(self, kind: str, op: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "parent": self.stack[-1] if self.stack else None,
            "kind": kind, "op": op, "wall0": time.time(), "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self.stack.append(sid)
        tag = f"pbspan{sid}"
        self.spark.addTag(tag)
        try:
            yield rec
        finally:
            self.spark.removeTag(tag)
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()
            self.stack.pop()

    def op(self, name):
        return self._span("op", name) if self.active else contextlib.nullcontext()

    def span(self, kind, op=""):
        return self._span(kind, op) if self.active else contextlib.nullcontext()

    def count_batch(self, summary):
        if self.active:
            self.counts["batches"] += 1
            self.counts["found"] += summary["valid_count"] + summary["invalid_count"]
            self.counts["valid"] += summary["valid_count"]

    # -- wrapping the engine's public calls ----------------------------
    def _wrap(self, owner, attr, kind, before=None, after=None):
        """Replace ``owner.attr`` with a spanned call; ``before`` may
        rewrite the arguments and ``after`` sees the result."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            if before:
                args = before(args)
            with self._span(kind, self.spans[self.stack[0]]["op"] if self.stack else ""):
                out = orig(*args, **kwargs)
            if after:
                after(out)
            return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def _count_pages(self, args):
        transport = args[0]

        def counted(path, params):
            self.counts["list_pages"] += 1
            return transport(path, params)

        return (counted, *args[1:])

    def _count_lookups(self, out):
        rows, _watermark = out
        self.counts["lookups"] += len(rows)

    def install(self):
        """Patch the ingestion layers where they are looked up and add the
        streaming listener. ``pipeline.github`` imports the REST helpers
        by name, so they are patched on that module."""
        from ag_data_ingestion_github_to_snowflake_spark.pipeline import github
        from ag_data_ingestion_github_to_snowflake_spark.sources import rest, sinks, state
        from pyspark.sql.streaming import StreamingQueryListener

        self._wrap(github, "incremental_extract", "pipeline.incremental_extract")
        self._wrap(github, "list_scan_df", "pipeline.list_scan_df")
        self._wrap(github, "enrich_details", "pipeline.enrich_details")
        self._wrap(
            rest, "fetch_repo_list", "rest.fetch_repo_list", self._count_pages, self._count_lookups
        )
        self._wrap(sinks, "partitioned_append", "sinks.partitioned_append")
        self._wrap(sinks, "write_run_metrics", "sinks.write_run_metrics")
        self._wrap(state.FileWatermark, "set", "state.set")

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append(
                    {
                        "ts": p.timestamp,
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def uninstall(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- collection ----------------------------------------------------
    def _rest(self, path: str):
        ui = self.spark.sparkContext.uiWebUrl
        with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=30) as r:
            app = json.load(r)[0]["id"]
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}", timeout=60) as r:
            return json.load(r)

    def _span_of_job(self, tags) -> int | None:
        ids = [int(m.group(1)) for t in tags for m in [re.search(r"-pbspan(\d+)$", t)] if m]
        return max(ids) if ids else None

    def _enclosing(self, sid, kinds):
        """Kind of the nearest span, ``sid`` itself included, in ``kinds``."""
        while sid is not None:
            if self.spans[sid]["kind"] in kinds:
                return self.spans[sid]["kind"]
            sid = self.spans[sid]["parent"]
        return None

    def collect(self, cores: int) -> dict:
        """Per-layer totals over the traced spans (not yet divided per pass)."""
        deadline = time.time() + 30
        while True:  # the UI listener bus is asynchronous
            jobs = self._rest("/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.5)
        time.sleep(1.0)
        jobs = self._rest("/jobs")
        stages = {
            s["stageId"]: s
            for s in self._rest("/stages")
            if s["status"] in ("COMPLETE", "FAILED")
        }
        sql = self._rest("/sql?details=true&planDescription=false&offset=0&length=1000000")

        per_span = defaultdict(lambda: defaultdict(float))
        job_span = {}
        for j in jobs:
            sid = self._span_of_job(j.get("jobTags", []))
            if sid is None:
                continue
            job_span[j["jobId"]] = sid
            c = per_span[sid]
            c["jobs"] += 1
            for st in j["stageIds"]:
                s = stages.get(st)
                if s is None:
                    continue
                c["stages"] += 1
                c["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                c["executor_run_s"] += s["executorRunTime"] / 1e3
                c["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                c["gc_s"] += s["jvmGcTime"] / 1e3
                c["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                c["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
                c["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
                c["input_mb"] += s["inputBytes"] / 1e6
                c["input_rows"] += s["inputRecords"]
        node_metrics = {
            "number of files read": "files_read",
            "time to run Python workers": "python_run_s",
            "data sent to Python workers": "mb_to_python",
            "data returned from Python workers": "mb_from_python",
        }
        for e in sql:
            jids = [j for j in e.get("successJobIds", []) + e.get("failedJobIds", []) if j in job_span]
            if not jids:
                continue
            c = per_span[job_span[jids[0]]]
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    key = node_metrics.get(m["name"])
                    if key:
                        c[key] += _metric_value(m["value"])

        spans = [s for s in self.spans if "t1" in s]
        children = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]] += s["t1"] - s["t0"]
        ops = [s for s in spans if s["kind"] == "op"]
        op_wall = sum(s["t1"] - s["t0"] for s in ops)
        layer_self = defaultdict(float)
        kind_total = defaultdict(float)
        for s in spans:
            dur = s["t1"] - s["t0"]
            kind_total[s["kind"]] += dur
            if s["kind"] in LAYER:
                layer_self[LAYER[s["kind"]]] += dur - children[s["id"]]

        # Streaming trigger time runs inside plans.build (AvailableNow
        # drains): move it from the plan-build layer to the streaming one.
        windows = [(s["wall0"], s["wall1"]) for s in ops]
        stream = defaultdict(float)
        for p in self.progress:
            ts = datetime.fromisoformat(p["ts"].replace("Z", "+00:00")).timestamp()
            if not any(a - 0.05 <= ts <= b for a, b in windows):
                continue
            d = p["duration_ms"]
            stream["triggers"] += 1
            stream["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            stream["add_batch_s"] += d.get("addBatch", 0) / 1e3
            stream["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            stream["planning_s"] += d.get("queryPlanning", 0) / 1e3
            stream["state_rows"] += p["state_rows"]
            stream["state_commit_s"] += p["state_commit_ms"] / 1e3
        layer_self["streaming"] = stream["trigger_s"]
        layer_self["plans_build"] = max(layer_self["plans_build"] - stream["trigger_s"], 0.0)

        totals = defaultdict(float)
        build_jobs = 0.0
        cli_jobs = 0.0
        for sid, c in per_span.items():
            for k, v in c.items():
                totals[k] += v
            kind = self._enclosing(sid, ("plans.build", "cli.run"))
            if kind == "plans.build":
                build_jobs += c["jobs"]
            elif kind == "cli.run":
                cli_jobs += c["jobs"]

        return {
            "op_wall_s": op_wall,
            "kind_total_s": dict(kind_total),
            "layer_self_s": {k: layer_self.get(k, 0.0) for k in LAYERS},
            "spark": dict(totals),
            "plans_build_jobs": build_jobs,
            "cli_jobs": cli_jobs,
            "streaming": dict(stream),
            "counts": dict(self.counts),
            "cores": cores,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)

