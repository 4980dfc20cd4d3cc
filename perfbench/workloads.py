"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks every operation's output.

An operation ("op") is one CLI batch (``__main__.run``) or one registry
query (``spec.build`` followed by collecting its rows). A pass runs
every op of the workload once; the measured phase repeats passes.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import inputs

# Pure-SQL registry queries: scan, codegen, joins and shuffle in the JVM.
RELATIONAL = (
    "pricing_summary",
    "star_join_wide",
    "cube_counts",
)
# LLM-data operators: pandas/Arrow UDFs and eager plan building.
LLM_OPS = (
    "similarity_topk_cosine",
    "grouped_zscore_events",
)
# AvailableNow streaming drains: a stateful window aggregation and the
# custom applyInPandasWithState operator.
STREAMING = (
    "streaming_tumbling_events",
    "streaming_stateful_totals",
)
QUERY_CLASSES = {"relational": RELATIONAL, "llm_ops": LLM_OPS, "streaming": STREAMING}

# The README's canonical queries over the ingestion sink.
README_QUERIES = {
    "top10_stars": "SELECT id, full_name, stargazers_count FROM sink "
    "ORDER BY stargazers_count DESC, id LIMIT 10",
    "count_by_owner_type": "SELECT owner_type, COUNT(*) AS n FROM sink GROUP BY owner_type",
    "avg_stars_by_language": "SELECT language, "
    "CAST(SUM(stargazers_count) AS DOUBLE) / COUNT(*) AS avg_stars "
    "FROM sink WHERE language IS NOT NULL GROUP BY language",
}


def _no_cpu() -> np.ndarray:
    return np.zeros(3)


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool
    detail: str = ""
    kind: str = ""
    cpu: np.ndarray = field(default_factory=_no_cpu)  # seconds: driver, JVM, Python workers

    @property
    def cpu_s(self) -> float:
        return float(self.cpu.sum())


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    cpu: np.ndarray = field(default_factory=_no_cpu)
    extra: dict = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return float(self.cpu.sum())


def _quiet(fn, *args, **kwargs):
    """Call ``fn`` with its stdout swallowed (the CLI prints a summary)."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args, **kwargs)


class QueryWorkload:
    """Registry queries over seeded fixture tables, in seeded order."""

    # Unmeasured passes before the measured ones. The first is cold
    # (JVM classes, Python workers, codegen); after it, a pass of these
    # queries costs what later ones do.
    WARM_PASSES = 1
    MIN_PASSES = 2  # measured passes, however short the run
    PASS_S = 8.5  # nominal seconds per warm pass, on a 4-vCPU VM

    def __init__(self, spark, work_dir: str, seed: int, scale: float, names, clock):
        from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

        self.spark = spark
        self.clock = clock
        self.seed = seed
        self.scale = scale
        self.sf_dir = os.path.join(work_dir, "fixtures")
        specs = all_specs()
        self.specs = {n: specs[n] for n in names}
        self.kind = {n: k for k, ns in QUERY_CLASSES.items() for n in ns}
        self.expected: dict[str, tuple] = {}
        self.n_passes = 0

    def prepare_inputs(self) -> None:
        """Write the fixtures and compute the DuckDB oracle fingerprints."""
        inputs.write_fixtures(self.sf_dir, self.seed, self.scale)
        con = checks.duckdb_fixtures(self.sf_dir)
        self.expected = {
            n: checks.duckdb_fingerprint(con, s.oracle)
            for n, s in self.specs.items()
            if s.oracle
        }
        con.close()

    def run_op(self, name: str, tracer) -> Op:
        spec = self.specs[name]
        try:
            c0 = self.clock()
            t0 = time.perf_counter()
            with tracer.span("plans.build", op=name):
                df = spec.build(self.spark, self.sf_dir)
            with tracer.span("plans.exec", op=name):
                table = df.toArrow()
            latency = time.perf_counter() - t0
            cpu = self.clock() - c0
        except Exception as e:  # an op that raises is a failed op
            return Op(name, 0.0, False, f"{type(e).__name__}: {e}"[:300], self.kind[name])
        finally:
            self.spark.catalog.clearCache()
        got = checks.fingerprint(table)
        want = self.expected.setdefault(name, got)  # no oracle: must repeat
        ok = got == want
        return Op(name, latency, ok, "" if ok else checks.diff(want, got), self.kind[name], cpu)

    def run_pass(self, tracer) -> Pass:
        """Every query once, in seeded order."""
        order = list(self.specs)
        random.Random(self.seed * 1000 + self.n_passes).shuffle(order)
        self.n_passes += 1
        p = Pass()
        for name in order:
            with tracer.op(name):
                p.ops.append(self.run_op(name, tracer))
        p.wall_s = sum(o.latency_s for o in p.ops)
        p.cpu = sum((o.cpu for o in p.ops), _no_cpu())
        return p

    def pass_median(self, passes: list[Pass], attr: str) -> float:
        """One full pass: the sum of every query's median ``attr``
        (``latency_s`` for ``wall_s``, ``cpu_s`` for ``cpu_s``)."""
        op_attr = "latency_s" if attr == "wall_s" else attr
        by_name: dict[str, list[float]] = {}
        for p in passes:
            for o in p.ops:
                by_name.setdefault(o.name, []).append(getattr(o, op_attr))
        return sum(statistics.median(xs) for xs in by_name.values())

    def finish(self) -> dict:
        return {}


class IngestWorkload:
    """Consecutive incremental CLI batches in test mode into one sink,
    then the README's queries over that sink.

    The seed picks the starting watermark, so each seed lists a
    different id range with its own mix of 404 lookups, invalid rows
    and date partitions. Every pass clears the sink and state and runs
    ``batches`` batches, so every pass does the same amount of work.
    """

    PAGES = 20  # 100 repos per page
    PER_PAGE = 100
    # The first pass is cold; the second still costs about a tenth more
    # CPU than later ones.
    WARM_PASSES = 2
    MIN_PASSES = 2
    PASS_S = 5.0

    def __init__(self, spark, work_dir: str, seed: int, batches: int, clock, max_passes: int = 16):
        self.spark = spark
        self.clock = clock
        self.dir = os.path.join(work_dir, "ingest")
        self.batches = batches
        per_pass = batches * self.PAGES * self.PER_PAGE
        self.start = 1000 + random.Random(seed).randrange(0, 200_000)
        # StubTransport lists ids up to n_repos; leave room for every pass.
        self.n_repos = self.start + per_pass * max_passes
        self.sink = os.path.join(self.dir, "sink")
        self.state = os.path.join(self.dir, "state", "last_repo_id.txt")
        self.cursor = self.start
        self.landed: list[np.ndarray] = []
        self.mismatches = 0
        self.last_audit: dict = {}

    def prepare_inputs(self) -> None:
        """Clear the sink and state dir and write the starting watermark."""
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.dirname(self.state))
        with open(self.state, "w") as f:
            f.write(str(self.cursor))
        self.landed = []

    def _batch(self, tracer) -> Op:
        from ag_data_ingestion_github_to_snowflake_spark import __main__ as cli

        want = inputs.stub_batch_expectation(self.cursor, self.cursor + self.PAGES * self.PER_PAGE)
        argv = [
            "--test-mode", "--max-pages", str(self.PAGES), "--n-repos", str(self.n_repos),
            "--sink", self.sink, "--state", self.state,
        ]
        try:
            c0 = self.clock()
            t0 = time.perf_counter()
            with tracer.span("cli.run", op="batch"):
                summary = _quiet(cli.run, argv, spark=self.spark)
            latency = time.perf_counter() - t0
            cpu = self.clock() - c0
        except Exception as e:
            return Op("batch", 0.0, False, f"{type(e).__name__}: {e}"[:300], "ingest")
        finally:
            self.spark.catalog.clearCache()
        self.cursor = want["watermark"]
        self.landed.append(want["valid_ids"])
        got = (summary["valid_count"], summary["invalid_count"], summary["new_watermark"])
        exp = (len(want["valid_ids"]), want["invalid"], want["watermark"])
        tracer.count_batch(summary)
        ok = got == exp
        return Op("batch", latency, ok, "" if ok else f"summary {got} != {exp}", "ingest", cpu)

    def _readme_queries(self, tracer) -> tuple[float, np.ndarray, list[Op]]:
        """Time the README queries on Spark (wall seconds and CPU split);
        compare each with DuckDB over the same sink files."""
        import duckdb

        results = {}
        c0 = self.clock()
        t0 = time.perf_counter()
        with tracer.op("readme"), tracer.span("sinks.read"):
            self.spark.read.parquet(self.sink).createOrReplaceTempView("sink")
            for name, sql in README_QUERIES.items():
                results[name] = self.spark.sql(sql).toArrow()
        elapsed = time.perf_counter() - t0
        cpu = self.clock() - c0
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW sink AS SELECT * FROM read_parquet('{self.sink}/**/*.parquet', "
            "hive_partitioning = true)"
        )
        ops = []
        for name, sql in README_QUERIES.items():
            want = checks.duckdb_fingerprint(con, sql)
            got = checks.fingerprint(results[name])
            ops.append(Op(name, 0.0, got == want, "" if got == want else checks.diff(want, got), "readme"))
        con.close()
        self.spark.catalog.dropTempView("sink")
        return elapsed, cpu, ops

    def _audit(self) -> Op:
        """The sink's id set, duplicates and the watermark must be what
        the stub rules predict. Also counts ``_run_metrics`` fields that
        disagree with ground truth (a count, not an op failure)."""
        from pyspark.sql import functions as F

        sink = self.spark.read.parquet(self.sink)
        ids = np.array(sorted(r[0] for r in sink.select("id").collect()), dtype=np.int64)
        want = np.sort(np.concatenate(self.landed))
        dups = len(ids) - len(np.unique(ids))
        with open(self.state) as f:
            watermark = int(f.read().strip())
        problems = []
        if dups:
            problems.append(f"{dups} duplicate ids")
        if not np.array_equal(np.unique(ids), want):
            problems.append(f"id set differs ({len(ids)} rows, want {len(want)})")
        if watermark != self.cursor:
            problems.append(f"watermark {watermark} != {self.cursor}")
        metrics = (
            self.spark.read.parquet(self.sink + "_run_metrics").orderBy(F.col("start_repo_id")).collect()
        )
        self.mismatches = self._metrics_mismatches(metrics)
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self.sink) for f in fs if f.endswith(".parquet")
        ]
        self.last_audit = {
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": len(ids),
        }
        ok = not problems
        return Op("sink_audit", 0.0, ok, "; ".join(problems), "audit")

    def _metrics_mismatches(self, rows) -> int:
        """Fields of the pass's ``_run_metrics`` rows that disagree with
        what each batch really did: calls made, lookups found, the
        valid/invalid split, the id range and test mode."""
        bad = 0
        cursor = self.cursor - self.batches * self.PAGES * self.PER_PAGE
        for r in rows:
            want = inputs.stub_batch_expectation(cursor, cursor + self.PAGES * self.PER_PAGE)
            truth = {
                "total_processed": want["found"],
                "valid_count": len(want["valid_ids"]),
                "invalid_count": want["invalid"],
                "start_repo_id": want["first_found"],
                "last_repo_id": want["last_found"],
                "api_calls": self.PAGES + want["listed"],
                "cache_hits": 0,
                "test_mode": True,
            }
            got = r.asDict()
            bad += sum(got.get(k) != v for k, v in truth.items())
            cursor = want["watermark"]
        return bad

    def pass_median(self, passes: list[Pass], attr: str) -> float:
        """The median pass's ``wall_s`` or ``cpu_s``."""
        return statistics.median(getattr(p, attr) for p in passes)

    def run_pass(self, tracer) -> Pass:
        """``batches`` batches into a cleared sink, the README queries and
        the sink audit."""
        self.prepare_inputs()
        p = Pass()
        for _ in range(self.batches):
            with tracer.op("batch"):
                p.ops.append(self._batch(tracer))
        batch_s = sum(o.latency_s for o in p.ops)
        batch_cpu = sum((o.cpu for o in p.ops), _no_cpu())
        query_s, query_cpu, query_ops = self._readme_queries(tracer)
        p.ops.extend(query_ops)
        p.ops.append(self._audit())
        p.wall_s = batch_s + query_s
        p.cpu = batch_cpu + query_cpu
        valid = sum(len(v) for v in self.landed)
        p.extra = {
            "sink_query_s": query_s,
            "sink_query_cpu_s": float(query_cpu.sum()),
            "repos_per_s": valid / batch_s if batch_s else 0.0,
        }
        return p

    def finish(self) -> dict:
        rows = max(self.last_audit.get("rows", 0), 1)
        return {
            "pipeline.metrics_row_mismatches": self.mismatches,
            "sinks.files_written": self.last_audit.get("files", 0) / self.batches,
            "sinks.bytes_per_row": self.last_audit.get("bytes", 0) / rows,
        }
