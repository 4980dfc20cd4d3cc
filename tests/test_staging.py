"""The scratch root (``sources.staging``): a staged registry query
reuses its stage while the fixture is unchanged and restages when a
source table is rewritten in place; a per-build scratch dir belongs to
one process and is gone when it exits."""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
from ag_data_ingestion_github_to_snowflake_spark.sources import staging
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import (
    scratch_root,
    stage_dir,
)
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duckdb_connect, frame_fingerprint

# staged registry query -> the fixture table its stage is derived from;
# one query per gate (the session drain covers the flushed events stage,
# the multibatch rollup the 8-way split)
STAGED = {
    "bucketed_join_colocated": "lineitem",
    "streaming_tumbling_events": "events",
    "streaming_session_window_events": "events",
    "streaming_multibatch_rollup": "events",
    "streaming_cep_funnel": "events",
    "streaming_corpus_curation": "documents",
    "streaming_neardup_curation": "documents",
    "streaming_dlq_ingest": "documents",
    "streaming_scd2_upsert": "orders",
    "partition_grouped_pushdown": "events",
    "parquet_bloom_pointlookup": "events",
    "small_file_compaction": "events",
    "partition_evolution_union": "events",
}


def _copy_fixture(dest: str) -> str:
    shutil.copytree(SF_SMOKE, dest)
    for name in os.listdir(dest):
        os.chmod(os.path.join(dest, name), 0o644)
    return dest


def _scratch_dirs(sf: str) -> list[str]:
    """Every ``stage_dir(prefix, sf)`` that exists, whatever the prefix."""
    suffix = os.path.basename(stage_dir("", sf))
    return glob.glob(os.path.join(scratch_root(), f"ag_*{suffix}"))


def _bucketed_tables(spark, sf: str) -> list[str]:
    """Catalog tables registered over the bucketed stages of ``sf``."""
    suffix = re.sub(r"\W", "_", os.path.basename(stage_dir("", sf)))
    return [t.name for t in spark.catalog.listTables() if t.name.endswith(suffix)]


def _stage_files(sf: str) -> dict[str, int]:
    """mtime_ns of every file under the marked stages of ``sf``."""
    files = {}
    for stage in _scratch_dirs(sf):
        if os.path.exists(os.path.join(stage, "_staged")):
            for root, _, names in os.walk(stage):
                for n in names:
                    p = os.path.join(root, n)
                    files[p] = os.stat(p).st_mtime_ns
    return files


def _rewrite_in_place(path: str) -> None:
    """Keep every other row and shift ``user_id`` by 30 (the smoke
    fixture's users 0-14 then include the bloom lookup's user 42): a new
    mtime and a different answer for every staged query."""
    table = pq.read_table(path)
    table = table.take(list(range(0, table.num_rows, 2)))
    if "user_id" in table.column_names:
        i = table.column_names.index("user_id")
        table = table.set_column(i, "user_id", pc.add(table["user_id"], 30))
    pq.write_table(table, path)


@pytest.fixture
def fixture_copy(spark, tmp_path):
    sf = _copy_fixture(str(tmp_path / "sf_copy"))
    yield sf
    for name in _bucketed_tables(spark, sf):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    for d in _scratch_dirs(sf):
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(STAGED))
def test_stage_is_reused_until_the_fixture_is_rewritten(spark, fixture_copy, tmp_path, name):
    spec = all_specs()[name]
    spec.build(spark, fixture_copy).collect()
    first = _stage_files(fixture_copy)
    assert any(p.endswith(os.sep + "_staged") for p in first), "no marked stage"
    spec.build(spark, fixture_copy).collect()
    assert _stage_files(fixture_copy) == first, "second build restaged"

    table = f"{STAGED[name]}.parquet"
    _rewrite_in_place(os.path.join(fixture_copy, table))
    got = spec.build(spark, fixture_copy)
    if spec.oracle is not None:
        con = duckdb_connect(fixture_copy)
        try:
            result = compare(name, got, con, spec.oracle)
        finally:
            con.close()
        assert result.match, result.detail
        return
    # rows-only: equal to a first build over a fresh copy of the new data
    fresh = _copy_fixture(str(tmp_path / "sf_fresh"))
    shutil.copy(os.path.join(fixture_copy, table), os.path.join(fresh, table))
    try:
        want = spec.build(spark, fresh)
        assert frame_fingerprint(got.toPandas()) == frame_fingerprint(want.toPandas())
    finally:
        for d in _scratch_dirs(fresh):
            shutil.rmtree(d, ignore_errors=True)


def test_bucketed_stage_is_registered_from_its_files_on_a_fresh_catalog(spark, fixture_copy):
    """A session whose catalog lacks the tables reuses the staged layout:
    it registers both tables from the files, rewrites nothing, and the
    join still reads both sides with no Exchange."""
    spec = all_specs()["bucketed_join_colocated"]
    spec.build(spark, fixture_copy).collect()
    first = _stage_files(fixture_copy)
    tables = _bucketed_tables(spark, fixture_copy)
    assert len(tables) == 2, tables
    for name in tables:
        spark.sql(f"DROP TABLE {name}")

    # the tiny fixture would broadcast, which hides the property
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = spec.build(spark, fixture_copy)
        plan = got._jdf.queryExecution().executedPlan().toString()
        con = duckdb_connect(fixture_copy)
        try:
            result = compare("bucketed_join_colocated", got, con, spec.oracle)
        finally:
            con.close()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert _stage_files(fixture_copy) == first, "reuse rewrote a staged file"
    assert sorted(_bucketed_tables(spark, fixture_copy)) == sorted(tables)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan.split("SortMergeJoin", 1)[1], plan
    assert result.match, result.detail


# Asks for a scratch dir, fills it, reports it and waits for stdin to close.
_SCRATCH_CHILD = """
import os, sys
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import scratch_dir
path = scratch_dir("ag_json_sink", sys.argv[1])
os.makedirs(path)
open(os.path.join(path, "part-0.json"), "w").close()
print(path, flush=True)
sys.stdin.read()
"""


def _scratch_child(sf: str) -> subprocess.Popen:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.Popen(
        [sys.executable, "-c", _SCRATCH_CHILD, sf],
        cwd=root,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )


def test_scratch_dir_is_per_process_and_removed_at_exit(tmp_path):
    """Two live processes asking for the same (prefix, dataset) get
    different dirs, so neither rewrites the other's output under a lazy
    read; each dir is gone once its process exits."""
    sf = str(tmp_path / "sf0.01")
    procs = [_scratch_child(sf) for _ in range(2)]
    try:
        paths = [p.stdout.readline().strip() for p in procs]
        assert all(paths) and paths[0] != paths[1], paths
        assert all(os.path.isdir(p) for p in paths)
    finally:
        for p in procs:
            p.communicate(timeout=60)
    assert [p.returncode for p in procs] == [0, 0]
    assert not any(os.path.exists(p) for p in paths), paths


def test_first_scratch_dir_call_prunes_dead_processes_dirs(tmp_path, monkeypatch):
    """A process killed by SIGKILL never runs its exit hook; the next
    process's first ``scratch_dir`` removes what it left, and keeps
    the dir of a process that is still alive."""
    sf = str(tmp_path / "sf0.01")
    procs = [_scratch_child(sf) for _ in range(2)]
    dead, live = procs
    try:
        dead_path, live_path = (p.stdout.readline().strip() for p in procs)
        dead.kill()
        dead.wait(timeout=60)  # reaped: a zombie still answers kill(pid, 0)
        assert os.path.isdir(dead_path)
        monkeypatch.setattr(staging, "_SCRATCH", set())  # this process's first call
        staging.scratch_dir("ag_json_sink", sf)
        assert not os.path.exists(dead_path)
        assert os.path.isdir(live_path)
    finally:
        live.communicate(timeout=60)
        dead.kill()
        dead.communicate(timeout=60)
    assert live.returncode == 0
