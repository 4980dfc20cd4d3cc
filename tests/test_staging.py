"""The one staging gate (``sources.staging.staged``): a staged registry
query reuses its stage while the fixture is unchanged, and restages
when a source table is rewritten in place."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import stage_dir
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duckdb_connect, frame_fingerprint

# staged registry query -> the fixture table its stage is derived from;
# one query per gate (the session drain covers the flushed events stage,
# the multibatch rollup the 8-way split)
STAGED = {
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
    return glob.glob(os.path.join(tempfile.gettempdir(), f"ag_*{suffix}"))


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
def fixture_copy(tmp_path):
    sf = _copy_fixture(str(tmp_path / "sf_copy"))
    yield sf
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
