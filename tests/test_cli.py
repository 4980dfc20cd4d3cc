"""CLI entry point (`python -m ag_data_ingestion_github_to_snowflake_spark`),
mirroring the reference's main() flags (extract_github_data.py:769-792):
--test-mode / --use-cache / --skip-upload."""

from __future__ import annotations

import json

import pytest

from ag_data_ingestion_github_to_snowflake_spark.__main__ import build_parser, run


def test_parser_mirrors_reference_flags():
    args = build_parser().parse_args(
        ["--test-mode", "--use-cache", "--skip-upload"]
    )
    assert args.test_mode and args.use_cache and args.skip_upload


def test_cli_end_to_end_test_mode(spark, tmp_path, capsys):
    # 50 repos fit inside one unauthenticated 60-request budget, so a
    # single run drains the universe and the second run is a no-op
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state" / "last_repo_id.txt")
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "50",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["success"] and summary["uploaded"]
    assert summary["valid_count"] > 0
    assert summary["new_watermark"] > 0
    # stdout is exactly one JSON line (machine-readable run summary)
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[-1]) == summary
    # sink is a readable date-partitioned table
    back = spark.read.parquet(sink)
    assert back.count() == summary["valid_count"]
    assert {"year", "month", "day"} <= set(back.columns)
    # watermark persisted for the next incremental run
    assert int(open(state).read()) == summary["new_watermark"]

    # second run resumes past the watermark: no repos left -> no upload
    summary2 = run(
        ["--test-mode", "--n-repos", "50", "--sink", sink, "--state", state],
        spark=spark,
    )
    assert summary2["valid_count"] == 0 and not summary2["uploaded"]


def test_cli_skip_upload_advances_watermark_without_sink(spark, tmp_path):
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "wm.txt")
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "60",
            "--skip-upload",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["valid_count"] > 0 and not summary["uploaded"]
    import os

    assert not os.path.exists(sink)
    assert int(open(state).read()) == summary["new_watermark"]


def test_cli_use_cache_seeds_watermark_from_sink(spark, tmp_path):
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "wm.txt")
    run(
        ["--test-mode", "--n-repos", "50", "--sink", sink, "--state", state],
        spark=spark,
    )
    # wipe the state file: --use-cache must recover the cursor from the
    # bronze/sink table instead of refetching from id 0 (A3 semantics)
    import os

    os.remove(state)
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "50",
            "--use-cache",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["valid_count"] == 0  # nothing past the cached max id


def _replaying_stub(lookup_log: str):
    """A stub server that answers every list request with page 1 and
    appends each detail lookup to ``lookup_log`` (lookups run in Python
    workers, so they are counted through a file)."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    class ReplayPageOne(StubTransport):
        def __call__(self, path, params):
            if path == "/repositories":
                params = {**params, "since": 0}
            else:
                with open(lookup_log, "a") as f:
                    f.write(path + "\n")
            return super().__call__(path, params)

    return ReplayPageOne


def test_cli_replayed_page_is_listed_and_looked_up_once(spark, tmp_path, monkeypatch):
    """A replayed page is dropped and stops the list scan: each id is
    listed and looked up once, and the watermark is the last distinct id."""
    from ag_data_ingestion_github_to_snowflake_spark.sources import stub
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
        fetch_repo_list,
        list_scan_df,
    )

    log = tmp_path / "lookups.txt"
    replay = _replaying_stub(str(log))
    tr = replay(n_repos=300)
    rows, wm = fetch_repo_list(tr, 0, per_page=100, max_pages=3)
    assert [r["id"] for r in rows] == list(range(1, 101)) and wm == 100
    assert tr.calls == ["/repositories"] * 2  # page 1 and its replay
    df, wm = list_scan_df(spark, tr, since=0, per_page=100, max_requests_per_run=1000, max_pages=3)
    assert sorted(r.id for r in df.collect()) == list(range(1, 101)) and wm == 100

    monkeypatch.setattr(stub, "StubTransport", replay)
    monkeypatch.setenv("MAX_REQUESTS_PER_RUN", "1000")
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "wm.txt")
    summary = run(
        ["--test-mode", "--n-repos", "300", "--max-pages", "3", "--sink", sink, "--state", state],
        spark=spark,
    )
    lookups = log.read_text().split()
    assert len(lookups) == len(set(lookups)) == 100
    assert summary["new_watermark"] == int(open(state).read()) == 100
    ids = [r.id for r in spark.read.parquet(sink).select("id").collect()]
    assert len(ids) == len(set(ids)) == summary["valid_count"]
    (m,) = spark.read.parquet(sink + "_run_metrics").collect()
    assert m.api_calls == 2 + 100  # page 1, its replay, one lookup per id


def test_cli_run_metrics_row_matches_ground_truth(spark, tmp_path, monkeypatch):
    """One test-mode batch from watermark 37: one list page capped at the
    60-call budget's 59 detail slots, ids 38..96. The stub 404s on
    id % 19 and returns invalid rows on id % 13 and id % 17."""
    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    sink = str(tmp_path / "sink")
    state = tmp_path / "wm.txt"
    state.write_text("37")
    summary = run(
        ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(state)],
        spark=spark,
    )
    listed = range(38, 97)
    found = [i for i in listed if i % 19]
    invalid = [i for i in found if i % 13 == 0 or i % 17 == 0]
    (m,) = spark.read.parquet(sink + "_run_metrics").collect()
    assert m.total_processed == len(found) == 55
    assert m.valid_count == len(found) - len(invalid) == 47
    assert m.invalid_count == len(invalid) == 8
    assert m.start_repo_id == 39  # 38 is a 404
    assert m.last_repo_id == 96
    assert m.api_calls == 1 + len(listed)
    assert m.cache_hits == 0
    assert m.test_mode is True
    assert summary["valid_count"] == m.valid_count
    assert summary["invalid_count"] == m.invalid_count
    assert summary["new_watermark"] == 96


def test_cli_empty_batch_leaves_no_sink_and_next_batch_lands(spark, tmp_path):
    """A batch whose only listed id (19) is a 404 advances the watermark
    and writes neither a sink directory nor a metrics row; the next
    batch lands and ``--use-cache`` still reads the sink."""
    import os

    sink = str(tmp_path / "sink")
    state = tmp_path / "wm.txt"
    state.write_text("18")
    argv = ["--test-mode", "--sink", sink, "--state", str(state)]
    empty = run([*argv, "--n-repos", "19"], spark=spark)
    assert empty["valid_count"] == empty["invalid_count"] == 0
    assert not empty["uploaded"] and empty["new_watermark"] == 19
    assert not os.path.exists(sink) and not os.path.exists(sink + "_run_metrics")

    landed = run([*argv, "--n-repos", "60"], spark=spark)
    assert landed["uploaded"] and landed["new_watermark"] == 60
    assert spark.read.parquet(sink).count() == landed["valid_count"] > 0
    assert spark.read.parquet(sink + "_run_metrics").count() == 1

    os.remove(state)
    cached = run([*argv, "--n-repos", "60", "--use-cache"], spark=spark)
    assert cached["valid_count"] == 0 and cached["new_watermark"] == 60


def _plan_nodes(plan):
    """``plan`` and every node below it, through adaptive wrappers."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_cli_batch_is_one_job_with_one_lookup_task_over_a_local_list_scan(
    spark, tmp_path, monkeypatch
):
    """A CLI batch is one Spark job, the sink write; the metrics row is
    written without one. The listed rows reach the lookup kernel from a
    JVM ``LocalTableScan`` through a narrow coalesce to one partition:
    no Python list stage, no round-robin shuffle and no exchange."""
    from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
        incremental_extract,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources import sinks
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    sc = spark.sparkContext
    group = f"cli-batch-shape-{tmp_path.name}"
    metrics_group = group + "-metrics"
    write_run_metrics, metrics_writes = sinks.write_run_metrics, []

    def in_own_group(*args):
        sc.setJobGroup(metrics_group, "metrics row")
        try:
            write_run_metrics(*args)
        finally:
            sc.setJobGroup(group, "one CLI batch")
        metrics_writes.append(args)

    monkeypatch.setattr(sinks, "write_run_metrics", in_own_group)
    sc.setJobGroup(group, "one CLI batch")
    try:
        summary = run(
            ["--test-mode", "--n-repos", "300", "--sink", str(tmp_path / "sink"),
             "--state", str(tmp_path / "wm.txt")],
            spark=spark,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["uploaded"] and summary["new_watermark"] == 59
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(metrics_writes) == 1
    assert sc.statusTracker().getJobIdsForGroup(metrics_group) == []

    result = incremental_extract(spark, StubTransport(n_repos=300), 0)
    plan = result.valid._jdf.queryExecution().executedPlan()
    nodes = list(_plan_nodes(plan))
    names = [n.nodeName() for n in nodes]
    assert "LocalTableScan" in names
    assert not any("Exchange" in name for name in names), names
    assert "RoundRobinPartitioning" not in plan.toString()
    (lookup,) = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert lookup.children().apply(0).outputPartitioning().numPartitions() == 1


def test_cli_nothing_listed_keeps_watermark_and_writes_nothing(spark, tmp_path):
    """State already at ``--n-repos``: the keyset scan lists no row, so
    the batch's list relation is an empty Arrow table."""
    import os

    sink = str(tmp_path / "sink")
    state = tmp_path / "wm.txt"
    state.write_text("300")
    summary = run(
        ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(state)],
        spark=spark,
    )
    assert summary["success"] and not summary["uploaded"]
    assert summary["valid_count"] == summary["invalid_count"] == 0
    assert summary["new_watermark"] == int(state.read_text()) == 300
    assert not os.path.exists(sink) and not os.path.exists(sink + "_run_metrics")


class Crash(Exception):
    pass


def _crash_after(fn):
    def crashing(*args, **kwargs):
        fn(*args, **kwargs)
        raise Crash

    return crashing


@pytest.mark.parametrize(
    "point", ["data_write", "metrics_write", "before_first_move", "mid_moves", "state_set"]
)
def test_cli_crash_at_any_commit_step_lands_each_batch_once(spark, tmp_path, monkeypatch, point):
    """A batch crashes at one step of its commit; a clean rerun and one
    more batch follow. A crash before the commit record re-fetches the
    batch, one after it is finished by the rerun: either way every id
    lands once, with one ``_run_metrics`` row per batch."""
    import os

    from ag_data_ingestion_github_to_snowflake_spark.sources import sinks, state

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    sink = str(tmp_path / "sink")
    wm = tmp_path / "wm.txt"
    pending = sink + "_pending"
    argv = ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(wm)]

    with monkeypatch.context() as m:
        if point == "data_write":
            m.setattr(sinks, "partitioned_append", _crash_after(sinks.partitioned_append))
        elif point == "metrics_write":
            m.setattr(sinks, "write_run_metrics", _crash_after(sinks.write_run_metrics))
        elif point == "state_set":
            m.setattr(state.FileWatermark, "set", _crash_after(lambda *a: None))
        else:
            rename, moved = os.rename, []
            fail_at = 1 if point == "mid_moves" else 0

            def crashing_rename(src, dst):
                if str(src).startswith(pending):
                    if len(moved) == fail_at:
                        raise Crash
                    moved.append(src)
                rename(src, dst)

            m.setattr(os, "rename", crashing_rename)
        with pytest.raises(Crash):
            run(argv, spark=spark)
    if point == "mid_moves":
        staged = [f for _, _, fs in os.walk(pending) for f in fs if f.endswith(".parquet")]
        assert os.path.exists(sink) and staged

    run(argv, spark=spark)
    run(argv, spark=spark)

    # Each batch is one list page and 59 lookups; the stub 404s on id % 19
    # and returns invalid rows on id % 13 and id % 17.
    committed = point in ("before_first_move", "mid_moves", "state_set")
    batches = 2 + committed
    want = [i for i in range(1, 59 * batches + 1) if i % 19 and i % 13 and i % 17]
    ids = sorted(r.id for r in spark.read.parquet(sink).select("id").collect())
    assert ids == want
    last = sorted(r.last_repo_id for r in spark.read.parquet(sink + "_run_metrics").collect())
    assert last == [59 * (b + 1) for b in range(batches)]
    assert int(wm.read_text()) == 59 * batches
    assert not os.path.exists(pending)


def _faulty_stub(status: int, fault: str):
    """A stub server whose lookups of ids % 7 == 0 (``fault="lookup"``)
    or whose list pages (``fault="list_page"``) answer ``status``."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    class Faulty(StubTransport):
        def __call__(self, path, params):
            if fault == "list_page" and path == "/repositories":
                return status, None
            if fault == "lookup" and path.startswith("/repos/") and int(path.rsplit("-", 1)[1]) % 7 == 0:
                return status, None
            return super().__call__(path, params)

    return Faulty


@pytest.mark.parametrize("fault", ["lookup", "list_page"])
def test_cli_transient_failure_fails_the_batch_and_loses_no_repository(
    spark, tmp_path, monkeypatch, fault
):
    """One clean batch, then a batch whose lookups of id % 7 (or whose
    list page) still answer 503 after the transport's retries: the run
    raises and publishes nothing, so the next run finds the sink, the
    ``_run_metrics`` rows and the watermark as the clean batch left them
    and lists the failed batch again. Every id lands exactly once."""
    import os

    from ag_data_ingestion_github_to_snowflake_spark.sources import stub
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import roll_forward
    from ag_data_ingestion_github_to_snowflake_spark.sources.state import FileWatermark

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    sink = str(tmp_path / "sink")
    wm = tmp_path / "wm.txt"
    argv = ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(wm)]

    def committed():
        ids = sorted(r.id for r in spark.read.parquet(sink).select("id").collect())
        metrics = sorted(tuple(r) for r in spark.read.parquet(sink + "_run_metrics").drop("extraction_date").collect())
        return ids, metrics, wm.read_text()

    run(argv, spark=spark)
    before = committed()
    with monkeypatch.context() as m:
        m.setattr(stub, "StubTransport", _faulty_stub(503, fault))
        with pytest.raises(Exception, match="status 503"):
            run(argv, spark=spark)
    roll_forward(sink, FileWatermark(str(wm)))
    assert committed() == before
    assert not os.path.exists(sink + "_pending")

    run(argv, spark=spark)
    run(argv, spark=spark)
    # Each batch is one list page and 59 lookups; the stub 404s on id % 19
    # and returns invalid rows on id % 13 and id % 17.
    want = [i for i in range(1, 59 * 3 + 1) if i % 19 and i % 13 and i % 17]
    assert committed()[0] == want
    last = sorted(r.last_repo_id for r in spark.read.parquet(sink + "_run_metrics").collect())
    assert last == [59, 118, 177]
    assert int(wm.read_text()) == 177


@pytest.mark.parametrize("gone", [403, 410, 451])
def test_cli_gone_lookups_are_skipped_and_the_watermark_advances(spark, tmp_path, monkeypatch, gone):
    """A repository whose lookup ends forbidden, gone or unavailable for
    legal reasons yields no row, as a 404 does (the stub's id % 19); the
    batch still commits and moves the watermark past it."""
    from ag_data_ingestion_github_to_snowflake_spark.sources import stub

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    monkeypatch.setattr(stub, "StubTransport", _faulty_stub(gone, "lookup"))
    sink = str(tmp_path / "sink")
    wm = tmp_path / "wm.txt"
    summary = run(
        ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(wm)], spark=spark
    )
    assert summary["new_watermark"] == int(wm.read_text()) == 59
    ids = sorted(r.id for r in spark.read.parquet(sink).select("id").collect())
    assert ids == [i for i in range(1, 60) if i % 7 and i % 19 and i % 13 and i % 17]


def test_cli_batch_lands_as_one_file_under_its_run_date(spark, tmp_path, monkeypatch):
    """Two 20-page batches over the stub, whose listed ids fall on
    distinct ``updated_at`` days: each batch adds exactly one parquet
    file to the sink, in the partition of its ``_run_metrics`` row's
    ``extraction_date``."""
    import os

    from pyspark.sql import functions as F

    monkeypatch.setenv("MAX_REQUESTS_PER_RUN", "100000")
    sink = str(tmp_path / "sink")
    argv = ["--test-mode", "--max-pages", "20", "--n-repos", "4000", "--sink", sink,
            "--state", str(tmp_path / "wm.txt")]

    def sink_files():
        return {
            os.path.relpath(os.path.join(d, f), sink)
            for d, _, fs in os.walk(sink)
            for f in fs
            if f.endswith(".parquet")
        }

    landed = set()
    for batch in (1, 2):
        summary = run(argv, spark=spark)
        assert summary["uploaded"] and summary["new_watermark"] == 2000 * batch
        (added,) = sink_files() - landed
        landed.add(added)
        m = max(spark.read.parquet(sink + "_run_metrics").collect(), key=lambda r: r.last_repo_id)
        assert m.last_repo_id > 2000 * (batch - 1)
        assert os.path.dirname(added) == m.extraction_date.strftime("year=%Y/month=%m/day=%d")
    back = spark.read.parquet(sink)
    assert back.select(F.to_date("updated_at")).distinct().count() > 1000


@pytest.mark.parametrize("zone", ["LOC-14", "LOC+12"])
def test_cli_extraction_date_names_the_partition_off_utc(spark, tmp_path, monkeypatch, zone):
    """With the driver's local zone 14 hours ahead of UTC or 12 behind
    (POSIX ``TZ`` signs are inverted), the batch's ``_run_metrics`` row
    reads back as the local instant the batch ran at, and that instant
    names the partition its one data file landed in."""
    import os
    import time
    from datetime import datetime

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    sink = str(tmp_path / "sink")
    argv = ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(tmp_path / "wm.txt")]
    before_tz = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        before = datetime.now()
        summary = run(argv, spark=spark)
        after = datetime.now()
        (m,) = spark.read.parquet(sink + "_run_metrics").collect()
    finally:
        if before_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = before_tz
        time.tzset()
    assert summary["uploaded"]
    assert before <= m.extraction_date <= after
    (added,) = [
        os.path.relpath(d, sink) for d, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")
    ]
    assert added == m.extraction_date.strftime("year=%Y/month=%m/day=%d")


def test_cli_lookup_answering_for_another_repository_is_skipped(spark, tmp_path, monkeypatch):
    """A lookup whose name now belongs to another repository yields no
    row, as a gone one does. Here ids % 11 answer with the record of id
    + 59, a repository of the next batch: no sink id lies outside its
    batch's listed range, and none lands in two batches."""
    from ag_data_ingestion_github_to_snowflake_spark.sources import stub
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    class Renamed(StubTransport):
        def __call__(self, path, params):
            status, payload = super().__call__(path, params)
            if path.startswith("/repos/") and status == 200 and payload["id"] % 11 == 0:
                return status, self._detail_row(payload["id"] + 59)
            return status, payload

    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    monkeypatch.setattr(stub, "StubTransport", Renamed)
    sink = str(tmp_path / "sink")
    argv = ["--test-mode", "--n-repos", "300", "--sink", sink, "--state", str(tmp_path / "wm.txt")]
    run(argv, spark=spark)
    run(argv, spark=spark)
    # Each batch is one list page and 59 lookups; the stub 404s on id % 19
    # and returns invalid rows on id % 13 and id % 17.
    ids = [r.id for r in spark.read.parquet(sink).select("id").collect()]
    assert sorted(ids) == [i for i in range(1, 119) if i % 11 and i % 19 and i % 13 and i % 17]
    ranges = sorted(
        (r.start_repo_id, r.last_repo_id) for r in spark.read.parquet(sink + "_run_metrics").collect()
    )
    assert ranges == [(1, 59), (60, 118)]
