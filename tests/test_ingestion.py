"""Ingestion-layer tests with a stubbed REST transport (SURVEY §5.5):
pagination, resume-from-watermark, 404-skip, validation split,
partitioned sink layout, the HTTP transport's retries.
"""

from __future__ import annotations

import os
import time
from datetime import datetime
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
    REQUIRED_FIELDS,
    flatten_repos,
    incremental_extract,
    validation_split,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    enrich_details,
    list_scan_df,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import partitioned_append
from ag_data_ingestion_github_to_snowflake_spark.sources.state import FileWatermark
from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

CFG = dict(per_page=50, max_requests_per_run=1000)


def test_list_scan_pagination_and_watermark(spark):
    tr = StubTransport(n_repos=120)
    df, wm = list_scan_df(spark, tr, since=0, **CFG, max_pages=2)
    assert df.count() == 100  # 2 pages x 50
    assert wm == 100
    # resume: next scan starts after the watermark
    df2, wm2 = list_scan_df(spark, tr, since=wm, **CFG, max_pages=2)
    ids = [r.id for r in df2.select("id").orderBy("id").collect()]
    assert ids[0] == 101 and wm2 == 120


def test_stub_list_pages_near_the_end_of_the_universe():
    """Each list page is the next ``per_page`` ids past ``since``, cut at
    ``n_repos``: full pages, the short last page and the empty page
    past the end."""
    n = 250
    tr = StubTransport(n_repos=n)
    for per_page in (1, 7, 100):
        for since in (0, 1, n - per_page - 1, n - per_page, n - per_page + 1, n - 1, n, n + 5):
            status, page = tr("/repositories", {"since": since, "per_page": per_page})
            expected = [i for i in range(since + 1, n + 1)][:per_page]
            assert status == 200
            assert [r["id"] for r in page] == expected, (since, per_page)


def test_budget_limit_truncates(spark):
    tr = StubTransport(n_repos=120)
    df, wm = list_scan_df(spark, tr, since=0, per_page=50, max_requests_per_run=11)
    assert df.count() == 10  # budget-1 detail slots (reference :630,:662)
    assert wm == 10  # watermark only advances over fetched rows


def test_exhausted_budget_never_advances_watermark(spark):
    """Regression: a budget that truncates the batch to empty must not
    move the watermark past unprocessed rows (rows would be skipped
    forever otherwise)."""
    tr = StubTransport(n_repos=120)
    df, wm = list_scan_df(spark, tr, since=7, per_page=50, max_requests_per_run=1)
    assert df.count() == 0
    assert wm == 7  # unchanged


def test_enrichment_skips_404_and_flattens(spark):
    tr = StubTransport(n_repos=60)
    df, _ = list_scan_df(spark, tr, since=0, **CFG, max_pages=2)
    raw = enrich_details(df, tr)
    flat = flatten_repos(raw)
    rows = {r.id: r for r in flat.collect()}
    assert 19 not in rows and 38 not in rows and 57 not in rows  # 404s skipped
    assert len(rows) == 57
    r2 = rows[2]
    assert r2.owner_type == "Organization"
    assert r2.owner_login == "owner2"
    created = tr._detail_row(2)["created_at"].removesuffix("Z")
    assert r2.created_at == datetime.fromisoformat(created)  # ISO-8601 'Z' parsed
    assert set(flat.columns) == set(REQUIRED_FIELDS)


def test_validation_split_counts(spark):
    tr = StubTransport(n_repos=100)
    df, _ = list_scan_df(spark, tr, since=0, **CFG, max_pages=2)
    flat = flatten_repos(enrich_details(df, tr))
    valid, invalid = validation_split(flat)
    fetched = [i for i in range(1, 101) if i % 19 != 0]
    bad = [i for i in fetched if i % 13 == 0 or i % 17 == 0]
    assert invalid.count() == len(bad)
    assert valid.count() == len(fetched) - len(bad)
    miss = {r.id: r.missing_fields for r in invalid.collect()}
    assert miss[13] == ["description"]
    assert miss[17] == ["language"]


def test_incremental_extract_end_to_end_with_resume(spark):
    tr = StubTransport(n_repos=80)
    cfg = dict(per_page=40, max_requests_per_run=1000)

    r1 = incremental_extract(spark, tr, 0, **cfg)
    assert r1.new_watermark == 40
    r1.valid.write.format("noop").mode("overwrite").save()  # the batch's action
    m = r1.metrics()
    assert m["total_processed"] == r1.valid.count() + r1.invalid.count()
    assert m["start_repo_id"] >= 1 and m["last_repo_id"] <= 40

    r2 = incremental_extract(spark, tr, r1.new_watermark, **cfg)
    assert r2.new_watermark == 80
    ids2 = {r.id for r in r2.valid.select("id").collect()}
    assert min(ids2) > 40  # resumed past the watermark


def test_partitioned_sink_layout(spark, tmp_path):
    """A batch lands under its run date ``at``, not under its rows'
    ``updated_at`` days: one ``year=/month=/day=`` directory holding one
    file, and a filter on that date reads every row back."""
    tr = StubTransport(n_repos=40)
    valid = incremental_extract(spark, tr, 0, **CFG).valid
    assert valid.select(F.to_date("updated_at")).distinct().count() > 1
    out = str(tmp_path / "sink")
    at = datetime(2026, 3, 7, 9, 15)
    partitioned_append(valid, out, at)
    dirs = [os.path.relpath(d, out) for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    assert dirs == [os.path.join("year=2026", "month=03", "day=07")]
    back = spark.read.parquet(out)
    on_date = back.filter((F.col("year") == 2026) & (F.col("month") == 3) & (F.col("day") == 7))
    assert on_date.count() == back.count() == valid.count() > 0


def test_file_watermark_rejects_corrupt_state(tmp_path):
    """Only a missing state file reads as the default; a corrupt or
    empty one must stop the run instead of re-listing from id 0."""
    path = tmp_path / "wm.txt"
    assert FileWatermark(str(path), default=7).get() == 7
    for text in ("4 2", "", "not-a-number"):
        path.write_text(text)
        with pytest.raises(ValueError, match="wm.txt"):
            FileWatermark(str(path)).get()


def test_morton_code_matches_python_reference(spark):
    from ag_data_ingestion_github_to_snowflake_spark.functions.zorder import morton_code

    def py_morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]],
        "a long, b long",
    )
    got = df.select("a", "b", morton_code(F.col("a"), F.col("b")).alias("m")).collect()
    for r in got:
        assert r.m == py_morton(r.a, r.b), (r.a, r.b)


def test_observed_run_metrics_single_pass(spark, tmp_path):
    """Observation counters ride the one action — a write of the valid
    split, as the CLI does — and still count every row."""
    from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
        observed_run_metrics,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
        RAW_DETAIL_SCHEMA,
    )
    from tests.test_operators import raw_repo

    rows = [raw_repo(i) for i in range(1, 6)]
    rows[2]["description"] = None  # one invalid row
    flat = flatten_repos(spark.createDataFrame(rows, RAW_DETAIL_SCHEMA))

    observed, obs = observed_run_metrics(flat)
    valid, _ = validation_split(observed)
    valid.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the one action
    got = obs.get
    assert got["total_processed"] == 5
    assert got["valid_count"] == 4
    assert got["invalid_count"] == 1
    assert got["start_repo_id"] == 1 and got["last_repo_id"] == 5


def _reply_server(*replies: bytes | None, hold_s: float = 0.0) -> str:
    """A 127.0.0.1 server that answers its n-th connection with
    ``replies[n]`` (raw bytes; ``None`` sends nothing), holds it
    ``hold_s`` seconds and closes it; after the last reply it stops
    listening, so a further call is refused. Returns its base URL."""
    import socket
    import threading

    srv = socket.create_server(("127.0.0.1", 0))

    def serve():
        with srv:
            for reply in replies:
                conn, _ = srv.accept()
                with conn:
                    conn.recv(65536)
                    if reply is not None:
                        conn.sendall(reply)
                    time.sleep(hold_s)

    threading.Thread(target=serve, daemon=True).start()
    return f"http://127.0.0.1:{srv.getsockname()[1]}"


def _loopback_transport(monkeypatch) -> list[float]:
    """Give ``rest.http_transport`` a 0.5 s timeout and no proxy for the
    loopback servers; its retry sleeps are recorded in the returned list
    instead of slept."""
    import urllib.request

    from ag_data_ingestion_github_to_snowflake_spark.sources import rest

    for var in ("http_proxy", "HTTP_PROXY", "all_proxy", "ALL_PROXY"):
        monkeypatch.delenv(var, raising=False)
    urlopen = urllib.request.urlopen
    monkeypatch.setattr(
        rest.urllib.request, "urlopen", lambda req, timeout: urlopen(req, timeout=0.5)
    )
    # Replace rest's view of ``time`` only: patching ``time.sleep`` itself
    # would also stop the sleeps of the session's background threads.
    waits: list[float] = []
    monkeypatch.setattr(rest, "time", SimpleNamespace(time=time.time, sleep=waits.append))
    return waits


OK = b'HTTP/1.1 200 OK\r\nContent-Length: 8\r\n\r\n{"a": 1}'
SPENT_403 = b"HTTP/1.1 403 Forbidden\r\nX-RateLimit-Remaining: 0\r\nContent-Length: 0\r\n\r\n"


def test_http_transport_maps_broken_responses_to_599(monkeypatch):
    """A response that is dropped, truncated, not JSON or too slow is a
    599, like a send error, once the retries run out; a good reply and
    an HTTP error keep their status and are not retried."""
    from ag_data_ingestion_github_to_snowflake_spark.sources import rest

    waits = _loopback_transport(monkeypatch)

    def status(reply, hold_s=0.0):
        waits.clear()
        return rest.http_transport(_reply_server(reply, hold_s=hold_s))("/repos/a/b", {})

    assert status(OK) == (200, {"a": 1}) and waits == []
    assert status(b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n") == (404, None)
    assert waits == []
    for reply, hold_s in (
        (None, 0.0),  # closed without a reply
        (b'HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\n{"a"', 0.0),
        (b"HTTP/1.1 200 OK\r\nContent-Length: 9\r\n\r\nnot json!", 0.0),
        (None, 2.0),  # read timeout
    ):
        assert status(reply, hold_s) == (599, None), reply
        assert waits == [1.0, 2.0, 4.0]  # then every retry is refused


def test_http_transport_retries_transient_calls_until_they_succeed(monkeypatch):
    """A 503, a 429 with ``Retry-After`` and a 403 with a spent quota
    are each retried after their wait, and the 200 that follows is
    returned. A rate-limited 403 that never clears reads as 429; a plain
    403, or a wait above the cap, is not retried."""
    from ag_data_ingestion_github_to_snowflake_spark.sources import rest

    waits = _loopback_transport(monkeypatch)

    def call(*replies):
        waits.clear()
        return rest.http_transport(_reply_server(*replies))("/repos/a/b", {})

    assert call(
        b"HTTP/1.1 503 Service Unavailable\r\nContent-Length: 0\r\n\r\n",
        b"HTTP/1.1 429 Too Many Requests\r\nRetry-After: 1\r\nContent-Length: 0\r\n\r\n",
        SPENT_403,
        OK,
    ) == (200, {"a": 1})
    assert waits == [1.0, 1.0, 4.0]
    assert call(*[SPENT_403] * rest.RETRY_ATTEMPTS) == (429, None)
    assert waits == [1.0, 2.0, 4.0]
    assert call(b"HTTP/1.1 403 Forbidden\r\nContent-Length: 0\r\n\r\n") == (403, None)
    assert waits == []
    hour = b"HTTP/1.1 429 Too Many Requests\r\nRetry-After: 3600\r\nContent-Length: 0\r\n\r\n"
    assert call(hour) == (429, None) and waits == []


@pytest.mark.parametrize("status", [401, 503])
def test_failed_list_page_raises_instead_of_ending_the_scan(status):
    """A list page that fails is an error, not an empty scan."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import fetch_repo_list

    def transport(path, params):
        return status, None

    with pytest.raises(RuntimeError, match=f"status {status}"):
        fetch_repo_list(transport, 0)
