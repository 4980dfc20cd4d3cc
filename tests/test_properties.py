"""Hypothesis property tests for the engine's pure-Python components
(SURVEY §5.4). Spark-side properties are covered deterministically in
test_operators.py; these exercise the state/config/throttle logic
across generated inputs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ag_data_ingestion_github_to_snowflake_spark.config import EngineConfig
from ag_data_ingestion_github_to_snowflake_spark.sources.rest import MAX_RETRY_WAIT_S, _retry_wait_s
from ag_data_ingestion_github_to_snowflake_spark.sources.state import FileWatermark
from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=50, deadline=None)
def test_file_watermark_roundtrip(value):
    import os
    import tempfile

    path = os.path.join(tempfile.mkdtemp(), "wm.txt")
    wm = FileWatermark(path)
    wm.set(value)
    assert wm.get() == value


@given(
    st.integers(min_value=100, max_value=599),
    st.dictionaries(
        st.sampled_from(["Retry-After", "x-ratelimit-remaining", "X-RateLimit-Reset"]),
        st.one_of(st.integers(-10, 10**10).map(str), st.sampled_from(["", "nan", "inf", "-1e9", "soon"])),
    ),
    st.integers(min_value=0, max_value=10),
    st.floats(min_value=0, max_value=1e10),
)
@settings(max_examples=200, deadline=None)
def test_retry_wait_is_a_sleepable_bounded_wait(status, headers, attempt, now):
    """Whatever the headers say, a retry waits between 0 s and the cap."""
    wait = _retry_wait_s(status, headers, attempt, now)
    assert wait is None or 0.0 <= wait <= MAX_RETRY_WAIT_S


@given(
    st.dictionaries(
        st.sampled_from(
            ["GITHUB_TOKEN", "MAX_REQUESTS_PER_RUN", "REPOS_PER_PAGE", "TEST_MODE", "S3_USE_DATE_PARTITIONING"]
        ),
        st.sampled_from(["1", "0", "true", "false", "77", "tok"]),
    )
)
@settings(max_examples=50, deadline=None)
def test_config_parse_total(env):
    # parsing never raises and always yields sane positive budgets
    if "MAX_REQUESTS_PER_RUN" in env and env["MAX_REQUESTS_PER_RUN"] in ("true", "false", "tok"):
        env = {k: v for k, v in env.items() if k != "MAX_REQUESTS_PER_RUN"}
    if "REPOS_PER_PAGE" in env and env["REPOS_PER_PAGE"] in ("true", "false", "tok"):
        env = {k: v for k, v in env.items() if k != "REPOS_PER_PAGE"}
    cfg = EngineConfig.from_env(env)
    assert cfg.max_requests_per_run >= 0
    assert isinstance(cfg.test_mode, bool)


@given(st.integers(min_value=0, max_value=250), st.integers(min_value=1, max_value=100))
@settings(max_examples=30, deadline=None)
def test_stub_pagination_is_gapless(since, per_page):
    """List pagination covers (since, n_repos] exactly once."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import fetch_repo_list

    tr = StubTransport(n_repos=250)
    rows, wm = fetch_repo_list(tr, since, per_page, max_pages=1000)
    ids = [r["id"] for r in rows]
    assert ids == list(range(since + 1, 251))
    assert wm == (250 if since < 250 else since)
