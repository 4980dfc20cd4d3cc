"""A20 rate limits: ``rest._retry_wait_s``, the wait ``http_transport``
sleeps before retrying a transient call, read from literal response
headers and a fixed clock. Mirrors the reference's ``check_rate_limit``
(``src/extract_github_data.py:372-391``), which backs off until the
server's ``X-RateLimit-Reset``; the loop itself is driven end to end in
``tests/test_ingestion.py``."""

from __future__ import annotations

from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    MAX_RETRY_WAIT_S,
    _retry_wait_s,
)

NOW = 1000.0
SPENT = {"X-RateLimit-Remaining": "0"}


def test_headers_are_read_case_insensitively():
    for headers in (
        {"x-ratelimit-remaining": "0", "X-RATELIMIT-RESET": "1030"},
        {"X-RateLimit-Remaining": "0", "x-ratelimit-reset": "1030"},
    ):
        assert _retry_wait_s(403, headers, 0, NOW) == 30.0
    assert _retry_wait_s(429, {"RETRY-AFTER": "7"}, 0, NOW) == 7.0
    assert _retry_wait_s(403, {"retry-after": "7"}, 0, NOW) == 7.0


def test_absent_headers_back_off_exponentially():
    assert [_retry_wait_s(503, {}, attempt, NOW) for attempt in range(3)] == [1.0, 2.0, 4.0]
    assert _retry_wait_s(599, {}, 1, NOW) == 2.0
    assert _retry_wait_s(429, {}, 2, NOW) == 4.0


def test_only_transient_calls_are_retried():
    """A 403 without rate-limit headers is forbidden, not rate-limited,
    and the gone and success statuses are final."""
    for status, headers in (
        (200, {}),
        (403, {}),
        (403, {"X-RateLimit-Remaining": "12", "X-RateLimit-Reset": "1030"}),
        (404, {}),
        (410, {}),
        (451, {}),
    ):
        assert _retry_wait_s(status, headers, 0, NOW) is None, status


def test_retry_after_takes_precedence():
    headers = {**SPENT, "Retry-After": "5", "X-RateLimit-Reset": "1040"}
    assert _retry_wait_s(403, headers, 0, NOW) == 5.0
    assert _retry_wait_s(429, headers, 3, NOW) == 5.0  # below the backoff too


def test_backoff_waits_until_server_reset():
    assert _retry_wait_s(403, {**SPENT, "X-RateLimit-Reset": "1045.5"}, 0, NOW) == 45.5
    assert _retry_wait_s(429, {**SPENT, "X-RateLimit-Reset": "1045.5"}, 0, NOW) == 45.5


def test_backoff_floor_is_min_backoff():
    """A reset already past, or absent, still waits the backoff: the
    call is never retried at once."""
    assert _retry_wait_s(403, {**SPENT, "X-RateLimit-Reset": "400"}, 2, NOW) == 4.0
    assert _retry_wait_s(403, SPENT, 1, NOW) == 2.0
    assert _retry_wait_s(429, {"Retry-After": "soon"}, 0, NOW) == 1.0  # unreadable


def test_wait_above_the_cap_gives_up():
    assert _retry_wait_s(403, {**SPENT, "X-RateLimit-Reset": "4600"}, 0, NOW) is None  # an hour
    assert _retry_wait_s(429, {"Retry-After": str(MAX_RETRY_WAIT_S + 1)}, 0, NOW) is None
    assert _retry_wait_s(429, {"Retry-After": str(MAX_RETRY_WAIT_S)}, 0, NOW) == MAX_RETRY_WAIT_S
    assert _retry_wait_s(503, {}, 6, NOW) is None  # a 64 s backoff
