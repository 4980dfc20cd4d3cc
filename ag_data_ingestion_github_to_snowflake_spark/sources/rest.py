"""Paginated REST source (GitHub-repos-shaped) with injectable transport.

Re-expresses the reference's ingestion operators Spark-first
(the reference's ``src/extract_github_data.py``):

- A1 paginated list scan (``GET /repositories?since&per_page``, :394-435)
- A2 point-lookup detail enrichment (``GET /repos/{owner}/{repo}``, :438-491)
- A5 header/auth construction (:351-369)
- A20 rate limits (:372-391): ``http_transport`` retries a transient
  call (429, 5xx, 599, or a 403 with ``Retry-After`` or
  ``X-RateLimit-Remaining: 0``) up to ``RETRY_ATTEMPTS`` times. It waits
  ``Retry-After``, else until ``X-RateLimit-Reset``, else an exponential
  backoff (``_retry_wait_s``), and stops once a wait exceeds
  ``MAX_RETRY_WAIT_S``. A rate-limited 403 that still fails returns 429.

Failure policy (A14): a lookup whose final status is in ``GONE``, or
whose payload carries another repository's id, yields no row; any other
failed lookup, and any failed list page, raises. The raise fails the
batch's one action before its commit, so the watermark stays put and
the next run lists the batch again: a transient failure never drops a
repository.

Architecture: ``keyset_pages`` is the one keyset pager; the driver-side
list scan (``fetch_repo_list``/``list_scan_df``) takes its first
``max_pages`` pages. ``list_scan_df`` hands the listed rows to Spark
as an Arrow table, a JVM ``LocalTableScan`` with one slice per core, so
no Python task runs before the lookups. The *detail enrichment* — one
call per row — runs serially in one ``mapInPandas`` task, the slices
coalesced to one without a shuffle; the ``rows[:budget]`` cap bounds
the calls per run. One task because the API budget, not the stream
count, bounds a batch, and each Python task has a fixed CPU cost
larger than its lookups (OPTIMIZATION_r16.md §1).

The transport is injectable (callable) so tests replay canned JSON
(the reference's cache-file format, :293-344) without any network; the
real transport is a thin urllib adapter.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from itertools import islice

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# transport: (path, params) -> (status_code, payload_dict_or_list)
Transport = Callable[[str, dict], tuple[int, object]]

# Tries per call, the first included, while its status is transient.
RETRY_ATTEMPTS = 4
# The reference's own back-off. A longer wait (an hour-long rate-limit
# reset) fails the call instead of parking a Spark task.
MAX_RETRY_WAIT_S = 60.0
# Final lookup statuses that mean the repository is gone: skip its row.
GONE = frozenset({403, 404, 410, 451})

LIST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("owner_login", T.StringType()),
    ]
)

# Raw nested detail record (FIXTURES.md §1.1): only the fields the
# pipeline touches; extra API fields are ignored by projection.
OWNER_SCHEMA = T.StructType(
    [
        T.StructField("login", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("avatar_url", T.StringType()),
        T.StructField("html_url", T.StringType()),
    ]
)

RAW_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("html_url", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("stargazers_count", T.LongType()),
        T.StructField("language", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("owner", OWNER_SCHEMA),
    ]
)


def _number(value) -> float | None:
    """A header's value as finite, non-negative seconds or count, else None."""
    try:
        number = float(value)
    except (TypeError, ValueError):
        return None
    return number if 0.0 <= number < float("inf") else None


def _transient(status: int, headers: dict) -> bool:
    """A call worth retrying: rate-limited (429, or a 403 carrying the
    rate-limit headers), a server error, or no usable response (599)."""
    h = {str(k).lower(): v for k, v in (headers or {}).items()}
    return (
        status == 429
        or 500 <= status <= 599
        or (status == 403 and ("retry-after" in h or _number(h.get("x-ratelimit-remaining")) == 0))
    )


def _retry_wait_s(status: int, headers: dict, attempt: int, now: float) -> float | None:
    """Seconds to wait before retrying a call that ended ``status`` with
    ``headers`` (names in any case) on its ``attempt``-th try (0-based),
    or ``None`` when it must not be retried: it is not ``_transient``,
    or the wait would exceed ``MAX_RETRY_WAIT_S``.

    The wait is ``Retry-After``; else, when ``X-RateLimit-Remaining`` is
    0, the time until ``X-RateLimit-Reset`` (epoch seconds), never less
    than the backoff so a reset already past does not retry at once;
    else the exponential backoff ``2 ** attempt``."""
    h = {str(k).lower(): v for k, v in (headers or {}).items()}
    if not _transient(status, h):
        return None
    backoff = 2.0**attempt
    wait = _number(h.get("retry-after"))
    if wait is None:
        reset = _number(h.get("x-ratelimit-reset"))
        spent = _number(h.get("x-ratelimit-remaining")) == 0
        wait = max(reset - now, backoff) if spent and reset is not None else backoff
    return wait if wait <= MAX_RETRY_WAIT_S else None


def http_transport(base_url: str, token: str | None = None) -> Transport:
    """Real-network transport (urllib). Headers mirror the reference's
    ``get_api_headers`` (:351-369): token switches the rate tier. A
    transient call is retried per ``_retry_wait_s``; the returned status
    is the last try's, a rate-limited 403 reported as 429."""

    def send(path: str, params: dict) -> tuple[int, object, dict]:
        query = urllib.parse.urlencode(params)
        url = f"{base_url}{path}" + (f"?{query}" if query else "")
        req = urllib.request.Request(url)
        req.add_header("Accept", "application/vnd.github+json")
        if token:
            req.add_header("Authorization", f"Bearer {token}")
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, json.loads(resp.read().decode()), dict(resp.headers)
        except urllib.error.HTTPError as e:
            return e.code, None, dict(e.headers or {})
        # urllib wraps only send errors (URLError, an OSError); a dropped,
        # truncated, timed-out or non-JSON response raises raw. All are 599.
        except (OSError, http.client.HTTPException, ValueError):
            return 599, None, {}

    def call(path: str, params: dict) -> tuple[int, object]:
        for attempt in range(RETRY_ATTEMPTS):
            status, payload, headers = send(path, params)
            wait = _retry_wait_s(status, headers, attempt, time.time())
            if wait is None or attempt == RETRY_ATTEMPTS - 1:
                break
            time.sleep(wait)
        if status == 403 and _transient(status, headers):
            status = 429  # rate-limited, not forbidden: the lookup must not skip
        return status, payload

    return call


def keyset_pages(transport: Transport, since: int, per_page: int) -> Iterator[list[tuple]]:
    """Keyset pagination over ``GET /repositories``: yields each page's
    rows as ``LIST_SCHEMA`` tuples, ids strictly increasing past ``since``.

    Ids ``<= cursor`` (replayed or stale rows) are dropped. The scan
    stops on an empty response, on a page that does not advance the
    cursor and after a short page; a non-200 page raises, so a failed
    scan is never reported as an empty one. Callers apply their own
    bounds by no longer iterating, so no page past them is requested.
    """
    cursor = since
    while True:
        status, payload = transport("/repositories", {"since": cursor, "per_page": per_page})
        if status != 200:
            raise RuntimeError(f"list page since={cursor} ended with status {status}")
        if not payload:
            return
        page = []
        for r in payload:
            rid = int(r["id"])
            if rid > cursor:
                page.append((rid, r.get("name"), r.get("full_name"), (r.get("owner") or {}).get("login")))
                cursor = rid
        if not page:
            return
        yield page
        if len(payload) < per_page:
            return


def fetch_repo_list(
    transport: Transport,
    since: int,
    per_page: int = 100,
    max_pages: int = 1,
) -> tuple[list[dict], int]:
    """A1: the first ``max_pages`` pages of the keyset scan on the driver
    (each page's ``since`` is the previous page's last id). Returns
    (rows, new_watermark)."""
    rows = [
        dict(zip(LIST_SCHEMA.names, r))
        for page in islice(keyset_pages(transport, since, per_page), max_pages)
        for r in page
    ]
    return rows, rows[-1]["id"] if rows else since


def list_scan_df(
    spark: SparkSession,
    transport: Transport,
    since: int,
    per_page: int,
    max_requests_per_run: int,
    max_pages: int = 1,
) -> tuple[DataFrame, int]:
    """List scan as a DataFrame + new watermark (A1 + A11 budget limit).

    The rows become an Arrow-backed local relation: it plans as a JVM
    ``LocalTableScan`` split into one slice per core (never more slices
    than rows), so reading it starts no Python worker."""
    rows, _ = fetch_repo_list(transport, since, per_page, max_pages)
    # Budget: reserve one call per list page (conservative if the scan
    # stopped early), the rest are detail-call slots.
    budget = max(max_requests_per_run - max_pages, 0)
    rows = rows[:budget]
    # The watermark must never advance past rows the budget discarded:
    # an empty batch keeps the caller's watermark unchanged.
    watermark = rows[-1]["id"] if rows else since
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LIST_SCHEMA))
    return spark.createDataFrame(table, LIST_SCHEMA), watermark


def enrich_details(list_df: DataFrame, transport: Transport) -> DataFrame:
    """A2: point-lookup enrichment in one ``mapInPandas`` task.

    The list relation's per-core slices are coalesced (narrow, no
    shuffle) to one task, which looks the rows up serially over one
    transport, as the reference does on one thread (:677-714): the API
    budget bounds a batch, and GitHub asks for serial requests per
    token. A lookup ending in a ``GONE`` status yields no row (A14 skip
    semantics), and so does one that answers for another repository
    (the name now belongs to a different id, which lies outside the
    listed range); any other non-200 raises, which fails the batch
    before its commit (module docstring). The output is the *nested
    raw* record, flattening happens downstream
    (pipeline.github.flatten_repos).
    """
    import pandas as pd  # executor-side import

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                status, payload = transport(
                    f"/repos/{row['owner_login']}/{row['name']}", {}
                )
                if status in GONE:
                    continue  # the repository is gone: row-skip (:480-491)
                if status != 200 or payload is None:
                    raise RuntimeError(
                        f"lookup of repository id {row['id']} ended with status {status}"
                    )
                p = payload
                if p.get("id") != row["id"]:
                    continue  # the name now answers for another repository
                owner = p.get("owner") or {}
                out.append(
                    {
                        "id": p.get("id"),
                        "name": p.get("name"),
                        "full_name": p.get("full_name"),
                        "html_url": p.get("html_url"),
                        "description": p.get("description"),
                        "stargazers_count": p.get("stargazers_count"),
                        "language": p.get("language"),
                        "created_at": p.get("created_at"),
                        "updated_at": p.get("updated_at"),
                        "owner": {
                            "login": owner.get("login"),
                            "id": owner.get("id"),
                            "type": owner.get("type"),
                            "avatar_url": owner.get("avatar_url"),
                            "html_url": owner.get("html_url"),
                        },
                    }
                )
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in RAW_DETAIL_SCHEMA.fields}
            )

    return list_df.coalesce(1).mapInPandas(kernel, RAW_DETAIL_SCHEMA)
