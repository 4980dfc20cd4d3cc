"""Paginated REST source (GitHub-repos-shaped) with injectable transport.

Re-expresses the reference's ingestion operators Spark-first
(/root/reference/src/extract_github_data.py):

- A1 paginated list scan (``GET /repositories?since&per_page``, :394-435)
- A2 point-lookup detail enrichment (``GET /repos/{owner}/{repo}``, :438-491)
- A5 header/auth construction (:351-369)
- A20 rate-limit governor (:372-391)

Architecture: ``keyset_pages`` is the one keyset pager; the driver-side
list scan (``fetch_repo_list``/``list_scan_df``) takes its first
``max_pages`` pages. ``list_scan_df`` hands the listed rows to Spark
as an Arrow table, a JVM ``LocalTableScan`` with one slice per core, so
no Python task runs before the lookups. The *detail enrichment* — one
call per row — runs in ``mapInPandas`` over those slices, coalesced to
at most ``MAX_LOOKUP_TASKS`` tasks without a shuffle; the
``rows[:budget]`` cap bounds the calls per run.
Each Python task has a fixed CPU cost larger than a slice's lookups
(OPTIMIZATION_r15.md), hence one task per core and no more.

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
from dataclasses import dataclass, field
from itertools import islice

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# transport: (path, params) -> (status_code, payload_dict_or_list)
Transport = Callable[[str, dict], tuple[int, object]]

# Each lookup task holds one API stream, so this bounds the concurrent streams.
MAX_LOOKUP_TASKS = 8

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


def http_transport(base_url: str, token: str | None = None) -> Transport:
    """Real-network transport (urllib). Headers mirror the reference's
    ``get_api_headers`` (:351-369): token switches the rate tier."""

    def call(path: str, params: dict) -> tuple[int, object]:
        query = urllib.parse.urlencode(params)
        url = f"{base_url}{path}" + (f"?{query}" if query else "")
        req = urllib.request.Request(url)
        req.add_header("Accept", "application/vnd.github+json")
        if token:
            req.add_header("Authorization", f"Bearer {token}")
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:  # 404 etc: row-skip, not crash
            return e.code, None
        # urllib wraps only send errors (URLError, an OSError); a dropped,
        # truncated, timed-out or non-JSON response raises raw. Row-skip all.
        except (OSError, http.client.HTTPException, ValueError):
            return 599, None

    return call


def keyset_pages(transport: Transport, since: int, per_page: int) -> Iterator[list[tuple]]:
    """Keyset pagination over ``GET /repositories``: yields each page's
    rows as ``LIST_SCHEMA`` tuples, ids strictly increasing past ``since``.

    Ids ``<= cursor`` (replayed or stale rows) are dropped. The scan
    stops on a non-200 or empty response, on a page that does not
    advance the cursor and after a short page. Callers apply their own
    bounds by no longer iterating, so no page past them is requested.
    """
    cursor = since
    while True:
        status, payload = transport("/repositories", {"since": cursor, "per_page": per_page})
        if status != 200 or not payload:
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
    """A2: distributed point-lookup enrichment via mapInPandas.

    The list relation's per-core slices are coalesced (narrow, no
    shuffle) to at most ``MAX_LOOKUP_TASKS`` tasks. Each task drives
    its own transport connection; a failed or 404 lookup yields no row
    (A14 skip semantics). The reference does this loop serially on one
    thread (:677-714); here tasks fetch concurrently and the output is
    the *nested raw* record, flattening happens downstream
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
                if status != 200 or payload is None:
                    continue  # 404 / error row-skip (:480-491)
                p = payload
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

    return list_df.coalesce(MAX_LOOKUP_TASKS).mapInPandas(kernel, RAW_DETAIL_SCHEMA)


@dataclass
class RateLimiter:
    """A20 token-budget governor (DRIVER-SIDE ONLY).

    Counts calls against a deterministic per-run budget. This object is
    plain Python state: if its ``wrap``-ed transport is shipped inside a
    mapInPandas closure, cloudpickle copies it per task and each
    partition counts independently — the budget silently becomes
    budget × partitions. Distributed enforcement therefore comes from
    the structural ``rows[:budget]`` cap in ``list_scan_df`` (each
    surviving row costs exactly one detail call); use this class only
    for driver-side call loops, and ``HeaderRateLimitGovernor`` for the
    server-reported X-RateLimit protocol."""

    budget: int
    used: int = 0
    warn_threshold: int = 5
    warnings: list[str] = field(default_factory=list)

    def acquire(self) -> bool:
        if self.used >= self.budget:
            return False
        self.used += 1
        remaining = self.budget - self.used
        if remaining < self.warn_threshold:
            self.warnings.append(f"rate budget low: {remaining} remaining")
        return True

    def wrap(self, transport: Transport) -> Transport:
        def call(path: str, params: dict) -> tuple[int, object]:
            if not self.acquire():
                return 403, None  # budget exhausted ≡ rate-limited
            return transport(path, params)

        return call


# transport variant that also exposes response headers:
# (path, params) -> (status, payload, headers)
HeaderTransport = Callable[[str, dict], tuple[int, object, dict]]


@dataclass
class HeaderRateLimitGovernor:
    """A20 header-driven rate-limit governor (driver-side call loops).

    Mirrors the reference's ``check_rate_limit`` behaviour
    (/root/reference/src/extract_github_data.py:372-391) against the
    public ``X-RateLimit-Remaining`` / ``X-RateLimit-Reset`` protocol:

    - after every response, parse the remaining-quota and reset-epoch
      headers (case-insensitively; absent headers leave state unchanged);
    - warn once the server-reported remaining drops below
      ``warn_threshold`` (reference warns below 5);
    - before the next call after quota exhaustion, back off until the
      server's reset time (never less than ``min_backoff_s``, the
      reference's fixed 60 s sleep), using an injectable clock/sleeper
      so tests drive the schedule deterministically.
    """

    clock: Callable[[], float] = time.time
    sleeper: Callable[[float], None] = time.sleep
    warn_threshold: int = 5
    min_backoff_s: float = 60.0
    remaining: int | None = None
    reset_at: float | None = None
    warnings: list[str] = field(default_factory=list)
    backoffs: list[float] = field(default_factory=list)

    def observe(self, headers: dict) -> None:
        """Ingest X-RateLimit-* headers from one response."""
        lowered = {str(k).lower(): v for k, v in (headers or {}).items()}
        if "x-ratelimit-remaining" in lowered:
            self.remaining = int(lowered["x-ratelimit-remaining"])
            if self.remaining < self.warn_threshold:
                self.warnings.append(
                    f"rate limit low: {self.remaining} requests remaining"
                )
        if "x-ratelimit-reset" in lowered:
            self.reset_at = float(lowered["x-ratelimit-reset"])

    def before_call(self) -> None:
        """Block (via the injected sleeper) if the server said we're out."""
        if self.remaining is not None and self.remaining <= 0:
            now = self.clock()
            wait = self.min_backoff_s
            if self.reset_at is not None:
                wait = max(self.reset_at - now, self.min_backoff_s)
            self.backoffs.append(wait)
            self.sleeper(wait)
            # After sleeping through the reset we assume a fresh window;
            # the next observe() re-syncs with the server's real count.
            self.remaining = None
            self.reset_at = None

    def wrap(self, transport: HeaderTransport) -> Transport:
        """Governed transport: backoff-gate each call, observe headers,
        and return the plain (status, payload) shape downstream code
        expects."""

        def call(path: str, params: dict) -> tuple[int, object]:
            self.before_call()
            status, payload, headers = transport(path, params)
            self.observe(headers)
            return status, payload

        return call
