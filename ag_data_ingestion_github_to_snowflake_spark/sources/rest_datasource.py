"""GitHub-repos REST connector as a Spark 4 Python Data Source.

Promotes the driver-side list scan (sources/rest.py) to a first-class
``spark.read.format("github_repos")`` source (SURVEY §7.4). Keyset
pagination is serial — page N+1 starts after page N's last id — but
with a fixed ``since``/``until`` id range the keyspace can be *sharded
by id*: each input partition owns an id sub-range and pages through it
independently, one Spark task per shard, the way JDBC sources shard
reads by predicate. Both readers consume ``rest.keyset_pages`` through
``_scan``, which adds only their bounds: the shard or offset end and a
row cap.

Registration requires a picklable transport factory; tests inject the
stub via ``TransportRegistry`` (executors re-create the transport from
its spec, never over the wire).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ag_data_ingestion_github_to_snowflake_spark.sources.rest import LIST_SCHEMA, keyset_pages


class TransportRegistry:
    """Maps a name to a transport factory so executors can rebuild the
    transport from options (options must be plain strings)."""

    _factories: dict[str, object] = {}

    @classmethod
    def register(cls, name: str, factory) -> None:
        cls._factories[name] = factory

    @classmethod
    def build(cls, name: str, spec: str):
        return cls._factories[name](spec)


def _scan(transport, since: int, per_page: int, end: int | None, limit: int | None) -> Iterator[tuple]:
    """Rows of the keyset scan in ``(since, end]``, at most ``limit`` of
    them. Returns as soon as a bound is reached, so no page past it is
    requested."""
    if (limit is not None and limit <= 0) or (end is not None and since >= end):
        return
    n = 0
    for page in keyset_pages(transport, since, per_page):
        for row in page:
            if end is not None and row[0] > end:
                return
            yield row
            n += 1
            if n == limit or row[0] == end:
                return


class _IdRangePartition(InputPartition):
    def __init__(self, start: int, end: int, row_cap: int | None = None):
        self.start = start
        self.end = end
        self.row_cap = row_cap  # max rows this shard may emit (budget share)


class GithubReposReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.since = int(options.get("since", 0))
        self.until = int(options.get("until", 1000))
        self.per_page = int(options.get("per_page", 100))
        self.num_partitions = int(options.get("num_partitions", 4))
        budget = options.get("budget")
        self.budget = int(budget) if budget is not None else None
        self.transport_name = options.get("transport", "stub")
        self.transport_spec = options.get("transport_spec", "")

    def partitions(self) -> list[_IdRangePartition]:
        """Shard the keyset range (since, until] into contiguous
        sub-ranges (each shard is exclusive-start/inclusive-end,
        matching the API's ``since`` semantics: ids strictly greater
        than the cursor). Consecutive shards never overlap.

        A ``budget`` option (max total rows, the reference's
        MAX_REQUESTS_PER_RUN) is enforced *structurally*: it is split
        across shards at planning time (first ``budget % n`` shards get
        one extra), so independent executor tasks can never jointly
        exceed it — the distributed analog of ``rows[:budget]``, with
        no cross-task coordination needed."""
        span = max(self.until - self.since, 0)
        n = max(min(self.num_partitions, span), 1)
        step = (span + n - 1) // n if span else 1
        starts = list(range(self.since, self.until, step)) or [self.since]
        caps: list[int | None] = [None] * len(starts)
        if self.budget is not None:
            share, extra = divmod(max(self.budget, 0), len(starts))
            caps = [share + (1 if i < extra else 0) for i in range(len(starts))]
        return [
            _IdRangePartition(s, min(s + step, self.until) if span else self.until, cap)
            for s, cap in zip(starts, caps)
        ]

    def read(self, partition: _IdRangePartition) -> Iterator[tuple]:
        """Page through one (start, end] id shard (executor-side),
        honoring the shard's planned row cap (budget share)."""
        transport = TransportRegistry.build(self.transport_name, self.transport_spec)
        yield from _scan(transport, partition.start, self.per_page, partition.end, partition.row_cap)


class GithubReposStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: the reference's scheduled-extraction loop
    (cron fires, pull ≤N records past the watermark, persist the
    cursor — /root/reference/.github/workflows/scheduled-extraction.yml
    + src/extract_github_data.py:568-578) as a genuine Structured
    Streaming source.

    - offset = ``{"cursor": <last seen id>}`` — the keyset watermark,
      checkpointed by Spark's offset log instead of the hand-rolled
      state file, so exactly-once batch accounting and restart-resume
      come from the engine;
    - each micro-batch pulls at most ``batch_rows`` rows
      (MAX_REQUESTS_PER_RUN per firing);
    - ``readBetweenOffsets`` replays a committed range
      deterministically for recovery (ids are immutable, so the range
      (start, end] re-fetches identically).
    """

    def __init__(self, options: dict):
        self.since = int(options.get("since", 0))
        self.per_page = int(options.get("per_page", 100))
        self.batch_rows = int(options.get("batch_rows", 59))
        self.transport_name = options.get("transport", "stub")
        self.transport_spec = options.get("transport_spec", "")

    def initialOffset(self) -> dict:
        return {"cursor": self.since}

    def _pull(self, after: int, limit: int | None, stop_at: int | None = None):
        transport = TransportRegistry.build(self.transport_name, self.transport_spec)
        rows = list(_scan(transport, after, self.per_page, stop_at, limit))
        return rows, rows[-1][0] if rows else after

    def read(self, start: dict):
        rows, cursor = self._pull(int(start["cursor"]), self.batch_rows)
        return iter(rows), {"cursor": cursor}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._pull(int(start["cursor"]), None, stop_at=int(end["cursor"]))
        return iter(rows)


class GithubReposDataSource(DataSource):
    """``spark.read.format("github_repos").options(...)`` source —
    batch (id-sharded parallel scan) and streaming (keyset-cursor
    micro-batches) flavors.

    Options: since, until, per_page, num_partitions, budget, transport,
    transport_spec (JSON string for the transport factory); streaming
    adds batch_rows (max rows per micro-batch).
    """

    @classmethod
    def name(cls) -> str:
        return "github_repos"

    def schema(self):
        return LIST_SCHEMA

    def reader(self, schema) -> GithubReposReader:
        return GithubReposReader(self.options)

    def simpleStreamReader(self, schema) -> GithubReposStreamReader:
        return GithubReposStreamReader(self.options)


def _stub_factory(spec: str):
    """Rebuild the tests' StubTransport from a JSON spec (executor-side)."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    cfg = json.loads(spec) if spec else {}
    return StubTransport(**cfg)


TransportRegistry.register("stub", _stub_factory)


def register(spark) -> None:
    """Register the connector on a session (idempotent)."""
    spark.dataSource.register(GithubReposDataSource)
