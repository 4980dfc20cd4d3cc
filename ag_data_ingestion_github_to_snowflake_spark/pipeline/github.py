"""The reference pipeline, Spark-first: nested-record flatten,
required-field validation split, run-summary metrics, resumable
incremental extraction.

Covers SURVEY §2 A10 (flatten), A12/A13 (validation split), A14 (error
row skip), A15 (run counters), A21 (resume/at-least-once), composed in
``incremental_extract`` — the whole of the reference's
``extract_repositories`` (/root/reference/src/extract_github_data.py:
607-762) as one lazily-planned DataFrame pipeline. The run counters
are ``df.observe`` metrics on that plan: they ride the one action that
consumes the batch (the sink write) instead of a second pass. A batch
is planned from a ``since`` id and never writes the watermark itself:
the CLI publishes it with the batch (``sinks.publish_batch``).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    Transport,
    enrich_details,
    list_scan_df,
)

# The canonical 14-column schema: REQUIRED_FIELDS (reference :53-71)
# = Snowflake DDL columns (README.md:267-283).
REQUIRED_FIELDS = (
    "id",
    "name",
    "full_name",
    "html_url",
    "description",
    "stargazers_count",
    "language",
    "created_at",
    "updated_at",
    "owner_login",
    "owner_id",
    "owner_type",
    "owner_avatar_url",
    "owner_url",
)


def flatten_repos(raw: DataFrame) -> DataFrame:
    """A10: nested ~100-field record -> flat 14-column projection.

    Hoists owner.* to owner_* (reference :494-527, design rationale
    README.md:15) and parses the ISO-8601 'Z' timestamp strings to
    TIMESTAMP (DDL README.md:276-277). Pure projection: Catalyst
    prunes every untouched field at the scan.
    """
    return raw.select(
        F.col("id"),
        F.col("name"),
        F.col("full_name"),
        F.col("html_url"),
        F.col("description"),
        F.col("stargazers_count"),
        F.col("language"),
        F.to_timestamp("created_at", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("created_at"),
        F.to_timestamp("updated_at", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("updated_at"),
        F.col("owner.login").alias("owner_login"),
        F.col("owner.id").alias("owner_id"),
        F.col("owner.type").alias("owner_type"),
        F.col("owner.avatar_url").alias("owner_avatar_url"),
        F.col("owner.html_url").alias("owner_url"),
    )


def valid_predicate(columns: tuple[str, ...] = REQUIRED_FIELDS):
    """A12: row valid iff every required field is non-null (:530-547)."""
    return reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in columns])


def with_missing_fields(df: DataFrame, columns: tuple[str, ...] = REQUIRED_FIELDS) -> DataFrame:
    """Attach the missing-field list the reference reports per invalid
    row (:541-546): array of required column names that are null."""
    pairs = F.array(
        *[
            F.when(F.col(c).isNull(), F.lit(c)).otherwise(F.lit(None))
            for c in columns
        ]
    )
    return df.withColumn("missing_fields", F.filter(pairs, lambda x: x.isNotNull()))


def validation_split(df: DataFrame, columns: tuple[str, ...] = REQUIRED_FIELDS) -> tuple[DataFrame, DataFrame]:
    """A13: split into (valid, invalid-with-missing-list) off one input."""
    pred = valid_predicate(columns)
    return df.filter(pred), with_missing_fields(df.filter(~pred), columns)


def observed_run_metrics(flat: DataFrame):
    """A15 run counters (processed/valid/invalid + id range; reference
    :730-742) as an ``Observation`` on ``flat``: the first action that
    consumes the returned DataFrame, or a filter of it, computes them
    with no extra job.

    Returns ``(observed_df, observation)`` — run the action on
    ``observed_df``, then read ``observation.get`` for the metrics dict.
    """
    pred = valid_predicate()
    obs = Observation("run_metrics")
    observed = flat.observe(
        obs,
        F.count(F.lit(1)).alias("total_processed"),
        F.count_if(pred).alias("valid_count"),
        F.count_if(~pred).alias("invalid_count"),
        F.min("id").alias("start_repo_id"),
        F.max("id").alias("last_repo_id"),
    )
    return observed, obs


@dataclass
class ExtractResult:
    """One batch. ``valid`` and ``invalid`` share one observed plan: the
    first action over either fills ``counters`` and ``lookups``.
    ``extracted_at`` is the batch's one timestamp: its metrics row's
    ``extraction_date`` and its sink partition."""

    valid: DataFrame
    invalid: DataFrame
    new_watermark: int
    list_pages: int
    counters: Observation
    lookups: Observation
    extracted_at: datetime

    def metrics(self, test_mode: bool = False) -> dict:
        """The ``_run_metrics`` row, once the batch's action has run:
        the observed counters, one API call per list page and per detail
        lookup, and no cache hits."""
        return {
            **self.counters.get,
            "api_calls": self.list_pages + self.lookups.get["lookups"],
            "cache_hits": 0,
            "test_mode": test_mode,
            "extraction_date": self.extracted_at,
        }


def incremental_extract(
    spark: SparkSession,
    transport: Transport,
    since: int,
    per_page: int = 100,
    max_requests_per_run: int = 60,
    max_pages: int = 1,
) -> ExtractResult:
    """The full reference pipeline as one lazily planned batch (A1-A15, A21).

    paginated list scan past ``since`` -> budget limit -> serial detail
    enrichment in one task -> flatten -> observed counters -> validate
    split. Nothing runs until an action consumes ``valid`` or
    ``invalid``; the CLI's batch is then one Spark job with one Python
    task, since the API budget, not parallelism, bounds a batch. The
    batch's ids need no dedupe: ``keyset_pages`` lists each id once,
    each listed id is looked up once and a payload for another id is
    dropped. Nothing here moves the watermark: the caller commits
    ``new_watermark`` once per batch (not per row as the reference does,
    :714) and only after that action succeeded, so a failed batch is
    re-fetched by the next run. The CLI lands each batch once by staging
    it and publishing data, metrics and watermark with one commit record
    (``sources/sinks.py``).
    """
    extracted_at = datetime.now()
    pages = 0

    def listing(path: str, params: dict):
        nonlocal pages
        pages += 1
        return transport(path, params)

    list_df, new_wm = list_scan_df(
        spark, listing, since, per_page, max_requests_per_run, max_pages
    )
    lookups = Observation("lookups")
    list_df = list_df.observe(lookups, F.count(F.lit(1)).alias("lookups"))
    raw = enrich_details(list_df, transport)
    flat, counters = observed_run_metrics(flatten_repos(raw))
    valid, invalid = validation_split(flat)
    return ExtractResult(valid, invalid, new_wm, pages, counters, lookups, extracted_at)
