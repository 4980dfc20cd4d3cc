"""CLI entry point: ``python -m ag_data_ingestion_github_to_snowflake_spark``.

Mirrors the reference's ``main()`` argparse surface
(/root/reference/src/extract_github_data.py:769-792):

- ``--test-mode``   run the full pipeline against the deterministic
                    offline stub transport (no network), logging the
                    same configuration summary;
- ``--use-cache``   read the bronze cache table first and only fetch
                    past its high-watermark (A3/A7);
- ``--skip-upload`` run extraction + validation + metrics but skip the
                    sink write (the reference's S3-upload skip).

Spark-first deltas from the reference (documented in SURVEY §1.1):
the envelope JSON document becomes a flat table plus a ``_run_metrics``
table. The batch's one timestamp keys both: it is the sink's
``year/month/day`` partition, as the reference's ``yyyy/mm/dd/`` key is
the run's date, and the metrics row's ``extraction_date``. A batch
stages both beside the sink and publishes them with the new watermark
as one commit record (``sources/sinks.py``), once per batch where the
reference commits per row; each run first finishes or drops an earlier
run's commit, so a crash never lands a batch twice. A batch is one
Spark job — the staged sink write, or a ``noop`` write under
``--skip-upload`` — and its run counters are observed on that job. Its
one Python task looks the listed repositories up serially, as the API
budget, not parallelism, bounds a batch; its metrics row is written on
the driver without a job.
A list page or lookup that still fails after its retries
(``sources/rest.py``) raises out of the batch before its commit, so the
next run re-fetches the batch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from ag_data_ingestion_github_to_snowflake_spark.config import EngineConfig


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ag_data_ingestion_github_to_snowflake_spark",
        description="Extract GitHub repository data with two-step process "
        "(list scan + detail enrichment) on Spark",
    )
    parser.add_argument(
        "--test-mode",
        action="store_true",
        help="Offline run against the deterministic stub transport",
    )
    parser.add_argument(
        "--use-cache",
        action="store_true",
        help="Seed the watermark from the bronze cache before fetching",
    )
    parser.add_argument(
        "--skip-upload",
        action="store_true",
        help="Skip the sink write (for testing)",
    )
    parser.add_argument(
        "--max-pages", type=int, default=1, help="List-scan pages this run"
    )
    parser.add_argument(
        "--n-repos",
        type=int,
        default=300,
        help="Stub universe size (test mode only)",
    )
    parser.add_argument(
        "--base-url",
        default="https://api.github.com",
        help="API root (ignored in test mode)",
    )
    parser.add_argument("--sink", default=None, help="Override sink path")
    parser.add_argument("--state", default=None, help="Override watermark file path")
    return parser


def run(argv: list[str] | None = None, spark=None) -> dict:
    """Parse args, run one incremental batch, return the run summary.

    Separated from ``main()`` so tests can drive it with an injected
    SparkSession and read the summary dict directly.
    """
    from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
        incremental_extract,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
        http_transport,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import (
        partitioned_append,
        publish_batch,
        roll_forward,
        stage_path,
        write_run_metrics,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.state import (
        FileWatermark,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import (
        StubTransport,
    )

    args = build_parser().parse_args(argv)
    env_cfg = EngineConfig.from_env()
    sink_path = args.sink or env_cfg.sink_path
    state_path = args.state or env_cfg.state_path
    test_mode = args.test_mode or env_cfg.test_mode
    skip_upload = args.skip_upload or env_cfg.skip_upload

    own_session = spark is None
    if own_session:
        from ag_data_ingestion_github_to_snowflake_spark.session import (
            get_spark,
        )

        spark = get_spark()

    try:
        print("GitHub Data Extraction - Two-Step Process (Spark)", file=sys.stderr)
        print(
            f"  sink={sink_path} state={state_path} test_mode={test_mode} "
            f"use_cache={args.use_cache} skip_upload={skip_upload}",
            file=sys.stderr,
        )

        if test_mode:
            transport = StubTransport(n_repos=args.n_repos)
        else:  # pragma: no cover - network path, exercised via stub in tests
            transport = http_transport(args.base_url, env_cfg.token)

        os.makedirs(os.path.dirname(state_path) or ".", exist_ok=True)
        state = FileWatermark(state_path)
        # Before anything reads the sink or the watermark.
        roll_forward(sink_path, state)
        since = state.get()
        if args.use_cache and os.path.exists(sink_path):
            # A3: bronze cache seed — never re-fetch ids already sunk.
            from pyspark.sql import functions as F

            cached_max = (
                spark.read.parquet(sink_path).agg(F.max("id")).collect()[0][0]
            )
            if cached_max is not None:
                since = max(since, int(cached_max))

        result = incremental_extract(
            spark,
            transport,
            since,
            per_page=env_cfg.per_page,
            max_requests_per_run=env_cfg.max_requests_per_run,
            max_pages=args.max_pages,
        )

        if skip_upload:
            result.valid.write.format("noop").mode("overwrite").save()
        else:
            partitioned_append(result.valid, stage_path(sink_path), result.extracted_at)
        metrics = result.metrics(test_mode)
        uploaded = not skip_upload and metrics["valid_count"] > 0
        if uploaded:
            write_run_metrics(metrics, stage_path(sink_path, "_run_metrics"))
        # An empty batch stages no parquet file, so it moves none into the sink.
        publish_batch(sink_path, state, result.new_watermark)

        summary = {
            "success": True,
            "valid_count": metrics["valid_count"],
            "invalid_count": metrics["invalid_count"],
            "new_watermark": result.new_watermark,
            "uploaded": uploaded,
            "sink_path": sink_path if not skip_upload else None,
            "test_mode": test_mode,
        }
        print(json.dumps(summary))
    finally:
        if own_session:
            spark.stop()
    return summary


def main() -> int:  # pragma: no cover - thin wrapper
    run()
    return 0


if __name__ == "__main__":
    sys.exit(main())
