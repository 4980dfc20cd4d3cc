"""End-to-end composition smoke: the whole engine surface in one flow.

REST ingest (stub transport) → flatten → validation split →
date-partitioned parquet stage (``sinks.partitioned_append``)
→ profile + expectations over the staged rows read back with
``spark.read.parquet`` — i.e. the reference pipeline (extract → S3
stage → SQL consumption, ``/root/reference/README.md``) each stage
replaced by its Spark-native counterpart, proven to hand off to the
next.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.operators.profile import (
    profile_table,
    validate_expectations,
)
from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
    incremental_extract,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import partitioned_append
from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport


def test_extract_stage_profile(spark, tmp_path):
    # -- extract (A1-A15): stubbed REST, 2 pages
    transport = StubTransport(n_repos=60)
    result = incremental_extract(spark, transport, 0, max_pages=2)
    valid = result.valid
    n_valid = valid.count()
    assert n_valid > 0
    assert result.new_watermark > 0

    # -- stage (A6): parquet append under the batch's run date (the S3/stage analog)
    stage_dir = str(tmp_path / "stage")
    partitioned_append(valid, stage_dir, result.extracted_at)

    # -- consume: profile + expectations over the staged table
    tbl = spark.read.parquet(stage_dir)
    assert tbl.count() == n_valid
    assert {"year", "month", "day"} <= set(tbl.columns)
    prof = {r.col_name: r for r in profile_table(tbl, ["id", "stargazers_count"]).collect()}
    assert prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == n_valid
    report = validate_expectations(
        tbl,
        {
            "id_not_null": F.col("id").isNotNull(),
            "stars_non_negative": F.col("stargazers_count") >= 0,
        },
    )
    viol = {r.rule: r.n_violations for r in report.collect()}
    assert viol == {"id_not_null": 0, "stars_non_negative": 0}
