from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ag_data_ingestion_github_to_snowflake_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ag-spark-tests")
    yield s


def stream_events_from_parquet(spark, source_dir, schema, max_files_per_trigger=1):
    """Parquet file stream capped at ``max_files_per_trigger`` files per
    micro-batch (the checkpoint advances only after a batch commits)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_available_now(writer, checkpoint):
    """Start ``writer`` with the AvailableNow trigger on ``checkpoint``;
    the caller awaits the returned query."""
    return writer.trigger(availableNow=True).option("checkpointLocation", checkpoint).start()


def run_available_now(stream_df, checkpoint, table_name):
    """Start an AvailableNow append drain of ``stream_df`` into the
    memory table ``table_name``; the caller awaits the returned query."""
    return start_available_now(
        stream_df.writeStream.outputMode("append").format("memory").queryName(table_name),
        checkpoint,
    )
