"""Sinks (A6, A15): partitioned append sink, run-metrics table and the
batch commit that publishes both together with the watermark.

The reference serializes one envelope JSON per run to
``s3://bucket/yyyy/mm/dd/github_repos_{ts}.json`` (its
``src/extract_github_data.py:554-600``): the key is the run's date.
Spark-first: the repositories are a flat table written with
``partitionBy(year, month, day)`` on the batch's run date, so one batch
lands as one directory and a date-scoped load of a day reads the
batches that landed that day. The run metadata envelope becomes rows
in a separate ``_run_metrics`` table whose ``extraction_date`` is the
same timestamp (idiomatic Spark never nests a dataset inside a
metadata document). A batch's data is one Spark job: its serial lookup
task also writes its one file. Its one metrics row is written by
pyarrow on the driver, as a Spark job for one row cost over a quarter
of the data write's time (OPTIMIZATION_r16.md §1).

A batch lands exactly once. Its files are staged in ``<sink>_pending/``,
a sibling of the sink, so a ``sink/**/*.parquet`` glob never sees them.
``publish_batch`` makes one record of every file move plus the new
watermark visible with ``os.replace``; ``roll_forward`` does the moves
and sets the watermark. A crash before the record drops the stage and
the batch is re-fetched; a crash after it is finished by the next run.

At 100 TB: the file count grows with batches, not with the distinct
update days inside each batch, and ``MAX_RECORDS_PER_FILE`` caps file
sizes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ag_data_ingestion_github_to_snowflake_spark.sources.state import FileWatermark

COMMIT_RECORD = "_commit.json"
MAX_RECORDS_PER_FILE = 1_000_000

# The ``_run_metrics`` table's columns and types.
RUN_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("total_processed", T.LongType()),
        T.StructField("valid_count", T.LongType()),
        T.StructField("invalid_count", T.LongType()),
        T.StructField("start_repo_id", T.LongType()),
        T.StructField("last_repo_id", T.LongType()),
        T.StructField("api_calls", T.IntegerType()),
        T.StructField("cache_hits", T.IntegerType()),
        T.StructField("test_mode", T.BooleanType()),
        T.StructField("extraction_date", T.TimestampType()),
    ]
)


def partitioned_append(df: DataFrame, path: str, at: datetime) -> None:
    """A6: parquet append under the batch's run date ``at`` (the
    reference's strftime %Y/%m/%d key, :572-578). The partition values
    are literals, so the planned sort on them is eliminated and the write
    keeps the input's partitioning: one file per write task, and no
    file at all for an empty batch."""
    (
        df.withColumn("year", F.lit(at.strftime("%Y")))
        .withColumn("month", F.lit(at.strftime("%m")))
        .withColumn("day", F.lit(at.strftime("%d")))
        .write.mode("append")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("year", "month", "day")
        .parquet(path)
    )


def write_run_metrics(metrics: dict, path: str) -> None:
    """A15 metadata envelope: append ``metrics`` to the run-metrics table
    at ``path`` as one ``part-<uuid>.parquet`` file, written by pyarrow
    on the driver so no Spark job runs for one row. A naive
    ``extraction_date`` is local time, as Spark reads one, but pyarrow
    (16.1) stores any datetime's wall clock as UTC, dropping its offset,
    so the value is converted to UTC first."""
    row = {**metrics, "extraction_date": metrics["extraction_date"].astimezone(timezone.utc)}
    table = pa.Table.from_pylist([row], schema=to_arrow_schema(RUN_METRICS_SCHEMA))
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4()}.parquet"))


def _pending(sink: str) -> str:
    return os.path.abspath(sink) + "_pending"


def stage_path(sink: str, suffix: str = "") -> str:
    """Where a batch stages the files bound for ``sink + suffix``: the
    pending directory mirrors the sink's parent directory."""
    return os.path.join(_pending(sink), os.path.basename(os.path.abspath(sink)) + suffix)


def publish_batch(sink: str, state: FileWatermark, watermark: int) -> None:
    """Commit the staged batch: one record of every file move and the new
    watermark becomes visible atomically, then ``roll_forward`` runs it."""
    pending = _pending(sink)
    parent = os.path.dirname(pending)
    moves = [
        (src, os.path.join(parent, os.path.relpath(src, pending)))
        for root, _, files in os.walk(pending)
        for src in (os.path.join(root, f) for f in files if f.endswith(".parquet"))
    ]
    os.makedirs(pending, exist_ok=True)
    tmp = os.path.join(pending, COMMIT_RECORD + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"watermark": int(watermark), "moves": moves}, f)
    os.replace(tmp, os.path.join(pending, COMMIT_RECORD))
    roll_forward(sink, state)


def roll_forward(sink: str, state: FileWatermark) -> None:
    """Finish a published commit, or drop a stage that was never published.
    Safe to repeat: a move whose source is gone was done before a crash."""
    pending = _pending(sink)
    try:
        with open(os.path.join(pending, COMMIT_RECORD)) as f:
            record = json.load(f)
    except FileNotFoundError:
        shutil.rmtree(pending, ignore_errors=True)
        return
    for src, dst in record["moves"]:
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
    state.set(record["watermark"])
    shutil.rmtree(pending)
