"""Streaming-backed query entries (SURVEY §2.B44-B46, B50).

These run REAL Structured Streaming jobs — file source (staged to a
temp dir: the file stream source lists directories), AvailableNow
trigger, checkpointed offsets, memory or foreachBatch sink — and return
the drained result. Because AvailableNow processes all available input,
the result equals the batch plan over the same data, so the
tumbling-window entry carries the SAME DuckDB oracle as its batch twin:
the streaming execution path itself is hash-verified against SQL.

Every staged source goes through ``sources.staging.staged`` and every
drain through ``_run_available_now``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.plans.behavior_queries import (
    SCD2_CUSTOMER_HISTORY_ORACLE,
)
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t
from ag_data_ingestion_github_to_snowflake_spark.plans.temporal_queries import (
    CEP_FUNNEL_ORACLE,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import scratch_root, staged
from ag_data_ingestion_github_to_snowflake_spark.streaming import streams as S


def _events_stage(sf: str) -> str:
    """events.parquet copied into a stage dir: the file stream source
    lists directories. A directory-style fixture (e.g. the generated
    sf1.0 scale fixture) is staged as its part files, flat."""
    src = os.path.join(sf, "events.parquet")

    def build(stage: str) -> None:
        if not os.path.isdir(src):
            shutil.copy(src, os.path.join(stage, "events.parquet"))
            return
        for part in sorted(os.listdir(src)):
            if part.endswith(".parquet"):
                shutil.copy(os.path.join(src, part), os.path.join(stage, f"events_{part}"))

    return staged("ag_stream_events", sf, ["events.parquet"], build)


def _events_stream(spark: SparkSession, sf: str, stage: str) -> DataFrame:
    """Open a staged events dir as a stream.

    ``ts`` normalization mirrors the batch catalog: a TIMESTAMP(ns)
    file arrives as a raw nanosecond long (under ``nanosAsLong``) and is
    integer-divided to microseconds; a TIMESTAMP(us) file already reads
    as a timestamp and passes through untouched.
    """
    raw_schema = spark.read.parquet(os.path.join(sf, "events.parquet")).schema
    sdf = spark.readStream.schema(raw_schema).parquet(stage)
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return sdf


def _staged_events_stream(spark: SparkSession, sf: str) -> tuple[DataFrame, str]:
    """The events table as one stream over its staged copy, plus the
    stage dir (``_drain`` sizes its state partitions from it)."""
    stage = _events_stage(sf)
    return _events_stream(spark, sf, stage), stage


def _staged_events_stream_flushed(
    spark: SparkSession, sf: str, flush_delta: str = "2 hours"
) -> tuple[DataFrame, str]:
    """Like ``_staged_events_stream``, plus ONE sentinel row staged as a
    separate file: user_id = -1, ts = max(real ts) + ``flush_delta``.

    The sentinel is the production "heartbeat to advance the
    watermark" pattern: with flush_delta > gap + watermark delay, the
    end-of-drain watermark (sentinel ts - delay) passes every REAL
    session's end, so an APPEND-mode session aggregation emits every
    real session exactly once in the final no-data micro-batch. The
    sentinel's own session stays unemitted in state (its end is past
    the watermark by construction) — callers filter user_id >= 0.
    """
    import datetime

    src = os.path.join(sf, "events.parquet")

    def build(stage: str) -> None:
        base = _events_stage(sf)  # hard-link its data files, no second copy
        for part in sorted(os.listdir(base)):
            if not part.startswith("_"):
                os.link(os.path.join(base, part), os.path.join(stage, part))
        raw = spark.read.parquet(src)
        qty, unit = flush_delta.split()
        delta = datetime.timedelta(**{unit if unit.endswith("s") else unit + "s": int(qty)})
        mx = raw.agg(F.max("ts")).collect()[0][0]
        if mx is None:
            raise ValueError(
                f"{src} has no rows with a non-null ts: cannot place the "
                "flush sentinel (it must land past max(real ts))"
            )
        if isinstance(raw.schema["ts"].dataType, T.LongType):
            sent_ts = mx + int(delta.total_seconds() * 1_000_000_000)
        else:
            sent_ts = mx + delta
        sent = spark.createDataFrame(
            [(int(-1), sent_ts, int(-1), "_flush", 0.0, "{}")], raw.schema
        )
        tmp = os.path.join(stage, "_sentinel_build")
        sent.coalesce(1).write.mode("overwrite").parquet(tmp)
        for part in os.listdir(tmp):
            if part.endswith(".parquet"):
                shutil.move(
                    os.path.join(tmp, part),
                    os.path.join(stage, "zz_flush_sentinel.parquet"),
                )
        shutil.rmtree(tmp, ignore_errors=True)

    stage = staged("ag_stream_events_flush", sf, ["events.parquet"], build)
    return _events_stream(spark, sf, stage), stage


def _write_batches(stage: str, frames, fmt: str = "parquet") -> None:
    """Write each frame as ONE file ``stage/batch_{i}.{fmt}``, with
    ascending mtimes: the file source orders new files by mtime, so a
    one-file-per-trigger stream replays the frames in list order."""
    for i, frame in enumerate(frames):
        tmp = os.path.join(stage, f"_batch_build{i}")
        frame.coalesce(1).write.format(fmt).save(tmp)
        (part,) = [p for p in os.listdir(tmp) if p.startswith("part-")]
        dest = os.path.join(stage, f"batch_{i}.{fmt}")
        os.replace(os.path.join(tmp, part), dest)
        os.utime(dest, (1_000_000_000 + i * 1000,) * 2)
        shutil.rmtree(tmp)


def _bands(df: DataFrame, key: Column, edges) -> list[DataFrame]:
    """Slices of ``df`` cut at the ascending ``edges`` of ``key``:
    ``key < e0``, ``e0 <= key < e1``, ..., ``key >= e_last``."""
    cuts = [None, *edges, None]
    slices = []
    for lo, hi in zip(cuts, cuts[1:]):
        sl = df if lo is None else df.filter(key >= lo)
        slices.append(sl if hi is None else sl.filter(key < hi))
    return slices


def _one_file_per_trigger(
    spark: SparkSession, stage: str, schema=None, fmt: str = "parquet"
) -> DataFrame:
    """Stream a ``_write_batches`` stage one file per micro-batch, so
    each staged batch is one genuine commit. ``schema`` defaults to
    batch 0's parquet footer."""
    if schema is None:
        schema = spark.read.parquet(os.path.join(stage, "batch_0.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(stage)
    )


def _split8_stage(spark: SparkSession, sf: str) -> str:
    """events split into 8 ``_write_batches`` files by a deterministic
    hash of event_id (NOT round-robin: rerun-stable)."""

    def build(stage: str) -> None:
        ev = t(spark, sf, "events")  # ns/us-normalized read
        bucket = F.pmod(F.xxhash64("event_id"), F.lit(8))
        _write_batches(stage, [ev.filter(bucket == i) for i in range(8)])

    return staged("ag_stream_split8", sf, ["events.parquet"], build)


# Rows of staged input per state-shuffle partition (OPTIMIZATION_r15.md §5).
STREAM_ROWS_PER_PART = 50_000


def state_partitions(n_rows: int, cores: int) -> int:
    """State-shuffle width of a drain over ``n_rows`` staged rows:
    ``clamp(ceil(n_rows / STREAM_ROWS_PER_PART), 2, cores)``.

    Every stateful operator opens one state store per shuffle partition
    per micro-batch, so at small state the width is fixed cost (store
    commits, and for the Python-stateful kernels one Python task each);
    large state needs core-count parallelism. Results are
    partition-invariant. Evidence: OPTIMIZATION_r15.md §5.
    """
    return max(2, min(cores, -(-n_rows // STREAM_ROWS_PER_PART)))


def _staged_rows(stage: str) -> int:
    """Row count of the parquet files in ``stage``, from their footers."""
    return sum(
        pq.ParquetFile(os.path.join(stage, part)).metadata.num_rows
        for part in os.listdir(stage)
        if part.endswith(".parquet") and not part.startswith("_")
    )


_STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _run_available_now(
    writer: DataStreamWriter,
    spark: SparkSession,
    shuffle_partitions: str | None = None,
    rocksdb: bool = False,
) -> None:
    """Start ``writer`` (sink already configured) with the AvailableNow
    trigger — A22's scheduled firing: process what is pending, then
    stop — on a fresh checkpoint, and wait up to 300 s for it to finish.

    On every exit, failure and timeout included, the checkpoint dir is
    removed and the session conf restored. ``shuffle_partitions`` and
    ``rocksdb`` scope the state-shuffle width and the RocksDB state
    store to this drain: both are read at query start and pinned in the
    fresh checkpoint, so restoring them afterwards is safe.
    """
    cp = tempfile.mkdtemp(prefix="ag_stream_cp_", dir=scratch_root())
    scoped = {}
    if shuffle_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = shuffle_partitions
    if rocksdb:
        scoped[_STATE_PROVIDER] = _ROCKSDB_PROVIDER
    prev = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        q = writer.trigger(availableNow=True).option("checkpointLocation", cp).start()
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming drain did not finish within 300s")
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(cp, ignore_errors=True)
        # Unload the state-store providers: every drain has a fresh
        # checkpoint, so they are dead weight whose maintenance slows
        # the next drain (OPTIMIZATION_r13.md §3). StateStore.stop() is
        # process-wide, so skip it while another streaming query runs.
        if not spark.streams.active:
            try:
                spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
            except Exception:
                pass  # py4j surface moved: stale providers cost time, not correctness


def _drain(
    plan: DataFrame,
    spark: SparkSession,
    mode: str,
    stage: str,
    rocksdb: bool = False,
) -> DataFrame:
    """Run the streaming plan to completion through a memory sink and
    hand back a *detached* result: the sink table is snapshotted via an
    eager localCheckpoint, then its view is dropped — on failure and
    timeout too — so repeated builds leak no driver-memory tables.

    The state-shuffle width is ``state_partitions`` of the rows staged
    in ``stage``, the parquet dir the plan streams from.

    ``rocksdb=True`` is for state that scales with the DATA and is
    committed many times: the default HDFS-backed store rewrites the
    whole state map per commit, RocksDB writes incremental SSTs. A
    drain of one or two commits keeps the heap store (the dedup and
    session-window drains measure why)."""
    width = state_partitions(_staged_rows(stage), spark.sparkContext.defaultParallelism)
    name = f"mem_{uuid.uuid4().hex}"
    try:
        _run_available_now(
            plan.writeStream.outputMode(mode).format("memory").queryName(name),
            spark,
            str(width),
            rocksdb,
        )
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


# Shared with windows_queries.tumbling_window_events. It lives here
# because this module registers first: importing windows_queries from
# here would move its queries ahead in the registry order.
TUMBLING_EVENTS_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


@register(
    "streaming_tumbling_events",
    # Same oracle as the batch twin: AvailableNow drains everything, so
    # the streaming result must hash-match the SQL aggregation.
    oracle=TUMBLING_EVENTS_ORACLE,
    survey_ids=("B44", "B46", "A22"),
)
def streaming_tumbling_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window agg executed via Structured Streaming
    (checkpointed micro-batches, AvailableNow drain)."""
    sdf, stage = _staged_events_stream(spark, sf)
    return _drain(S.tumbling_counts(sdf), spark, "complete", stage)


@register(
    "streaming_interval_join_events",
    # AvailableNow drains everything, so the stream-stream join result
    # must equal the batch interval join — the SQL twin below.
    oracle="""
    SELECT l.user_id,
           l.event_id AS l_event_id,
           l.ts AS l_ts,
           r.event_id AS r_event_id,
           r.ts AS r_ts
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.event_type = 'purchase'
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'click'
    """,
    survey_ids=("B44", "B49"),
)
def streaming_interval_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join: clicks paired with same-user
    purchases within 30 minutes — attribution, the canonical
    stream-stream workload. Both sides read the same staged file
    stream; watermark + time-range bound the join state."""
    sdf, stage = _staged_events_stream(spark, sf)
    joined = S.interval_join(
        sdf.filter(F.col("event_type") == "click"),
        sdf.filter(F.col("event_type") == "purchase"),
    )
    return _drain(joined, spark, "append", stage)


def _curated_ids(spark: SparkSession, stage: str, ingest) -> DataFrame:
    """Drain the staged JSON batches through ``ingest`` (a foreachBatch
    curation writer over a standing table) into a per-run table, and
    return the surviving doc ids, detached; the table is removed."""
    table = tempfile.mkdtemp(prefix="ag_stream_table_", dir=scratch_root())
    try:
        sdf = _one_file_per_trigger(spark, stage, "doc_id long, text string", "json")
        _run_available_now(ingest(sdf, table), spark)
        return spark.read.parquet(table).select("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "streaming_corpus_curation",
    # Arrival order is pinned (one file per id-range batch, ascending
    # mtimes), so cross-batch keep-first == global min-id per content
    # digest — the SQL twin below. The mirror tier (shifted ids, same
    # text) must lose everywhere.
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, text
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id FROM corpus
    WHERE doc_id = (
      SELECT MIN(c2.doc_id) FROM corpus c2 WHERE c2.text = corpus.text
    )
    """,
    survey_ids=("B50", "B44", "B53"),
)
def streaming_corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming corpus curation end-to-end: a dup-seeded corpus
    (every doc re-arrives later under a shifted id) is drained as
    THREE micro-batches through ``stream_dedup_ingest`` — in-batch
    lowest-id keep, digest anti-join against the standing table,
    append survivors. Because batch order is pinned to id order, the
    surviving set equals the batch rule "min doc_id per content",
    which is the hash-checked SQL twin: the foreachBatch execution
    path itself is oracle-verified.
    """

    def build(stage: str) -> None:
        docs = t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
            "doc_id", "text"
        )
        corpus = docs.unionByName(
            docs.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        )
        # primaries (two ranges), then the mirror re-arrivals
        batches = [
            corpus.filter(F.col("doc_id") < 150),
            corpus.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 500000)),
            corpus.filter(F.col("doc_id") >= 500000),
        ]
        _write_batches(stage, batches, "json")

    stage = staged("ag_stream_cur", sf, ["documents.parquet"], build)
    return _curated_ids(spark, stage, S.stream_dedup_ingest)


@register(
    "streaming_neardup_curation",
    # Rows-only by design: the MinHash family is engine-specific and
    # LSH recall on sub-1.0 Jaccard pairs is probabilistic, so no SQL
    # twin can pin the exact surviving set. Semantics (fuzzy
    # re-arrivals blocked, fresh content admitted, replay idempotence)
    # are pinned in tests/test_streaming.py.
    oracle=None,
    survey_ids=("B50", "B44", "B54"),
    description="Streaming near-dup curation: LSH-banded probe of the standing corpus per micro-batch",
)
def streaming_neardup_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming NEAR-dup curation end-to-end: batch 0 ingests 100
    originals; batch 1 carries 50 fresh docs plus every original
    RE-ARRIVING with one appended token under a shifted id — content an
    exact-digest gate (``streaming_corpus_curation``) would admit.
    ``stream_neardup_ingest`` LSH-probes each batch against the
    standing corpus index, so the mutated tier is (near-)entirely
    dropped while fresh docs land."""

    def build(stage: str) -> None:
        docs = t(spark, sf, "documents").select("doc_id", "text")
        originals = docs.filter(F.col("doc_id") < 100)
        fresh = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
        mutated = originals.select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqxtoken")).alias("text"),
        )
        _write_batches(stage, [originals, fresh.unionByName(mutated)], "json")

    stage = staged("ag_stream_nd", sf, ["documents.parquet"], build)
    return _curated_ids(spark, stage, S.stream_neardup_ingest)


@register(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id FROM events
    """,
    survey_ids=("B50", "B44"),
)
def streaming_dedup_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup on event_id under a watermark: unique input
    passes through exactly once (duplicate handling proven in
    tests/test_streaming.py with a duplicated source)."""
    sdf, stage = _staged_events_stream(spark, sf)
    deduped = S.dedup_stream(sdf, ["event_id"], delay="40 days").select("event_id")
    # Knobs MEASURED at 100x (10M dedup states, single AvailableNow
    # commit): heap/32-part 20.3 s,
    # heap/8 29.1 s, RocksDB/32 26.7 s, RocksDB/8 36.9 s, and delay
    # width is cost-neutral (heap/32 with "1 day" = 21.4 s — one
    # commit means the watermark only advances at the end, so eviction
    # never runs mid-drain). Same shape as the session-drain
    # finding: an insert-only single-commit drain never pays the
    # full-map rewrite that makes RocksDB win on multi-commit state,
    # and core-count partitions parallelize the per-event state probe
    # instead of idling 3/4 of the box. A continuous production stream
    # (many commits, state turnover) would flip to rocksdb=True. Width:
    # ``state_partitions``, OPTIMIZATION_r15.md §5.
    return _drain(deduped, spark, "append", stage)


@register(
    "streaming_stateful_totals",
    # The custom stateful operator (applyInPandasWithState) drains via
    # AvailableNow; its FINAL emission per user must equal the batch
    # aggregate — the whole arbitrary-state path is hash-verified
    # against SQL, not just smoke-tested.
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY user_id
    """,
    survey_ids=("B44", "B52", "A22"),
    description="Custom stateful streaming (applyInPandasWithState) running totals, oracle-verified",
)
def streaming_stateful_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user running totals via the CUSTOM stateful operator
    (``streaming/stateful.py:running_user_totals``): state accumulates
    (count, sum) across micro-batches and each batch emits the running
    value in update mode. The memory sink therefore holds one row per
    (user, batch-that-saw-the-user); the final state is the emission
    with the highest count — selected with one window pass — and must
    hash-match the batch GROUP BY. At 100 TB the operator holds one
    small accumulator per live user in the state store (RocksDB in
    production), with idle-timeout eviction available on continuous
    streams (``idle_timeout_ms``; left off for AvailableNow drains,
    where pending timers would keep the query alive forever)."""
    from pyspark.sql import Window

    from ag_data_ingestion_github_to_snowflake_spark.streaming.stateful import (
        running_user_totals,
    )

    sdf, stage = _staged_events_stream(spark, sf)
    # State is one tiny accumulator per user, so the store provider
    # barely matters; RocksDB is the production-shaped choice. Width:
    # ``state_partitions``, OPTIMIZATION_r15.md §5.
    updates = _drain(running_user_totals(sdf), spark, "update", stage, rocksdb=True)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register(
    "streaming_session_window_events",
    # Session semantics oracle: gaps-and-islands with the same strict->
    # new-session rule session_window uses at the gap boundary;
    # session_end is last-event + gap (the session_window convention).
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    survey_ids=("B48", "B44", "B49"),
    description="STREAMING session windows (gap merge in the engine) drained + finalized",
)
def streaming_session_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows computed BY the streaming engine
    (``F.session_window`` gap-merge state + watermark), drained with
    AvailableNow in APPEND mode: a flush sentinel staged after the
    real data (``_staged_events_stream_flushed``; ts = max real ts +
    2h > gap 30m + delay 1h) pushes the end-of-drain watermark past
    every real session's end, so the engine emits each finalized
    session EXACTLY ONCE in the closing no-data micro-batch — the
    production heartbeat pattern for watermark-gated emission. The
    earlier complete-mode drain (the only alternative Spark allows for
    streaming session aggs) re-emitted the full session state every
    commit and rescanned it from the sink: 55 s / alpha +1.37 at 100x,
    the suite's worst perf floor; append emits each session once, needs
    no dominance-dedup finalization, and measures 35.7 s / alpha +1.16
    at 100x (scale_curve_100x_all.json). The residual exponent is
    the per-event gap-merge state machine itself — 19.2M events into
    9.5M session states is near-linear work by construction. The sentinel's own session
    stays in state past the watermark by construction and is filtered
    by key. Hash-matched against the gaps-and-islands SQL twin, so
    the ENGINE's session-merge state machine is oracle-checked (the
    batch twin ``sessionize_events_gaps`` checks only the semantics)."""
    sdf, stage = _staged_events_stream_flushed(spark, sf, flush_delta="2 hours")
    agg = (
        S.with_watermark(sdf, "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    # Knobs MEASURED at 100x (9.5M sessions, 19.2M events; sf10
    # fixture): append/heap/32-part 36.0 s, append/RocksDB/32 46.3 s,
    # append/RocksDB/64 39.7 s, append/RocksDB/8 51-55 s; the earlier
    # complete/RocksDB/8 was 55 s. Append mode flips both choices:
    # an AvailableNow drain commits only ~2 batches, so the heap
    # store's full-map-write-per-commit penalty is paid twice total
    # while per-event state access becomes an in-heap hash probe
    # (RocksDB pays SST/memtable overhead per access), and without
    # complete-mode's per-store full re-emission scan, core-count
    # partitions now parallelize the per-event merge work instead of
    # multiplying the emission cost. A long-running production stream
    # (thousands of commits, state >> heap) would still choose
    # RocksDB — that trade is the commit count, not the operator.
    # Width: ``state_partitions``, OPTIMIZATION_r15.md §5.
    em = _drain(agg, spark, "append", stage)
    return em.filter(F.col("user_id") >= 0)


@register(
    "streaming_multibatch_rollup",
    # Identical oracle to the batch rollup: 8 genuine micro-batches
    # must accumulate to exactly the one-shot aggregate.
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ids=("B44", "B46", "A22"),
    description="MULTI-batch incremental aggregation: 8 file-gated micro-batches, oracle-equal",
)
def streaming_multibatch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """The incremental-accumulation proof the single-file drains don't
    give: events are staged as 8 hash-split files and the source is
    gated to ONE file per trigger, so the daily rollup state is built
    across 8 genuine micro-batches (verifiable in the checkpoint's
    offset log) — and the complete-mode result must still hash-match
    the one-shot SQL aggregate. This is A22's scheduled-micro-batch
    semantics under test at the aggregation level: state carries
    across commits, late rows in later files merge into earlier days.
    """
    stage = _split8_stage(spark, sf)
    sdf = _one_file_per_trigger(spark, stage)
    agg = (
        sdf.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, spark, "complete", stage)


@register(
    "streaming_enriched_rollup",
    # AvailableNow drains everything, so the stream-static-enriched
    # aggregation must hash-match the equivalent batch SQL join+rollup.
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', e.ts) AS day,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    survey_ids=("B44", "B46", "B11", "A22"),
    description="stream-static dimension enrichment inside a streaming rollup (broadcast dim)",
)
def streaming_enriched_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STATIC join exercised through the registry: the event
    stream is enriched per micro-batch with the broadcast customer
    dimension (``streams.py:stream_static_enrich`` — the static side
    re-resolves every trigger, so a refreshed dim is picked up without
    restarting the query; the stream side never shuffles for the
    join), then rolled up per (day, segment) and drained AvailableNow.
    The enrichment-inside-the-engine is what distinguishes this from
    the batch twin: the dimension join executes in every micro-batch's
    incremental plan, and the final table still hash-matches one-shot
    SQL.

    At 100 TB/day this is THE standard streaming enrichment shape:
    broadcast dim (bounded), stream shuffles only for the stateful
    aggregation on (window, segment) — 5-ish segments x days of
    state, trivially bounded."""
    sdf, stage = _staged_events_stream(spark, sf)
    dim = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = S.stream_static_enrich(sdf, dim, "user_id").select(
        "ts",
        "value",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
    )
    agg = (
        enriched.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day"),
            "segment",
            "n",
            "total_value",
        )
    )
    return _drain(agg, spark, "complete", stage)


# ---------------------------------------------------------------------------
# C157 streaming drift monitor: chi-square mix drift accumulated
# incrementally across micro-batches
# ---------------------------------------------------------------------------
@register(
    "streaming_drift_monitor",
    # Identical algebra to drift_chi2_events but at HOUR-WINDOW
    # granularity (the streaming state unit): the oracle recomputes
    # from raw events with the same hour bucketing, so the 8-batch
    # incremental accumulation must hash-match one-shot SQL. All
    # arithmetic stays libm-free (the Benford/chi2 convention).
    oracle="""
    WITH hours AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type FROM events
    ),
    bounds AS (
      SELECT (epoch_us(MIN(h)) + epoch_us(MAX(h))) // 2 AS mid FROM hours
    ),
    tagged AS (
      SELECT event_type,
             CASE WHEN epoch_us(h) < (SELECT mid FROM bounds)
                  THEN 'early' ELSE 'late' END AS period
      FROM hours
    ),
    cells AS (
      SELECT event_type, period, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM tagged GROUP BY event_type, period
    ),
    scored AS (
      SELECT event_type, period, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS DOUBLE)
               * CAST(SUM(n_obs) OVER (PARTITION BY period) AS DOUBLE)
               / CAST(SUM(n_obs) OVER () AS DOUBLE) AS expected
      FROM cells
    ),
    contrib AS (
      SELECT event_type, period, n_obs, ROUND(expected, 6) AS expected,
             ROUND((CAST(n_obs AS DOUBLE) - expected)
                   * (CAST(n_obs AS DOUBLE) - expected) / expected, 6)
               AS chi2_part
      FROM scored
    )
    SELECT event_type, period, n_obs, expected, chi2_part,
           CAST(SUM(CAST(chi2_part AS DECIMAL(18,6))) OVER () AS DOUBLE)
             AS chi2_total
    FROM contrib
    """,
    survey_ids=("B44", "B46", "B16"),
    description="Streaming drift monitor: hourly-state chi2 mix drift across 8 genuine micro-batches",
)
def streaming_drift_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """The production drift-monitor shape: a streaming job maintains
    per-(hour, event_type) counts incrementally (bounded state — time
    range x type cardinality, NOT event volume), and the monitor reads
    that state table to score distribution drift, here early-vs-late
    chi-square over the hour-quantized midpoint.

    Built on the same 8-file hash-split stage as
    ``streaming_multibatch_rollup`` (one file per trigger), so the
    hourly counts genuinely accumulate across 8 commits before the
    batch-side chi-square finish — and must hash-match the one-shot
    SQL over raw events. At 100 TB/day the streaming half is the only
    affordable side: the raw stream is touched once, the monitor
    re-reads only the tiny state table each evaluation.
    """
    stage = _split8_stage(spark, sf)
    sdf = _one_file_per_trigger(spark, stage)
    hourly = (
        sdf.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("h"), "event_type", "n")
    )
    state = _drain(hourly, spark, "complete", stage)

    # batch finish over the (tiny) state table: hour-midpoint split,
    # contingency chi-square — the drift_chi2_events algebra.
    b = state.agg(
        ((F.max(F.unix_micros(F.col("h"))) + F.min(F.unix_micros(F.col("h"))))
         / F.lit(2)).cast("long").alias("mid")
    )
    cells = (
        state.crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.when(F.unix_micros(F.col("h")) < F.col("mid"), F.lit("early"))
            .otherwise(F.lit("late"))
            .alias("period"),
            "n",
        )
        .groupBy("event_type", "period")
        .agg(F.sum("n").cast("bigint").alias("n_obs"))
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("period")
    w_all = Window.partitionBy()
    scored = cells.withColumn(
        "expected",
        F.sum("n_obs").over(w_row).cast("double")
        * F.sum("n_obs").over(w_col).cast("double")
        / F.sum("n_obs").over(w_all).cast("double"),
    )
    contrib = scored.select(
        "event_type",
        "period",
        "n_obs",
        F.round("expected", 6).alias("expected"),
        F.round(
            (F.col("n_obs").cast("double") - F.col("expected"))
            * (F.col("n_obs").cast("double") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_part"),
    )
    return contrib.select(
        "*",
        F.sum(F.col("chi2_part").cast("decimal(18,6)"))
        .over(w_all)
        .cast("double")
        .alias("chi2_total"),
    )


# ---------------------------------------------------------------------------
# C168 streaming dead-letter queue: poison pills routed, never dropped,
# never fatal
# ---------------------------------------------------------------------------
@register(
    "streaming_dlq_ingest",
    # Corruption is seeded by the deterministic every-13th rule (the
    # corrupt_json_quarantine convention), so the expected main/DLQ
    # split — across BOTH streamed micro-batches — is computable from
    # the clean fixture alone; the oracle never reads staged files.
    oracle="""
    SELECT CAST(SUM(CASE WHEN doc_id % 13 != 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_main,
           CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dlq,
           CAST(SUM(CASE WHEN doc_id % 13 != 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS main_chars
    FROM documents WHERE doc_id < 500
    """,
    survey_ids=("B50", "B44", "A14", "B2"),
    description="Streaming dead-letter queue: per-micro-batch corrupt rows routed to a DLQ table",
)
def streaming_dlq_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The production poison-pill contract: a malformed record must
    neither kill the stream (one bad byte stalling a 100 TB/day
    pipeline) nor vanish (silent data loss) — it routes to a
    dead-letter table WITH its raw bytes for forensics, inside the
    SAME foreachBatch transaction as the main-path append, so replays
    stay consistent for both tables.

    Two JSONL micro-batch files (every 13th record truncated
    mid-object) stream one file per trigger; each batch parses
    PERMISSIVE with ``_corrupt_record``, appends valid rows to the
    main table and corrupt raw lines to the DLQ. The returned counts
    aggregate BOTH materialized tables and must hash-match the
    seeding rule computed from the clean fixture.
    """

    def build(stage: str) -> None:
        docs = t(spark, sf, "documents").filter(F.col("doc_id") < 500)
        line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
        seeded = docs.select(
            F.col("doc_id"),
            F.when(F.col("doc_id") % 13 == 0, F.substring(line, 1, 10))
            .otherwise(line)
            .alias("value"),
        )
        # two deterministic halves -> two genuine micro-batches
        halves = [seeded.filter(F.col("doc_id") % 2 == i).select("value") for i in range(2)]
        _write_batches(stage, halves, "text")

    stage = staged("ag_stream_dlq", sf, ["documents.parquet"], build)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    out = tempfile.mkdtemp(prefix="ag_stream_dlq_", dir=scratch_root())
    main_tbl = os.path.join(out, "main")
    dlq_tbl = os.path.join(out, "dlq")

    def route(batch_df: DataFrame, batch_id: int) -> None:
        parsed = batch_df.select(
            F.col("value"),
            F.from_json(
                "value", schema, {"mode": "PERMISSIVE"}
            ).alias("rec"),
        )
        # from_json PERMISSIVE yields a null/partial struct for corrupt
        # lines; the truncated seed never closes the object, so rec is
        # NULL there and non-null doc_id marks the valid side.
        valid = parsed.filter(F.col("rec.doc_id").isNotNull()).select("rec.*")
        bad = parsed.filter(F.col("rec.doc_id").isNull()).select(
            F.col("value").alias("raw"),
        )
        valid.write.mode("append").parquet(main_tbl)
        bad.write.mode("append").parquet(dlq_tbl)

    lines = T.StructType([T.StructField("value", T.StringType())])
    try:
        _run_available_now(
            _one_file_per_trigger(spark, stage, lines, "text").writeStream.foreachBatch(route),
            spark,
        )
        main = spark.read.parquet(main_tbl)
        dlq = spark.read.parquet(dlq_tbl)
        return (
            main.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_main"),
                F.sum("n_chars").cast("bigint").alias("main_chars"),
            )
            .crossJoin(
                F.broadcast(
                    dlq.agg(F.count(F.lit(1)).cast("bigint").alias("n_dlq"))
                )
            )
            .select("n_main", "n_dlq", "main_chars")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming SCD2 upsert: micro-batch foreachBatch merges into a
# versioned dimension-history table; final state equals the batch twin
# ---------------------------------------------------------------------------
@register(
    "streaming_scd2_upsert",
    # IDENTICAL oracle to scd2_customer_history: four time-ordered
    # micro-batch upserts must land the exact history the one-shot
    # window build produces — the incremental MERGE path itself is
    # hash-verified, not just smoke-tested.
    oracle=SCD2_CUSTOMER_HISTORY_ORACLE,
    survey_ids=("B44", "B29", "B13"),
    description="Streaming SCD2: foreachBatch upserts across 4 micro-batches equal the batch build",
)
def streaming_scd2_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension maintenance as a STREAM: priority changes arrive
    in four time-sliced micro-batches and a foreachBatch MERGE upserts
    each into a versioned history table — close the touched keys' open
    versions, append the new ones, leave everything else untouched.
    The final table must hash-match scd2_customer_history's one-shot
    window build: the reference repo's warehouse layer does this merge
    in Snowflake SQL per run (README.md:285-291); here it is the
    engine-side incremental twin.

    Scale shape: each merge touches ONLY the batch's affected keys
    (semi-join pull of their open versions + union + per-key window
    over versions-per-key rows); unaffected history is carried by
    reference, and versions are written to a fresh subdir then swapped
    (stage-then-publish, as the CLI's batch commit in
    ``sources/sinks.py``) — never an in-place
    overwrite of the files being read. Batches are time-sliced, so the
    open-version + new-changes recompute is exactly the global window.
    """
    seed = t(spark, sf, "customer").filter(F.col("c_custkey") < 300).select(
        F.col("c_custkey").alias("custkey"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("c_mktsegment").alias("tier"),
        F.lit(0).cast("bigint").alias("seq"),
    )

    def build(stage: str) -> None:
        changes = t(spark, sf, "orders").filter(F.col("o_custkey") < 300).select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("tier"),
            F.col("o_orderkey").cast("bigint").alias("seq"),
        )
        # 4 TIME-SLICED change batches (o_orderdate year bands), so every
        # key's observations arrive in event-time order across batches
        _write_batches(stage, _bands(changes, F.year("ts"), (1996, 1998, 2000)))

    stage = staged("ag_scd2_slices", sf, ["orders.parquet"], build)
    from ag_data_ingestion_github_to_snowflake_spark.operators.scd import (
        scd2_from_changes,
    )

    def merge(batch: DataFrame, bid: int) -> None:
        sp = batch.sparkSession
        obs = batch.select("custkey", "ts", "tier", "seq")
        prev_dir = os.path.join(hist_root, f"v{bid}")
        if bid == 0:
            # initialize: the dimension seed opens every key's first
            # version; fold it into the first batch's observations
            obs = seed.unionByName(obs)
            hist = None
        else:
            hist = sp.read.parquet(prev_dir)
        if hist is not None:
            keys = obs.select("custkey").distinct()
            open_vers = (
                hist.filter(F.col("is_current"))
                .join(keys, "custkey", "semi")
                .select(
                    "custkey",
                    F.col("valid_from").alias("ts"),
                    "tier",
                    "seq",
                )
            )
            # affected keys: recompute from (open version + new obs);
            # the open version re-emits first (lag=null), closed rows
            # and untouched keys carry over by reference
            carried = hist.filter(~F.col("is_current")).unionByName(
                hist.filter(F.col("is_current")).join(keys, "custkey", "anti")
            )
            recomputed = scd2_from_changes(
                open_vers.unionByName(obs),
                key="custkey",
                time_col="ts",
                attr_cols=["tier"],
                tiebreak="seq",
            ).select(
                "custkey",
                "tier",
                F.col("valid_from"),
                "valid_to",
                "is_current",
                "seq",
            )
            new_hist = carried.unionByName(recomputed)
        else:
            new_hist = scd2_from_changes(
                obs, key="custkey", time_col="ts", attr_cols=["tier"], tiebreak="seq"
            ).select(
                "custkey", "tier", "valid_from", "valid_to", "is_current", "seq"
            )
        new_hist.write.mode("overwrite").parquet(
            os.path.join(hist_root, f"v{bid + 1}")
        )

    hist_root = tempfile.mkdtemp(prefix="ag_scd2_hist_", dir=scratch_root())
    try:
        _run_available_now(
            _one_file_per_trigger(spark, stage).writeStream.foreachBatch(merge), spark
        )
        final = max(
            (d for d in os.listdir(hist_root) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        )
        return (
            spark.read.parquet(os.path.join(hist_root, final))
            .select("custkey", "tier", "valid_from", "valid_to", "is_current")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(hist_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming CEP: the stateful twin of cep_funnel_first_match, same
# oracle verbatim — pattern state carries across 4 time-ordered
# micro-batches
# ---------------------------------------------------------------------------
@register(
    "streaming_cep_funnel",
    oracle=CEP_FUNNEL_ORACLE,
    survey_ids=("B52", "B44", "B30"),
    description="Streaming CEP (applyInPandasWithState): first funnel chain per user across 4 micro-batches",
)
def streaming_cep_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """FlinkCEP/MATCH_RECOGNIZE-style streaming pattern detection: the
    view->click->purchase first-match chain, maintained as O(1)
    custom state per user (``streaming/stateful.py:
    make_funnel_cep_kernel``) across FOUR time-sliced micro-batches —
    and the emitted matches must hash-equal the one-shot batch
    composition (cep_funnel_first_match): the arbitrary-state pattern
    path is oracle-verified, not smoke-tested.

    Scale shape: state is (3 timestamps + flag) per user — no event
    buffering; partitioned by user like any streaming agg. Batches are
    day-band slices with ascending mtimes, so the file source replays
    them in event-time order (the ordering contract the kernel
    documents); in-batch ordering is restored inside the Arrow kernel.
    Cost is linear in events (alpha +1.01 at 100x — every event
    crosses the Arrow boundary into the Python kernel, the documented
    streaming_stateful_totals class); cep_funnel_first_match is the
    batch path when drain semantics aren't needed.
    """
    from ag_data_ingestion_github_to_snowflake_spark.streaming.stateful import (
        funnel_cep_matches,
    )

    def build(stage: str) -> None:
        ev = t(spark, sf, "events").select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        day = F.dayofmonth(F.timestamp_micros(F.col("ts_us")))
        _write_batches(stage, _bands(ev, day, (9, 16, 24)))

    stage = staged("ag_cep_slices", sf, ["events.parquet"], build)
    sdf = _one_file_per_trigger(spark, stage)
    matches = funnel_cep_matches(sdf, window_us=7 * 86400 * 1_000_000)
    # One Python task per state partition per trigger: OPTIMIZATION_r15.md §5.
    drained = _drain(matches, spark, "append", stage)
    return drained.select(
        "user_id",
        F.timestamp_micros(F.col("tv_us")).alias("tv"),
        F.timestamp_micros(F.col("tc_us")).alias("tc"),
        F.timestamp_micros(F.col("tp_us")).alias("tp"),
    )
