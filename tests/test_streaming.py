"""Structured Streaming tests (SURVEY §2.B44-B50): batch-equivalence
for windowed aggregations, checkpointed incremental micro-batches with
resume, rate capping, watermark late-drop, and streaming dedup.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.catalog import load_table
from ag_data_ingestion_github_to_snowflake_spark.streaming import streams as S
from tests.conftest import run_available_now, start_available_now, stream_events_from_parquet

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_split_dir(spark, tmp_path_factory):
    """events table re-written as 4 parquet files (micro-batch units)."""
    out = str(tmp_path_factory.mktemp("events_src"))
    ev = load_table(spark, SF, "events")
    ev.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _drain(spark, stream_df, checkpoint, name):
    q = run_available_now(stream_df, checkpoint, name)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_equals_batch(spark, events_split_dir, tmp_path):
    """The SAME plan over readStream == the batch result (B44/B46)."""
    ev = load_table(spark, SF, "events")
    batch = S.tumbling_counts(ev)

    sdf = stream_events_from_parquet(spark, events_split_dir, ev.schema, max_files_per_trigger=2)
    # complete-mode agg over availableNow: use watermark+append via
    # sorted windows; simpler: run aggregation in update-less complete
    # mode through foreachBatch-free memory sink requires complete mode.
    q = (
        S.tumbling_counts(sdf)
        .writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cp1"))
        .format("memory")
        .queryName("tumbled")
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM tumbled")
    assert sorted(got.collect()) == sorted(batch.collect())


def test_streaming_checkpoint_resume(spark, events_split_dir, tmp_path):
    """B44: second availableNow run from the same checkpoint processes
    nothing new (offsets committed); adding a file resumes past it."""
    ev = load_table(spark, SF, "events")
    cp = str(tmp_path / "cp2")
    out = str(tmp_path / "out2")

    def run_once():
        sdf = stream_events_from_parquet(spark, events_split_dir, ev.schema)
        q = (
            sdf.select("event_id")
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == ev.count()

    # re-run with same checkpoint: offsets committed, nothing re-emitted
    run_once()
    assert spark.read.parquet(out).count() == n1


def test_streaming_rate_cap_batches(spark, events_split_dir, tmp_path):
    """B45: maxFilesPerTrigger=1 over 4 files -> 4 micro-batches."""
    ev = load_table(spark, SF, "events")
    sdf = stream_events_from_parquet(spark, events_split_dir, ev.schema, max_files_per_trigger=1)
    q = run_available_now(sdf.select("event_id"), str(tmp_path / "cp3"), "rated")
    q.awaitTermination(120)
    batches = [p["batchId"] for p in q.recentProgress]
    assert len([b for b in batches if b is not None]) >= 4


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    """B50: duplicated ids within the watermark horizon are emitted once."""
    ev = load_table(spark, SF, "events").limit(200)
    src = str(tmp_path / "dupsrc")
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # duplicate every row

    sdf = stream_events_from_parquet(spark, src, ev.schema, max_files_per_trigger=100)
    deduped = S.dedup_stream(sdf, ["event_id"], delay="1 hour")
    got = _drain(spark, deduped.select("event_id"), str(tmp_path / "cp4"), "dedup1")
    assert got.count() == 200
    assert got.distinct().count() == 200


def test_interval_join_horizon_bounds(spark, tmp_path):
    """Stream-stream interval join: only same-user pairs within the
    horizon survive; the streaming run equals the batch twin."""
    raw = "event_id long, user_id long, event_type string, ts string, value double"
    rows = [
        (1, 1, "click", "2024-01-01 10:00:00", 1.0),
        (2, 1, "purchase", "2024-01-01 10:10:00", 5.0),  # in horizon
        (3, 1, "purchase", "2024-01-01 11:00:00", 5.0),  # past 30 min
        (4, 2, "purchase", "2024-01-01 10:05:00", 5.0),  # other user
        (5, 3, "purchase", "2024-01-01 09:59:00", 5.0),  # before click
    ]
    src = str(tmp_path / "ij_src")
    (
        spark.createDataFrame(rows, raw)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .write.parquet(src)
    )
    ev = spark.read.parquet(src)

    batch = S.interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    assert [(r.l_event_id, r.r_event_id) for r in batch.collect()] == [(1, 2)]

    sdf = stream_events_from_parquet(spark, src, ev.schema)
    stream = S.interval_join(
        sdf.filter(F.col("event_type") == "click"),
        sdf.filter(F.col("event_type") == "purchase"),
    )
    q = run_available_now(stream, str(tmp_path / "ij_cp"), "ij_out")
    q.awaitTermination(120)
    got = spark.sql("SELECT l_event_id, r_event_id FROM ij_out").collect()
    assert [(r.l_event_id, r.r_event_id) for r in got] == [(1, 2)]


def test_late_row_dropped_in_stream_present_in_batch(spark, tmp_path):
    """B49 contract, explicitly: a row later than the watermark horizon
    is DROPPED by the streaming aggregation but PRESENT in the batch
    twin over the same files — the documented batch/stream divergence
    that makes late-data queries rows-only (no SQL oracle) by design.
    """
    import time as _time

    src = str(tmp_path / "late_src")
    raw = "event_id long, user_id long, event_type string, ts string, value double"

    def write_batch(rows):
        (
            spark.createDataFrame(rows, raw)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    # Watermarks take effect one micro-batch after the data that
    # advances them, and a late row is dropped only once its window's
    # state has been EVICTED (emitted) in an earlier batch — so the
    # schedule needs four micro-batches (mtime-ordered files):
    #   b0: on-time rows in the [10:00, 11:00) window
    #   b1: 12:30 row — advances the watermark to 12:20 for b2
    #   b2: 12:40 row — runs under wm 12:20 > 11:00, emits + evicts the
    #       10:00 window with n=2
    #   b3: 10:20 row — late: state gone, wm ahead, row dropped
    write_batch(
        [
            (1, 1, "click", "2024-01-01 10:15:00", 1.0),
            (2, 1, "click", "2024-01-01 10:45:00", 1.0),
        ]
    )
    _time.sleep(1.1)  # file source orders micro-batches by mtime
    write_batch([(3, 1, "click", "2024-01-01 12:30:00", 1.0)])
    _time.sleep(1.1)
    write_batch([(5, 1, "click", "2024-01-01 12:40:00", 1.0)])
    _time.sleep(1.1)
    write_batch([(4, 1, "click", "2024-01-01 10:20:00", 1.0)])

    files = spark.read.parquet(src)
    assert files.count() == 5

    batch = S.tumbling_counts(files.withColumn("ts", F.col("ts").cast("timestamp")))
    batch_n = {
        r.window_start.strftime("%H:%M"): r.n
        for r in batch.collect()
        if r.window_start.hour == 10
    }
    assert batch_n == {"10:00": 3}  # batch sees the late row

    sdf = stream_events_from_parquet(spark, src, files.schema, max_files_per_trigger=1)
    agg = S.tumbling_counts(S.with_watermark(sdf, "10 minutes"))
    q = (
        agg.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "late_cp"))
        .format("memory")
        .queryName("late_agg")
        .start()
    )
    q.awaitTermination(120)
    stream_n = {
        r.window_start.strftime("%H:%M"): r.n
        for r in spark.sql("SELECT * FROM late_agg").collect()
        if r.window_start.hour == 10
    }
    assert stream_n == {"10:00": 2}  # late row dropped past the watermark


def test_streaming_dedup_rocksdb_state_store(spark, events_split_dir):
    """B50 under the RocksDB state store, through the registry's drain:
    same dedup result as the default heap-backed provider — the provider
    changes where state lives (SSD + off-heap), never the semantics —
    and the session's provider and shuffle width are restored afterwards."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.streaming_queries import (
        _drain as registry_drain,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    ev = load_table(spark, SF, "events")
    sdf = stream_events_from_parquet(
        spark, events_split_dir, ev.schema, max_files_per_trigger=2
    )
    plan = S.dedup_stream(sdf.withColumn("ts", F.col("ts").cast("timestamp")), ["user_id"])
    got = registry_drain(plan, spark, "append", events_split_dir, rocksdb=True)
    # one surviving row per user, exactly the batch-distinct count
    assert got.count() == ev.select("user_id").distinct().count()
    assert spark.conf.get(key, None) == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_state_partitions_clamps_to_two_and_cores_and_rounds_up():
    """The drains' state width: ceil(rows / STREAM_ROWS_PER_PART),
    clamped to [2, cores]."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.streaming_queries import (
        STREAM_ROWS_PER_PART as per_part,
        state_partitions,
    )

    assert state_partitions(0, 8) == 2
    assert state_partitions(per_part, 8) == 2
    assert state_partitions(3 * per_part, 8) == 3
    assert state_partitions(3 * per_part + 1, 8) == 4
    assert state_partitions(100 * per_part, 8) == 8


def test_stream_static_enrich_equals_batch(spark, events_split_dir, tmp_path):
    """Stream-static broadcast join == the same join run in batch."""
    ev = load_table(spark, SF, "events")
    dim = (
        ev.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    batch = ev.join(dim, "user_id", "left").groupBy("tier").count()

    sdf = stream_events_from_parquet(spark, events_split_dir, ev.schema, max_files_per_trigger=2)
    got = _drain(
        spark,
        S.stream_static_enrich(sdf, dim, "user_id"),
        str(tmp_path / "cp_enrich"),
        "enriched",
    )
    got_counts = got.groupBy("tier").count()
    assert sorted(got_counts.collect()) == sorted(batch.collect())


def test_stream_dedup_ingest_curates_growing_corpus(spark, tmp_path):
    """Micro-batches with overlapping content: the standing corpus
    ends with exactly one row per distinct text, keeping lowest ids."""
    import json as _json
    import os

    src = str(tmp_path / "cur_src")
    os.makedirs(src)
    table = str(tmp_path / "cur_table")
    # batch files dropped up front; AvailableNow drains them in order
    # with maxFilesPerTrigger=1 => three micro-batches
    batches = [
        [(1, "alpha"), (2, "beta"), (3, "alpha")],      # in-batch dup
        [(4, "beta"), (5, "gamma")],                    # cross-batch dup
        [(6, "gamma"), (7, "delta"), (8, "alpha")],     # both
    ]
    import time as _time

    now = _time.time()
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        # the file source orders batches by modification time; sub-second
        # writes tie, so pin strictly increasing mtimes to fix arrival order
        os.utime(p, (now + i * 10, now + i * 10))
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_available_now(S.stream_dedup_ingest(sdf, table), str(tmp_path / "cur_cp"))
    assert q.awaitTermination(120)
    out = spark.read.parquet(table).select("doc_id", "text").collect()
    assert sorted((r.text, r.doc_id) for r in out) == [
        ("alpha", 1),
        ("beta", 2),
        ("delta", 7),
        ("gamma", 5),
    ]


def test_stream_neardup_ingest_blocks_fuzzy_rearrivals(spark, tmp_path):
    """Near-dup streaming curation: a one-word edit of standing content
    is dropped (exact digest dedup would admit it); unrelated content
    passes; in-batch near-dups keep only the lowest id."""
    import json as _json
    import os
    import time as _time

    base = "the quick brown fox jumps over the lazy dog again and again"
    variant = "the quick brown fox jumps over the lazy dog again and AGAIN2"
    other = "completely different subject matter entirely here with many words"
    other_edit = "completely different subject matter entirely here with many WORDS2"
    lone = "short isolated text that resembles nothing else in the corpus"

    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    table = str(tmp_path / "nd_table")
    batches = [
        [(1, base), (2, other)],
        [(3, variant), (4, lone)],          # 3 near-dups standing 1
        [(5, other_edit), (6, other_edit + " x")],  # 5~2 standing; 6~5 in-batch
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (now + i * 10, now + i * 10))
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_available_now(S.stream_neardup_ingest(sdf, table), str(tmp_path / "nd_cp"))
    assert q.awaitTermination(120)
    out = spark.read.parquet(table)
    assert set(out.columns) >= {"doc_id", "text", "hshingle", "bands"}
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert kept == [1, 2, 4]


def test_stream_neardup_ingest_replay_idempotent(spark, tmp_path):
    """Worst-case replay: re-running the whole source against a FRESH
    checkpoint (as if every batch commit was lost) leaves the standing
    table unchanged — every replayed doc self-matches its previously
    appended row at Jaccard 1.0 and is dropped."""
    import json as _json
    import os
    import time as _time

    src = str(tmp_path / "rp_src")
    os.makedirs(src)
    table = str(tmp_path / "rp_table")
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different subject matter entirely here with many words"),
    ]
    now = _time.time()
    for i, (did, text) in enumerate(texts):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (now + i * 10, now + i * 10))

    def drain(cp):
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_available_now(S.stream_neardup_ingest(sdf, table), str(tmp_path / cp))
        assert q.awaitTermination(120)

    drain("rp_cp1")
    first = sorted(r.doc_id for r in spark.read.parquet(table).select("doc_id").collect())
    drain("rp_cp2")  # fresh checkpoint: full replay
    second = sorted(r.doc_id for r in spark.read.parquet(table).select("doc_id").collect())
    assert first == [1, 2]
    assert second == [1, 2]


def test_multibatch_rollup_runs_eight_batches(spark, tmp_path):
    """streaming_multibatch_rollup's source gating must produce one
    micro-batch per staged file (8), and the accumulated state must
    equal the batch aggregate — the incremental-accumulation contract,
    asserted on the commit log rather than trusted."""
    import os

    from pyspark.sql import functions as F

    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    # build the staged split through the registry query (idempotent)
    result = all_specs()["streaming_multibatch_rollup"].build(spark, sf)
    batch = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    assert result.count() == batch.count()
    # now re-run the drain manually to inspect the commit log
    from ag_data_ingestion_github_to_snowflake_spark.sources.staging import stage_dir

    stage = stage_dir("ag_stream_split8", sf)
    files = [p for p in os.listdir(stage) if p.endswith(".parquet")]
    assert len(files) == 8, files
    schema = spark.read.parquet(os.path.join(stage, files[0])).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .drop("_b")
    )
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    cp = str(tmp_path / "cp_mb")
    q = (
        agg.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", cp)
        .format("memory")
        .queryName("mb_commits")
        .start()
    )
    assert q.awaitTermination(300)
    commits = [
        f for f in os.listdir(os.path.join(cp, "commits")) if not f.startswith(".")
    ]
    assert len(commits) == 8, commits
    spark.catalog.dropTempView("mb_commits")


def test_crash_mid_drain_restart_recovers_exactly_once(spark, tmp_path):
    """The engine twin of the reference's
    crash-resume claim (src/extract_github_data.py:820-824): a drain
    killed mid-stream after >=1 committed batch, restarted from the
    same checkpoint, must neither lose nor duplicate rows.

    The crash is injected deterministically: a foreachBatch sink that
    raises once batch_id reaches 2, i.e. batches 0-1 commit, batch 2
    dies AFTER its work started but BEFORE its commit — exactly the
    torn state a worker OOM leaves. The restarted query re-runs batch 2
    with the SAME batch id (Structured Streaming's replay contract);
    the sink is idempotent-by-batch-id (overwrite of batch=<id>), so
    the retry is absorbed. Final table hash-matches a one-shot batch
    read of the source."""
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "event_type")
    src = str(tmp_path / "crash_src")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    cp = str(tmp_path / "crash_cp")
    out = tmp_path / "crash_out"

    def make_sink(fail_at):
        def sink(batch_df, batch_id):
            if fail_at is not None and batch_id >= fail_at:
                raise RuntimeError(f"injected crash at batch {batch_id}")
            batch_df.write.mode("overwrite").parquet(
                str(out / f"batch={batch_id}")
            )

        return sink

    def drain(fail_at):
        sdf = stream_events_from_parquet(
            spark, src, ev.schema, max_files_per_trigger=1
        )
        q = (
            sdf.writeStream.foreachBatch(make_sink(fail_at))
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        try:
            q.awaitTermination(180)
        except Exception:
            pass  # the injected crash surfaces as StreamingQueryException
        finally:
            if q.isActive:
                q.stop()

    drain(fail_at=2)
    committed = [
        f
        for f in os.listdir(os.path.join(cp, "commits"))
        if not f.startswith(".")
    ]
    # the crash happened mid-drain: some but not all batches committed
    assert 1 <= len(committed) < 6, committed
    partial = spark.read.parquet(str(out / "*")).count()
    assert 0 < partial < ev.count()

    drain(fail_at=None)  # restart from the same checkpoint
    got = spark.read.parquet(str(out / "*")).select(
        "event_id", "user_id", "event_type"
    )
    # no lost rows, no duplicated rows across the crash boundary
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    assert got.exceptAll(ev).count() == 0 and ev.exceptAll(got).count() == 0


def test_failed_drain_leaves_no_checkpoint_dir_or_memory_table(spark, monkeypatch):
    """A drain whose query raises still tears down its checkpoint dir
    and its memory-sink view; a foreachBatch drain whose batch function
    raises (the SCD2 upsert's merge) stops its query and removes its
    checkpoint and per-run history dirs too."""
    import glob

    from pyspark.sql.types import LongType

    from ag_data_ingestion_github_to_snowflake_spark.operators import scd
    from ag_data_ingestion_github_to_snowflake_spark.plans import streaming_queries as SQ
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
    from ag_data_ingestion_github_to_snowflake_spark.sources.staging import scratch_root

    def cps():
        return {
            p
            for pattern in ("ag_stream_cp_*", "ag_scd2_cp_*", "ag_scd2_hist_*")
            for p in glob.glob(os.path.join(scratch_root(), pattern))
        }

    def mem_tables():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}

    @F.udf(LongType())
    def boom(x):
        raise ValueError("boom")

    cps0, mem0 = cps(), mem_tables()
    sdf, stage = SQ._staged_events_stream(spark, SF)
    with pytest.raises(Exception, match="boom"):
        SQ._drain(sdf.select(boom("event_id").alias("x")), spark, "append", stage)
    assert cps() - cps0 == set()
    assert mem_tables() - mem0 == set()

    def merge_boom(*args, **kwargs):
        raise ValueError("merge boom")

    monkeypatch.setattr(scd, "scd2_from_changes", merge_boom)
    with pytest.raises(Exception, match="merge boom"):
        all_specs()["streaming_scd2_upsert"].build(spark, SF)
    assert not spark.streams.active
    assert cps() - cps0 == set()
