"""Structured Streaming surface (SURVEY §2.B44-B50).

The reference *is* operationally a stream: an hourly cron pulls the
next ≤59 records past a persisted watermark and appends a file
(/root/reference/.github/workflows/scheduled-extraction.yml:5-13 +
src/extract_github_data.py:568-578). This module maps that loop onto
Structured Streaming:

- B44 incremental micro-batch + offset checkpoint: file/parquet source
  with ``Trigger.AvailableNow`` and ``checkpointLocation`` — restart
  resumes exactly where the last batch committed (the reference's
  last_repo_id resume, :164-286, without the hand-rolled state).
- B45 rate-limited source: ``maxFilesPerTrigger`` (the registry's
  ``plans/streaming_queries.py:_one_file_per_trigger``) — the
  declarative analog of MAX_REQUESTS_PER_RUN.
- B46 tumbling windows (the sliding/session B47/B48 twins are
  registry queries in plans/windows_queries.py) with
- B49 event-time watermark (late-data drop) and
- B50 streaming dedup (dropDuplicates within the watermark horizon) —
  the duplicates at-least-once delivery creates (:714) removed in
  flight rather than at rest.

Each transformation is a plain DataFrame->DataFrame function usable on
a batch OR streaming frame — Spark's unified model means the batch
twins in plans/windows_queries.py share these plans, which is exactly
how the oracle verifies streaming semantics (batch-equivalence).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

DEC6 = "decimal(18,6)"


def tumbling_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """B46: tumbling event-time window counts/sums per event type."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """B49: event-time watermark — bounds state and drops late rows.

    Watermarks require TIMESTAMP (with zone); NTZ event time is cast
    in place — value-preserving under the engine's UTC session.
    """
    return events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", delay)


def dedup_stream(events: DataFrame, keys: list[str], delay: str = "10 minutes") -> DataFrame:
    """B50: streaming dedup on keys within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on
    a key subset that excludes the event-time column never evicts its
    state (the watermark is ignored for cleanup), so long-running
    streams grow without bound. The WithinWatermark variant evicts
    keys once they age past the delay — state stays flat.
    """
    return with_watermark(events, delay).dropDuplicatesWithinWatermark(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    horizon: str = "30 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join within an event-time interval: each
    left row pairs with right rows of the same ``key`` whose timestamp
    falls in [left.ts, left.ts + horizon].

    Both sides carry watermarks, and the time-range condition bounds
    the join state: Spark buffers each side only until the other side's
    watermark passes the interval, so state stays proportional to the
    horizon, not the stream length (the unbounded-state trap of an
    equi-only stream-stream join). The same plan runs on batch frames,
    which is how the oracle verifies it.

    Columns: (key, l_event_id, l_ts, r_event_id, r_ts).
    """
    l = with_watermark(left, delay).select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = with_watermark(right, delay).select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("l_key").alias(key),
        "l_event_id",
        F.col("l_ts").cast("timestamp_ntz").alias("l_ts"),
        "r_event_id",
        F.col("r_ts").cast("timestamp_ntz").alias("r_ts"),
    )


def stream_static_enrich(
    stream_df: DataFrame, dim_df: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich a stream with a broadcast dimension.

    The static side is re-resolved per micro-batch (Spark re-plans the
    batch side each trigger, so a refreshed dim table is picked up
    without restarting the query) and explicitly broadcast — the
    stream side never shuffles, which is the only sustainable plan for
    an unbounded stream against a bounded dim at any scale.
    """
    return stream_df.join(F.broadcast(dim_df), key, how)


def stream_dedup_ingest(
    stream_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataStreamWriter:
    """Streaming corpus curation: content-dedup every micro-batch
    against the STANDING corpus before appending — the continuously-
    growing-corpus closure of ``incremental_dedup_new_batch``.

    Per batch (inside ``foreachBatch``, so the whole batch operator
    library applies):

    1. digest the batch (sha2 over content, map-side);
    2. in-batch dedup: keep the lowest id per digest (a batch can
       carry its own duplicates);
    3. anti-join against the standing table's digests — previously
       ingested content never lands twice;
    4. append survivors (with their digest, so step 3 stays an
       index-shaped column scan at any corpus size).

    Replay safety: a crashed batch may re-run, but its previously
    appended rows now sit in the standing corpus, so the re-run's
    anti-join drops them — content-level idempotence without a key
    MERGE. At 100 TB the standing-digest side is one column of the
    corpus table (dictionary-friendly); bucket it by digest to make
    the anti-join shuffle-free.

    Returns the configured writer; the caller picks trigger and
    checkpoint and starts it.
    """
    from pyspark.sql.window import Window

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        digested = batch_df.withColumn("digest", F.sha2(F.col(text_col), 256))
        w = Window.partitionBy("digest").orderBy(F.asc(id_col))
        fresh = (
            digested.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # Only the first batch legitimately finds no standing corpus
        # (PATH_NOT_FOUND / empty dir -> AnalysisException at plan
        # time). Any other failure — corrupt file, IO error, schema
        # drift — must fail the micro-batch, or duplicates would be
        # appended silently: the exact outcome this operator prevents.
        try:
            standing = spark.read.parquet(path).select("digest").distinct()
        except AnalysisException:
            standing = None  # first batch: no standing corpus yet
        if standing is not None:
            fresh = fresh.join(standing, "digest", "left_anti")
        fresh.write.mode("append").parquet(path)

    return stream_df.writeStream.foreachBatch(ingest)


def stream_neardup_ingest(
    stream_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataStreamWriter:
    """Streaming NEAR-dup corpus curation: every micro-batch is
    near-dedup'ed within itself AND against the standing corpus via
    MinHash-LSH bands before appending — the fuzzy closure of
    :func:`stream_dedup_ingest` (which only stops byte-identical
    content; a one-word edit walks right through it).

    Standing-table layout: each appended row carries its LSH index
    columns (``hshingle`` long array + ``bands`` band-hash array)
    alongside the document, so the per-batch probe is

    1. in-batch near-dedup: drop any doc with a verified near-dup of
       smaller id in the same batch (the standard greedy LSH rule —
       slightly more aggressive than transitive-closure clustering,
       see ``operators/graph.py`` for the batch CC alternative);
    2. band-bucketed probe against the standing corpus: explode both
       sides' band arrays, join on (band_idx, band_hash), verify exact
       shingle Jaccard on collisions only — batch cost ~ batch size x
       collision volume, never |corpus| x |batch|;
    3. append survivors WITH their index columns.

    The standing side reads only (id, hshingle, bands) — an
    index-shaped column scan, no text. At 100 TB, bucket the standing
    table by band hash to make the probe shuffle-free.

    Replay safety: a re-run batch finds its own previously appended
    rows in the standing index; every doc self-matches at Jaccard 1.0
    and is dropped — content-level idempotence, same contract as
    ``stream_dedup_ingest``. Documents too short to shingle (< n
    tokens) have empty shingle sets, can never reach a positive
    Jaccard, and always pass — compose with exact digest dedup for
    those.

    Returns the configured writer; the caller picks trigger and
    checkpoint and starts it.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.dedup import (
        _band_hashes,
        _sig_arrow_udf,
        hashed_shingles,
        minhash_near_dedup,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = minhash_near_dedup(
            batch_df.select(id_col, text_col),
            text_col,
            id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        kept = batch_df.join(losers, id_col, "left_anti")
        sh = hashed_shingles(kept, text_col, n)
        indexed = (
            sh.withColumn("sig", _sig_arrow_udf(num_hashes)(F.col("hshingle")))
            .withColumn("bands", _band_hashes(num_hashes, bands))
            .drop("sig")
            .localCheckpoint(eager=True)  # feeds the probe AND the append
        )
        # Only the first batch legitimately finds no standing corpus;
        # any other read failure must fail the micro-batch (same
        # rationale as stream_dedup_ingest).
        try:
            standing = spark.read.parquet(path).select(id_col, "hshingle", "bands")
        except AnalysisException:
            standing = None
        if standing is not None:
            b_side = indexed.select(
                F.col(id_col).alias("_bid"),
                F.col("hshingle").alias("_bsh"),
                F.posexplode("bands").alias("band_idx", "band_hash"),
            )
            s_side = standing.select(
                F.col("hshingle").alias("_ssh"),
                F.posexplode("bands").alias("band_idx", "band_hash"),
            )
            inter = F.size(F.array_intersect("_bsh", "_ssh"))
            union = F.size(F.array_union("_bsh", "_ssh"))
            hit = (
                b_side.join(s_side, ["band_idx", "band_hash"])
                .filter(inter / F.greatest(union, F.lit(1)) >= threshold)
                .select(F.col("_bid").alias(id_col))
                .distinct()
            )
            survivors = indexed.join(hit, id_col, "left_anti")
        else:
            survivors = indexed
        survivors.write.mode("append").parquet(path)

    return stream_df.writeStream.foreachBatch(ingest)
