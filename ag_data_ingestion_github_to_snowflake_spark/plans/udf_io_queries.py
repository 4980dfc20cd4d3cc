"""Pandas-UDF and I/O-format queries (SURVEY §2.B2/B3, B51/B52).

- B52 grouped-map: per-user z-score normalization of event values via
  ``groupBy().applyInPandas`` — Arrow-batched, one group per call. The
  oracle reproduces it with window aggregates in SQL.
- B2/B3: events staged to a date-partitioned JSON sink, read back with
  an explicit schema (never inferred), aggregated — proving the JSON
  scan and the partitioned-sink layout in one artifact-checkable query.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.catalog import parallelize_cpu_scan
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import scratch_dir, staged

ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


@register(
    "grouped_zscore_events",
    oracle="""
    SELECT user_id, event_id,
           ROUND(
             CASE WHEN stddev_samp(value) OVER w IS NULL
                    OR stddev_samp(value) OVER w = 0 THEN 0.0
                  ELSE (value - avg(value) OVER w) / stddev_samp(value) OVER w
             END, 4) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
    survey_ids=("B52", "B51"),
    description="grouped-map applyInPandas: per-user z-score normalization",
)
def grouped_zscore_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user z-score of event values via applyInPandas.

    The grouping key is a COARSE hash bucket of user_id, not user_id
    itself: applyInPandas dispatches one Python call per group, so a
    per-user grouping pays the interpreter round-trip once per user
    (1500 calls at sf0.1 ≈ 4.8 s), while 64 buckets amortize it 25×
    (~1.0 s) and refine per-user inside the kernel with a vectorized
    ``groupby().transform`` — numerically identical output. This is the
    grouped-map shape that survives 100 TB: shuffle state per task is
    one bucket (its users are co-hashed), bounded by corpus/64 rather
    than by the group-count × dispatch-overhead product.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        g = pdf.groupby("user_id")["value"]
        mean = g.transform("mean")
        sd = g.transform("std", ddof=1)
        z = (pdf["value"] - mean) / sd
        z = z.where(sd.notna() & (sd != 0), 0.0)
        # Half-away-from-zero rounding to match SQL ROUND; pandas
        # .round is banker's (half-even) and diverges on .00005 ties.
        z4 = np.sign(z) * np.floor(np.abs(z) * 1e4 + 0.5) / 1e4
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "zscore": z4,
            }
        )

    ev = t(spark, sf, "events").select("user_id", "event_id", "value")
    ev = ev.withColumn("bucket", F.pmod(F.xxhash64("user_id"), F.lit(64)))
    return ev.groupBy("bucket").applyInPandas(kernel, ZSCORE_SCHEMA)


@register(
    "weighted_avg_udaf_parts",
    oracle="""
    SELECT l_partkey,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price
    FROM lineitem
    WHERE l_partkey < 100
    GROUP BY l_partkey
    """,
    survey_ids=("B51",),
    description="grouped-agg pandas UDAF: quantity-weighted average price per part",
)
def weighted_avg_udaf_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted mean price per part via a pandas UDAF.

    Small groups (~30 rows) keep the float accumulation error orders
    of magnitude below the 4-dp rounding, so the SQL decomposition
    sum(w*v)/sum(w) hash-matches.
    """
    from ag_data_ingestion_github_to_snowflake_spark.functions.pandas_udfs import (
        make_weighted_avg_udaf,
    )

    wavg = make_weighted_avg_udaf()
    li = t(spark, sf, "lineitem").filter(F.col("l_partkey") < 100)
    return li.groupBy("l_partkey").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price")
    )


@register(
    "json_sink_roundtrip",
    oracle="""
    SELECT CAST(EXTRACT(day FROM ts) AS VARCHAR) AS day,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    survey_ids=("B2", "B3", "A6"),
    description="date-partitioned JSON sink + explicit-schema scan round-trip",
)
def json_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write events to a yyyy/mm/dd-partitioned JSON sink, read back
    with a declared schema, aggregate per day.

    The JSON read uses an explicit schema (B2) — inference is both a
    correctness and a performance anti-pattern at scale (extra pass
    over the data). The partition layout mirrors the reference's S3
    key scheme (src/extract_github_data.py:572-578).
    """
    ev = t(spark, sf, "events")
    out = scratch_dir("ag_json_sink", sf)
    (
        ev.withColumn("year", F.date_format("ts", "yyyy"))
        .withColumn("month", F.date_format("ts", "MM"))
        .withColumn("day", F.date_format("ts", "dd"))
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .json(out)
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # 'day' comes from partition discovery over the directory layout
    back = spark.read.schema(schema).option("basePath", out).json(out)
    return back.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


@register(
    "corrupt_json_quarantine",
    # The oracle never reads the staged file: corruption is seeded by a
    # deterministic rule (every 13th doc id), so the expected split is
    # computable from the clean fixture alone.
    oracle="""
    SELECT CAST(SUM(CASE WHEN doc_id % 13 != 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 13 != 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS valid_chars
    FROM documents WHERE doc_id < 500
    """,
    survey_ids=("B2", "A14", "B19"),
    description="PERMISSIVE JSON scan: corrupt rows quarantined, valid rows survive",
)
def corrupt_json_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-input tolerance at the file-format level: a JSONL
    stage with every 13th line truncated mid-record is read in
    PERMISSIVE mode with an explicit ``_corrupt_record`` column —
    corrupt lines surface as quarantine rows (null fields + raw text
    preserved for forensics) instead of failing the scan, the
    generalization of the reference's per-row error skip
    (/root/reference/src/extract_github_data.py:480-491). The query
    returns the valid/corrupt split and a checksum over the valid
    side, verified against the seeding rule computed from the clean
    fixture."""
    docs = t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    out = scratch_dir("ag_badjson", sf)
    # Stage: serialize each row to a JSON line, truncating every 13th
    # to its first 10 chars (guaranteed malformed: the object never
    # closes). substring is 1-based.
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    seeded = docs.select(
        F.when(F.col("doc_id") % 13 == 0, F.substring(line, 1, 10))
        .otherwise(line)
        .alias("value")
    )
    seeded.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_valid"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")).otherwise(0)
        )
        .cast("bigint")
        .alias("valid_chars"),
    )


# ---------------------------------------------------------------------------
# Table profiling + expectation validation (operators/profile.py):
# ANALYZE-style column stats and rule-based data-quality gates, each a
# single-pass aggregation unpivoted to one row per column/rule.
# ---------------------------------------------------------------------------
@register(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    """,
    survey_ids=("B18", "B20", "A15"),
    description="ANALYZE-style per-column profile of orders (one scan)",
)
def profile_orders_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Profile four orders columns: nulls / distincts / min / max in a
    single aggregation pass, unpivoted to one row per column."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.profile import (
        profile_table,
    )

    # The 4-way distinct expansion is CPU-bound; spread the one-task
    # scan across cores (OPTIMIZATION_r13.md §2).
    orders = parallelize_cpu_scan(
        t(spark, sf, "orders"), spark, sf, "orders"
    )
    return profile_table(
        orders,
        ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


@register(
    "expectations_orders",
    oracle="""
    SELECT 'price_positive' AS rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           ROUND((COUNT(*) - SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END))
                 / GREATEST(COUNT(*), 1), 6) AS pass_rate
    FROM orders
    UNION ALL
    SELECT 'status_known', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT),
           ROUND((COUNT(*) - SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END))
                 / GREATEST(COUNT(*), 1), 6)
    FROM orders
    UNION ALL
    SELECT 'custkey_notnull', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND((COUNT(*) - SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END))
                 / GREATEST(COUNT(*), 1), 6)
    FROM orders
    """,
    survey_ids=("A12", "B19"),
    description="Data-quality expectations: per-rule violation counts in one pass",
)
def expectations_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Three expectations over orders evaluated in one aggregation:
    positive price, known status code, non-null customer key."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.profile import (
        validate_expectations,
    )

    return validate_expectations(
        t(spark, sf, "orders"),
        {
            "price_positive": F.col("o_totalprice") > 0,
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
            "custkey_notnull": F.col("o_custkey").isNotNull(),
        },
    )


@register(
    "csv_sink_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    survey_ids=("B2", "B3", "B16"),
    description="CSV sink + explicit-schema scan round-trip (header, escaped fields)",
)
def csv_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write customer as headered CSV, read back with a DECLARED schema
    (inference is a correctness + extra-pass anti-pattern at scale),
    aggregate — proving the text-format interchange path end-to-end.
    Doubles survive the text round-trip because Spark prints them
    shortest-roundtrip (IEEE exact); the money math still goes through
    decimal for order-independence.
    """
    cust = t(spark, sf, "customer")
    out = scratch_dir("ag_csv_sink", sf)
    cust.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@register(
    "orc_sink_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ids=("B2", "B3", "B16"),
    description="ORC columnar sink + scan round-trip (zstd, schema preserved)",
)
def orc_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write orders as ORC (Spark's second built-in columnar format,
    zstd-compressed), read it back, aggregate — the interchange path
    for warehouses standardized on ORC rather than parquet. Columnar
    round-trips preserve types exactly (no text parse), so the only
    parity rule needed is the usual decimal-exact money sum.
    """
    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = scratch_dir("ag_orc_sink", sf)
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total_price"
        ),
    )


@register(
    "schema_evolution_merge",
    # The oracle is over the ORIGINAL table: a schema-evolving
    # round-trip must lose nothing — rows written before the column
    # existed read back as NULLs, counted via the same parity split
    # that decided which batch carried the column.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
                AS DOUBLE) AS evolved_revenue
    FROM orders
    """,
    survey_ids=("B1", "B3", "B7"),
    description="mergeSchema read over batches written before/after a column was added",
)
def schema_evolution_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution on an append-only table: batch 1 was written
    BEFORE ``o_totalprice`` existed (two columns), batch 2 after
    (three). ``mergeSchema`` unifies the footers at read time — old
    rows surface the new column as NULL, no rewrite of historical
    files (the additive-evolution contract every long-lived lakehouse
    table depends on; for the scan side, schema merging is why
    ReadSchema must be checked against the UNION of file footers, not
    the first file)."""
    o = t(spark, sf, "orders")
    out = scratch_dir("ag_schema_evo", sf)
    b1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    b2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b1.write.mode("overwrite").parquet(out)
    b2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("o_totalprice").cast("bigint").alias("n_with_price"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            F.lit(0.0),
        ).alias("evolved_revenue"),
    )


@register(
    "udtf_split_sentences",
    # Parallel UNNESTs zip in DuckDB, so sentence/word-count/ordinal
    # stay row-aligned; trim matches Python str.strip() via the
    # explicit whitespace set.
    oracle="""
    WITH sents AS (
      SELECT doc_id,
             list_filter(
               list_transform(string_split(text, '.'),
                              s -> trim(s, ' ' || chr(9) || chr(10) || chr(13))),
               s -> s <> '') AS ss
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           UNNEST(ss) AS sentence,
           UNNEST(list_transform(ss, s ->
             CAST(len(list_filter(string_split_regex(s, '\\s+'), w -> w <> ''))
                  AS INT))) AS n_words,
           UNNEST(list_transform(range(len(ss)), i -> CAST(i AS INT))) AS position
    FROM sents
    """,
    survey_ids=("B51", "B52", "B40"),
    description="Python UDTF lateral join: one doc row -> N sentence rows with metadata",
)
def udtf_split_sentences(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) in a LATERAL join: each
    document explodes into (sentence, n_words, position) rows — the
    one-row-to-N-rows shape scalar UDFs cannot express. The UDTF
    itself is ``functions/pandas_udfs.py:make_split_sentences_udtf``;
    at scale the lateral join is row-local (no shuffle), the same
    explode-style cost model as chunk_passages."""
    from ag_data_ingestion_github_to_snowflake_spark.functions.pandas_udfs import (
        make_split_sentences_udtf,
    )

    # Arrow-optimized UDTF execution (ArrowEvalPythonUDTF): without it
    # the UDTF runs row-at-a-time BatchEvalPython — the exact red flag
    # the plan audit exists to catch. Pure execution-mode toggle, no
    # semantics change; set here so bare driver sessions get it too.
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("split_sentences", make_split_sentences_udtf())
    t(spark, sf, "documents").filter(F.col("doc_id") < 100).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_words, s.position
        FROM _udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


@register(
    "arrow_normalize_embeddings",
    # The kernel is pure float64 arithmetic on both sides, so the
    # rounded values hash-match: DuckDB recomputes the same unit
    # normalization with list lambdas.
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 6) AS norm,
           ROUND(CAST(embedding[1] AS DOUBLE)
                 / sqrt(list_sum(list_transform(embedding,
                       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 6) AS u0
    FROM embeddings
    WHERE vec_id < 500
    """,
    survey_ids=("B51", "B41"),
    description="mapInArrow kernel: zero-copy RecordBatch in, unit-normalized vectors out",
)
def arrow_normalize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """``mapInArrow`` — the lowest-overhead Python batch API: the
    kernel receives raw ``pyarrow.RecordBatch``es (no pandas
    conversion at all) and answers with Arrow batches. The numpy body
    is one vectorized (batch, dim) pass, the same compute shape as the
    pandas-UDF kernels but skipping the Series boxing — the right tier
    when the per-batch work is a dense matmul/norm and the 100 TB cost
    is serialization, not math. Emits each vector's L2 norm and first
    unit-normalized component."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            vec_ids = batch.column("vec_id")
            mat = np.array(batch.column("embedding").to_pylist(), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            u0 = mat[:, 0] / norms
            yield pa.RecordBatch.from_arrays(
                [
                    vec_ids,
                    pa.array(np.round(norms, 6), type=pa.float64()),
                    pa.array(np.round(u0, 6), type=pa.float64()),
                ],
                names=["vec_id", "norm", "u0"],
            )

    emb = t(spark, sf, "embeddings").filter(F.col("vec_id") < 500).select(
        "vec_id", "embedding"
    )
    return emb.mapInArrow(kernel, "vec_id long, norm double, u0 double")


@register(
    "warc_extract_records",
    # The WARC files are assembled from documents rows, so the oracle
    # constructs every expected record field analytically: file
    # assignment is doc_id // 30, record order within a file is
    # doc_id order, length is the UTF-8 byte count of the payload.
    oracle="""
    SELECT CAST(doc_id // 30 AS BIGINT) AS file_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 30
                                   ORDER BY doc_id) - 1 AS BIGINT)
             AS record_no,
           'response' AS warc_type,
           'https://example.com/' || source || '/' || CAST(doc_id AS VARCHAR)
             AS uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 300
    """,
    survey_ids=("B52", "B2", "B56"),
    description="WARC (ISO 28500) round-trip: build gzip-member files per group, explode records",
)
def warc_extract_records(spark: SparkSession, sf: str) -> DataFrame:
    """Common-Crawl-shaped ingestion, fully distributed on BOTH sides:
    documents are grouped into WARC files (30 records each) by an
    applyInPandas writer using the spec-true encoder — per-record gzip
    members, exactly the Common Crawl layout — then exploded back into
    records by the mapInPandas parser (operators/warc.py). The unit of
    parallelism is the WARC file on both paths, which is how a 100 TB
    crawl actually shards; no driver-side staging."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import warc

    docs = (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id", "source", "text",
            F.expr("doc_id div 30").alias("file_id"),
        )
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "uri": f"https://example.com/{s}/{d}",
                "payload": txt.encode("utf-8"),
            }
            for d, s, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"])
        ]
        return pd.DataFrame(
            {
                "file_id": [int(pdf["file_id"].iloc[0])],
                "warc": [warc.encode_warc(recs, gzip_members=True)],
            }
        )

    files = docs.groupBy("file_id").applyInPandas(
        build, "file_id long, warc binary"
    )
    return warc.warc_records_df(files, "warc", "file_id").select(
        "file_id", "record_no", "warc_type", "uri", "length",
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "arrow_ipc_roundtrip",
    # The IPC files are assembled from orders rows, so the oracle checks
    # the round-trip by aggregating the source directly: any corruption
    # in encode/decode breaks the exact per-priority counts/sums.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT o_orderkey // 1000) AS BIGINT) AS n_files,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ids=("B2", "B3", "B52", "B16"),
    description="Arrow IPC stream round-trip: encode shards per group, decode with mapInPandas",
)
def arrow_ipc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow IPC (Feather v2) interchange round-trip, distributed on
    both paths like ``warc_extract_records``: orders are sharded into
    ~1000-row groups, each group serialized to one IPC *stream* blob by
    ``applyInPandas`` (multiple record batches per blob, max_chunksize
    256, so the decoder proves multi-batch reassembly), then decoded
    back by ``mapInPandas`` and aggregated. Arrow IPC is the zero-copy
    hand-off format for feeding trainers/GPU jobs from a Spark curation
    pipeline; the unit of parallelism is the shard file on both paths —
    no driver-side staging, no filesystem coupling.
    """
    import pyarrow as pa

    orders = (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .withColumn("file_id", F.expr("o_orderkey div 1000"))
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey")
        table = pa.Table.from_pandas(
            pdf.drop(columns=["file_id"]), preserve_index=False
        )
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table, max_chunksize=256)
        return pd.DataFrame(
            {
                "file_id": [int(pdf["file_id"].iloc[0])],
                "blob": [sink.getvalue().to_pybytes()],
            }
        )

    shards = orders.groupBy("file_id").applyInPandas(
        build, "file_id long, blob binary"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fid, blob in zip(pdf["file_id"], pdf["blob"]):
                tbl = pa.ipc.open_stream(pa.py_buffer(blob)).read_all()
                out = tbl.to_pandas()
                out["file_id"] = int(fid)
                yield out

    back = shards.mapInPandas(
        decode,
        "o_orderkey long, o_totalprice double, o_orderpriority string, "
        "file_id long",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("file_id").cast("bigint").alias("n_files"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "xml_extract_orders",
    # The oracle reads the base columns directly: the Spark side must
    # prove generate -> parse is the identity, which is exactly what a
    # serde roundtrip query is for (same pattern as
    # json_sink_roundtrip). Only exactly-representable fields (bigint,
    # strings) ride in the XML so no float-formatting question exists.
    oracle="""
    SELECT o_orderkey,
           o_custkey AS custkey,
           o_orderstatus AS status,
           CAST(o_orderdate AS VARCHAR) AS odate
    FROM orders
    """,
    survey_ids=("B38", "A18", "B2"),
    description="XML serde roundtrip: format_string -> native from_xml -> fields",
)
def xml_extract_orders(spark: SparkSession, sf: str) -> DataFrame:
    """XML record build + parse with Spark 4's NATIVE XML support
    (``F.from_xml`` — JVM-side, whole-stage codegen; no Python in the
    loop). Attributes and nested elements both exercised; at 100 TB
    this is a map-side projection, shuffle-free."""
    orders = t(spark, sf, "orders")
    xml = F.format_string(
        '<order id="%d"><custkey>%d</custkey><status>%s</status>'
        "<odate>%s</odate></order>",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderdate").cast("string"),
    )
    parsed = F.from_xml(
        xml,
        "STRUCT<_id: BIGINT, custkey: BIGINT, status: STRING, odate: STRING>",
    )
    return orders.select(parsed.alias("p")).select(
        F.col("p._id").alias("o_orderkey"),
        F.col("p.custkey").alias("custkey"),
        F.col("p.status").alias("status"),
        F.col("p.odate").alias("odate"),
    )


# ---------------------------------------------------------------------------
# C152 parquet bloom-filter point lookup: write-path index for
# needle-in-haystack reads
# ---------------------------------------------------------------------------
@register(
    "parquet_bloom_pointlookup",
    # The staged table is a verbatim rewrite of events, so the oracle
    # reads the ORIGINAL — identical content, and DuckDB needs no
    # knowledge of the bloom layout (which only affects read COST).
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    WHERE user_id = 42
    GROUP BY event_type
    """,
    survey_ids=("B1", "B3", "B6", "B16"),
    description="Parquet bloom filter on user_id: staged write with row-group blooms, point-lookup read",
)
def parquet_bloom_pointlookup(spark: SparkSession, sf: str) -> DataFrame:
    """Needle-in-haystack reads on a non-sort column: stage events as
    parquet with a BLOOM FILTER on user_id (plus dictionary + stats as
    usual), then point-look-up one user.

    Why this matters at 100 TB: min/max row-group stats prune nothing
    for a high-cardinality column UNCORRELATED with file order (every
    row group spans most of the user-id range), so a point predicate
    degenerates to a full scan. A row-group bloom filter gives the
    scanner a probabilistic "this group definitely lacks user 42" bit
    for ~1 byte/row — the standard fix short of re-sorting the table
    by user (which zorder_morton_events covers for multi-key access).
    Small row groups (4 MiB here) make the bloom's pruning grain
    finer; the predicate still reaches the scan via ordinary pushdown
    (PushedFilters in the explain), where the reader consults the
    bloom per group.

    The bloom options are write-path only, so the read side is a plain
    parquet scan any engine could run.
    """
    out = staged(
        "ag_bloom_events",
        sf,
        ["events.parquet"],
        lambda stage: t(spark, sf, "events")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
        .option("parquet.block.size", str(4 * 1024 * 1024))
        .parquet(stage),
    )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("user_id") == 42)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# C170 small-file compaction: the lakehouse maintenance job
# ---------------------------------------------------------------------------
@register(
    "small_file_compaction",
    # The oracle checks CONTENT invariance from the original table
    # (layout is cost, not meaning): row count, exact decimal value
    # sum, and the deterministic before/after file counts.
    oracle="""
    SELECT CAST(64 AS BIGINT) AS files_before,
           CAST(8 AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    """,
    survey_ids=("B1", "B3", "B16"),
    description="Small-file compaction: 64 fragment files rewritten to 8 range-clustered files, content-invariant",
)
def small_file_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """THE lakehouse maintenance job: streaming ingest leaves
    thousands of KB-sized files per partition (every micro-batch
    commit is >=1 file per task), and each one costs a listing call,
    a footer read, and a task at scan time — at 100 TB the small-file
    tax dominates query latency long before data volume does.
    Compaction rewrites fragments into target-sized files; here the
    rewrite also RANGE-CLUSTERS by timestamp (repartitionByRange), so
    post-compaction files carry tight min/max ts stats and time-range
    queries prune at the file level — compaction and clustering in
    one pass, which is how production table services schedule it.

    Stage: events fractured into 64 fragment files (deterministic
    hash split). Compact: read fragments -> repartitionByRange(8, ts)
    -> write. Verify: file counts before/after plus content
    invariance (count + exact decimal sum) against the ORIGINAL
    table — a compaction that loses or duplicates a row is worse
    than no compaction.
    """
    frag = staged(
        "ag_compact",
        sf,
        ["events.parquet"],
        lambda stage: t(spark, sf, "events")
        .repartition(64, F.col("event_id"))
        .write.mode("overwrite")
        .parquet(stage),
    )
    compact = scratch_dir("ag_compacted", sf)
    frags = spark.read.parquet(frag)
    frags.repartitionByRange(8, F.col("ts")).write.mode("overwrite").parquet(
        compact
    )

    def n_parquet(d: str) -> int:
        return sum(1 for p in os.listdir(d) if p.endswith(".parquet"))

    back = spark.read.parquet(compact)
    return (
        back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.lit(n_parquet(frag)).cast("bigint").alias("files_before"),
            F.lit(n_parquet(compact)).cast("bigint").alias("files_after"),
            "n_rows",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# C176 partition-layout evolution: one logical table across two
# physical partitioning schemes
# ---------------------------------------------------------------------------
@register(
    "partition_evolution_union",
    # The oracle reads the ORIGINAL events — layout evolution must be
    # invisible to consumers (that's the whole contract).
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    survey_ids=("B1", "B3", "B16", "B33"),
    description="Partition evolution: day-partitioned history + hour-partitioned recent read as ONE table",
)
def partition_evolution_union(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-scheme evolution without a rewrite: history was
    ingested day-partitioned; the pipeline later moved to hourly
    partitions for fresher pruning — and 100 TB of history is exactly
    what you never rewrite to match. The table facade reads BOTH
    layouts (partition-discovery columns differ: dt vs dt/hr),
    normalizes the discovered columns away, and unions — consumers
    see one logical table; each side still prunes on its own scheme.
    This is the manual form of what Iceberg/Delta call partition-spec
    evolution, expressed with plain parquet + unionByName.

    Stage once per fixture: events < Jan 16 written partitioned by
    day, the rest by (day, hour). The verifying aggregate must equal
    the one-shot SQL over the ORIGINAL table — evolution is a layout
    fact, not a data fact.
    """

    def build(stage: str) -> None:
        ev = t(spark, sf, "events")
        cut = F.lit("2024-01-16").cast("timestamp")
        (
            ev.filter(F.col("ts") < cut)
            .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .write.partitionBy("dt")
            .parquet(os.path.join(stage, "daily"))
        )
        (
            ev.filter(F.col("ts") >= cut)
            .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("hr", F.date_format("ts", "HH"))
            .write.partitionBy("dt", "hr")
            .parquet(os.path.join(stage, "hourly"))
        )

    base = staged("ag_part_evo", sf, ["events.parquet"], build)
    old = os.path.join(base, "daily")
    new = os.path.join(base, "hourly")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    facade = (
        spark.read.parquet(old).select(*cols)
        .unionByName(spark.read.parquet(new).select(*cols))
    )
    return (
        facade.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day")["start"]
            .cast("timestamp_ntz")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Iceberg/Delta-style position-delete (deletion vector) application
# ---------------------------------------------------------------------------
@register(
    "deletion_vector_scan",
    # Positions are ROW_NUMBER within each synthetic "file" (orderkey
    # order — in a real lakehouse the ordinal comes from the file
    # layout; the window stands in deterministically). The delete set
    # is positional (pos % 53 = 7), applied as an anti-join; survivors
    # aggregate with exact decimal sums.
    oracle="""
    WITH scan AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             o_orderkey % 256 AS file_id,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey % 256
                                ORDER BY o_orderkey) - 1 AS pos
      FROM orders
    ),
    dv AS (
      SELECT file_id, pos FROM scan WHERE pos % 53 = 7
    )
    SELECT s.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS rows_kept,
           CAST((SELECT COUNT(*) FROM dv) AS BIGINT) AS rows_deleted_total,
           CAST(SUM(CAST(s.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS kept_revenue
    FROM scan s
    ANTI JOIN dv ON dv.file_id = s.file_id AND dv.pos = s.pos
    GROUP BY 1
    """,
    survey_ids=("B1", "B13", "B16"),
    description="Apply a positional deletion vector (Iceberg/Delta DV) as an anti-join, then aggregate",
)
def deletion_vector_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read with position deletes: a deletion vector is a set
    of (file, ordinal) pairs; applying it is an anti-join of the scan
    against the DV before any downstream logic — the Iceberg v2 /
    Delta deletion-vectors read path, expressed relationally.

    Scale shape: position assignment partitions by file (a real reader
    gets ordinals free from the file layout; the window here is the
    deterministic stand-in and parallelizes across the 256 synthetic
    files). The DV is derived from positions only (pos % 53), so it
    stays proportional to the data; the anti-join is an equi-join on
    (file_id, pos) — hash-partitioned, no broadcast of data-scale
    state — and the surviving rows reduce with exact decimal sums.
    """
    o = t(spark, sf, "orders")
    w = Window.partitionBy(F.col("o_orderkey") % 256).orderBy("o_orderkey")
    scan = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_orderkey") % 256).alias("file_id"),
        (F.row_number().over(w) - 1).alias("pos"),
    )
    scan = scan.persist()
    dv = scan.filter(F.col("pos") % 53 == 7).select("file_id", "pos")
    n_del = dv.agg(F.count(F.lit(1)).cast("bigint").alias("rows_deleted_total"))
    kept = scan.join(dv, ["file_id", "pos"], "left_anti")
    return (
        kept.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_kept"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("kept_revenue"),
        )
        .join(F.broadcast(n_del))
        .select("o_orderstatus", "rows_kept", "rows_deleted_total", "kept_revenue")
    )
