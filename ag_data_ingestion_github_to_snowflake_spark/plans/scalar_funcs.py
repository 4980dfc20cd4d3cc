"""Scalar-function queries (SURVEY §2.B33-B43): date/time, string,
JSON, array, math — the functions the reference uses imperatively
(strftime/json/f-strings, /root/reference/src/extract_github_data.py:
320,340,390,422,569-578) re-expressed as JVM-side column expressions.

Everything here stays inside whole-stage codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.operators.portable_math import (
    floor_e6,
    floor_e6_sql,
    portable_ln_sql,
)
from ag_data_ingestion_github_to_snowflake_spark.catalog import parallelize_cpu_scan
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t


# ---------------------------------------------------------------------------
# B33 date_format / year / month / day — the reference's partition keys
# (strftime %Y/%m/%d, src/extract_github_data.py:572-575)
# ---------------------------------------------------------------------------
@register(
    "date_parts_orders",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
           count(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
    survey_ids=("B33", "A16"),
)
def date_parts_orders(spark: SparkSession, sf: str) -> DataFrame:
    """year/month partition-key derivation + count per month."""
    o = t(spark, sf, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.count("*").alias("n"))


@register(
    "date_format_keys",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS date_str,
           strftime(o_orderdate, '%Y/%m/%d') || '/orders_' || CAST(o_orderkey AS VARCHAR) AS s3_key
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
    survey_ids=("B33", "B36", "A16", "A19"),
)
def date_format_keys(spark: SparkSession, sf: str) -> DataFrame:
    """date_format + string concat building the reference's S3 key layout
    (f"{year}/{month}/{day}/github_repos_{ts}.json", :576-578)."""
    o = t(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
            F.concat(
                F.date_format("o_orderdate", "yyyy/MM/dd"),
                F.lit("/orders_"),
                F.col("o_orderkey").cast("string"),
            ).alias("s3_key"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# B34 to_timestamp on ISO-8601 'Z' strings (created_at/updated_at shape)
# + B37 casts
# ---------------------------------------------------------------------------
@register(
    "to_timestamp_iso8601",
    oracle="""
    SELECT event_id,
           CAST(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), '%Y-%m-%dT%H:%M:%SZ')
                AS TIMESTAMP) AS parsed_ts
    FROM events
    ORDER BY event_id
    LIMIT 200
    """,
    survey_ids=("B34", "B37"),
)
def to_timestamp_iso8601(spark: SparkSession, sf: str) -> DataFrame:
    """Round-trip ts -> ISO-8601 'Z' string -> to_timestamp.

    Models the reference's created_at/updated_at handling (ISO strings
    in flight, TIMESTAMP at rest, README.md:179-180 + DDL :276-277).
    """
    e = t(spark, sf, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return (
        e.select(
            "event_id",
            F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss'Z'").cast("timestamp_ntz").alias("parsed_ts"),
        )
        .orderBy("event_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# B35 from_unixtime (rate-limit reset parse, :390)
# ---------------------------------------------------------------------------
@register(
    "from_unixtime_reset",
    oracle="""
    SELECT event_id,
           CAST(to_timestamp(1700000000 + event_id) AS TIMESTAMP) AS reset_at
    FROM events
    ORDER BY event_id
    LIMIT 100
    """,
    survey_ids=("B35", "A17"),
)
def from_unixtime_reset(spark: SparkSession, sf: str) -> DataFrame:
    """Unix-epoch seconds -> timestamp (X-RateLimit-Reset parsing)."""
    e = t(spark, sf, "events")
    return (
        e.select(
            "event_id",
            F.timestamp_seconds(F.lit(1700000000) + F.col("event_id"))
            .cast("timestamp_ntz")
            .alias("reset_at"),
        )
        .orderBy("event_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# B38 from_json with explicit schema (events.props)
# ---------------------------------------------------------------------------
@register(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    survey_ids=("B38", "A18"),
)
def json_extract_props(spark: SparkSession, sf: str) -> DataFrame:
    """Parse the props JSON column with an explicit schema and aggregate.

    from_json with declared schema ≡ the reference's json.loads at I/O
    edges (:320,:340,:422) but vectorized JVM-side.
    """
    e = t(spark, sf, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    return (
        e.select("event_type", F.from_json("props", schema).alias("p"))
        .groupBy("event_type")
        .agg(F.sum(F.col("p.k")).alias("sum_k"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# B39/B40 string functions + regexp
# ---------------------------------------------------------------------------
@register(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           lower(p_type) AS type_lower,
           upper(p_brand) AS brand_upper,
           trim(substring(p_name, 1, 10)) AS name_prefix,
           regexp_extract(p_brand, '[0-9]+') AS brand_num,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
    FROM part
    """,
    survey_ids=("B39", "B40"),
)
def string_funcs_part(spark: SparkSession, sf: str) -> DataFrame:
    """lower/upper/trim/substring/split/regexp_extract on part columns."""
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("type_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.trim(F.substring("p_name", 1, 10)).alias("name_prefix"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# B41 array ops on the embedding column
# ---------------------------------------------------------------------------
@register(
    "array_ops_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 5) AS first_val,
           ROUND(CAST(list_sum(embedding) AS DOUBLE), 4) AS vec_sum
    FROM embeddings
    WHERE vec_id < 100
    """,
    survey_ids=("B41",),
)
def array_ops_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """size / element_at / aggregate over array<float> embeddings.

    The fold accumulates left-to-right in DOUBLE in both engines, so
    rounded sums match exactly.
    """
    e = t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 5).alias("first_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("vec_sum"),
    )


# ---------------------------------------------------------------------------
# B43 math functions
# ---------------------------------------------------------------------------
@register(
    "math_funcs_customer",
    # log_bal uses the portable ln + floor(1e6*x): libm ln was the only
    # build-sensitive op here; abs/sqrt/floor are IEEE-exact over the
    # raw input (COVERAGE.md's hash-contract audit).
    oracle=f"""
    SELECT c_custkey,
           ROUND(abs(c_acctbal), 2) AS abs_bal,
           ROUND(sqrt(abs(c_acctbal)), 4) AS sqrt_bal,
           {floor_e6_sql(portable_ln_sql(
               "abs(c_acctbal) + 1", "duckdb"))} AS log_bal_e6,
           CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bucket
    FROM customer
    """,
    survey_ids=("B43",),
)
def math_funcs_customer(spark: SparkSession, sf: str) -> DataFrame:
    """round/abs/sqrt/ln/floor on account balances."""
    c = t(spark, sf, "customer")
    ab = F.abs(F.col("c_acctbal"))
    return c.select(
        "c_custkey",
        F.round(ab, 2).alias("abs_bal"),
        F.round(F.sqrt(ab), 4).alias("sqrt_bal"),
        floor_e6(
            F.expr(portable_ln_sql("abs(c_acctbal) + 1", "spark"))
        ).alias("log_bal_e6"),
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_bucket"),
    )


# ---------------------------------------------------------------------------
# B5 nested-struct flatten via dotted paths (the reference's owner.*
# hoist, src/extract_github_data.py:519-523): build the nested shape
# in flight, flatten it back with dotted-path projection.
# ---------------------------------------------------------------------------
@register(
    "nested_struct_flatten",
    oracle="""
    SELECT event_id,
           user_id AS actor_id,
           event_type AS actor_kind,
           value AS score
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    """,
    survey_ids=("B5", "B4", "A10"),
)
def nested_struct_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """Nest (actor.id, actor.kind) like the API's owner struct, then
    hoist back to flat columns with dotted paths — pure projection,
    Catalyst collapses the struct entirely."""
    e = t(spark, sf, "events").filter(F.col("event_type").isin("signup", "purchase"))
    nested = e.select(
        "event_id",
        F.struct(
            F.col("user_id").alias("id"), F.col("event_type").alias("kind")
        ).alias("actor"),
        F.col("value"),
    )
    return nested.select(
        "event_id",
        F.col("actor.id").alias("actor_id"),
        F.col("actor.kind").alias("actor_kind"),
        F.col("value").alias("score"),
    )


# ---------------------------------------------------------------------------
# B42 struct/map constructors (multimodal packing shape). Typed struct
# columns hash engine-dependently, so the compare surface is the JSON
# serialization: the double is printf-pinned to 6dp BEFORE packing, and
# Spark's Jackson and DuckDB's to_json then agree byte-for-byte — the
# constructors stay in the plan, and the driver hash-verifies them.
# ---------------------------------------------------------------------------
@register(
    "struct_pack_events",
    oracle="""
    SELECT event_id,
           to_json({'kind': event_type,
                    'score': printf('%.6f', CAST(value AS DOUBLE))}) AS meta_json,
           to_json(MAP {'user': CAST(user_id AS VARCHAR)}) AS tags_json
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
    """,
    survey_ids=("B42", "B38"),
    description="struct + map constructors, hash-verified via pinned JSON serialization",
)
def struct_pack_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pack typed struct + map columns (multimodal metadata shape)."""
    e = t(spark, sf, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type").alias("kind"),
                F.format_string("%.6f", F.col("value")).alias("score"),
            )
        ).alias("meta_json"),
        F.to_json(
            F.create_map(F.lit("user"), F.col("user_id").cast("string"))
        ).alias("tags_json"),
    )


# ---------------------------------------------------------------------------
# B41 higher-order array functions: transform / filter / exists / zip_with
# ---------------------------------------------------------------------------
@register(
    "array_hof_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           ROUND(list_sum(list_transform(list_zip(embedding, embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 4)
             AS sq_norm,
           len(list_filter(embedding, x -> abs(x) > 2)) > 0 AS has_outlier
    FROM embeddings
    WHERE vec_id < 100
    """,
    survey_ids=("B41", "B43"),
    description="Higher-order array funcs: filter-count, zip_with square-norm, exists",
)
def array_hof_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Lambda-based array functions — all evaluated inside codegen,
    zero Python, no explode (the row count never changes).

    ``zip_with`` squares via pairwise product and the double fold
    accumulates left-to-right in both engines, so rounded norms match.
    """
    e = t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    sq = F.zip_with(
        "embedding", "embedding", lambda a, b: a.cast("double") * b.cast("double")
    )
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 4).alias(
            "sq_norm"
        ),
        F.exists("embedding", lambda x: F.abs(x) > 2).alias("has_outlier"),
    )


# ---------------------------------------------------------------------------
# B42 map constructors + element extraction
# ---------------------------------------------------------------------------
@register(
    "map_funcs_orders",
    oracle="""
    SELECT o_orderkey,
           map(['status', 'priority'],
               [o_orderstatus, o_orderpriority])['status'][1] AS status_val,
           map(['status', 'priority'],
               [o_orderstatus, o_orderpriority])['priority'][1] AS priority_val,
           CAST(cardinality(map(['status', 'priority'],
                                [o_orderstatus, o_orderpriority])) AS INT) AS n_keys
    FROM orders
    WHERE o_orderkey < 100
    """,
    survey_ids=("B42",),
    description="Map construct + element_at + cardinality, scalar outputs",
)
def map_funcs_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Map column constructed row-locally and immediately extracted —
    outputs are scalars so the differential harness compares plain
    columns (map cells themselves don't hash portably across Arrow).
    """
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return (
        t(spark, sf, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.element_at(m, "status").alias("status_val"),
            F.element_at(m, "priority").alias("priority_val"),
            F.size(m).alias("n_keys"),
        )
    )


# ---------------------------------------------------------------------------
# B41 lateral explode with ordinality (posexplode)
# ---------------------------------------------------------------------------
@register(
    "posexplode_tokens",
    # DuckDB zips parallel UNNESTs positionally — exactly posexplode's
    # (pos, value) contract.
    oracle="""
    SELECT doc_id,
           CAST(UNNEST(range(len(toks))) AS INT) AS pos,
           UNNEST(toks) AS token
    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents WHERE doc_id < 20)
    """,
    survey_ids=("B41", "B39"),
    description="posexplode: one row per (doc, position, token)",
)
def posexplode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Lateral token explosion with ordinal positions — the tokenizer
    fan-out every text pipeline starts from. Row-local (no shuffle);
    output cardinality = total token count, so at scale explode AFTER
    filtering/sampling, never before.
    """
    return (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token"))
    )


# ---------------------------------------------------------------------------
# B37/B43 error-safe scalars: try_divide / try_cast under ANSI mode
# ---------------------------------------------------------------------------
@register(
    "try_funcs_orders",
    # The engine runs ANSI mode (overflow/div-by-zero/bad-cast THROW),
    # so the try_* family is the row-level escape hatch: errors become
    # NULL instead of failing the job — DuckDB's TRY_CAST / NULLIF
    # division expresses the same contract.
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) / NULLIF(o_custkey % 7, 0) AS price_per_bucket,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_num,
           TRY_CAST(o_orderstatus AS INT) AS status_as_int
    FROM orders
    WHERE o_orderkey < 200
    """,
    survey_ids=("B37", "B43"),
    description="Error-safe scalars: try_divide (null on /0), try_cast (null on bad parse)",
)
def try_funcs_orders(spark: SparkSession, sf: str) -> DataFrame:
    """try_divide and try_cast: malformed rows yield NULL, the job
    survives — the semantics a 100 TB pipeline needs when one corrupt
    row must not kill a 6-hour job. Division in DOUBLE (IEEE-identical
    both engines); 'F'/'P'/'O' statuses exercise the failed-parse path.
    """
    return (
        t(spark, sf, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.try_divide(
                F.col("o_totalprice").cast("double"), F.col("o_custkey") % 7
            ).alias("price_per_bucket"),
            F.expr(
                "try_cast(substr(o_orderpriority, 1, 1) AS INT)"
            ).alias("priority_num"),
            F.expr("try_cast(o_orderstatus AS INT)").alias("status_as_int"),
        )
    )


# ---------------------------------------------------------------------------
# B16/B41 ordered string aggregation (listagg / string_agg shape)
# ---------------------------------------------------------------------------
@register(
    "string_agg_nations_by_region",
    oracle="""
    SELECT r.r_name,
           array_to_string(list_sort(list(n.n_name)), ',') AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    survey_ids=("B16", "B41", "B36"),
    description="Ordered string aggregation: sorted comma-joined group members",
)
def string_agg_nations_by_region(spark: SparkSession, sf: str) -> DataFrame:
    """listagg/string_agg semantics made deterministic: collect_list's
    arrival order is partition-dependent, so the list is array_sort'ed
    BEFORE joining — the only way a string aggregate can be stable
    under distributed execution (same rule as any order-sensitive
    aggregate at scale). Per-group state is the member list: safe for
    dimension-sized groups, bounded-sample the list for fact-sized.
    """
    r = t(spark, sf, "region")
    n = t(spark, sf, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# B33 date/interval arithmetic
# ---------------------------------------------------------------------------
@register(
    "date_arith_orders",
    oracle="""
    SELECT o_orderkey,
           -- 45 days, NOT 30: DuckDB's interval equality treats
           -- 1 MONTH == 30 DAY, and common-subexpression elimination
           -- then collapses the two additions into one (repro'd on
           -- 1.0.0); 45 days is not "equal" to 1 month, so both
           -- expressions survive.
           o_orderdate + INTERVAL 45 DAY AS due_date,
           o_orderdate + INTERVAL 1 MONTH AS next_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-01-01') AS INT)
             AS days_to_y2001
    FROM orders
    WHERE o_orderkey < 200
    """,
    survey_ids=("B33", "B34"),
    description="Date arithmetic: interval add, calendar month add, last_day, datediff",
)
def date_arith_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Interval and calendar arithmetic — fixed-length (+30 days) vs
    calendar-aware (+1 month, clamped at month ends identically in
    both engines), month boundary (cast to timestamp — pandas folds
    DATE and TIMESTAMP differently), and day difference. Row-local,
    codegen'd, no shuffle.
    """
    o = t(spark, sf, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")).alias("due_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 MONTH")).alias("next_month"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.datediff(F.lit("2001-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_y2001"
        ),
    )


# ---------------------------------------------------------------------------
# width_bucket histogram: fixed-range bucketing of customer balances.
# DuckDB 1.0 has no width_bucket, so the oracle spells out the same
# CASE + floor arithmetic (bucket edges are integer multiples of 1000,
# exactly representable in double — no boundary drift).
# ---------------------------------------------------------------------------
@register(
    "histogram_acctbal_buckets",
    oracle="""
    SELECT CAST(CASE WHEN v < -1000 THEN 0
                WHEN v >= 10000 THEN 12
                ELSE 1 + CAST(floor((v + 1000) / 1000) AS INT) END AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM (SELECT CAST(c_acctbal AS DOUBLE) AS v, c_acctbal FROM customer)
    GROUP BY 1
    """,
    survey_ids=("B43", "B16"),
)
def histogram_acctbal_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of c_acctbal over [-1000, 10000) in 11
    buckets via width_bucket; exact decimal mass per bucket.

    The bucket expression is map-side arithmetic; the only exchange is
    the 13-key aggregation — the cheapest possible distribution sketch
    at any scale.
    """
    cust = t(spark, sf, "customer")
    bucket = F.width_bucket(
        F.col("c_acctbal").cast("double"),
        F.lit(-1000.0),
        F.lit(10000.0),
        F.lit(11),
    ).alias("bucket")
    return (
        cust.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type): build nested JSON from typed
# columns, parse to VARIANT, extract typed scalars back via JSON paths.
# The oracle checks the round trip against the source columns directly
# — if any variant_get lost or coerced a value, the hash breaks.
# ---------------------------------------------------------------------------
@register(
    "variant_extract_events",
    oracle="""
    SELECT event_id,
           event_type AS t,
           CAST(user_id AS BIGINT) AS uid,
           value AS val,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_id < 500
    """,
    survey_ids=("B38", "B5", "B37"),
)
def variant_extract_events(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured round trip through the VARIANT type.

    to_json(struct(...)) -> parse_json -> variant_get with typed JSON
    paths ("$.u.uid" etc). VARIANT is Spark 4's open-schema column:
    unlike from_json it needs no schema up front, and the binary
    encoding supports path extraction without re-parsing text — the
    100 TB answer to schema-drifting event streams. All JVM
    expressions; the oracle verifies values survived the round trip by
    reading them straight off the source columns.
    """
    ev = t(spark, sf, "events").filter(F.col("event_id") < 500)
    j = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.col("user_id").alias("uid"), F.col("value").alias("val")
            ).alias("u"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    v = F.parse_json(j)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.t", "string").alias("t"),
        F.variant_get(v, "$.u.uid", "long").alias("uid"),
        F.variant_get(v, "$.u.val", "double").alias("val"),
        F.variant_get(v, "$.k", "long").alias("k"),
    )


# ---------------------------------------------------------------------------
# Morton (Z-order) codes: the multi-dimensional data-skipping key a
# range-clustered rewrite sorts by. The oracle replays the identical
# magic-number bit-spreading in SQL, so every interleaved bit is
# value-checked.
# ---------------------------------------------------------------------------
@register(
    "zorder_morton_events",
    oracle="""
    WITH src AS (
      SELECT event_id,
             event_id & 65535 AS a,
             user_id & 65535 AS b
      FROM events WHERE event_id < 1000
    ),
    sa AS (
      SELECT event_id, a, b,
             ((a | (a << 8)) & 16711935) AS a1,
             ((b | (b << 8)) & 16711935) AS b1
      FROM src
    ),
    sb AS (
      SELECT event_id, a, b,
             ((a1 | (a1 << 4)) & 252645135) AS a2,
             ((b1 | (b1 << 4)) & 252645135) AS b2
      FROM sa
    ),
    sc AS (
      SELECT event_id, a, b,
             ((a2 | (a2 << 2)) & 858993459) AS a3,
             ((b2 | (b2 << 2)) & 858993459) AS b3
      FROM sb
    ),
    sd AS (
      SELECT event_id, a, b,
             ((a3 | (a3 << 1)) & 1431655765) AS a4,
             ((b3 | (b3 << 1)) & 1431655765) AS b4
      FROM sc
    )
    SELECT event_id, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(a4 | (b4 << 1) AS BIGINT) AS morton
    FROM sd
    """,
    survey_ids=("B43",),
)
def zorder_morton_events(spark: SparkSession, sf: str) -> DataFrame:
    """Morton interleave of (event_id, user_id) low 16 bits — the
    Z-order locality key behind multi-dimensional compaction."""
    from ag_data_ingestion_github_to_snowflake_spark.functions.zorder import morton_code

    ev = t(spark, sf, "events").filter(F.col("event_id") < 1000)
    a = F.col("event_id").bitwiseAND(F.lit(65535)).cast("long")
    b = F.col("user_id").bitwiseAND(F.lit(65535)).cast("long")
    return ev.select(
        "event_id",
        a.alias("a"),
        b.alias("b"),
        morton_code(a, b).alias("morton"),
    )


@register(
    "url_parse_components",
    # The URL is synthesized deterministically from fixture columns, so
    # the oracle CONSTRUCTS each expected component analytically from
    # the same columns — an independent check of Spark's parse_url
    # (Hive/java.net.URI semantics: HOST excludes the port, PATH keeps
    # the leading slash, QUERY drops the '?', REF is the fragment).
    oracle="""
    SELECT doc_id,
           'https' AS scheme,
           source || '.example.com' AS host,
           '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
           'k=' || CAST(n_chars AS VARCHAR) || '&v=2' AS query,
           CAST(n_chars AS VARCHAR) AS k_param,
           'frag' AS fragment,
           'example.com' AS domain
    FROM documents
    """,
    survey_ids=("B39", "B36"),
    description="parse_url component extraction + registrable-domain derivation",
)
def url_parse_components(spark: SparkSession, sf: str) -> DataFrame:
    """Web-curation URL surgery with the parse_url built-in: scheme /
    host / path / query / single query-param / fragment, plus the
    registrable-domain heuristic (substring_index(host,'.',-2)) that
    keys per-domain caps and domain mixing at corpus scale. All
    JVM-side string expressions — the hot path of a crawl pipeline
    where every document carries a URL."""
    docs = t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com:8443/"),
        F.col("lang"), F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.lit("?k="), F.col("n_chars").cast("string"), F.lit("&v=2#frag"),
    )
    staged = docs.select("doc_id", url.alias("_url"))
    u = F.col("_url")
    host = F.parse_url(u, F.lit("HOST"))
    return staged.select(
        "doc_id",
        F.parse_url(u, F.lit("PROTOCOL")).alias("scheme"),
        host.alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY")).alias("query"),
        F.parse_url(u, F.lit("QUERY"), F.lit("k")).alias("k_param"),
        F.parse_url(u, F.lit("REF")).alias("fragment"),
        F.substring_index(host, ".", -2).alias("domain"),
    )


# ---------------------------------------------------------------------------
# Hilbert vs Morton clustering locality: consecutive curve positions'
# spatial distance — the measurable reason "liquid"-style clustering
# prefers Hilbert over Z-order
# ---------------------------------------------------------------------------
def _hilbert_locality_oracle() -> str:
    from ag_data_ingestion_github_to_snowflake_spark.functions.zorder import (
        hilbert_index_sql,
    )

    body = hilbert_index_sql("cx", "cy", 4)
    return f"""
    WITH cells AS (
      SELECT CAST(day(ts) - 1 AS INT) AS cx,
             CAST(floor(hour(ts) * 2 / 3.0) AS INT) AS cy
      FROM events WHERE day(ts) <= 16
      GROUP BY 1, 2
    ),
    r0 AS (SELECT cx, cy, cx AS x0, cy AS y0, 0 AS d0 FROM cells),
    {body},
    keyed AS (
      SELECT cx, cy, CAST(d4 AS BIGINT) AS hilbert,
             CAST(
               (cx & 1) + 2 * (cy & 1)
               + 4 * ((cx >> 1) & 1) + 8 * ((cy >> 1) & 1)
               + 16 * ((cx >> 2) & 1) + 32 * ((cy >> 2) & 1)
               + 64 * ((cx >> 3) & 1) + 128 * ((cy >> 3) & 1)
             AS BIGINT) AS morton
      FROM r4
    ),
    long AS (
      SELECT 'hilbert' AS curve, cx, cy, hilbert AS idx FROM keyed
      UNION ALL
      SELECT 'morton' AS curve, cx, cy, morton AS idx FROM keyed
    ),
    steps AS (
      SELECT curve,
             ABS(cx - LAG(cx) OVER w) + ABS(cy - LAG(cy) OVER w) AS step
      FROM long
      WINDOW w AS (PARTITION BY curve ORDER BY idx)
    )
    SELECT curve,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(step) AS BIGINT) AS total_manhattan,
           ROUND(CAST(SUM(step) AS DOUBLE) / COUNT(*), 6) AS avg_manhattan,
           CAST(MAX(step) AS BIGINT) AS max_step
    FROM steps WHERE step IS NOT NULL
    GROUP BY curve
    """


@register(
    "hilbert_vs_morton_locality",
    oracle=_hilbert_locality_oracle(),
    survey_ids=("B43", "B33", "B16"),
    description="Hilbert vs Morton curve locality: spatial distance between consecutive positions",
)
def hilbert_vs_morton_locality(spark: SparkSession, sf: str) -> DataFrame:
    """Quantify WHY Hilbert clustering beats Z-order for
    multi-dimensional layout: walk each space-filling curve over the
    occupied (day, hour-band) cells of the event stream and measure
    the spatial Manhattan distance between CONSECUTIVE curve
    positions. Hilbert's defining property is that consecutive indexes
    are always spatially adjacent (avg = 1.0 exactly on a full grid —
    a self-verifying output); Morton jumps at every quadrant seam, so
    its average step is strictly larger, which at file-layout scale
    means wider min/max bounding boxes and fewer skipped files.
    zorder_morton_events computes the Morton key; this query is the
    measured comparison that justifies offering hilbert_index as the
    alternative.

    Scale shape: the event stream reduces to the bounded 16x16 cell
    grid in one map-side-combined shuffle; both curve indexes are pure
    integer CASE/bit expressions (whole-stage codegen, no UDF —
    functions/zorder.py:hilbert_index unrolls the classic xy2d
    transform); the walk windows run over <=256 rows per curve.
    """
    from ag_data_ingestion_github_to_snowflake_spark.functions.zorder import (
        hilbert_index,
        morton_code,
    )

    ev = t(spark, sf, "events").filter(F.dayofmonth("ts") <= 16)
    # No parallelize_cpu_scan: measured 0.57-0.75x, the extra exchange
    # costs more than the codegen-cheap one-task scan
    # (``OPTIMIZATION_r13.md`` §2).
    cells = ev.groupBy(
        (F.dayofmonth("ts") - 1).cast("int").alias("cx"),
        F.floor(F.hour("ts") * 2 / 3.0).cast("int").alias("cy"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    keyed = cells.select(
        "cx",
        "cy",
        hilbert_index(F.col("cx"), F.col("cy"), 4).alias("hilbert"),
        morton_code(F.col("cx"), F.col("cy")).cast("bigint").alias("morton"),
    )
    long = keyed.select(
        F.lit("hilbert").alias("curve"), "cx", "cy", F.col("hilbert").alias("idx")
    ).unionByName(
        keyed.select(
            F.lit("morton").alias("curve"), "cx", "cy", F.col("morton").alias("idx")
        )
    )
    w = Window.partitionBy("curve").orderBy("idx")
    steps = long.select(
        "curve",
        (
            F.abs(F.col("cx") - F.lag("cx").over(w))
            + F.abs(F.col("cy") - F.lag("cy").over(w))
        ).alias("step"),
    ).filter(F.col("step").isNotNull())
    return steps.groupBy("curve").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        F.sum("step").cast("bigint").alias("total_manhattan"),
        F.round(F.sum("step").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_manhattan"
        ),
        F.max("step").cast("bigint").alias("max_step"),
    )
