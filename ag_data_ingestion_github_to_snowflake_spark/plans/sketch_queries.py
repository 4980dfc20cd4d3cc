"""Mergeable-sketch aggregates (Apache DataSketches, built into Spark
3.5+): HLL distinct-count sketches and KLL quantile sketches.

Why these are first-class at 100 TB: a sketch is an algebraic,
MERGEABLE aggregation state — per-partition (or per-day) sketches
combine associatively into the global answer, so rollups, incremental
refresh, and cross-cluster union all work without re-scanning raw
data. Exact COUNT(DISTINCT) re-shuffles every value; an HLL sketch
ships ~1.5 KB per group. Exact percentiles need a global sort; KLL is
one pass, bounded memory, provable error.

The two DataSketches queries are rows-only by declared design (a
built-in sketch estimate is engine-specific — DuckDB's approx_* uses
different internals, so no hash oracle can exist); their accuracy
contracts are asserted against exact answers in
``tests/test_sketches.py``. ``hll_verified_users_by_type`` closes the
gap from the other side: a from-scratch HLL (operators/hll.py) over
the md5 hash family whose full register pipeline IS replayed
bit-exactly by a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.catalog import parallelize_cpu_scan
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t


@register(
    "hll_sketch_users_by_type",
    # DECIDED rows-only: Datasketches HLL binary state is
    # engine-specific by design; the value of THIS query is the
    # sketch-merge rollup shape. Correctness evidence: oracle-green
    # twin `hll_verified_users_by_type` checks the same per-type
    # estimates against exact distincts, and tests/test_sketches.py
    # pins merge associativity and error bounds.
    oracle=None,
    survey_ids=("B21", "B16"),
    description="HLL sketches per event_type, merged to a global distinct estimate",
)
def hll_sketch_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type HLL distinct-user sketches UNIONED into the
    global estimate — the merge is the point: per-group (or per-day)
    sketches combine without touching raw data, which is how a 100 TB
    rollup maintains distinct counts incrementally.
    """
    ev = t(spark, sf, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    merged = per_type.agg(
        F.hll_union_agg("sk").alias("sk_all"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    out_type = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("distinct_users_est"),
        "n_events",
    )
    out_all = merged.select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("sk_all").cast("bigint").alias("distinct_users_est"),
        "n_events",
    )
    return out_type.unionAll(out_all)


@register(
    "kll_quantiles_value",
    # DECIDED rows-only: KLL sketch state is
    # engine-specific; no SQL twin can replay compaction. Correctness
    # evidence: tests/test_kmv_cms.py/test_sketches.py pin the
    # published epsilon bound against exact percentiles, which are
    # themselves oracle-green (`percentiles_nchars`,
    # `equidepth_histogram_totalprice`).
    oracle=None,
    survey_ids=("B23",),
    description="KLL quantile sketch: one-pass mergeable p50/p90/p99 of event value",
)
def kll_quantiles_value(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass KLL quantile estimates for the event value stream.
    Unlike percentile_approx's fixed-memory t-digest-ish internals,
    KLL has a published worst-case error bound and its state is
    mergeable across batches — the streaming-rollup quantile shape.
    """
    ev = t(spark, sf, "events")
    sk = ev.agg(F.kll_sketch_agg_double("value").alias("sk"))
    return sk.select(
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99"),
        F.kll_sketch_get_n_double("sk").cast("bigint").alias("n"),
    )


def _hll_verified_oracle() -> str:
    """DuckDB replay of the FULL verified-HLL pipeline: md5-derived
    60-bit hashes, bucket/rank split, integer CASE-cascade rho,
    register MAX merge (per type AND the cross-type union), integer
    harmonic sum, one repr-constant division. Every step is
    IEEE-deterministic, so the raw estimates hash-match bit-for-bit."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    w_mask = (1 << hll.W_BITS) - 1
    two49 = 1 << (hll.W_BITS + 1)
    return f"""
    WITH hashes AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h,
             user_id
      FROM events
    ), split AS (
      SELECT event_type, h >> {hll.W_BITS} AS bucket,
             h & {w_mask} AS w, user_id
      FROM hashes
    ), regs AS (
      SELECT event_type, bucket, MAX({hll.rho48_sql('w')}) AS rho
      FROM split GROUP BY 1, 2
    ), regs_all AS (
      SELECT bucket, MAX(rho) AS rho FROM regs GROUP BY 1
    ), per_type AS (
      SELECT event_type,
             SUM((CAST(1 AS BIGINT) << CAST(49 - rho AS INTEGER))) AS s_present,
             COUNT(*) AS n_present
      FROM regs GROUP BY 1
    ), all_types AS (
      SELECT SUM((CAST(1 AS BIGINT) << CAST(49 - rho AS INTEGER))) AS s_present,
             COUNT(*) AS n_present
      FROM regs_all
    ), exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    ), exact_all AS (
      SELECT COUNT(DISTINCT user_id) AS n_exact FROM events
    )
    SELECT event_type,
           CAST({hll.EST_NUMERATOR!r} AS DOUBLE)
             / CAST(s_present + ({hll.M_REGISTERS} - n_present)
                    * {two49} AS DOUBLE) AS distinct_est_raw,
           CAST({hll.M_REGISTERS} - n_present AS BIGINT) AS zero_registers,
           CAST(n_exact AS BIGINT) AS distinct_users_exact
    FROM per_type JOIN exact USING (event_type)
    UNION ALL
    SELECT '__all__',
           CAST({hll.EST_NUMERATOR!r} AS DOUBLE)
             / CAST(s_present + ({hll.M_REGISTERS} - n_present)
                    * {two49} AS DOUBLE),
           CAST({hll.M_REGISTERS} - n_present AS BIGINT),
           CAST(n_exact AS BIGINT)
    FROM all_types, exact_all
    """


@register(
    "hll_verified_users_by_type",
    oracle=_hll_verified_oracle(),
    survey_ids=("B21", "B16"),
    description="From-scratch HLL (md5 hash family): register pipeline replayed bit-exactly in DuckDB",
)
def hll_verified_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """The oracle-verified twin of ``hll_sketch_users_by_type``: a
    from-scratch HLL over the md5-derived hash family
    (operators/hll.py) whose FULL pipeline — bucket split, rank
    cascade, register merge (including the cross-type union for
    '__all__'), integer harmonic sum, raw estimate — replays
    bit-identically in DuckDB. The built-in DataSketches query remains
    the fast path; this one proves the estimator, and carries the
    exact distinct count alongside as an in-query accuracy witness
    (raw HLL at m=4096 ~ +-1.6% for cardinalities past the
    linear-counting regime)."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    ev = t(spark, sf, "events")
    regs = hll.hll_registers(ev, "user_id", ["event_type"])
    per_type = hll.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("distinct_users_exact")
    )
    out_type = per_type.join(exact, "event_type")

    regs_all = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    all_est = hll.hll_estimate(regs_all.withColumn("_g", F.lit(1)), ["_g"])
    exact_all = ev.agg(
        F.countDistinct("user_id").cast("long").alias("distinct_users_exact")
    )
    out_all = all_est.crossJoin(exact_all).select(
        F.lit("__all__").alias("event_type"),
        "distinct_est_raw",
        "zero_registers",
        "distinct_users_exact",
    )
    return out_type.unionByName(out_all)


def _profile_approx_oracle() -> str:
    """DuckDB replay of the sketch-profile pipeline: the same unpivot
    to canonical strings, md5-derived 60-bit hashes, bucket/rank
    split, register MAX merge, integer harmonic sum and one
    repr-constant division as the Spark side — every step
    IEEE-deterministic, so the per-column estimates hash-match."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    w_mask = (1 << hll.W_BITS) - 1
    two49 = 1 << (hll.W_BITS + 1)
    return f"""
    WITH unp AS (
      SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS val FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_totalprice', printf('%.2f', o_totalprice) FROM orders
      UNION ALL
      SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
    ), split AS (
      SELECT col_name, val,
             CASE WHEN val IS NULL THEN NULL
                  ELSE CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) >> {hll.W_BITS}
             END AS bucket,
             CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) & {w_mask} AS w
      FROM unp
    ), regs AS (
      SELECT col_name, bucket, MAX({hll.rho48_sql('w')}) AS rho,
             COUNT(*) AS n,
             SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS nn
      FROM split GROUP BY 1, 2
    ), raw_est AS (
      SELECT col_name,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(nn) AS BIGINT) AS n_nulls,
           CAST({hll.EST_NUMERATOR!r} AS DOUBLE)
             / CAST(SUM(CASE WHEN bucket IS NOT NULL
                             THEN (CAST(1 AS BIGINT) << CAST(49 - rho AS INTEGER)) ELSE 0 END)
                    + ({hll.M_REGISTERS}
                       - SUM(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END))
                      * {two49} AS DOUBLE) AS distinct_est_raw,
           CAST({hll.M_REGISTERS}
                - SUM(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_registers
    FROM regs GROUP BY col_name
    )
    SELECT col_name, n_rows, n_nulls,
           ROUND(distinct_est_raw, 6) AS distinct_est_raw,
           zero_registers
    FROM raw_est
    """


@register(
    "profile_orders_approx",
    oracle=_profile_approx_oracle(),
    survey_ids=("B21", "B18", "A15"),
    description="ANALYZE-style profile with HLL distinct estimates: one scan, no exact distinct shuffles",
)
def profile_orders_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch twin of ``profile_orders_columns``: per-column row /
    null counts plus an HLL distinct ESTIMATE, in ONE scan and one
    (col_name, bucket)-keyed shuffle whose post-combine volume is at
    most 4 x 4096 register rows — the exact twin pays four full
    COUNT(DISTINCT) value shuffles, which is what ANALYZE actually
    replaces with sketches at 100 TB. Values are canonicalized to
    strings both engines agree on (%.2f for the 2-decimal money
    column, second-resolution timestamps), so the DuckDB oracle
    replays the full register pipeline bit-exactly. The emitted
    estimate is the RAW harmonic-sum one; the linear-counting
    small-range correction is a pure function of the emitted
    zero_registers column and is applied consumer-side (keeping ln()
    out of the bit-exact hash contract). min/max are omitted: at
    scale those come free from parquet footer metadata
    (see ``metadata_agg_pushdown``)."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll
    from ag_data_ingestion_github_to_snowflake_spark.operators.dedup import (
        md5_hash60,
    )

    o = t(spark, sf, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    # The 4-way explode + per-row md5 is CPU-bound on a one-task scan;
    # the layout-gated round-robin spreads it (``OPTIMIZATION_r14.md``
    # §10).
    o = parallelize_cpu_scan(o, spark, sf, "orders")
    pairs = [
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice", F.format_string("%.2f", F.col("o_totalprice"))),
        ("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")),
    ]
    unp = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("col_name"), e.alias("val"))
                    for n, e in pairs
                ]
            )
        ).alias("p")
    ).select("p.col_name", "p.val")
    h = md5_hash60(F.col("val"))
    bucket = F.when(
        F.col("val").isNotNull(), F.shiftright(h, hll.W_BITS)
    ).alias("bucket")
    w = h.bitwiseAND(F.lit((1 << hll.W_BITS) - 1))
    regs = (
        unp.select(
            "col_name",
            bucket,
            hll.rho48(w).alias("rho"),
            F.col("val").isNull().cast("long").alias("isnull"),
        )
        .groupBy("col_name", "bucket")
        .agg(
            F.max("rho").alias("rho"),
            F.count(F.lit(1)).alias("n"),
            F.sum("isnull").alias("nn"),
        )
    )
    s_present = F.sum(
        F.when(
            F.col("bucket").isNotNull(),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - rho AS INT))"),
        ).otherwise(F.lit(0))
    )
    n_present = F.sum(F.col("bucket").isNotNull().cast("long"))
    s_total = s_present + (F.lit(hll.M_REGISTERS) - n_present) * F.lit(
        1 << (hll.W_BITS + 1)
    )
    raw = regs.groupBy("col_name").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("nn").cast("long").alias("n_nulls"),
        (F.lit(hll.EST_NUMERATOR) / s_total.cast("double")).alias(
            "distinct_est_raw"
        ),
        (F.lit(hll.M_REGISTERS) - n_present).cast("long").alias(
            "zero_registers"
        ),
    )
    # The output stays BIT-EXACT on purpose: the raw estimate is one
    # IEEE division of exact integer sums, and zero_registers is an
    # integer — so the cross-engine hash contract has no libm terms.
    # The Flajolet et al. small-range correction (linear counting
    # m*ln(m/V) when V = zero_registers > 0 and raw <= 2.5m) is a pure
    # function of the EMITTED zero_registers column, so consumers apply
    # it losslessly on their side (``operators/hll.py`` docstring: ln()
    # is only 1-ulp-reproducible across engines and cannot sit inside
    # a bit-exact contract).
    return raw.select(
        "col_name",
        "n_rows",
        "n_nulls",
        F.round("distinct_est_raw", 6).alias("distinct_est_raw"),
        "zero_registers",
    )


# ---------------------------------------------------------------------------
# From-scratch, oracle-replayable sketch twins (operators/sketches.py):
# the md5-derived hash family lets DuckDB recompute the EXACT sketch —
# hashing, sampling, merge, estimate — so the sketch algebra itself is
# hash-verified, the same pattern as hll_verified_users_by_type.
# ---------------------------------------------------------------------------
@register(
    "kmv_distinct_users",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type AS grp,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
    ex AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS exact FROM h GROUP BY grp),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS sample_n,
             MAX(CASE WHEN rn = 8 THEN h END) AS h_k
      FROM r WHERE rn <= 8 GROUP BY grp
    ),
    per AS (
      SELECT s.grp AS event_type, ex.exact AS exact_users,
             CASE WHEN h_k IS NOT NULL
                  THEN CAST(ROUND(7.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)) AS BIGINT)
                  ELSE s.sample_n END AS kmv_est,
             s.sample_n
      FROM s JOIN ex ON s.grp = ex.grp
    ),
    gr AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM h)
    ),
    gs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sample_n,
             MAX(CASE WHEN rn = 8 THEN h END) AS h_k
      FROM gr WHERE rn <= 8
    ),
    gx AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users FROM events),
    gl AS (
      SELECT '__all__' AS event_type, gx.exact_users,
             CASE WHEN h_k IS NOT NULL
                  THEN CAST(ROUND(7.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)) AS BIGINT)
                  ELSE gs.sample_n END AS kmv_est,
             gs.sample_n
      FROM gs, gx
    )
    SELECT * FROM per UNION ALL SELECT * FROM gl
    """,
    survey_ids=("B21", "B16", "B29"),
    description="KMV distinct sketch per event_type + sketch-MERGE global estimate",
)
def kmv_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """K-minimum-values distinct-user sketches (k=8) per event_type,
    plus the global row computed by MERGING the per-group samples
    (union -> distinct -> re-cut to k) — the mergeability algebra is
    what the oracle hash-pins. ``operators/sketches.py``."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import sketches as K

    ev = t(spark, sf, "events")
    per = K.kmv_group_estimates(ev, "user_id", "event_type", k=8).select(
        F.col("grp").alias("event_type"),
        F.col("exact").alias("exact_users"),
        F.col("est").alias("kmv_est"),
        "sample_n",
    )
    glob = K.kmv_merged_estimate(ev, "user_id", "event_type", k=8).select(
        F.lit("__all__").alias("event_type"),
        F.col("exact").alias("exact_users"),
        F.col("est").alias("kmv_est"),
        "sample_n",
    )
    return per.unionByName(glob)


@register(
    "countmin_heavy_hitters",
    oracle="""
    WITH cand AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 20
    ),
    cnt AS (
      SELECT r,
             CAST(('0x' || substr(md5(CONCAT(r, ':', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 32 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS r)
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT c.user_id, c.true_cnt, r,
             CAST(('0x' || substr(md5(CONCAT(r, ':', CAST(c.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 32 AS bucket
      FROM cand c, (SELECT unnest([0, 1, 2, 3]) AS r)
    )
    SELECT p.user_id, p.true_cnt, CAST(MIN(cnt.cnt) AS BIGINT) AS cms_est
    FROM probe p JOIN cnt ON p.r = cnt.r AND p.bucket = cnt.bucket
    GROUP BY p.user_id, p.true_cnt
    """,
    survey_ids=("B21", "B16", "B24"),
    description="Count-Min sketch (d=4, w=32) point estimates for the top-20 users",
)
def countmin_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency sketch replayed exactly: d x w counters via
    one aggregation, broadcast to the top-20 candidates, min over
    rows. Estimates provably >= true counts (asserted in
    ``tests/test_sketches.py``). ``operators/sketches.py``."""
    from ag_data_ingestion_github_to_snowflake_spark.operators import sketches as K

    ev = t(spark, sf, "events")
    cand = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(20)
    )
    est = K.cms_estimate_keys(ev, cand.select("user_id"), "user_id", depth=4, width=32)
    return cand.join(est, "user_id").select("user_id", "true_cnt", "cms_est")


@register(
    "quantile_hash_sample",
    oracle="""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 = 0
    ),
    est AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS sample_n,
             ROUND(quantile_cont(value, 0.5), 6) AS p50_est,
             ROUND(quantile_cont(value, 0.9), 6) AS p90_est
      FROM s GROUP BY event_type
    ),
    ex AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
             ROUND(quantile_cont(value, 0.9), 6) AS p90_exact
      FROM events GROUP BY event_type
    )
    SELECT est.event_type, sample_n, p50_est, p90_est, p50_exact, p90_exact
    FROM est JOIN ex ON est.event_type = ex.event_type
    """,
    survey_ids=("B23", "B16", "B21"),
    description="Quantiles from a deterministic 1/16 hash sample vs exact (both replayed)",
)
def quantile_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile estimation from a DETERMINISTIC hash sample: rows
    whose md5-derived key is 0 mod 16 form a uniform 1/16 sample that
    every engine (and every rerun) selects identically — the
    replayable alternative to rng sampling, and the third leg of the
    from-scratch sketch family (KMV distinct, Count-Min frequency,
    hash-sample quantiles). At 100 TB the sample is built map-side
    (a hash predicate pushed at the scan) and only the 1/16 survivors
    reach the sort-based percentile; exact columns ride along for the
    accuracy contract (``tests/test_kmv_cms.py``)."""
    ev = t(spark, sf, "events")
    from ag_data_ingestion_github_to_snowflake_spark.operators.dedup import (
        md5_hash60,
    )

    s = ev.filter(F.pmod(md5_hash60(F.col("event_id").cast("string")), F.lit(16)) == 0)
    est = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("sample_n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_est"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_est"),
    )
    ex = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
    )
    return est.join(ex, "event_type")


@register(
    "approx_topk_event_types",
    # Exact-regime oracle: k (10) exceeds the column's distinct count
    # (5), so the frequent-items sketch degenerates to exact counts —
    # the same full-capacity trick that makes similarity_ivf_quantized
    # (full probe) and hll linear-counting oracle-checkable.
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    survey_ids=("B21", "B16", "B24"),
    description="approx_top_k heavy hitters (Spark 4 built-in), exact-regime oracle",
)
def approx_topk_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4's built-in ``approx_top_k`` frequent-items aggregate
    (DataSketches frequent-strings under the hood): one pass, bounded
    memory, mergeable partials — the engine-native sibling of the
    from-scratch Count-Min twin (``countmin_heavy_hitters``). Run in
    the exact regime (k > distinct items) so the estimates are
    provably exact and the oracle applies; the approximate regime is
    the same call with high-cardinality keys."""
    ev = t(spark, sf, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# C161 HLL set algebra: overlap estimate via inclusion-exclusion on
# mergeable registers
# ---------------------------------------------------------------------------
def _hll_overlap_oracle() -> str:
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    w_mask = (1 << hll.W_BITS) - 1
    return f"""
    WITH h60 AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h, user_id
      FROM events WHERE event_type IN ('click', 'view')
    ), split AS (
      SELECT event_type, h >> {hll.W_BITS} AS bucket, h & {w_mask} AS w, user_id
      FROM h60
    ), regs AS (
      SELECT event_type, bucket, MAX({hll.rho48_sql('w')}) AS rho
      FROM split GROUP BY 1, 2
    ), regs_u AS (
      SELECT bucket, MAX(rho) AS rho FROM regs GROUP BY 1
    ), per AS (
      SELECT event_type,
             SUM((CAST(1 AS BIGINT) << CAST(49 - rho AS INTEGER))) AS s_present,
             COUNT(*) AS n_present
      FROM regs GROUP BY 1
    ), uni AS (
      SELECT SUM((CAST(1 AS BIGINT) << CAST(49 - rho AS INTEGER))) AS s_present,
             COUNT(*) AS n_present
      FROM regs_u
    ), pivoted AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN s_present END) AS s_click,
        CAST({hll.M_REGISTERS} - MAX(CASE WHEN event_type = 'click' THEN n_present END) AS BIGINT) AS zeros_click,
        MAX(CASE WHEN event_type = 'view' THEN s_present END) AS s_view,
        CAST({hll.M_REGISTERS} - MAX(CASE WHEN event_type = 'view' THEN n_present END) AS BIGINT) AS zeros_view
      FROM per
    ), uni_row AS (
      SELECT s_present AS s_union,
             CAST({hll.M_REGISTERS} - n_present AS BIGINT) AS zeros_union
      FROM uni
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS overlap_exact FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'view'
      )
    )
    SELECT CAST(s_click AS BIGINT) AS s_click, zeros_click,
           CAST(s_view AS BIGINT) AS s_view, zeros_view,
           CAST(s_union AS BIGINT) AS s_union, zeros_union,
           overlap_exact
    FROM pivoted, uni_row, exact
    """


@register(
    "hll_overlap_users",
    oracle=_hll_overlap_oracle(),
    survey_ids=("B21", "B28", "B16"),
    description="HLL set algebra: per-set + MERGED-union register sketches for audience overlap",
)
def hll_overlap_users(spark: SparkSession, sf: str) -> DataFrame:
    """Audience overlap WITHOUT re-scanning raw ids: the mergeable
    ingredients for |A ∩ B| = est(A) + est(B) − est(A ∪ B), where the
    union sketch is the bucket-wise MAX merge of the two groups'
    registers — the set algebra that makes N-way overlap matrices
    affordable at 100 TB (exact pairwise INTERSECT re-shuffles raw
    ids per pair; register merges are 4096-row MAXes).

    Emits, per set (A, B, A∪B): the integer harmonic sum
    ``s_* = Σ 2^(49-rho)`` over PRESENT registers plus the zero-
    register count — the exact sufficient statistics for BOTH
    estimator regimes. The estimate itself is consumer-side on
    purpose, twice over: (1) the hash-contract rule keeps ln() out of
    compared values, and (2) the regime CHOICE is an estimator
    policy, not data — raw alpha*m²*2^49/s for large cardinalities,
    linear counting m*ln(m/zeros) when zeros is high (at this
    fixture's ~150 users the raw form overestimates ~10x, which is
    exactly why the correction exists; tests/test_r9_ops.py asserts
    the corrected inclusion-exclusion lands within tolerance of the
    exact overlap carried alongside).
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    ev = t(spark, sf, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    regs = hll.hll_registers(ev, "user_id", ["event_type"])

    def suff(r, tag):
        return r.agg(
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - rho AS INT))")
            ).cast("bigint").alias(f"s_{tag}"),
            (F.lit(hll.M_REGISTERS) - F.count(F.lit(1)))
            .cast("bigint")
            .alias(f"zeros_{tag}"),
        )

    per_click = suff(regs.filter(F.col("event_type") == "click"), "click")
    per_view = suff(regs.filter(F.col("event_type") == "view"), "view")
    regs_u = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    per_union = suff(regs_u, "union")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    exact = clicks.intersect(views).agg(
        F.count(F.lit(1)).cast("bigint").alias("overlap_exact")
    )
    return (
        per_click.crossJoin(F.broadcast(per_view))
        .crossJoin(F.broadcast(per_union))
        .crossJoin(F.broadcast(exact))
    )
