"""Semantics tests for operator rules, on inputs small enough to
verify by hand or against a naive twin: CDC last-writer rules, spatial
blocking completeness, OHLC vs the window form, HLL-overlap accuracy,
attribution credit conservation, AUC extremes.
(Oracle parity pins fixture-level equality; these pin the RULES.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def test_cdc_last_writer_wins_and_delete_drops(spark):
    log = spark.createDataFrame(
        [
            (1, 1, "I", 10.0),
            (1, 2, "U", 11.0),   # later update wins
            (2, 1, "I", 20.0),
            (2, 2, "D", None),   # delete drops the key
            (3, 1, "I", 30.0),   # untouched insert survives
            (4, 1, "D", None),
            (4, 2, "I", 40.0),   # re-insert AFTER delete survives
        ],
        "key long, seq int, op string, amount double",
    )
    final = (
        log.groupBy("key")
        .agg(
            F.max_by("op", "seq").alias("op"),
            F.max_by("amount", "seq").alias("amount"),
        )
        .filter(F.col("op") != "D")
    )
    got = {r["key"]: r["amount"] for r in final.collect()}
    assert got == {1: 11.0, 3: 30.0, 4: 40.0}


def test_spatial_grid_blocking_equals_all_pairs(spark):
    """The 9-cell neighborhood must find EVERY pair within r (cell
    size = r guarantees it); verify against the naive cross join on a
    point set straddling cell boundaries."""
    pts = [(i, (i * 37) % 500, (i * 91) % 500) for i in range(120)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    r = 100
    cells = df.withColumn("cx", (F.col("x") / r).cast("long")).withColumn(
        "cy", (F.col("y") / r).cast("long")
    )
    offs = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    a = cells.select(
        F.col("id").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        offs.alias("o"), "cx", "cy",
    ).select(
        "ia", "xa", "ya",
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        (F.col("cy") + F.col("o.dy")).alias("jy"),
    )
    b = cells.select(
        F.col("id").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("cx").alias("jx"), F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    blocked = {
        (r_["ia"], r_["ib"])
        for r_ in a.join(b, ["jx", "jy"])
        .filter(F.col("ia") < F.col("ib"))
        .filter(d2 <= r * r)
        .collect()
    }
    aa = df.select(
        F.col("id").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    bb = df.select(
        F.col("id").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    naive = {
        (r_["ia"], r_["ib"])
        for r_ in aa.crossJoin(bb)
        .filter(F.col("ia") < F.col("ib"))
        .filter(d2 <= r * r)
        .collect()
    }
    assert blocked == naive and len(naive) > 0


def test_ohlc_aggregate_equals_window_form(spark):
    rows = [
        (1, "2024-01-01 09:00:00", 5.0),
        (2, "2024-01-01 12:00:00", 9.0),
        (3, "2024-01-01 16:00:00", 2.0),
        (4, "2024-01-02 10:00:00", 7.0),
    ]
    ev = spark.createDataFrame(rows, "id long, ts_s string, value double").select(
        F.to_timestamp("ts_s").alias("ts"), "value"
    )
    got = {
        str(r["day"])[:10]: (r["open"], r["high"], r["low"], r["close"])
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
        )
        .collect()
    }
    assert got["2024-01-01"] == (5.0, 9.0, 2.0, 2.0)
    assert got["2024-01-02"] == (7.0, 7.0, 7.0, 7.0)


def test_hll_overlap_estimate_close_to_exact(spark):
    """Consumer-side inclusion-exclusion on the emitted sufficient
    statistics must land near the true overlap — using the regime-
    appropriate estimator per set (linear counting when zero
    registers dominate, raw harmonic otherwise)."""
    import math

    from ag_data_ingestion_github_to_snowflake_spark.operators import hll

    a = spark.range(0, 600).select(F.lit("a").alias("g"), F.col("id"))
    b = spark.range(300, 1000).select(F.lit("b").alias("g"), F.col("id"))
    both = a.unionByName(b)
    regs = hll.hll_registers(both, "id", ["g"])

    def suff(r):
        row = r.agg(
            F.sum(F.pow(F.lit(2.0), F.lit(49) - F.col("rho")).cast("long")).alias("s"),
            (F.lit(hll.M_REGISTERS) - F.count(F.lit(1))).alias("z"),
        ).collect()[0]
        return row["s"], row["z"]

    def estimate(s, z):
        m = hll.M_REGISTERS
        raw = hll.EST_NUMERATOR / (s + z * (1 << (hll.W_BITS + 1)))
        if raw <= 2.5 * m and z > 0:  # the published linear-counting switch
            return m * math.log(m / z)
        return raw

    ests = {}
    ests["a"] = estimate(*suff(regs.filter(F.col("g") == "a")))
    ests["b"] = estimate(*suff(regs.filter(F.col("g") == "b")))
    regs_u = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    ests["u"] = estimate(*suff(regs_u))
    assert ests["a"] == pytest.approx(600, rel=0.1)
    assert ests["b"] == pytest.approx(700, rel=0.1)
    overlap = ests["a"] + ests["b"] - ests["u"]
    assert overlap == pytest.approx(300, rel=0.25)


def test_multi_touch_credit_conserves_value(spark):
    """Split credits must sum back to total purchase value exactly
    (decimal accumulators), whatever the touch multiplicity."""
    rows = [
        # user 1: purchase 100 with 2 touches -> 50/50
        (1, "purchase", "2024-01-05 12:00:00", 100.0),
        (1, "click", "2024-01-04 12:00:00", 0.0),
        (1, "view", "2024-01-05 11:00:00", 0.0),
        # user 2: purchase 80 with no touches -> direct
        (2, "purchase", "2024-01-05 12:00:00", 80.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_s string, value double"
    ).select("user_id", "event_type", F.to_timestamp("ts_s").alias("ts"), "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.monotonically_increasing_id().alias("pid"), "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("tts"), F.col("event_type").alias("channel")
    )
    pairs = purchases.join(touches, "user_id").filter(
        (F.col("tts") <= F.col("ts"))
        & (F.col("tts") >= F.col("ts") - F.expr("INTERVAL 3 DAYS"))
    )
    w_p = Window.partitionBy("pid")
    credited = pairs.select(
        "pid",
        "channel",
        (F.col("value") / F.count(F.lit(1)).over(w_p))
        .cast("decimal(18,6)")
        .alias("credit"),
    )
    direct = purchases.join(credited.select("pid").distinct(), "pid", "left_anti").select(
        "pid", F.lit("direct").alias("channel"),
        F.col("value").cast("decimal(18,6)").alias("credit"),
    )
    out = {
        r["channel"]: float(r["rev"])
        for r in credited.unionByName(direct)
        .groupBy("channel")
        .agg(F.sum("credit").alias("rev"))
        .collect()
    }
    assert out == {"click": 50.0, "view": 50.0, "direct": 80.0}
    assert sum(out.values()) == 180.0  # conservation


def test_auc_rank_identity_extremes(spark):
    """Fully separated scores -> AUC 1.0; fully tied -> 0.5 (midrank
    convention)."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.core_relational import (
        _two_level_value_cum,
    )

    def auc(rows):
        vals = spark.createDataFrame(
            rows, "value double, n_a long, n_b long, n long"
        )
        cum = _two_level_value_cum(vals, width=1.0)
        s = cum.select(
            "n_a", "n_b",
            ((F.col("cum_n") - F.col("n")) + (F.col("n") + F.lit(1)) / F.lit(2.0)).alias("mr"),
        ).agg(
            F.sum("n_a").alias("np"), F.sum("n_b").alias("nn"),
            F.sum(F.col("n_a") * F.col("mr")).alias("rp"),
        ).collect()[0]
        return (s["rp"] - s["np"] * (s["np"] + 1) / 2.0) / (s["np"] * s["nn"])

    # positives all score higher than negatives
    sep = [(1.0, 0, 3, 3), (2.0, 3, 0, 3)]
    assert auc(sep) == 1.0
    # everything tied at one score
    tied = [(1.0, 4, 6, 10)]
    assert auc(tied) == 0.5


def test_asof_join_rejects_reserved_column_names(spark):
    """The as-of union plan owns _ts/_side/_payload/_matched and the
    in-payload _rts; inputs carrying them must be rejected up front
    (a silent collision yields ambiguous getField results)."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k long, ts_s string"
    ).select("k", F.to_timestamp("ts_s").alias("ts"))
    right_bad = left.withColumn("_rts", F.lit(1))
    with pytest.raises(ValueError, match="reserves column names"):
        asof_join(left, right_bad, on="k")
    left_bad = left.withColumn("_side", F.lit(1))
    with pytest.raises(ValueError, match="reserves column names"):
        asof_join(left_bad, left, on="k")
    # clean inputs still work
    out = asof_join(left, left.withColumn("v", F.lit(7.0)), on="k",
                    right_cols=["v"])
    assert out.collect()[0]["v"] == 7.0


def test_parquet_bloom_write_option_is_honored(spark, tmp_path):
    """The bloom-filter write options must actually land in the file:
    a bloom for ndv=100k adds ~130 KB per row group, so the with-bloom
    file must be measurably larger than the without-bloom twin.
    (Neither pyarrow nor DuckDB exposes the bloom offsets on this
    build, so the size delta is the observable.)"""
    import glob
    import os

    df = spark.range(100_000).selectExpr("id AS user_id", "id % 7 AS v").coalesce(1)
    plain = str(tmp_path / "plain")
    bloom = str(tmp_path / "bloom")
    df.write.mode("overwrite").parquet(plain)
    (
        df.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
        .parquet(bloom)
    )
    size = lambda d: sum(  # noqa: E731
        os.path.getsize(p) for p in glob.glob(d + "/part-*.parquet")
    )
    assert size(bloom) > size(plain) + 50_000


def test_two_level_lead_equals_naive_lead(spark):
    """C179's claim: in-bucket LEAD + next-bucket-first carry must
    reproduce the naive per-day LEAD pairing exactly — including
    single-row buckets, empty buckets (hour gaps), and day ends."""
    rows = []
    # staggered events: some hours dense, some empty, some single-row
    for d in (1, 2):
        for h, mins in [(0, [5, 20]), (3, [1]), (7, [2, 30, 59]), (23, [59])]:
            for m in mins:
                rows.append((f"2024-01-0{d} {h:02d}:{m:02d}:00", float(h * 60 + m)))
    ev = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.to_timestamp("ts_s").alias("ts"), "value",
        F.monotonically_increasing_id().alias("event_id"),
    ).select(F.to_date("ts").alias("day"), "ts", "event_id", "value")

    w_naive = Window.partitionBy("day").orderBy("ts", "event_id")
    naive = {
        (str(r["day"]), str(r["ts"])): str(r["nxt"])
        for r in ev.withColumn("nxt", F.lead("ts").over(w_naive)).collect()
    }

    b = ev.withColumn("bkt", F.hour("ts"))
    w_in = Window.partitionBy("day", "bkt").orderBy("ts", "event_id")
    firsts = b.groupBy("day", "bkt").agg(
        F.min(F.struct("ts", "event_id")).alias("f")
    )
    w_bkts = Window.partitionBy("day").orderBy("bkt")
    nxt = firsts.select(
        "day", "bkt", F.lead(F.col("f.ts")).over(w_bkts).alias("nb_ts")
    )
    two_level = {
        (str(r["day"]), str(r["ts"])): str(r["end_ts"])
        for r in b.withColumn("lead_ts", F.lead("ts").over(w_in))
        .join(nxt, ["day", "bkt"])
        .withColumn("end_ts", F.coalesce(F.col("lead_ts"), F.col("nb_ts")))
        .collect()
    }
    assert two_level == naive
