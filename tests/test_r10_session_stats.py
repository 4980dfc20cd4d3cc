"""Independent-reference checks for the finance and ML-prep statistics.

Parity (Spark == DuckDB) cannot catch a bug SHARED by both sides'
formulations, so each test recomputes the statistic from raw fixture
rows with plain numpy/pandas — a third implementation with no shared
code or SQL shape — and compares.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"


def _events_daily(spark) -> pd.DataFrame:
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        .toPandas()
    )
    ev["day"] = ev["ts"].dt.floor("D")
    return ev.groupby(["event_type", "day"], as_index=False)["value"].sum()


def test_max_drawdown_matches_pandas(spark):
    daily = _events_daily(spark)
    rows = {
        r["event_type"]: r
        for r in all_specs()["max_drawdown_daily"].build(spark, SF).collect()
    }
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        peak = g["value"].cummax()
        dd = peak - g["value"]
        assert abs(rows[et]["max_drawdown"] - dd.max()) < 1e-6, et
        assert rows[et]["n_days"] == len(g)


def test_capm_beta_matches_numpy(spark):
    daily = _events_daily(spark)
    market = daily.groupby("day")["value"].sum()
    rows = {
        r["event_type"]: r
        for r in all_specs()["capm_beta_by_type"].build(spark, SF).collect()
    }
    for et, g in daily.groupby("event_type"):
        g = g.set_index("day").sort_index()
        m = market.loc[g.index].to_numpy()
        y = g["value"].to_numpy()
        beta = np.cov(m, y, ddof=1)[0, 1] / np.var(m, ddof=1)
        assert abs(rows[et]["beta"] - beta) < 1e-4, et


def test_double_ewma_matches_recursive_loop(spark):
    daily = _events_daily(spark)
    rows = {
        r["event_type"]: r
        for r in all_specs()["double_ewma_forecast"].build(spark, SF).collect()
    }
    a = 0.25
    for et, g in daily.groupby("event_type"):
        v = g.sort_values("day")["value"].to_numpy()
        s1 = s2 = v[0]
        for x in v[1:]:
            s1 = a * x + (1 - a) * s1
            s2 = a * s1 + (1 - a) * s2
        assert abs(rows[et]["s1"] - s1) < 1e-5, et
        assert abs(rows[et]["s2"] - s2) < 1e-5, et
        assert abs(
            rows[et]["forecast_next"] - ((2 * s1 - s2) + (s1 - s2) / 3.0)
        ) < 1e-4, et


def test_anova_matches_numpy(spark):
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderpriority", "o_totalprice")
        .toPandas()
    )
    groups = [g["o_totalprice"].to_numpy() for _, g in o.groupby("o_orderpriority")]
    n = sum(len(g) for g in groups)
    k = len(groups)
    mean = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - mean) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    row = all_specs()["anova_oneway_f"].build(spark, SF).collect()[0]
    assert row["k_groups"] == k and row["n_total"] == n
    assert abs(row["f_stat"] - f_ref) / f_ref < 1e-6


def _phi_tail(z: float) -> float:
    # independent formulation: complementary CDF via math.erfc
    return 0.5 * math.erfc(abs(z) / math.sqrt(2.0))


def test_fdr_bh_matches_reference_procedure(spark):
    rows = all_specs()["fdr_bh_segment_tests"].build(spark, SF).collect()
    # recompute z and p from the emitted counts; A&S 26.2.17 is accurate
    # to ~7.5e-8, so compare at 1e-6
    nn = sum(r["n1"] for r in rows)
    xx = sum(r["x1"] for r in rows)
    m = len(rows)
    ref = []
    for r in rows:
        p1 = r["x1"] / r["n1"]
        p2 = (xx - r["x1"]) / (nn - r["n1"])
        pool = xx / nn
        z = (p1 - p2) / math.sqrt(
            pool * (1 - pool) * (1 / r["n1"] + 1 / (nn - r["n1"]))
        )
        assert abs(z - r["z_stat_e6"] / 1e6) < 1e-5, r["n_name"]
        p = 2 * _phi_tail(z)
        assert abs(p - r["p_value_e9"] / 1e9) < 1e-6, r["n_name"]
        ref.append((p, r["n_name"]))
    # BH step-up with q=0.10 on the reference p-values
    ref.sort()
    kstar = 0
    for i, (p, _) in enumerate(ref, start=1):
        if p <= i * 0.10 / m:
            kstar = i
    rejected_ref = {name for p, name in ref[:kstar]}
    rejected_spark = {r["n_name"] for r in rows if r["bh_reject"] == 1}
    assert rejected_spark == rejected_ref


def test_cramers_v_matches_numpy(spark):
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderpriority", "o_orderstatus")
        .toPandas()
    )
    ct = pd.crosstab(o["o_orderpriority"], o["o_orderstatus"]).to_numpy()
    n = ct.sum()
    e = np.outer(ct.sum(1), ct.sum(0)) / n
    chi2 = ((ct - e) ** 2 / e).sum()
    v = math.sqrt(chi2 / (n * (min(ct.shape) - 1)))
    rows = {
        r["pair"]: r
        for r in all_specs()["cramers_v_pairs"].build(spark, SF).collect()
    }
    r = rows["orders:priority~status"]
    # chi2_e6 sums per-cell floors (error <= n_cells/1e6); v_e6 is
    # floor(1e6 * v) so up to 1e-6 quantization on top of float jitter
    assert abs(r["chi2_e6"] / 1e6 - chi2) < 1e-4
    assert abs(r["cramers_v_e6"] / 1e6 - v) < 2e-6


def test_decision_stump_matches_bruteforce(spark):
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_quantity", "l_returnflag")
        .toPandas()
    )
    q = li["l_quantity"].astype(int).to_numpy()
    y = (li["l_returnflag"] == "R").to_numpy().astype(int)
    best = None
    for thr in sorted(set(q))[:-1]:
        lm = q <= thr

        def gini(mask):
            p = y[mask].mean()
            return 2 * p * (1 - p)
        wg = lm.mean() * gini(lm) + (~lm).mean() * gini(~lm)
        if best is None or wg < best[0] - 1e-12:
            best = (wg, thr)
    row = all_specs()["decision_stump_split"].build(spark, SF).collect()[0]
    assert row["threshold"] == best[1]
    assert abs(row["weighted_gini"] - best[0]) < 1e-6


def test_psi_matches_numpy(spark):
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_totalprice", "o_orderdate")
        .toPandas()
    )
    cut = pd.Timestamp("1996-07-01")
    b = np.minimum((o["o_totalprice"] // 50000).astype(int), 9)
    pre = o["o_orderdate"] < cut
    k = b.nunique()
    psi = 0.0
    ne_t, na_t = pre.sum(), (~pre).sum()
    for bucket in sorted(b.unique()):
        ne = ((b == bucket) & pre).sum()
        na = ((b == bucket) & ~pre).sum()
        pe = (ne + 1.0) / (ne_t + k)
        pa = (na + 1.0) / (na_t + k)
        psi += (pa - pe) * math.log(pa / pe)
    row = all_specs()["psi_population_stability"].build(spark, SF).collect()[0]
    assert row["k_buckets"] == k
    assert abs(row["psi_e6"] / 1e6 - psi) < 2e-6


def test_diff_in_diff_matches_pandas(spark):
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey", "l_shipdate", "l_extendedprice")
        .toPandas()
    )
    p = (
        spark.read.parquet(f"{SF}/part.parquet")
        .select("p_partkey", "p_type")
        .toPandas()
    )
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    j["treated"] = j["p_type"].str.startswith("PROMO").astype(int)
    j["post"] = (j["l_shipdate"] >= pd.Timestamp("1997-01-01")).astype(int)
    mm = j.groupby(["treated", "post"])["l_extendedprice"].mean()
    did = (mm[1, 1] - mm[1, 0]) - (mm[0, 1] - mm[0, 0])
    row = all_specs()["diff_in_diff_promo"].build(spark, SF).collect()[0]
    assert abs(row["did_estimate"] - did) < 1e-4


def test_ece_matches_numpy(spark):
    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("n_chars", "lang")
        .toPandas()
    )
    milli = np.minimum(d["n_chars"].to_numpy(), 1000)
    label = (d["lang"] == "en").to_numpy().astype(int)
    bins = np.minimum(milli // 100, 9)
    n = len(d)
    ece = 0.0
    for b in np.unique(bins):
        m = bins == b
        ece += m.mean() * abs(label[m].mean() - (milli[m] / 1000.0).mean())
    row = all_specs()["calibration_ece_bins"].build(spark, SF).collect()[0]
    assert row["n_total"] == n
    assert abs(row["ece"] - ece) < 1e-6


def test_lad_grid_matches_bruteforce(spark):
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_extendedprice", "l_quantity")
        .toPandas()
    )
    y = li["l_extendedprice"].to_numpy()
    x = li["l_quantity"].to_numpy()
    losses = {b: np.abs(y - b * x).sum() for b in range(25, 2001, 25)}
    best = min(losses, key=lambda b: (losses[b], b))
    rows = all_specs()["quantile_regression_grid"].build(spark, SF).collect()
    assert len(rows) == 80
    got = [r for r in rows if r["is_best"] == 1]
    assert len(got) == 1 and got[0]["slope"] == best
    assert abs(got[0]["lad_loss"] - losses[best]) < 1e-3


def test_streaks_match_pandas(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .toPandas()
    )
    ev["day"] = ev["ts"].dt.floor("D")
    best = {}
    for uid, g in ev.groupby("user_id"):
        days = sorted(g["day"].unique())
        run = longest = 1
        for a, b in zip(days, days[1:]):
            run = run + 1 if (b - a) == pd.Timedelta(days=1) else 1
            longest = max(longest, run)
        best[uid] = longest
    rows = all_specs()["longest_daily_streak_users"].build(spark, SF).collect()
    for r in rows:
        assert r["streak_days"] == best[r["user_id"]], r["user_id"]
    # the top row really is the maximum over all users
    assert rows[0]["streak_days"] == max(best.values())


def test_ares_key_matches_hashlib(spark):
    rows = all_specs()["weighted_reservoir_topk"].build(spark, SF).collect()
    for r in rows[:5]:
        h = int(hashlib.sha256(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967297.0
        key = math.log(u) / r["n_chars"]
        # ares_key_e9 = floor(1e9 * key): quantization adds <= 1e-9
        assert abs(r["ares_key_e9"] / 1e9 - key) < 2e-9, r["doc_id"]
