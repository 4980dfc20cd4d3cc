"""Ingestion-layer tests with a stubbed REST transport (SURVEY §5.5):
pagination, resume-from-watermark, 404-skip, validation split,
idempotent dedup, partitioned sink layout, rate budget.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
    REQUIRED_FIELDS,
    flatten_repos,
    incremental_extract,
    latest_snapshot,
    validation_split,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    RateLimiter,
    RestSourceConfig,
    enrich_details,
    list_scan_df,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import partitioned_append
from ag_data_ingestion_github_to_snowflake_spark.sources.state import (
    FileWatermark,
    MemoryWatermark,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

CFG = RestSourceConfig(per_page=50, max_requests_per_run=1000, detail_partitions=4)


def test_list_scan_pagination_and_watermark(spark):
    tr = StubTransport(n_repos=120)
    df, wm = list_scan_df(spark, tr, since=0, config=CFG, max_pages=2)
    assert df.count() == 100  # 2 pages x 50
    assert wm == 100
    # resume: next scan starts after the watermark
    df2, wm2 = list_scan_df(spark, tr, since=wm, config=CFG, max_pages=2)
    ids = [r.id for r in df2.select("id").orderBy("id").collect()]
    assert ids[0] == 101 and wm2 == 120


def test_stub_list_pages_near_the_end_of_the_universe():
    """Each list page is the next ``per_page`` ids past ``since``, cut at
    ``n_repos``: full pages, the short last page and the empty page
    past the end."""
    n = 250
    tr = StubTransport(n_repos=n)
    for per_page in (1, 7, 100):
        for since in (0, 1, n - per_page - 1, n - per_page, n - per_page + 1, n - 1, n, n + 5):
            status, page = tr("/repositories", {"since": since, "per_page": per_page})
            expected = [i for i in range(since + 1, n + 1)][:per_page]
            assert status == 200
            assert [r["id"] for r in page] == expected, (since, per_page)


def test_budget_limit_truncates(spark):
    tr = StubTransport(n_repos=120)
    cfg = RestSourceConfig(per_page=50, max_requests_per_run=11, detail_partitions=2)
    df, wm = list_scan_df(spark, tr, since=0, config=cfg, max_pages=1)
    assert df.count() == 10  # budget-1 detail slots (reference :630,:662)
    assert wm == 10  # watermark only advances over fetched rows


def test_exhausted_budget_never_advances_watermark(spark):
    """Regression: a budget that truncates the batch to empty must not
    move the watermark past unprocessed rows (rows would be skipped
    forever otherwise)."""
    tr = StubTransport(n_repos=120)
    cfg = RestSourceConfig(per_page=50, max_requests_per_run=1, detail_partitions=2)
    df, wm = list_scan_df(spark, tr, since=7, config=cfg, max_pages=1)
    assert df.count() == 0
    assert wm == 7  # unchanged


def test_enrichment_skips_404_and_flattens(spark):
    tr = StubTransport(n_repos=60)
    df, _ = list_scan_df(spark, tr, since=0, config=CFG, max_pages=2)
    raw = enrich_details(df, tr, CFG)
    flat = flatten_repos(raw)
    rows = {r.id: r for r in flat.collect()}
    assert 19 not in rows and 38 not in rows and 57 not in rows  # 404s skipped
    assert len(rows) == 57
    r2 = rows[2]
    assert r2.owner_type == "Organization"
    assert r2.owner_login == "owner2"
    assert r2.created_at.year == 2020  # ISO-8601 'Z' parsed
    assert set(flat.columns) == set(REQUIRED_FIELDS)


def test_validation_split_counts(spark):
    tr = StubTransport(n_repos=100)
    df, _ = list_scan_df(spark, tr, since=0, config=CFG, max_pages=2)
    flat = flatten_repos(enrich_details(df, tr, CFG))
    valid, invalid = validation_split(flat)
    fetched = [i for i in range(1, 101) if i % 19 != 0]
    bad = [i for i in fetched if i % 13 == 0 or i % 17 == 0]
    assert invalid.count() == len(bad)
    assert valid.count() == len(fetched) - len(bad)
    miss = {r.id: r.missing_fields for r in invalid.collect()}
    assert miss[13] == ["description"]
    assert miss[17] == ["language"]


def test_latest_snapshot_idempotent(spark):
    tr = StubTransport(n_repos=30)
    df, _ = list_scan_df(spark, tr, since=0, config=CFG)
    flat = flatten_repos(enrich_details(df, tr, CFG))
    doubled = flat.unionByName(flat)  # at-least-once refetch
    deduped = latest_snapshot(doubled)
    assert deduped.count() == flat.count()
    assert deduped.select("id").distinct().count() == deduped.count()


def test_incremental_extract_end_to_end_with_resume(spark, tmp_path):
    tr = StubTransport(n_repos=80)
    state = FileWatermark(str(tmp_path / "wm.txt"))
    cfg = RestSourceConfig(per_page=40, max_requests_per_run=1000, detail_partitions=2)

    r1 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r1.new_watermark == 40
    assert state.get() == 40
    m = r1.metrics()
    assert m["total_processed"] == r1.valid.count() + r1.invalid.count()
    assert m["start_repo_id"] >= 1 and m["last_repo_id"] <= 40

    r2 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r2.new_watermark == 80
    ids2 = {r.id for r in r2.valid.select("id").collect()}
    assert min(ids2) > 40  # resumed past the watermark


def test_partitioned_sink_layout(spark, tmp_path):
    tr = StubTransport(n_repos=40)
    df, _ = list_scan_df(spark, tr, since=0, config=CFG)
    flat = flatten_repos(enrich_details(df, tr, CFG))
    out = str(tmp_path / "sink")
    partitioned_append(flat, out, ts_col="updated_at")
    years = [d for d in os.listdir(out) if d.startswith("year=")]
    assert years == ["year=2024"]
    months = os.listdir(os.path.join(out, "year=2024"))
    assert all(m.startswith("month=") for m in months)
    back = spark.read.parquet(out)
    assert back.count() == flat.count()
    # partition pruning applies: day filter reads a subset
    one_day = back.filter((F.col("month") == "06") & (F.col("day") == "02"))
    assert 0 < one_day.count() < flat.count()


def test_rate_limiter_budget(spark):
    tr = StubTransport(n_repos=50)
    rl = RateLimiter(budget=5)
    wrapped = rl.wrap(tr)
    for _ in range(5):
        status, _ = wrapped("/repositories", {"since": 0, "per_page": 1})
        assert status == 200
    status, payload = wrapped("/repositories", {"since": 0, "per_page": 1})
    assert status == 403 and payload is None
    assert rl.warnings  # low-budget warning fired (<5 remaining)


def test_memory_watermark_roundtrip():
    wm = MemoryWatermark()
    assert wm.get() == 0
    wm.set(42)
    assert wm.get() == 42


def test_incremental_extract_resume_from_remote_kv_state(spark):
    """A4/A8 remote backend: the same resume protocol through an
    injected KV client (S3/DynamoDB-shaped get/put on a string key)."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.state import KVWatermark

    class FakeKVClient:
        def __init__(self):
            self.items: dict[str, str] = {}
            self.puts = 0

        def get(self, key):
            return self.items.get(key)

        def put(self, key, value):
            assert isinstance(value, str)  # remote stores are string-typed
            self.puts += 1
            self.items[key] = value

    client = FakeKVClient()
    state = KVWatermark(client, key="github/last_repo_id")
    assert state.get() == 0  # missing key -> default

    tr = StubTransport(n_repos=80)
    cfg = RestSourceConfig(per_page=40, max_requests_per_run=1000, detail_partitions=2)

    r1 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r1.new_watermark == 40
    assert client.items["github/last_repo_id"] == "40" and client.puts == 1

    r2 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r2.new_watermark == 80
    ids2 = {r.id for r in r2.valid.select("id").collect()}
    assert min(ids2) > 40  # resumed past the remote watermark

    client.items["github/last_repo_id"] = "not-a-number"
    assert state.get() == 0  # corrupt remote value -> default


def test_merge_into_warehouse_idempotent_reload(spark, tmp_path):
    """A9: re-loading the same batch is a no-op; a newer version of a
    key replaces the stored row; duplicate keys within a batch collapse
    to the highest version."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import (
        merge_into_warehouse,
    )

    wh = str(tmp_path / "warehouse" / "repos")
    batch1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (2, "b-dup", 11), (3, "c", 10)],
        "id long, name string, v long",
    )
    out1 = merge_into_warehouse(spark, batch1, wh, key="id", version_col="v")
    assert out1.count() == 3
    assert out1.filter("id = 2").collect()[0].name == "b-dup"  # in-batch dedup

    out2 = merge_into_warehouse(spark, batch1, wh, key="id", version_col="v")
    assert out2.count() == 3  # idempotent re-load

    batch2 = spark.createDataFrame(
        [(2, "b-new", 12), (4, "d", 12)], "id long, name string, v long"
    )
    out3 = merge_into_warehouse(spark, batch2, wh, key="id", version_col="v")
    assert out3.count() == 4
    assert out3.filter("id = 2").collect()[0].name == "b-new"  # key replaced
    assert out3.filter("id = 1").collect()[0].name == "a"  # untouched survives


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import compact_table

    path = str(tmp_path / "events_tbl")
    # simulate a micro-batch small-file factory: 8 tiny appends, each
    # fanned over several shuffle partitions
    base = spark.range(0, 800).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    for i in range(8):
        base.filter(F.col("id") % 8 == i).repartition(4).write.mode("append").parquet(path)
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before >= 32

    checksum_before = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]

    n_files = compact_table(spark, path, target_records_per_file=500, sort_cols=["id"])
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_files == after == 2  # 800 rows / 500 per file
    checksum_after = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]
    assert checksum_before == checksum_after
    # sorted rewrite: each file's id range is tight (disjoint min/max),
    # the property row-group skipping relies on
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, f), columns=["id"])
            ids = t.column("id").to_pylist()
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint => min/max stats actually skip


def test_load_evolving_table_unions_schemas(spark, tmp_path):
    from ag_data_ingestion_github_to_snowflake_spark.catalog import load_evolving_table

    path = str(tmp_path / "evolving")
    # batch 1: original schema; batch 2: pipeline gained a column
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(3, "c", "en")], "id bigint, name string, lang string"
    ).write.mode("append").parquet(path)

    df = load_evolving_table(spark, path)
    assert set(df.columns) == {"id", "name", "lang"}
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows[3] == "en" and rows[1] is None and rows[2] is None
    # strict mode: single-footer schema, no merge cost (column set then
    # depends on which footer Spark samples — only assert it reads)
    assert load_evolving_table(spark, path, strict=True).count() == 3


def test_compact_partitions_scoped_and_atomic(spark, tmp_path):
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import (
        compact_partitions,
        partitioned_append,
    )

    path = str(tmp_path / "part_tbl")
    base = spark.range(0, 600).select(
        F.col("id"),
        F.to_timestamp(
            F.concat(F.lit("2024-06-0"), (F.col("id") % 3 + 1).cast("string"), F.lit(" 12:00:00"))
        ).alias("updated_at"),
        (F.col("id") * 3).alias("v"),
    )
    # 5 fragmented appends -> every day partition holds many small files
    for i in range(5):
        partitioned_append(base.filter(F.col("id") % 5 == i), path, ts_col="updated_at")

    def leaf_files(rel):
        d = os.path.join(path, rel)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    day1, day2 = "year=2024/month=06/day=01", "year=2024/month=06/day=02"
    assert leaf_files(day1) >= 5 and leaf_files(day2) >= 5
    before_other = leaf_files(day2)
    checksum_before = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]

    out = compact_partitions(spark, path, only_prefix=day1, sort_cols=["id"])
    assert list(out) == [day1] and out[day1] == 1  # 200 rows -> one file
    assert leaf_files(day1) == 1
    assert leaf_files(day2) == before_other  # out-of-scope partition untouched

    checksum_after = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v")
    ).collect()[0]
    assert checksum_before == checksum_after
    # partition pruning still works on the compacted layout
    pruned = spark.read.parquet(path).filter("year = '2024' AND day = '01'")
    assert pruned.count() == 200


def test_morton_code_matches_python_reference(spark):
    from ag_data_ingestion_github_to_snowflake_spark.functions.zorder import morton_code

    def py_morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]],
        "a long, b long",
    )
    got = df.select("a", "b", morton_code(F.col("a"), F.col("b")).alias("m")).collect()
    for r in got:
        assert r.m == py_morton(r.a, r.b), (r.a, r.b)


def test_compact_table_zorder_bounds_both_columns(spark, tmp_path):
    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import compact_table

    path = str(tmp_path / "grid_tbl")
    # 64x64 grid, written in row-major order: a-sorted files would span
    # the full b range.
    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    grid.repartition(8).write.mode("overwrite").parquet(path)

    n_files = compact_table(spark, path, target_records_per_file=1024, zorder_cols=("a", "b"))
    assert n_files == 4  # 4096 rows / 1024

    import pyarrow.parquet as pq

    # Data-skipping quality metric: sum of per-file bounding-box AREAS
    # in (a, b). Naive/unsorted layout: every file spans the whole
    # 63x63 grid. A single-column sort makes one dimension tight but
    # leaves the other at 63. Z-order bounds BOTH (files are roughly
    # quadrants; a range cut that straddles a quadrant boundary can
    # widen one file, so the guarantee is on the total, not per file).
    total_area = 0
    naive_area = 0
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        a_lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        a_hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        b_lo = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        b_hi = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        total_area += (a_hi - a_lo) * (b_hi - b_lo)
        naive_area += 63 * 63
    assert total_area <= naive_area * 0.5, (total_area, naive_area)

    total = spark.read.parquet(path).count()
    assert total == 4096


def test_observed_run_metrics_single_pass(spark, tmp_path):
    """Observation counters ride the one action — a write of the valid
    split, as the CLI does — and still count every row."""
    from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
        observed_run_metrics,
    )
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
        RAW_DETAIL_SCHEMA,
    )
    from tests.test_operators import raw_repo

    rows = [raw_repo(i) for i in range(1, 6)]
    rows[2]["description"] = None  # one invalid row
    flat = flatten_repos(spark.createDataFrame(rows, RAW_DETAIL_SCHEMA))

    observed, obs = observed_run_metrics(flat)
    valid, _ = validation_split(observed)
    valid.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the one action
    got = obs.get
    assert got["total_processed"] == 5
    assert got["valid_count"] == 4
    assert got["invalid_count"] == 1
    assert got["start_repo_id"] == 1 and got["last_repo_id"] == 5


def test_incremental_extract_resume_from_env_state(spark):
    """A4/A8 env backend (reference env-var watermark, src/
    extract_github_data.py:176-183,251-258): resume through an
    injected environ mapping — completes the file/env/KV matrix."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.state import EnvWatermark

    env: dict[str, str] = {}
    state = EnvWatermark(var="LAST_REPO_ID", environ=env)
    assert state.get() == 0  # unset var -> default

    tr = StubTransport(n_repos=80)
    cfg = RestSourceConfig(per_page=40, max_requests_per_run=1000, detail_partitions=2)

    r1 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r1.new_watermark == 40
    assert env["LAST_REPO_ID"] == "40"  # exported as a string

    r2 = incremental_extract(spark, tr, state, cfg, max_pages=1)
    assert r2.new_watermark == 80
    ids2 = {r.id for r in r2.valid.select("id").collect()}
    assert min(ids2) > 40  # resumed past the env watermark

    env["LAST_REPO_ID"] = "not-a-number"
    assert state.get() == 0  # corrupt value -> default
