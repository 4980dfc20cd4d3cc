"""applyInPandasWithState: running per-user totals accumulate across
micro-batches and the final state matches the batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.catalog import load_table
from ag_data_ingestion_github_to_snowflake_spark.streaming.stateful import (
    running_user_totals,
)
from tests.conftest import stream_events_from_parquet

SF = "/root/testdata/sf0.001"


def test_running_totals_match_batch_aggregate(spark, tmp_path):
    # Small sample + few state partitions: per-partition state stores
    # plus Arrow round-trips per micro-batch are heavy on local mode,
    # and the semantics under test don't need volume.
    ev = load_table(spark, SF, "events").filter(F.col("user_id") < 40)
    src = str(tmp_path / "src")
    ev.repartition(2).write.mode("overwrite").parquet(src)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        sdf = stream_events_from_parquet(spark, src, ev.schema, max_files_per_trigger=1)
        out = running_user_totals(sdf.select("user_id", "value"))
        q = (
            out.writeStream.outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .format("memory")
            .queryName("running1")
            .start()
        )
        assert q.awaitTermination(240)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # update mode emits one row per user per batch it appeared in; the
    # LAST emission per user must equal the batch aggregate.
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM running1
        ) WHERE rn = 1
        """
    )
    expected = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    g = {r.user_id: (r.n_events, r.total_value) for r in got.collect()}
    e = {r.user_id: (r.n_events, r.total_value) for r in expected.collect()}
    assert set(g) == set(e)
    for uid in e:
        assert g[uid][0] == e[uid][0]
        assert abs(g[uid][1] - e[uid][1]) < 1e-4  # float accumulation order differs


def test_funnel_cep_kernel_semantics():
    """Drive the CEP kernel directly with a fake GroupState: pins the
    plain-Python group interior bit-for-bit on the semantics the
    pandas version defined — (ts, stage-rank, event_id) ordering with
    same-instant view->click->purchase matching inclusively, non-funnel
    noise dropped before ranking, cross-batch state carry, the
    window_us bound, and first-match-only emission."""
    import pandas as pd

    from ag_data_ingestion_github_to_snowflake_spark.streaming.stateful import (
        make_funnel_cep_kernel,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

    def batch(rows):
        return pd.DataFrame(rows, columns=["ts_us", "event_type", "event_id"])

    kernel = make_funnel_cep_kernel(window_us=100)

    # Same-instant chain: view, click, purchase all at ts=10, delivered
    # out of order + noise — stage rank must order them inclusively.
    st = FakeState()
    out = list(
        kernel(
            (1,),
            iter([batch([(10, "purchase", 3), (10, "signup", 9),
                         (10, "click", 2), (10, "view", 1)])]),
            st,
        )
    )
    assert len(out) == 1 and out[0].values.tolist() == [[1, 10, 10, 10]]
    assert st.get == (10, 10, 10, 1)

    # Cross-batch carry: view+click in batch 1, purchase in batch 2;
    # then a second purchase must NOT emit (first-match-only).
    st = FakeState()
    assert not list(kernel((2,), iter([batch([(5, "view", 1), (7, "click", 2)])]), st))
    out = list(kernel((2,), iter([batch([(50, "purchase", 3), (60, "purchase", 4)])]), st))
    assert out[0].values.tolist() == [[2, 5, 7, 50]]

    # Window bound: view at 0, click at 1, purchase at 200 > window 100
    # from the click's view -> no match, state keeps tracking.
    st = FakeState()
    assert not list(
        kernel((3,), iter([batch([(0, "view", 1), (1, "click", 2),
                                  (200, "purchase", 3)])]), st)
    )
    assert st.get == (0, 1, 0, 0)


def test_funnel_cep_kernel_null_event_id():
    """A null event_id — NaN once Arrow hands a nullable BIGINT to
    pandas, or None in an object column — must not crash the kernel,
    and the chain still matches."""
    import pandas as pd

    from ag_data_ingestion_github_to_snowflake_spark.streaming.stateful import (
        make_funnel_cep_kernel,
    )

    class State:
        hasTimedOut = False
        exists = False

        def update(self, v):
            self.value = v

    kernel = make_funnel_cep_kernel(window_us=100)
    for event_ids in ([1.0, float("nan"), 3.0], pd.Series([1, None, 3], dtype=object)):
        pdf = pd.DataFrame(
            {"ts_us": [10, 20, 30], "event_type": ["view", "click", "purchase"], "event_id": event_ids}
        )
        st = State()
        out = list(kernel((1,), iter([pdf]), st))
        assert out[0].values.tolist() == [[1, 10, 20, 30]]
        assert st.value == (10, 20, 10, 1)
