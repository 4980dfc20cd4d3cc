"""Slowly-changing-dimension (Type 2) history construction.

The history-keeping sibling of dedupe-to-latest
(``plans/curation_queries.py:argmax_order_per_segment``; reference:
README.md:285-291 loads dimensions into Snowflake; SCD2 is the
standard way a warehouse keeps their history): given a CHANGE LOG
of attribute observations per key, produce versioned dimension rows
with ``valid_from`` / ``valid_to`` / ``is_current``.

Algorithm (pure window algebra — no iteration, no driver loops):

1. order each key's observations by (ts, tiebreak);
2. drop CONSECUTIVE duplicates — an observation that repeats the
   previous attribute tuple opens no new version (lag comparison);
3. each surviving row opens a version at its ts; the version closes at
   the NEXT surviving row's ts (lead), open-ended (NULL) for the last
   → that row is ``is_current``.

Scale shape: ONE shuffle on the key and two within-partition sorts
over the same (key, ts, tiebreak) order (the lag pass and the lead
pass — AQE reuses the exchange). No self-join, no blowup: output rows
<= input rows. At 100 TB the change log is the natural CDC stream and
this is a single sort-based pass per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_from_changes(
    changes: DataFrame,
    key: str,
    time_col: str,
    attr_cols: list[str],
    tiebreak: str | Column | None = None,
) -> DataFrame:
    """Build SCD2 rows (key, attrs, valid_from, valid_to, is_current)
    from an observation log.

    ``tiebreak`` orders same-instant observations deterministically
    (e.g. a source sequence number); when two same-instant observations
    disagree, the LAST in tiebreak order wins the instant (the earlier
    one opens a zero-length version that the consumer may filter).
    """
    order = [F.col(time_col).asc()]
    if tiebreak is not None:
        order.append(
            F.col(tiebreak).asc() if isinstance(tiebreak, str) else tiebreak
        )
    w = Window.partitionBy(key).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    # Null-safe comparison: an attribute legitimately NULL must still
    # compare (plain struct != returns NULL and would drop the row).
    marked = changes.withColumn("_prev", F.lag(attrs).over(w)).filter(
        ~F.col("_prev").eqNullSafe(attrs)
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        marked.withColumn("valid_from", F.col(time_col))
        .withColumn("valid_to", F.lead(time_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("_prev")
    )
