"""portable_math: cross-engine bit-identity and accuracy.

The module's whole contract is "same double bit pattern in Spark SQL
and DuckDB, close enough to libm that 1e-6-quantized contracts can't
tell the difference". Both halves are asserted here: exact byte
equality engine-to-engine over a hostile grid (subnormal-adjacent,
near-1, huge), and absolute/relative error vs CPython's libm.
"""

from __future__ import annotations

import math
import struct

import duckdb
import pytest

from ag_data_ingestion_github_to_snowflake_spark.operators.portable_math import (
    portable_exp_sql,
    portable_ln_sql,
    portable_log10_sql,
)

LN_GRID = [
    1e-300, 4.9e-324 * 1e8, 5e-20, 1e-9, 1 / 3, 0.1, 0.5,
    0.999999999, 1.0, 1.000000001, 1.5, 2.0, math.e, 10.0,
    12345.6789, 1e6, 1e18, 1.7976931348623157e308 / 1e8,
]
EXP_GRID = [-700.0, -88.7, -30.5, -1.0, -1e-9, 0.0, 1e-9, 0.5, 1.0,
            2.5, 30.7, 88.7, 700.0]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _spark_eval(spark, sql: str) -> float:
    return spark.sql(f"SELECT {sql} AS r").collect()[0].r


def test_ln_bit_identical_and_accurate(spark, con):
    for v in LN_GRID:
        s = _spark_eval(spark, portable_ln_sql(repr(v), "spark"))
        d = con.execute(
            f"SELECT {portable_ln_sql(repr(v), 'duckdb')} AS r"
        ).fetchone()[0]
        assert _bits(s) == _bits(d), (v, s, d)
        assert abs(s - math.log(v)) < 1e-11, (v, s, math.log(v))


def test_exp_bit_identical_and_accurate(spark, con):
    for v in EXP_GRID:
        s = _spark_eval(spark, portable_exp_sql(repr(v), "spark"))
        d = con.execute(
            f"SELECT {portable_exp_sql(repr(v), 'duckdb')} AS r"
        ).fetchone()[0]
        assert _bits(s) == _bits(d), (v, s, d)
        ref = math.exp(v)
        tol = max(abs(ref) * 1e-11, 5e-312)
        assert abs(s - ref) <= tol, (v, s, ref)


def test_log10_bit_identical_and_accurate(spark, con):
    for v in (0.001, 1.0, 2.0, 1000.0, 123456.789):
        s = _spark_eval(spark, portable_log10_sql(repr(v), "spark"))
        d = con.execute(
            f"SELECT {portable_log10_sql(repr(v), 'duckdb')} AS r"
        ).fetchone()[0]
        assert _bits(s) == _bits(d)
        assert abs(s - math.log10(v)) < 1e-11


def test_column_args_not_just_literals(spark, con):
    """The emitted SQL must work with column references as args —
    that's how the query plans consume it."""
    expr_s = portable_ln_sql("CAST(x AS DOUBLE)/CAST(y AS DOUBLE)", "spark")
    expr_d = portable_ln_sql("CAST(x AS DOUBLE)/CAST(y AS DOUBLE)", "duckdb")
    rows_s = spark.sql(
        f"SELECT {expr_s} AS r FROM VALUES (3, 7), (123, 456) AS t(x, y)"
    ).collect()
    rows_d = con.execute(
        f"SELECT {expr_d} AS r FROM (VALUES (3, 7), (123, 456)) t(x, y)"
    ).fetchall()
    for (s,), (d,) in zip([(r.r,) for r in rows_s], rows_d):
        assert _bits(s) == _bits(d)


def test_nested_pow_no_variable_capture(spark):
    """pow nests exp(b*ln(a)) — prefixed lambda vars must not collide when
    portable calls nest in one expression."""
    ln2 = portable_ln_sql("2.0", "spark", prefix="al")
    inner = portable_exp_sql(f"(3.0 * {ln2})", "spark", prefix="ae")  # 2**3
    outer = portable_ln_sql(inner, "spark", prefix="b")
    v = _spark_eval(spark, outer)
    assert abs(v - math.log(8.0)) < 1e-9
