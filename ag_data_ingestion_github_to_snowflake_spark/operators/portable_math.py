"""Portable transcendentals: bit-identical ln/exp/log10 across engines.

Why this exists (VERDICT r11 item 5): libm's ``ln``/``exp``/``pow`` are
NOT required to be correctly rounded by IEEE 754, so their results can
differ by an ulp between builds (glibc vs musl vs JVM StrictMath vs a
different DuckDB wheel). A hashed column whose value passes through
libm is therefore one round-boundary away from a cross-engine or
cross-build hash mismatch — the exact failure class behind the r11
``kaplan_meier_survival`` driver red. The operations IEEE 754 *does*
require to be correctly rounded — ``+ - * / sqrt``, int->double
conversion, and decimal-literal parsing — are deterministic everywhere.
This module synthesizes ln and exp from ONLY those ops, emitting the
same arithmetic as SQL text for both Spark SQL and DuckDB, so both
engines (on any platform) produce the same double bit pattern.

Algorithms (classical range-reduction, public-domain math):

- ``ln(x)``: take ``K=12`` repeated square roots — ``y = x^(1/4096)``
  lands in ``[0.834, 1.200]`` for every positive finite double — then
  ``ln(y) = 2*atanh(z)`` with ``z=(y-1)/(y+1)`` (|z| <= 0.091) via the
  odd series ``z*(1 + w/3 + w^2/5 + ... + w^8/17)``, ``w=z*z`` (next
  term < 1e-19 relative), and finally ``ln(x) = 4096*ln(y)``. sqrt is
  correctly rounded, so the reduction is deterministic; the series is
  a fixed Horner chain over literal coefficients.
- ``exp(x)``: ``t = exp(x/4096)`` by the 13-term Taylor Horner
  (|x/4096| <= 0.174 over exp's entire non-over/underflowing domain),
  then square ``t`` twelve times.
- ``log10(x) = ln(x) * (1/ln 10)`` with a literal constant.

Accuracy: the 4096x error amplification of the reduction bounds the
absolute error of ``ln`` at ~3e-12 and the relative error of ``exp``
at ~5e-13 — far inside the 1e-6 quantization every hashed contract
applies, and equal in BOTH engines, which is the property that
matters (the hash needs identical values, not perfect ones).

Each intermediate (y, z, w, t, squarings) is bound exactly once via a
single-element higher-order-function lambda (``transform(array(e),
v -> body)[0]`` in Spark SQL, ``list_transform([e], v -> body)[1]``
in DuckDB), so the emitted expression is linear-size and each op
executes once per row — no textual blow-up, no reliance on engine CSE.

Domain contract (callers must guard): ``portable_ln`` requires x > 0
(x=0 returns garbage, not -inf); ``portable_exp`` requires
|x| <= ~700 (outside that libm exp would over/underflow anyway).

Reference parity: the reference pipeline has no transcendental math
(``src/extract_github_data.py`` is ETL-only); this serves the §2.B43
math-function surface and the LLM-curation scoring queries.
"""

from __future__ import annotations

import math

__all__ = [
    "portable_ln_sql",
    "portable_exp_sql",
    "portable_log10_sql",
    "floor_e6_sql",
    "floor_e6",
    "ordered_sum",
    "ordered_sum_sql",
    "LN10_INV",
]

# Literal doubles: repr() is the shortest round-tripping decimal, and
# decimal->double parsing is correctly rounded in both engines, so
# these literals denote the same bit pattern everywhere.
LN10_INV = repr(1.0 / math.log(10.0))

_K = 12          # sqrt reductions: 2**12 = 4096
_SCALE = "4096.0"

# atanh series: atanh(z) = z * (1 + w/3 + w^2/5 + ... + w^8/17)
_ATANH_COEFFS = [repr(1.0 / k) for k in (17, 15, 13, 11, 9, 7, 5, 3)]

# exp Taylor: sum_{k=0..12} r^k / k!, Horner'd highest-first
_EXP_COEFFS = [repr(1.0 / math.factorial(k)) for k in range(12, 0, -1)]


def _bind(dialect: str, value: str, var: str, body: str) -> str:
    """Bind ``value`` to ``var`` exactly once inside ``body`` using a
    single-element higher-order-function lambda."""
    if dialect == "spark":
        return f"transform(array({value}), {var} -> {body})[0]"
    if dialect == "duckdb":
        return f"list_transform([{value}], {var} -> {body})[1]"
    raise ValueError(f"unknown dialect: {dialect!r}")


def portable_ln_sql(arg: str, dialect: str, prefix: str = "pln") -> str:
    """SQL text computing ln(``arg``) from sqrt/*//+/- only.

    ``prefix`` namespaces the lambda variables so calls can nest
    (e.g. pow = exp(b*ln(a)) without capture collisions).
    """
    y = f"CAST({arg} AS DOUBLE)"
    for _ in range(_K):
        y = f"sqrt({y})"
    vy, vz, vw = f"{prefix}_y", f"{prefix}_z", f"{prefix}_w"
    # Horner in w over the atanh coefficients, then *z, then *2*4096.
    horner = _ATANH_COEFFS[0]
    for c in _ATANH_COEFFS[1:]:
        horner = f"({horner} * {vw} + {c})"
    horner = f"({horner} * {vw} + 1.0)"
    body_w = f"(8192.0 * ({vz} * {horner}))"
    body_z = _bind(dialect, f"({vz} * {vz})", vw, body_w)
    body_y = _bind(
        dialect, f"(({vy} - 1.0) / ({vy} + 1.0))", vz, body_z
    )
    return _bind(dialect, y, vy, body_y)


def portable_exp_sql(arg: str, dialect: str, prefix: str = "pex") -> str:
    """SQL text computing exp(``arg``) from */+/- only."""
    r = f"(CAST({arg} AS DOUBLE) / {_SCALE})"
    vr = f"{prefix}_r"
    horner = _EXP_COEFFS[0]
    for c in _EXP_COEFFS[1:]:
        horner = f"({horner} * {vr} + {c})"
    taylor = _bind(dialect, r, vr, f"({horner} * {vr} + 1.0)")
    # Square K times, binding each intermediate exactly once:
    # s0 = taylor; s_{i+1} = s_i * s_i.
    expr = taylor
    for i in range(_K):
        v = f"{prefix}_s{i}"
        expr = _bind(dialect, expr, v, f"({v} * {v})")
    return expr


def portable_log10_sql(arg: str, dialect: str, prefix: str = "pl10") -> str:
    """SQL text computing log10(``arg``) = ln(arg) * (1/ln 10)."""
    return f"({portable_ln_sql(arg, dialect, prefix)} * {LN10_INV})"


# ---------------------------------------------------------------------------
# Hash-contract companions: floor-1e6 quantization and the ordered fold
# ---------------------------------------------------------------------------
def floor_e6_sql(arg: str) -> str:
    """``CAST(floor(1e6 * x) AS BIGINT)`` — the hashed-presentation
    quantizer. floor is an IEEE-required exact operation (unlike
    engine ROUND(double, k), whose algorithm differs between Spark's
    BigDecimal path and DuckDB's float path and can change across
    DuckDB releases), so a bit-identical input double always quantizes
    to the same integer on every build. Works verbatim in both
    dialects."""
    return f"CAST(floor(1000000.0 * ({arg})) AS BIGINT)"


def floor_e6(col):
    """Spark Column twin of :func:`floor_e6_sql`."""
    from pyspark.sql import functions as F

    return F.floor(F.lit(1000000.0) * col).cast("bigint")


def ordered_sum(term, *keys):
    """Spark Column: sum ``term`` over the group in the total order of
    ``keys`` via an explicit left fold (collect -> sort -> aggregate),
    bit-identically replaying :func:`ordered_sum_sql`'s list_reduce.
    Init is 0.0: ``0.0 + a1`` is exact for every a1 (the only wobble
    is -0.0 -> +0.0, which cannot survive a non-degenerate sum). Use
    ONLY on provably bounded groups — the collected list lives in one
    task.

    PRECONDITION: ``term`` must be non-NULL on every row. Spark's
    collect_list silently DROPS NULLs while DuckDB's list() keeps
    them and folds the whole sum to NULL — a NULL term diverges the
    twins instead of erroring. Guard joins feeding a fold with
    COALESCE (the naive-bayes pattern) or an explicit filter."""
    from pyspark.sql import functions as F

    struct = F.struct(*keys, term.alias("__term"))
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(struct)), lambda e: e["__term"]
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ordered_sum_sql(term: str, order_by: str) -> str:
    """DuckDB aggregate-position twin of :func:`ordered_sum`:
    ``list_reduce(list(term ORDER BY ...), (a, x) -> a + x)``."""
    return (
        f"list_reduce(list({term} ORDER BY {order_by}),"
        " (acc, x) -> acc + x)"
    )
