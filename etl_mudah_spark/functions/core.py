"""Reusable Column-expression operators (the engine's scalar library).

Everything here is a native Column expression — JVM-side, inside
whole-stage codegen, zero Python UDFs. This mirrors SURVEY.md §2.9:
every reference "UDF" (pandas .apply) is expressible as Column algebra.

Reference parity notes (file:line into /root/reference):
- bucket_case       ← create_price_segment, streamlit/utils/constants.py:26-48
- fixed_width_bin   ← pd.cut 20k-km bins + clip, streamlit/pages/price_analysis.py:139-148
- synonym_remap     ← standardize_location, streamlit/pages/regional_analysis.py:15-32
- share_pct         ← (mask).mean()*100, streamlit/pages/price_analysis.py:115-117
- capitalize        ← .str.capitalize(), streamlit/pages/market_overview.py:137
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Deterministic aggregates over doubles.
#
# Spark sums partition-by-partition, DuckDB sums morsel-by-morsel; float
# addition is not associative, so a plain sum(double) over ~1e5 rows can
# differ in the last few ulps. Worse, round() itself is engine-specific
# at exact decimal boundaries (Spark rounds the double's shortest string
# repr via BigDecimal.valueOf; DuckDB rounds the exact binary value), so
# "round both sides" does NOT fix it for money-like data that lands on
# boundaries constantly.
#
# The deterministic recipe used engine-wide instead:
#   * cast each addend to DECIMAL(18,6) — exact, order-independent sums
#     in both engines (source data has ≤6 decimal digits, so the cast is
#     exact, not a rounding);
#   * cast the final sum back to double — nearest-double is identical on
#     both sides;
#   * NO round() anywhere on deterministic values. Rounding is reserved
#     for genuinely algorithm-dependent aggregates (corr, stddev,
#     interpolated quantiles, float cosines), where boundary values have
#     measure zero.
# At 100 TB this costs nothing: a decimal sum is still a partial
# (map-side) aggregate with the same shuffle shape.
# ---------------------------------------------------------------------------

_DEC = "decimal(18,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent (exact) sum of a double column, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


def oracle_dsum(expr: str) -> str:
    """The DuckDB twin of :func:`dsum` (same decimal lattice)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"


def oracle_davg(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr})"


# Compact-lattice variant (round-10 x100 decomposition, BASELINE.md):
# Spark keeps a Decimal COMPACT (one JVM long, codegen arithmetic) only
# while precision <= 18; SUM's buffer is input precision + 10, so
# summing DECIMAL(18,6) allocates a non-compact buffer and every row
# pays a BigDecimal add — measured 5.6x over plain double sums at the
# x100 scan point, the bulk of the pricing_summary gap vs DuckDB's
# int128 decimal sums. Casting the INPUT at DECIMAL(8,2) keeps the
# buffer at (18,2) — compact, long-backed — and halves the aggregate
# cost while staying exact and order-independent.
#
# Contract: the column must carry <= 2 decimal digits and |value| <
# 10^6 (TPC-H money/quantity/rate columns: price < ~1.1e5, qty <= 50,
# rates <= 0.10 — a 10x headroom). An out-of-range value nulls the
# cast (non-ANSI) and silently drops from the sum, so this is for
# columns whose domain is a schema-level fact, not a hope.

_DEC_COMPACT = "decimal(8,2)"


def dsum2(col: Column | str) -> Column:
    """Exact order-independent sum of a 2-dp column (|v| < 1e6), as
    double — the compact-buffer fast path of :func:`dsum`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC_COMPACT)).cast("double")


# ---------------------------------------------------------------------------
# Scalar operators
# ---------------------------------------------------------------------------


def bucket_case(
    col: Column | str,
    thresholds: Sequence[float],
    labels: Sequence[str],
) -> Column:
    """Piecewise bucketing: value < thresholds[i] → labels[i]; else last label.

    ``len(labels) == len(thresholds) + 1``. Chained ``when`` compiles to a
    single CASE expression — one codegen branch, no UDF.
    """
    if len(labels) != len(thresholds) + 1:
        raise ValueError("need len(labels) == len(thresholds) + 1")
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c < F.lit(thresholds[0]), labels[0])
    for t, lab in zip(thresholds[1:], labels[1:-1]):
        expr = expr.when(c < F.lit(t), lab)
    return expr.otherwise(labels[-1])


def fixed_width_bin(col: Column | str, width: float, clip: float | None = None) -> Column:
    """Left-closed fixed-width binning: floor(min(x, clip)/width) as bin id.

    The reference's pd.cut is right-closed ``(a, b]``; we standardize on
    left-closed ``[a, b)`` (the width_bucket convention) — a documented,
    deliberate divergence (SURVEY.md §2 A8).
    """
    c = F.col(col) if isinstance(col, str) else col
    if clip is not None:
        c = F.least(c, F.lit(float(clip)))
    return F.floor(c / F.lit(float(width))).cast("bigint")


def share_pct(pred: Column) -> Column:
    """Aggregate: percentage of rows satisfying ``pred`` (null-safe).

    Unrounded: sum-of-0/1 and the division are exact/IEEE-deterministic.
    """
    return F.avg(F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))) * 100.0


def capitalize(col: Column | str) -> Column:
    """Exact ``str.capitalize()``: first char upper, rest lower.

    (``initcap`` capitalizes every word — not the same.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.upper(F.substring(c, 1, 1)), F.lower(F.substring(c, 2, 2**31 - 1)))


def synonym_remap(col: Column | str, mapping: dict[str, str]) -> Column:
    """Dict-lookup remap with identity fallback (broadcastable literal map)."""
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.element_at(F.create_map(*pairs), c), c)


def format_currency(col: Column | str, symbol: str = "RM ", decimals: int = 0) -> Column:
    """Presentation-layer currency string (F8): ``RM 12,345`` style.

    Parity with the reference's f-string formatting ``'RM {:,.0f}'``
    (streamlit/pages/regional_analysis.py:162-164) and
    ``RM %{text:,.0f}`` (:136). ``format_number`` rounds HALF_UP and
    inserts thousands separators JVM-side — no UDF. Presentation-only:
    never feed the string back into arithmetic; keep the numeric column
    alongside.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit(symbol), F.format_number(c, decimals))


def format_pct(col: Column | str, decimals: int = 1) -> Column:
    """Presentation-layer percent string (F8): ``12.3%`` style, parity
    with the reference's ``'{:.1f}%'`` (regional_analysis.py:164,183-184).
    Input is already in percent units (e.g. from :func:`share_pct`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.format_number(c, decimals), F.lit("%"))
