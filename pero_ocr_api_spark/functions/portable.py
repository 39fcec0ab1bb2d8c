"""Cross-engine numeric stability helpers.

Spark's ``round`` is decimal-string based (BigDecimal.valueOf) while
DuckDB's is binary — on boundary values like 2.675 they disagree. For
driver hash-equality every rounded output goes through
``floor(x * 10^d + 0.5) / 10^d`` instead: pure IEEE arithmetic, so two
engines evaluating the same expression tree on the same doubles get
bit-identical results.

Safety rule used across queries: only round values whose *true*
(infinite-precision) result is at least ~1e-6 away from a rounding
boundary — sums/medians of 2-decimal data, small-denominator ratios.
True averages are never emitted (sum+count instead): an average can
land exactly on a boundary and cross-engine sum-order ulps would then
flip the digit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_bin(col: Column, digits: int) -> Column:
    p = float(10**digits)
    return F.floor(col * p + F.lit(0.5)) / F.lit(p)


def duckdb_round_bin(expr: str, digits: int) -> str:
    p = float(10**digits)
    return f"(floor(({expr}) * {p} + 0.5) / {p})"


def sorted_median(arr: Column | str) -> Column:
    """Exact interpolated median of an ascending-sorted, null-free
    array column (``sort_array(collect_list(x))``); null when the array
    is empty, so the caller supplies its own default.

    ``np.quantile(v, .5)`` bit for bit: at t=0.5 numpy's _lerp uses the
    upper-anchored form ``b - (b-a)*0.5``, not ``a + (b-a)*0.5`` — they
    can differ by one ulp, which flips a rounding boundary (found by
    the hypothesis property test). ``F.get`` is 0-based and null out of
    bounds (ANSI mode safe), which is what makes the empty array null."""
    h = (F.size(arr) - F.lit(1)).cast("double") * 0.5
    lo = F.floor(h).cast("int")
    v_lo = F.get(arr, lo)
    v_hi = F.get(arr, lo + 1)
    return F.when(h == lo.cast("double"), v_lo).otherwise(
        v_hi - (v_hi - v_lo) * 0.5
    )
