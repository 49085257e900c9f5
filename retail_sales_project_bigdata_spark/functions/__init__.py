"""Scalar/aggregate function surface (SURVEY §2.8) + oracle-stable helpers.

The reference's scalar surface is arithmetic, ``when/otherwise``,
``coalesce``, ``ceil``, null fills and integer day/week math
(``FullPreprocessingPipeline.java:77-161``, ``ChurnPrediction.java:132``).
Everything here is a composition of built-in ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen'd; no Python UDFs.

Float determinism: Spark's partial aggregation order varies run-to-run, so a
raw ``sum(double)`` can wobble in final ulps.  The inputs are "really"
2-decimal money values though, so the true sums sit exactly on 2-decimal
points — derived ``net_sales`` on a 4-decimal grid — rounding the sum AT the grid
scale (4) recovers the exact value on both engines: the true sum is never
at a scale-4 rounding boundary (that would need 5 decimals) and FP noise
(~1e-9 at 60k rows) is far below the 5e-5 gap.  Rounding BELOW the grid
scale (e.g. 2) would hit exact ``.xx5`` ties where engine sum order picks
the side — never do that.
Ties round half-away-from-zero in both Spark (``HALF_UP``) and DuckDB
(``std::round``), so rounding identical doubles always agrees.  Decimal
casts of *derived ratios* are deliberately avoided: Spark casts
double→decimal via the shortest string representation (half-up) while
DuckDB scales the binary value — they disagree on values like 2194.47125.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Epoch for integer-day derivation over the testdata (orders start 1995-01-01;
# day 1 == 1995-01-01, matching the reference's 1-based `day` column).
DAY_EPOCH = "1995-01-01"


def pround(col: Column | str, scale: int) -> Column:
    """Portable double rounding — bit-identical to DuckDB's ROUND(double).

    DuckDB computes ``std::round(x * 10^n) / 10^n`` in pure double
    arithmetic (half-away on the SCALED double, which may itself have
    rounded onto the tie — e.g. 2.675 scales to exactly 267.5).  Spark's
    ``round(x, n)`` instead rounds the shortest decimal representation
    (HALF_UP) and ``bround`` ties to even — both diverge from DuckDB on
    representable ties.  Reproducing the scale-then-round-at-0 sequence
    makes every step IEEE-identical: Spark's round(y, 0) equals
    std::round(y) for all doubles (shortest-repr HALF_UP at scale 0 ==
    half-away on the binary value)."""
    c = F.col(col) if isinstance(col, str) else col
    factor = F.lit(float(10 ** scale))
    return F.round(c * factor, 0) / factor


def pround_py(x: float, scale: int) -> float:
    """Scalar Python mirror of :func:`pround` / DuckDB ROUND(double):
    half-away-from-zero on the scaled double.  (Python's round and
    numpy's round tie to even; naive trunc(s + 0.5) rounds UP for
    values like 0.49999999999999994 because the add itself rounds to
    1.0 in FP.  ``a - floor(a)`` is EXACT for doubles — floor shares
    the exponent range, Sterbenz — so comparing the true fraction
    against 0.5 reproduces std::round bit-for-bit.)"""
    import math

    factor = float(10 ** scale)
    s = x * factor
    a = abs(s)
    f = math.floor(a)
    r = f + 1.0 if (a - f) >= 0.5 else f
    return math.copysign(r, s) / factor


def pround_np(x, scale: int):
    """NumPy (vectorized) mirror of :func:`pround` — same exact-fraction
    half-away comparison as :func:`pround_py`, element-wise."""
    import numpy as np

    factor = float(10 ** scale)
    s = x * factor
    a = np.abs(s)
    f = np.floor(a)
    r = np.where(a - f >= 0.5, f + 1.0, f)
    return np.copysign(r, s) / factor


def stable_sum(col: Column | str, scale: int = 4) -> Column:
    """Engine-portable sum of a double column (rounded to ``scale``)."""
    c = F.col(col) if isinstance(col, str) else col
    return pround(F.sum(c), scale)


def stable_avg(col: Column | str, scale: int = 6, grid: int = 4) -> Column:
    """Engine-portable average for GRID-VALUED inputs (values on a fixed
    decimal grid, e.g. 4-decimal net_sales): round the sum at the grid
    scale first — that recovers the exact decimal total on both engines —
    then divide.  Identical doubles → identical rounding, always.

    NOT valid for ratio-valued inputs (unbounded decimals): use
    :func:`ordered_avg` there."""
    c = F.col(col) if isinstance(col, str) else col
    return pround(pround(F.sum(c), grid) / F.count(c), scale)


def ordered_sum(col: Column | str, window=None) -> Column:
    """Canonical-order sum (sort, then left-fold) — the engine-portable
    recipe behind :func:`ordered_avg`, exposed for aggregate AND window
    use (pass ``window`` for the windowed form).  DuckDB mirror:
    ``list_aggregate(list_sort(list(x)), 'sum')``."""
    c = F.col(col) if isinstance(col, str) else col
    collected = (
        F.collect_list(c).over(window) if window is not None
        else F.collect_list(c)
    )
    return F.aggregate(
        F.array_sort(collected), F.lit(0.0), lambda a, x: a + x
    )


def ordered_avg(col: Column | str, scale: int = 6) -> Column:
    """Engine-portable average for RATIO-VALUED inputs: canonicalize the
    summation order (sort, then left-fold) so both engines add the exact
    same doubles in the exact same sequence — bit-identical results at any
    partitioning.  DuckDB mirror: ``list_aggregate(list_sort(list(x)),
    'sum')`` (verified sequential).  Costs a collect_list per group — use
    for bounded groups (the rollup grains here); grid-valued inputs should
    prefer :func:`stable_avg` (no per-group array)."""
    c = F.col(col) if isinstance(col, str) else col
    return pround(ordered_sum(c) / F.count(c), scale)


def oracle_sum(expr: str, scale: int = 4) -> str:
    """DuckDB SQL mirroring :func:`stable_sum` exactly."""
    return f"ROUND(SUM({expr}), {scale})"


def oracle_avg(expr: str, scale: int = 6, grid: int = 4) -> str:
    """DuckDB SQL mirroring :func:`stable_avg` exactly."""
    return f"ROUND(ROUND(SUM({expr}), {grid}) / COUNT({expr}), {scale})"


def oracle_ordered_avg(expr: str, scale: int = 6) -> str:
    """DuckDB SQL mirroring :func:`ordered_avg` exactly."""
    return (
        f"ROUND(list_aggregate(list_sort(list({expr})), 'sum')"
        f" / COUNT({expr}), {scale})"
    )


def day_index(ts_col: Column | str, epoch: str = DAY_EPOCH) -> Column:
    """1-based integer day index from a timestamp column.

    Parity with the reference's integer ``day`` column (FIXTURES.md §B maps
    ``transaction_data.DAY`` → ``o_orderdate``/``l_shipdate`` via datediff).
    """
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (F.datediff(c.cast("date"), F.lit(epoch).cast("date")) + 1).cast("int")


def week_no(day_col: Column | str) -> Column:
    """``week_no = ceil(day / 7)`` — FullPreprocessingPipeline.java:157-162.

    Integer-division safe: computed over a double so day=7 → week 1,
    day=8 → week 2 (DuckDB oracle: ``CAST(CEIL(day / 7.0) AS INT)``).
    """
    c = F.col(day_col) if isinstance(day_col, str) else day_col
    return F.ceil(c / F.lit(7.0)).cast("int")


def day_of_week(day_col: Column | str) -> Column:
    """``((day - 1) % 7) + 1`` — ChurnPrediction.java:132."""
    c = F.col(day_col) if isinstance(day_col, str) else day_col
    return (((c - 1) % 7) + 1).cast("int")


def safe_div(num: Column, den: Column, default: float = 0.0) -> Column:
    """Division guarded by ``when`` — FullPreprocessingPipeline.java:85-100.

    The reference computes ``unit_price = sales/qty`` and
    ``discount_rate = disc/sales`` with when-guards against zero denominators.
    """
    return F.when(den != 0, num / den).otherwise(F.lit(default))


def net_sales(price: Column | str = "l_extendedprice",
              discount: Column | str = "l_discount") -> Column:
    """Revenue net of discount — the testdata analog of the reference's
    ``net_sales = sales_value + retail_disc + coupon_disc``
    (FullPreprocessingPipeline.java:77-83; discounts are ≤0 there, a
    multiplicative discount here)."""
    p = F.col(price) if isinstance(price, str) else price
    d = F.col(discount) if isinstance(discount, str) else discount
    return p * (F.lit(1.0) - d)


def collect_item_sets(df, key: str, item: str, items_col: str = "items"):
    """(key, sorted distinct item array) in ONE shuffle — ``collect_set``
    dedups, so no upstream ``distinct`` is needed.  The shared base of
    the pair-explosion paths; multi-consumer callers persist it once
    (it feeds both item counts — one explode — and pair counts)."""
    return df.groupBy(key).agg(
        F.sort_array(F.collect_set(item)).alias(items_col)
    )


def pair_explode_sets(sets, a: str = "item_a", b: str = "item_b",
                      items_col: str = "items"):
    """MAP-SIDE ordered-pair explosion (x < y) of a prebuilt
    (key, item array) frame — zero additional shuffles."""
    return sets.select(
        F.explode(
            F.expr(
                f"flatten(transform({items_col}, (x, i) ->"
                f" transform(slice({items_col}, i + 2,"
                f" size({items_col}) - i - 1),"
                f" y -> struct(x as {a}, y as {b}))))"
            )
        ).alias("__e")
    ).select(f"__e.{a}", f"__e.{b}")


def copair_explode(df, key: str, item: str, a: str = "item_a",
                   b: str = "item_b"):
    """All within-group ordered item pairs (x < y) via ONE shuffle:
    ``groupBy(key).collect_set`` then a MAP-SIDE sorted-pair explosion.

    Replaces the distinct + self-join pair build (which exchanges the
    (key, item) frame twice more; measured ~2x slower at sf0.1) in the
    triangle, itemset, and item-item co-occurrence paths.  Pair volume
    per group is C(k, 2) with k = group size — bounded by basket/order
    width, not corpus size, so the explosion never concentrates work.
    """
    return pair_explode_sets(collect_item_sets(df, key, item), a=a, b=b)
