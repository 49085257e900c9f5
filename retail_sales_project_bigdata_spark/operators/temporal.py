"""Weekly demand rollup (SURVEY §2.4 A1) — FullPreprocessingPipeline.java:164-175.

Testdata mapping: store → l_suppkey, product → l_partkey, week_no from
l_shipdate.  One hash aggregation: partial (map-side) + final after a
single shuffle on the full grouping key — Spark's default physical plan,
which is exactly right at 100 TB (the rollup output is tiny relative to
input; the shuffle moves only partial aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import (
    DAY_EPOCH,
    day_index,
    net_sales,
    oracle_avg,
    oracle_ordered_avg,
    oracle_sum,
    ordered_avg,
    pround,
    safe_div,
    stable_avg,
    stable_sum,
    week_no,
)
from retail_sales_project_bigdata_spark.sources import read_table


def weekly_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
        .withColumn(
            "unit_price", safe_div(F.col("l_extendedprice"), F.col("l_quantity"))
        )
        .withColumn(
            "is_discounted", F.when(F.col("l_discount") > 0, 1).otherwise(0)
        )
        .withColumn("campaign_flag", F.when(F.col("l_tax") > 0, 1).otherwise(0))
    )
    return li.groupBy(
        F.col("l_suppkey").alias("store_id"),
        F.col("l_partkey").alias("product_id"),
        "week_no",
    ).agg(
        stable_sum("net_sales").alias("sum_net_sales"),
        stable_sum("l_quantity").alias("sum_quantity"),
        ordered_avg("unit_price").alias("avg_unit_price"),
        stable_avg("l_discount").alias("avg_discount_rate"),
        F.max("is_discounted").alias("any_discounted"),
        F.max("campaign_flag").alias("any_campaign"),
    )


WEEKLY_DEMAND_SQL = f"""
WITH li AS (
  SELECT l_suppkey, l_partkey,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_extendedprice * (1.0 - l_discount) AS net_sales,
         l_quantity,
         CASE WHEN l_quantity <> 0 THEN l_extendedprice / l_quantity ELSE 0.0 END AS unit_price,
         l_discount,
         CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS is_discounted,
         CASE WHEN l_tax > 0 THEN 1 ELSE 0 END AS campaign_flag
  FROM lineitem
)
SELECT l_suppkey AS store_id, l_partkey AS product_id, week_no,
       {oracle_sum('net_sales')} AS sum_net_sales,
       {oracle_sum('l_quantity')} AS sum_quantity,
       {oracle_ordered_avg('unit_price')} AS avg_unit_price,
       {oracle_avg('l_discount')} AS avg_discount_rate,
       MAX(is_discounted) AS any_discounted,
       MAX(campaign_flag) AS any_campaign
FROM li
GROUP BY l_suppkey, l_partkey, week_no
"""


def union_weekly_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage (SURVEY §2.7 — absent from the reference,
    required surface for the rebuild): union two disjoint weekly slices,
    then exceptAll a sub-slice.
    """
    # Lean aggregate — only the column this query projects.  (Catalyst's
    # column pruning does not reach through exceptAll into the full
    # weekly_demand aggregate, so deriving from it would drag the
    # ordered-avg collect_list along for nothing.)
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
    )
    wd = li.groupBy(
        F.col("l_suppkey").alias("store_id"),
        F.col("l_partkey").alias("product_id"),
        "week_no",
    ).agg(stable_sum("net_sales").alias("sum_net_sales"))
    low = wd.filter(F.col("week_no") <= 100)
    high = wd.filter(F.col("week_no") > 100)
    both = low.unionByName(high)
    return both.exceptAll(both.filter(F.col("week_no") > 300))


UNION_WEEKLY_HALVES_SQL = f"""
WITH li AS (
  SELECT l_suppkey, l_partkey,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_extendedprice * (1.0 - l_discount) AS net_sales
  FROM lineitem
),
wd AS (
  SELECT l_suppkey AS store_id, l_partkey AS product_id, week_no,
         {oracle_sum('net_sales')} AS sum_net_sales
  FROM li GROUP BY l_suppkey, l_partkey, week_no
),
combined AS (
  SELECT * FROM wd WHERE week_no <= 100
  UNION ALL
  SELECT * FROM wd WHERE week_no > 100
)
SELECT store_id, product_id, week_no, sum_net_sales FROM combined
EXCEPT ALL
SELECT store_id, product_id, week_no, sum_net_sales FROM combined WHERE week_no > 300
"""


def rolling_7day_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day store sales: a RANGE-frame window (time-interval
    frame, not row-count) over the daily rollup — days with no sales
    correctly fall out of the trailing sum because RANGE frames bound by
    the ORDER BY *value*.

    Float discipline: the daily total is rounded to its 4-decimal grid
    and SCALED TO BIGINT before the window sum — integer addition is
    associative, so the trailing sum is exact regardless of the engine's
    frame-evaluation order (segment trees vs running folds), then one
    final division converts back.  A double window-sum here would be
    order-sensitive in the last ulp and break the oracle hash."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("net_sales", net_sales())
    )
    daily = li.groupBy(
        F.col("l_suppkey").alias("store_id"), "day"
    ).agg(stable_sum("net_sales").alias("day_sales"))
    scaled = daily.withColumn(
        "day_sales_e4",
        F.floor(F.col("day_sales") * 10000 + 0.5).cast("long"),
    )
    w = Window.partitionBy("store_id").orderBy("day").rangeBetween(-6, 0)
    return scaled.select(
        "store_id",
        "day",
        "day_sales",
        (F.sum("day_sales_e4").over(w) / 10000.0).alias("trailing_7d_sales"),
        F.count(F.lit(1)).over(w).alias("active_days_in_window"),
    )


ROLLING_7DAY_SALES_SQL = f"""
WITH li AS (
  SELECT l_suppkey AS store_id,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1 AS INT) AS day,
         l_extendedprice * (1.0 - l_discount) AS net_sales
  FROM lineitem
),
daily AS (
  SELECT store_id, day, {oracle_sum('net_sales')} AS day_sales
  FROM li GROUP BY store_id, day
),
scaled AS (
  SELECT store_id, day, day_sales,
         CAST(FLOOR(day_sales * 10000 + 0.5) AS BIGINT) AS day_sales_e4
  FROM daily
)
SELECT store_id, day, day_sales,
       CAST(SUM(day_sales_e4) OVER w AS DOUBLE) / 10000.0 AS trailing_7d_sales,
       CAST(COUNT(*) OVER w AS BIGINT) AS active_days_in_window
FROM scaled
WINDOW w AS (PARTITION BY store_id ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


INCREMENTAL_CUTOVER_DAY = 2000  # "base" snapshot covers day <= cutover


def incremental_weekly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance for the weekly rollup: a BASE
    aggregate (day ≤ cutover, the materialized view) merged with a DELTA
    aggregate (late-arriving days) by summing partial states per group —
    the foreachBatch/MERGE pattern that avoids re-scanning history.

    Sum/count/max states merge associatively.  The mergeable state for
    the rounded sum is the GRID-SCALED INTEGER (exact under addition);
    rounding happens per partial, exactly as a re-materialization would,
    and the oracle mirrors the same two-stage sequence — the point being
    checked is that merge(base, delta) is deterministic and
    engine-portable, not that it equals a monolithic recompute to the
    last rounded digit (double rounding differs at ulp ties, which is
    why production incremental views keep integer/unrounded states).
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
    )

    def partial(df: DataFrame) -> DataFrame:
        agg = df.groupBy(
            F.col("l_suppkey").alias("store_id"),
            F.col("l_partkey").alias("product_id"),
            "week_no",
        ).agg(
            stable_sum("net_sales").alias("part_sales"),
            F.count(F.lit(1)).alias("part_rows"),
            F.max("day").alias("part_max_day"),
        )
        return agg.withColumn(
            "part_sales_e4",
            F.floor(F.col("part_sales") * 10000 + 0.5).cast("long"),
        )

    base = partial(li.filter(F.col("day") <= INCREMENTAL_CUTOVER_DAY))
    delta = partial(li.filter(F.col("day") > INCREMENTAL_CUTOVER_DAY))
    merged = base.unionByName(delta).groupBy(
        "store_id", "product_id", "week_no"
    ).agg(
        (F.sum("part_sales_e4") / 10000.0).alias("sum_net_sales"),
        F.sum("part_rows").alias("n_rows"),
        F.max("part_max_day").alias("last_day"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    return merged


INCREMENTAL_WEEKLY_MERGE_SQL = f"""
WITH li AS (
  SELECT l_suppkey AS store_id, l_partkey AS product_id,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1 AS INT) AS day,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_extendedprice * (1.0 - l_discount) AS net_sales
  FROM lineitem
),
base AS (
  SELECT store_id, product_id, week_no,
         CAST(FLOOR({oracle_sum('net_sales')} * 10000 + 0.5) AS BIGINT) AS part_sales_e4,
         COUNT(*) AS part_rows, MAX(day) AS part_max_day
  FROM li WHERE day <= {INCREMENTAL_CUTOVER_DAY}
  GROUP BY store_id, product_id, week_no
),
delta AS (
  SELECT store_id, product_id, week_no,
         CAST(FLOOR({oracle_sum('net_sales')} * 10000 + 0.5) AS BIGINT) AS part_sales_e4,
         COUNT(*) AS part_rows, MAX(day) AS part_max_day
  FROM li WHERE day > {INCREMENTAL_CUTOVER_DAY}
  GROUP BY store_id, product_id, week_no
),
partials AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
SELECT store_id, product_id, week_no,
       CAST(SUM(part_sales_e4) AS DOUBLE) / 10000.0 AS sum_net_sales,
       CAST(SUM(part_rows) AS BIGINT) AS n_rows,
       MAX(part_max_day) AS last_day,
       CAST(COUNT(*) AS BIGINT) AS n_partials
FROM partials
GROUP BY store_id, product_id, week_no
"""


def _weekly_spine(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared by both gap-fill variants: the persisted per-(store, week)
    sales rollup and its dense per-store week spine.

    Persisted because the weekly frame feeds BOTH the spine (per-store
    min/max) and the fill join, whose consumers need different hash
    partitionings — ReuseExchange cannot share the scan+aggregate, so
    without the cache boundary the full rollup runs twice (measured ~2x
    per query).  Post-aggregation rows keep the cache small at any input
    scale.  The returned frames are lazy, so the caller's
    ``registry.query_scope`` releases the entry after the action.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
    )
    weekly = (
        li.groupBy(F.col("l_suppkey").alias("store_id"), "week_no")
        .agg(stable_sum("net_sales").alias("sales"))
        .persist()
    )
    spine = (
        weekly.groupBy("store_id")
        .agg(F.min("week_no").alias("w0"), F.max("week_no").alias("w1"))
        .select(
            "store_id",
            F.explode(F.sequence("w0", "w1")).alias("week_no"),
        )
    )
    return weekly, spine


def weekly_sales_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-store weekly sales re-gridded onto a
    DENSE week spine (every week between the store's first and last sale),
    missing weeks filled with 0 and flagged — the gap-fill step before any
    rolling/EWMA/forecast consumer that assumes a regular grid.

    The spine is generated per store with ``sequence`` + ``explode`` —
    distributed with the store rows, never a driver-side calendar nor a
    store × all-weeks cartesian; the fill join is equi on (store, week)
    against the pre-aggregated weekly frame (both sides shuffle once on
    the same key).
    """
    weekly, spine = _weekly_spine(spark, sf_dir)
    return spine.join(weekly, ["store_id", "week_no"], "left").select(
        "store_id",
        "week_no",
        F.coalesce("sales", F.lit(0.0)).alias("sales"),
        F.when(F.col("sales").isNull(), 1).otherwise(0).alias("is_gap"),
    )


WEEKLY_SALES_GAPFILL_SQL = f"""
WITH li AS (
  SELECT l_suppkey AS store_id,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_extendedprice * (1.0 - l_discount) AS net_sales
  FROM lineitem
),
weekly AS (
  SELECT store_id, week_no, {oracle_sum('net_sales')} AS sales
  FROM li GROUP BY store_id, week_no
),
spine AS (
  SELECT store_id, CAST(unnest(generate_series(w0, w1)) AS INT) AS week_no
  FROM (SELECT store_id, MIN(week_no) AS w0, MAX(week_no) AS w1
        FROM weekly GROUP BY store_id)
)
SELECT s.store_id, s.week_no,
       COALESCE(w.sales, 0.0) AS sales,
       CASE WHEN w.sales IS NULL THEN 1 ELSE 0 END AS is_gap
FROM spine s LEFT JOIN weekly w USING (store_id, week_no)
"""


def weekly_sales_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION between the nearest present weeks
    (vs :func:`weekly_sales_gapfill`'s 0-fill) — the regularization a
    demand-forecast consumer actually wants for missing interior weeks.

    Same dense per-store spine (sequence + explode, no driver calendar);
    the neighbor lookups are ignore-nulls ``last``/``first`` over
    running/reverse-running frames — all four share the ONE (store_id)
    partitioning, so the whole interpolation is a single shuffle over the
    weekly frame.  Boundary weeks are always present (the spine spans
    min..max of observed weeks), so the interpolation is total; the
    ratio is engine-portable because both ends are grid-rounded sums and
    the week deltas are integers."""
    weekly, spine = _weekly_spine(spark, sf_dir)
    filled = spine.join(weekly, ["store_id", "week_no"], "left")
    wo = Window.partitionBy("store_id").orderBy("week_no")
    back = wo.rowsBetween(Window.unboundedPreceding, 0)
    fwd = wo.rowsBetween(0, Window.unboundedFollowing)
    present_week = F.when(F.col("sales").isNotNull(), F.col("week_no"))
    # Name each neighbor lookup ONCE before the interpolation arithmetic
    # (optimization round r10, VERDICT r9 item 7 / guide §2.4): inlining
    # the window Columns into the interp expression made Catalyst emit 6
    # window expressions over the one (store_id) spec — last(sales) and
    # last(present_week) each computed twice because prev_val/prev_week
    # appear twice in the formula.  A projection boundary with named
    # columns dedups them to the 4 distinct lookups; same single Window
    # node, same one exchange, one-third less per-row window work.
    named = filled.select(
        "store_id",
        "week_no",
        "sales",
        F.last("sales", ignorenulls=True).over(back).alias("_prev_val"),
        F.last(present_week, ignorenulls=True).over(back).alias("_prev_week"),
        F.first("sales", ignorenulls=True).over(fwd).alias("_next_val"),
        F.first(present_week, ignorenulls=True).over(fwd).alias("_next_week"),
    )
    interp = F.col("_prev_val") + (F.col("_next_val") - F.col("_prev_val")) * (
        (F.col("week_no") - F.col("_prev_week"))
        / (F.col("_next_week") - F.col("_prev_week"))
    )
    return named.select(
        "store_id",
        "week_no",
        F.when(F.col("sales").isNotNull(), F.col("sales"))
        .otherwise(pround(interp, 6))
        .alias("sales_filled"),
        F.when(F.col("sales").isNull(), 1).otherwise(0).alias("is_gap"),
    )


WEEKLY_SALES_INTERPOLATED_SQL = f"""
WITH li AS (
  SELECT l_suppkey AS store_id,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_extendedprice * (1.0 - l_discount) AS net_sales
  FROM lineitem
),
weekly AS (
  SELECT store_id, week_no, {oracle_sum('net_sales')} AS sales
  FROM li GROUP BY store_id, week_no
),
spine AS (
  SELECT store_id, CAST(unnest(generate_series(w0, w1)) AS INT) AS week_no
  FROM (SELECT store_id, MIN(week_no) AS w0, MAX(week_no) AS w1
        FROM weekly GROUP BY store_id)
),
filled AS (
  SELECT s.store_id, s.week_no, w.sales,
         LAST_VALUE(w.sales IGNORE NULLS) OVER back AS prev_val,
         LAST_VALUE(CASE WHEN w.sales IS NOT NULL THEN s.week_no END IGNORE NULLS)
           OVER back AS prev_week,
         FIRST_VALUE(w.sales IGNORE NULLS) OVER fwd AS next_val,
         FIRST_VALUE(CASE WHEN w.sales IS NOT NULL THEN s.week_no END IGNORE NULLS)
           OVER fwd AS next_week
  FROM spine s LEFT JOIN weekly w USING (store_id, week_no)
  WINDOW back AS (PARTITION BY s.store_id ORDER BY s.week_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY s.store_id ORDER BY s.week_no
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT store_id, week_no,
       CASE WHEN sales IS NOT NULL THEN sales
            ELSE ROUND(prev_val + (next_val - prev_val)
                 * ((week_no - prev_week) / CAST(next_week - prev_week AS DOUBLE)), 6)
       END AS sales_filled,
       CASE WHEN sales IS NULL THEN 1 ELSE 0 END AS is_gap
FROM filled
"""


def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: weekly net-sales totals with the
    prior week's value, absolute delta, and percent change.

    The lag window is unpartitioned, which is fine HERE and only here:
    it runs over the already-aggregated weekly frame (|weeks| rows — a
    few hundred at any corpus size), not the fact table.  Revenue is
    grid-rounded (stable_sum) before the window, so both engines lag
    bit-identical doubles and the delta/pct arithmetic matches exactly.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
    )
    weekly = li.groupBy("week_no").agg(
        stable_sum("net_sales").alias("revenue")
    )
    w = Window.orderBy("week_no")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_no",
        "revenue",
        prev.alias("prev_revenue"),
        pround(F.col("revenue") - prev, 4).alias("wow_delta"),
        F.when(
            prev != 0, pround((F.col("revenue") - prev) / prev, 6)
        ).alias("wow_pct"),
    )


WEEKLY_REVENUE_GROWTH_SQL = f"""
WITH weekly AS (
  SELECT CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}',
                             CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT)
             AS week_no,
         {oracle_sum("l_extendedprice * (1.0 - l_discount)")} AS revenue
  FROM lineitem GROUP BY 1
)
SELECT week_no, revenue,
       LAG(revenue) OVER w AS prev_revenue,
       ROUND(revenue - LAG(revenue) OVER w, 4) AS wow_delta,
       CASE WHEN LAG(revenue) OVER w <> 0
            THEN ROUND((revenue - LAG(revenue) OVER w)
                       / LAG(revenue) OVER w, 6) END AS wow_pct
FROM weekly
WINDOW w AS (ORDER BY week_no)
"""


def weekly_demand_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput twin of :func:`weekly_demand` (VERDICT r1 item 8): the
    oracle-exact entry pays a per-group ``collect_list`` + sort
    (``ordered_avg``) purely for cross-engine float determinism — the
    dominant cost of the query.  Production doesn't need bit-exact
    DuckDB parity, so this twin uses the plain partial-aggregating
    ``avg`` (single hash agg, no per-group buffers).  Rows-only for the
    driver; tests assert value equality to the exact entry within float
    tolerance, and the bench records the measured speedup in
    BASELINE.md."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
        .withColumn("net_sales", net_sales())
        .withColumn(
            "unit_price", safe_div(F.col("l_extendedprice"), F.col("l_quantity"))
        )
        .withColumn(
            "is_discounted", F.when(F.col("l_discount") > 0, 1).otherwise(0)
        )
        .withColumn("campaign_flag", F.when(F.col("l_tax") > 0, 1).otherwise(0))
    )
    return li.groupBy(
        F.col("l_suppkey").alias("store_id"),
        F.col("l_partkey").alias("product_id"),
        "week_no",
    ).agg(
        F.sum("net_sales").alias("sum_net_sales"),
        F.sum("l_quantity").alias("sum_quantity"),
        F.avg("unit_price").alias("avg_unit_price"),
        F.avg("l_discount").alias("avg_discount_rate"),
        F.max("is_discounted").alias("any_discounted"),
        F.max("campaign_flag").alias("any_campaign"),
    )


FORECAST_SEASON_WEEKS = 4  # seasonal-naive lag (a 4-week retail cycle)


def demand_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive demand forecast over the weekly series (completes
    the reference's named-but-empty ``DemandForecast.java:3-8``
    placeholder; VERDICT r1 item 6): per (store, product) weekly
    quantity, the one-step-ahead naive forecast (last week's value) and
    the seasonal-naive forecast (same week one 4-week cycle back), with
    in-sample errors — the standard baselines every demand model must
    beat.

    Scale: one shuffle for the weekly aggregate; the lag windows are
    partitioned by (store, product) — thousands of small independent
    series, never a global window.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("day", day_index("l_shipdate"))
        .withColumn("week_no", week_no("day"))
    )
    wd = li.groupBy(
        F.col("l_suppkey").alias("store_id"),
        F.col("l_partkey").alias("product_id"),
        "week_no",
    ).agg(stable_sum("l_quantity").alias("qty"))
    w = Window.partitionBy("store_id", "product_id").orderBy("week_no")
    naive = F.lag("qty", 1).over(w)
    seasonal = F.lag("qty", FORECAST_SEASON_WEEKS).over(w)
    return wd.select(
        "store_id",
        "product_id",
        "week_no",
        "qty",
        naive.alias("forecast_naive"),
        seasonal.alias("forecast_seasonal"),
        (F.col("qty") - naive).alias("naive_error"),
        (F.col("qty") - seasonal).alias("seasonal_error"),
    )


DEMAND_FORECAST_SQL = f"""
WITH li AS (
  SELECT l_suppkey AS store_id, l_partkey AS product_id,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(l_shipdate AS DATE)) + 1) / 7.0) AS INT) AS week_no,
         l_quantity
  FROM lineitem
),
wd AS (
  SELECT store_id, product_id, week_no,
         {oracle_sum('l_quantity')} AS qty
  FROM li GROUP BY store_id, product_id, week_no
)
SELECT store_id, product_id, week_no, qty,
       LAG(qty, 1) OVER w AS forecast_naive,
       LAG(qty, {FORECAST_SEASON_WEEKS}) OVER w AS forecast_seasonal,
       qty - LAG(qty, 1) OVER w AS naive_error,
       qty - LAG(qty, {FORECAST_SEASON_WEEKS}) OVER w AS seasonal_error
FROM wd
WINDOW w AS (PARTITION BY store_id, product_id ORDER BY week_no)
"""


ORACLES: dict[str, str] = {
    "demand_forecast": DEMAND_FORECAST_SQL,
    "weekly_revenue_growth": WEEKLY_REVENUE_GROWTH_SQL,
    "weekly_sales_interpolated": WEEKLY_SALES_INTERPOLATED_SQL,
    "weekly_demand": WEEKLY_DEMAND_SQL,
    "union_weekly_halves": UNION_WEEKLY_HALVES_SQL,
    "rolling_7day_sales": ROLLING_7DAY_SALES_SQL,
    "incremental_weekly_merge": INCREMENTAL_WEEKLY_MERGE_SQL,
    "weekly_sales_gapfill": WEEKLY_SALES_GAPFILL_SQL,
}

QUERIES = {
    "demand_forecast": demand_forecast,
    "weekly_demand_fast": weekly_demand_fast,
    "weekly_revenue_growth": weekly_revenue_growth,
    "weekly_sales_interpolated": weekly_sales_interpolated,
    "weekly_demand": weekly_demand,
    "union_weekly_halves": union_weekly_halves,
    "rolling_7day_sales": rolling_7day_sales,
    "incremental_weekly_merge": incremental_weekly_merge,
    "weekly_sales_gapfill": weekly_sales_gapfill,
}
