"""Churn / repurchase labeling (SURVEY §2.5 W1, §2.3 J2-J6, §2.4 A4-A6).

Re-expresses the relational DAG of ``ChurnPrediction.java:58-267`` on the
testdata mapping (household → o_custkey, product → l_partkey, basket →
o_orderkey, day → l_shipdate day index):

- W1: ``row_number() OVER (PARTITION BY household, product ORDER BY day)``
  → first-purchase flag (``ChurnPrediction.java:82-88``).  The rebuild
  gives the window a TOTAL order ``(day, orderkey, linenumber)`` so ties
  cannot flip rows between runs/engines (§4.3.6 determinism fix).
- J2: transactions ⋈left distinct promo-days on (household, day)
  (``ChurnPrediction.java:91-117``'s coupon-day join).
- J3: the repurchase-window RANGE join — equi on (household, product) plus
  ``first_day < later_day <= first_day + 90``
  (``ChurnPrediction.java:147-154``; window default ``:41``).
- J4-J6: left joins with coalesce defaults (``:175-251``).
- A4-A6: repurchase summary, per-pair stats, cohort rates (``:157-343``).

Scale design: every join/window here keys on (custkey, partkey) or
(custkey, day) — one shuffle partitioning, reused across the window and the
self-join (Spark reuses the exchange when the key set matches).  The range
predicate rides on the equi join (no cross product): Catalyst evaluates it
as a post-join filter on the sort-merge output, which is the right plan
when each (household, product) group is small — the 100 TB failure mode
(hot products with millions of rows per key) is handled by AQE skew-join
splitting, enabled in the session factory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import (
    pround,
    DAY_EPOCH,
    day_index,
    day_of_week,
    net_sales,
    oracle_avg,
    oracle_sum,
    stable_avg,
    stable_sum,
    week_no,
)
from retail_sales_project_bigdata_spark.sources import read_table

REPURCHASE_WINDOW_DAYS = 90  # ChurnPrediction.java:41

# Shared SQL fragment: the transaction base (lineitem ⋈ orders with
# integer day + derived measures), used by every oracle below.
_FACTS_CTE = f"""
facts AS (
  SELECT o.o_custkey AS custkey,
         l.l_partkey AS partkey,
         l.l_orderkey AS orderkey,
         l.l_linenumber AS linenumber,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(l.l_shipdate AS DATE)) + 1 AS INT) AS day,
         l.l_extendedprice * (1.0 - l.l_discount) AS net_sales,
         CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END AS is_discounted
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""


def transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The churn-analysis transaction base (ChurnPrediction.java:58-65)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        day_index("l_shipdate").alias("day"),
        net_sales().alias("net_sales"),
        F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("is_discounted"),
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        "day",
        "net_sales",
        "is_discounted",
    )


def first_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first purchase per (household, product) — ChurnPrediction.java:82-88,
    120-134, with the day-of-week expression ``((day-1)%7)+1`` (``:132``)."""
    tx = transactions(spark, sf_dir)
    w = Window.partitionBy("custkey", "partkey").orderBy(
        "day", "orderkey", "linenumber"
    )
    return (
        tx.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "custkey",
            "partkey",
            F.col("day").alias("first_day"),
            day_of_week("day").alias("first_dow"),
            F.col("net_sales").alias("first_net_sales"),
            F.col("is_discounted").alias("first_with_discount"),
        )
    )


FIRST_PURCHASES_SQL = f"""
WITH {_FACTS_CTE},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY custkey, partkey ORDER BY day, orderkey, linenumber) AS rn
  FROM facts
)
SELECT custkey, partkey, day AS first_day,
       CAST(((day - 1) % 7) + 1 AS INT) AS first_dow,
       net_sales AS first_net_sales,
       is_discounted AS first_with_discount
FROM ranked WHERE rn = 1
"""


def promo_day_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: transactions ⋈left distinct promo-days on (household, day).

    Parity with the coupon-redemption-day join ``ChurnPrediction.java:91-117``:
    the right side is a DISTINCT (household, day) set (``:91-94``), the join
    is left, and the output flags matches.  "Promo day" = the household had
    any discounted line (l_discount > 0) that day — the same
    is_discounted rule the preprocessing flags use.
    """
    tx = transactions(spark, sf_dir).alias("t")
    promo_days = (
        transactions(spark, sf_dir)
        .filter(F.col("is_discounted") == 1)
        .select(F.col("custkey").alias("p_custkey"), F.col("day").alias("promo_day"))
        .distinct()
        .alias("p")
    )
    joined = tx.join(
        promo_days,
        (F.col("t.custkey") == F.col("p.p_custkey"))
        & (F.col("t.day") == F.col("p.promo_day")),
        "left",
    )
    return joined.select(
        F.col("t.custkey").alias("custkey"),
        F.col("t.partkey").alias("partkey"),
        F.col("t.orderkey").alias("orderkey"),
        F.col("t.linenumber").alias("linenumber"),
        F.col("t.day").alias("day"),
        F.when(F.col("p.promo_day").isNotNull(), 1).otherwise(0).alias(
            "on_promo_day"
        ),
    )


PROMO_DAY_FLAGS_SQL = f"""
WITH {_FACTS_CTE},
promo_days AS (
  SELECT DISTINCT custkey, day AS promo_day
  FROM facts WHERE is_discounted = 1
)
SELECT f.custkey, f.partkey, f.orderkey, f.linenumber, f.day,
       CASE WHEN p.promo_day IS NOT NULL THEN 1 ELSE 0 END AS on_promo_day
FROM facts f
LEFT JOIN promo_days p ON f.custkey = p.custkey AND f.day = p.promo_day
"""


def _pair_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-(custkey, partkey) signal of the churn DAG in ONE shuffle.

    The reference materializes first-purchases, self-joins transactions
    back for the repurchase window, aggregates, and left-joins twice more
    (``ChurnPrediction.java:82-230``) — at scale that shuffles the fact
    table 4×, every time on the same (household, product) key.  All of it
    is expressible as window functions over a single hash partitioning:

    - first purchase  = ``min(struct(day, orderkey, linenumber))`` over
      the unordered partition (lexicographic struct min == first row of
      the total order — §4.3.6 determinism),
    - the J3 range self-join = a per-row membership test
      ``first_day < day <= first_day + W`` (equi keys are the partition),
    - A4's min/count = conditional window aggregates of that flag,
    - A5's per-pair stats = plain window aggregates.

    One Exchange; the ordered row_number and every unordered aggregate
    reuse it (same partition keys ⇒ Spark plans a single shuffle with
    stacked Window nodes).  AQE skew-join handling is irrelevant here —
    there is no join left to skew."""
    tx = transactions(spark, sf_dir)
    w = Window.partitionBy("custkey", "partkey")
    wo = w.orderBy("day", "orderkey", "linenumber")
    first_day = F.min(F.struct("day", "orderkey", "linenumber")).over(w)[
        "day"
    ]
    in_win = (F.col("day") > F.col("first_day")) & (
        F.col("day") <= F.col("first_day") + F.lit(REPURCHASE_WINDOW_DAYS)
    )
    return (
        tx.withColumn("rn", F.row_number().over(wo))
        .withColumn("first_day", first_day)
        .withColumns(
            {
                "in_win": in_win,
                "n_repurchases": F.sum(in_win.cast("long")).over(w),
                "first_repurchase_day": F.min(F.when(in_win, F.col("day"))).over(w),
            }
        )
    )


def repurchase_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 range join + A4 summary + J4 left join back → labeled pairs.

    ``ChurnPrediction.java:147-194``: first purchases joined to later
    purchases of the same (household, product) within
    ``(first_day, first_day + 90]`` — strict lower bound, inclusive upper
    (FIXTURES.md §C.6) — aggregated to ``min(later_day)``/count, then
    left-joined back so non-repurchasers keep label 0 via coalesce (P12).
    Physically the whole chain collapses into one shuffle
    (:func:`_pair_window_frame`); the SQL oracle keeps the reference's
    join formulation, proving the rewrite semantics-identical.
    """
    enriched = _pair_window_frame(spark, sf_dir)
    return enriched.filter(F.col("rn") == 1).select(
        "custkey",
        "partkey",
        "first_day",
        day_of_week("first_day").alias("first_dow"),
        F.col("is_discounted").alias("first_with_discount"),
        F.coalesce(F.col("first_repurchase_day"), F.lit(-1)).alias(
            "first_repurchase_day"
        ),
        "n_repurchases",
        F.when(F.col("n_repurchases") > 0, 1).otherwise(0).alias("label"),
    )


# Shared oracle fragment: first-purchase ranking + repurchase-window
# hits (superset of the columns each consumer needs — ONE owner for the
# window-join semantics, so a bound change cannot drift across oracles).
_REPURCHASE_CTE = f"""
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY custkey, partkey ORDER BY day, orderkey, linenumber) AS rn
  FROM facts
),
fp AS (
  SELECT custkey, partkey, day AS first_day,
         CAST(((day - 1) % 7) + 1 AS INT) AS first_dow,
         is_discounted AS first_with_discount
  FROM ranked WHERE rn = 1
),
window_hits AS (
  SELECT fp.custkey, fp.partkey,
         MIN(f.day) AS first_repurchase_day,
         COUNT(f.day) AS n_repurchases
  FROM fp JOIN facts f
    ON fp.custkey = f.custkey AND fp.partkey = f.partkey
   AND f.day > fp.first_day AND f.day <= fp.first_day + {REPURCHASE_WINDOW_DAYS}
  GROUP BY fp.custkey, fp.partkey
)"""


REPURCHASE_LABELS_SQL = f"""
WITH {_FACTS_CTE},
{_REPURCHASE_CTE}
SELECT fp.custkey, fp.partkey, fp.first_day, fp.first_dow, fp.first_with_discount,
       COALESCE(w.first_repurchase_day, -1) AS first_repurchase_day,
       COALESCE(w.n_repurchases, 0) AS n_repurchases,
       CASE WHEN w.n_repurchases IS NOT NULL THEN 1 ELSE 0 END AS label
FROM fp LEFT JOIN window_hits w
  ON fp.custkey = w.custkey AND fp.partkey = w.partkey
"""


def pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-(household, product) transaction stats —
    ChurnPrediction.java:197-204 (count / sum / avg of sales)."""
    tx = transactions(spark, sf_dir)
    return tx.groupBy("custkey", "partkey").agg(
        F.count(F.lit(1)).alias("tx_count"),
        stable_sum("net_sales").alias("total_sales"),
        stable_avg("net_sales").alias("avg_sales"),
    )


PAIR_STATS_SQL = f"""
WITH {_FACTS_CTE}
SELECT custkey, partkey,
       COUNT(*) AS tx_count,
       {oracle_sum('net_sales')} AS total_sales,
       {oracle_avg('net_sales')} AS avg_sales
FROM facts GROUP BY custkey, partkey
"""


def churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 + J6: labeled pairs ⋈left pair stats ⋈left demographics with
    coalesce defaults — ChurnPrediction.java:207-251's ML feature frame.

    Physically: the pair stats (A5) ride the SAME single shuffle as the
    labels (window aggregates over the shared (custkey, partkey)
    partitioning — :func:`_pair_window_frame`), so the only join left is
    the broadcast customer-dimension lookup.  The reference's plan
    shuffled the fact table four times here; this one shuffles it once.
    The stats coalesces are no-ops by construction (every pair has its
    own transactions) but are kept for schema parity with the oracle's
    left-join formulation."""
    w = Window.partitionBy("custkey", "partkey")
    enriched = (
        _pair_window_frame(spark, sf_dir)
        .withColumn("tx_count", F.count(F.lit(1)).over(w))
        .withColumn("pair_sum", F.sum("net_sales").over(w))
    )
    labels = enriched.filter(F.col("rn") == 1).select(
        "custkey",
        "partkey",
        "first_day",
        day_of_week("first_day").alias("first_dow"),
        F.col("is_discounted").alias("first_with_discount"),
        "n_repurchases",
        F.when(F.col("n_repurchases") > 0, 1).otherwise(0).alias("label"),
        "tx_count",
        pround(F.col("pair_sum"), 4).alias("total_sales"),
        pround(pround(F.col("pair_sum"), 4) / F.col("tx_count"), 6).alias(
            "avg_sales"
        ),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return labels.join(cust, labels.custkey == cust.c_custkey, "left").select(
        "custkey",
        "partkey",
        "first_day",
        "first_dow",
        "first_with_discount",
        "n_repurchases",
        "label",
        F.coalesce(F.col("tx_count"), F.lit(0)).alias("tx_count"),
        F.coalesce(F.col("total_sales"), F.lit(0.0)).alias("total_sales"),
        F.coalesce(F.col("avg_sales"), F.lit(0.0)).alias("avg_sales"),
        F.coalesce(F.col("mktsegment"), F.lit("UNKNOWN")).alias("mktsegment"),
        F.coalesce(F.col("acctbal"), F.lit(0.0)).alias("acctbal"),
        F.coalesce(F.col("nationkey"), F.lit(-1)).alias("nationkey"),
    )


CHURN_FEATURES_SQL = f"""
WITH {_FACTS_CTE},
{_REPURCHASE_CTE},
labels AS (
  SELECT fp.custkey, fp.partkey, fp.first_day, fp.first_dow, fp.first_with_discount,
         COALESCE(w.n_repurchases, 0) AS n_repurchases,
         CASE WHEN w.n_repurchases IS NOT NULL THEN 1 ELSE 0 END AS label
  FROM fp LEFT JOIN window_hits w
    ON fp.custkey = w.custkey AND fp.partkey = w.partkey
),
stats AS (
  SELECT custkey, partkey,
         COUNT(*) AS tx_count,
         {oracle_sum('net_sales')} AS total_sales,
         {oracle_avg('net_sales')} AS avg_sales
  FROM facts GROUP BY custkey, partkey
)
SELECT lb.custkey, lb.partkey, lb.first_day, lb.first_dow,
       lb.first_with_discount, lb.n_repurchases, lb.label,
       COALESCE(s.tx_count, 0) AS tx_count,
       COALESCE(s.total_sales, 0.0) AS total_sales,
       COALESCE(s.avg_sales, 0.0) AS avg_sales,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
       COALESCE(c.c_acctbal, 0.0) AS acctbal,
       COALESCE(c.c_nationkey, -1) AS nationkey
FROM labels lb
LEFT JOIN stats s ON lb.custkey = s.custkey AND lb.partkey = s.partkey
LEFT JOIN customer c ON lb.custkey = c.c_custkey
"""


def cohort_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: repurchase rate by first-purchase-discount cohort —
    ChurnPrediction.java:340-343 (``sum(label)/count(*)`` via expr)."""
    labels = repurchase_labels(spark, sf_dir)
    return labels.groupBy("first_with_discount").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("label").alias("n_repurchased"),
        pround(F.sum("label") / F.count(F.lit(1)), 6).alias("repurchase_rate"),
    )


COHORT_RATES_SQL = f"""
WITH {_FACTS_CTE},
{_REPURCHASE_CTE},
labels AS (
  SELECT fp.first_with_discount,
         CASE WHEN w.n_repurchases IS NOT NULL THEN 1 ELSE 0 END AS label
  FROM fp LEFT JOIN window_hits w
    ON fp.custkey = w.custkey AND fp.partkey = w.partkey
)
SELECT first_with_discount,
       COUNT(*) AS n_pairs,
       CAST(SUM(label) AS BIGINT) AS n_repurchased,
       ROUND(SUM(label) / COUNT(*), 6) AS repurchase_rate
FROM labels GROUP BY first_with_discount
"""


def retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle over ``orders``: customers are
    cohorted by the week of their first order; each cell counts distinct
    customers active at week-offset k, with retention relative to the
    cohort's own week-0 size (every customer is active at offset 0 by
    construction, so the window max IS the base).

    Scale: the cohort week comes from a window-min over one ``o_custkey``
    shuffle (no self-join back onto orders); the cell rollup is the only
    other shuffle, and the retention normalizer is a window over the
    already-tiny (cohort × offset) frame."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", week_no(day_index("o_orderdate")).alias("wk")
    )
    w_cust = Window.partitionBy("o_custkey")
    cells = (
        orders.withColumn("cohort_week", F.min("wk").over(w_cust))
        .withColumn("offset_weeks", F.col("wk") - F.col("cohort_week"))
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )
    w_cohort = Window.partitionBy("cohort_week")
    return cells.withColumn(
        "retention",
        F.col("n_active").cast("double")
        / F.max(
            F.when(F.col("offset_weeks") == 0, F.col("n_active"))
        ).over(w_cohort).cast("double"),
    )


RETENTION_TRIANGLE_SQL = f"""
WITH o AS (
  SELECT o_custkey,
         CAST(CEIL((datediff('day', DATE '{DAY_EPOCH}', CAST(o_orderdate AS DATE)) + 1) / 7.0) AS INT) AS wk
  FROM orders
),
tagged AS (
  SELECT o_custkey, wk,
         MIN(wk) OVER (PARTITION BY o_custkey) AS cohort_week
  FROM o
),
cells AS (
  SELECT cohort_week, wk - cohort_week AS offset_weeks,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
  FROM tagged GROUP BY cohort_week, wk - cohort_week
)
SELECT cohort_week, offset_weeks, n_active,
       CAST(n_active AS DOUBLE)
         / CAST(MAX(CASE WHEN offset_weeks = 0 THEN n_active END)
                  OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention
FROM cells
"""


def coupon_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coupon-first-purchase analysis — completes the reference's
    named-but-empty ``CouponFirstPurchase.java:3-8`` placeholder: does a
    discount on a customer's FIRST purchase of a product correlate with
    repurchasing it?  Cohorts pairs by whether the first purchase day
    carried a discount (l_discount > 0 is the promo proxy, as in
    promo_day_flags) and reports each cohort's repurchase rate.

    Shape: one fact⋈fact shuffle (lineitem ⋈ orders on orderkey), then
    TWO stacked hash aggregates on the same (custkey, partkey) grain —
    per-day collapse first (makes day unique per pair, so ``min_by`` is
    deterministic), then per-pair firsts — and a 2-row cohort rollup.
    No windows, no skew-prone keys.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.col("l_discount")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", day_index("o_orderdate").alias("day")
    )
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey",
        "l_partkey",
        "day",
        F.when(F.col("l_discount") > 0, 1).otherwise(0).alias("is_disc"),
    )
    per_day = facts.groupBy("o_custkey", "l_partkey", "day").agg(
        F.max("is_disc").alias("day_disc")
    )
    per_pair = per_day.groupBy("o_custkey", "l_partkey").agg(
        F.min_by("day_disc", "day").alias("first_disc"),
        (F.count(F.lit(1)) > 1).cast("int").alias("repurchased"),
    )
    return per_pair.groupBy(
        F.col("first_disc").alias("first_purchase_discounted")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("repurchased").alias("n_repurchased"),
        (
            F.sum("repurchased").cast("double") / F.count(F.lit(1))
        ).alias("repurchase_rate"),
    )


COUPON_FIRST_PURCHASE_SQL = f"""
WITH facts AS (
  SELECT o.o_custkey, l.l_partkey,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(o.o_orderdate AS DATE)) + 1 AS INT) AS day,
         CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END AS is_disc
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_day AS (
  SELECT o_custkey, l_partkey, day, MAX(is_disc) AS day_disc
  FROM facts GROUP BY o_custkey, l_partkey, day
),
per_pair AS (
  SELECT o_custkey, l_partkey,
         arg_min(day_disc, day) AS first_disc,
         CAST(COUNT(*) > 1 AS INT) AS repurchased
  FROM per_day GROUP BY o_custkey, l_partkey
)
SELECT first_disc AS first_purchase_discounted,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(repurchased) AS BIGINT) AS n_repurchased,
       CAST(SUM(repurchased) AS DOUBLE) / COUNT(*) AS repurchase_rate
FROM per_pair GROUP BY first_disc
"""


ORACLES: dict[str, str] = {
    "coupon_first_purchase": COUPON_FIRST_PURCHASE_SQL,
    "first_purchases": FIRST_PURCHASES_SQL,
    "promo_day_flags": PROMO_DAY_FLAGS_SQL,
    "repurchase_labels": REPURCHASE_LABELS_SQL,
    "pair_stats": PAIR_STATS_SQL,
    "churn_features": CHURN_FEATURES_SQL,
    "cohort_rates": COHORT_RATES_SQL,
    "retention_triangle": RETENTION_TRIANGLE_SQL,
}

QUERIES = {
    "coupon_first_purchase": coupon_first_purchase,
    "first_purchases": first_purchases,
    "promo_day_flags": promo_day_flags,
    "repurchase_labels": repurchase_labels,
    "pair_stats": pair_stats,
    "churn_features": churn_features,
    "cohort_rates": cohort_rates,
    "retention_triangle": retention_triangle,
}
