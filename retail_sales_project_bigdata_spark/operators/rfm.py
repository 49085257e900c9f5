"""RFM + demographics (SURVEY §2.4 A2-A3, §2.3 J1) — the flagship query.

Re-expresses ``FullPreprocessingPipeline.java:178-211``: per-customer
recency (global max day − last purchase day), frequency
(countDistinct baskets), monetary (sum net_sales), joined to demographics.

Testdata mapping (FIXTURES.md §B): household → o_custkey, basket →
o_orderkey, day → o_orderdate, net_sales from lineitem, demographics →
customer/nation/region dims.

Scale design:
- lineitem ⋈ orders is the only fact-fact shuffle (hash on orderkey; AQE
  coalesces/splits at runtime).  The per-customer aggregate reuses the
  shuffle output; customer/nation/region joins are broadcast (dims are
  scale-invariant) so nothing re-shuffles the aggregated side.
- The global ``max(day)`` scalar is computed as a 1-row aggregate and
  cross-joined back with a broadcast hint — stays lazy, no driver round-trip
  (the reference pulls it to the driver at
  FullPreprocessingPipeline.java:178; §4.1 notes crossJoin as the lazy
  alternative).
- The demographic attribute pick uses deterministic ``min`` instead of the
  reference's order-dependent ``first(ignoreNulls)``
  (FullPreprocessingPipeline.java:195-203; fix mandated by §4.3.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import (
    DAY_EPOCH,
    day_index,
    net_sales,
    oracle_sum,
    stable_sum,
)
from retail_sales_project_bigdata_spark.sources import read_table


def _order_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders with integer day + net_sales derived."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", net_sales().alias("net_sales")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", day_index("o_orderdate").alias("day")
    )
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")


def rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM (A2).

    The global max day is derived from the already-aggregated per-customer
    frame (``max(last_purchase_day)`` ≡ ``max(day)`` over facts) instead of
    re-scanning the fact join a second time — the 1-row aggregate runs on
    ~|customers| rows and broadcasts back via crossJoin, so the lineitem ⋈
    orders shuffle happens exactly once."""
    facts = _order_facts(spark, sf_dir)
    per_cust = facts.groupBy("o_custkey").agg(
        F.max("day").alias("last_purchase_day"),
        F.countDistinct("o_orderkey").alias("frequency"),
        stable_sum("net_sales").alias("monetary"),
    )
    max_day = per_cust.agg(
        F.max("last_purchase_day").alias("global_max_day")
    )
    return per_cust.crossJoin(F.broadcast(max_day)).select(
        "o_custkey",
        (F.col("global_max_day") - F.col("last_purchase_day")).alias("recency"),
        "frequency",
        "monetary",
        "last_purchase_day",
    )


RFM_SQL = f"""
WITH facts AS (
  SELECT o.o_custkey,
         o.o_orderkey,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(o.o_orderdate AS DATE)) + 1 AS INT) AS day,
         l.l_extendedprice * (1.0 - l.l_discount) AS net_sales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_cust AS (
  SELECT o_custkey,
         MAX(day) AS last_purchase_day,
         COUNT(DISTINCT o_orderkey) AS frequency,
         {oracle_sum('net_sales')} AS monetary
  FROM facts GROUP BY o_custkey
)
SELECT o_custkey,
       (SELECT MAX(day) FROM facts) - last_purchase_day AS recency,
       frequency, monetary, last_purchase_day
FROM per_cust
"""


def rfm_demographics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM ⋈ demographics (J1 + A3, FullPreprocessingPipeline.java:195-211).

    customer → nation → region are broadcast joins; the "first non-null
    demographic per group" becomes a deterministic ``min`` (§4.3.6) with a
    null→'UNKNOWN' fill (P6 analog, FullPreprocessingPipeline.java:62-70).
    """
    base = rfm(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    demo = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left")
        .join(region, nation.n_regionkey == region.r_regionkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.min("c_mktsegment").alias("mktsegment"),
            F.min("n_name").alias("nation_name"),
            F.min("r_name").alias("region_name"),
            F.min("c_acctbal").alias("acctbal"),
        )
        .na.fill("UNKNOWN", ["mktsegment", "nation_name", "region_name"])
    )
    return base.join(demo, base.o_custkey == demo.c_custkey, "inner").select(
        "o_custkey",
        "recency",
        "frequency",
        "monetary",
        "mktsegment",
        "nation_name",
        "region_name",
        "acctbal",
    )


RFM_DEMOGRAPHICS_SQL = f"""
WITH facts AS (
  SELECT o.o_custkey,
         o.o_orderkey,
         CAST(datediff('day', DATE '{DAY_EPOCH}', CAST(o.o_orderdate AS DATE)) + 1 AS INT) AS day,
         l.l_extendedprice * (1.0 - l.l_discount) AS net_sales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_cust AS (
  SELECT o_custkey,
         MAX(day) AS last_purchase_day,
         COUNT(DISTINCT o_orderkey) AS frequency,
         {oracle_sum('net_sales')} AS monetary
  FROM facts GROUP BY o_custkey
),
demo AS (
  SELECT c.c_custkey,
         COALESCE(MIN(c.c_mktsegment), 'UNKNOWN') AS mktsegment,
         COALESCE(MIN(n.n_name), 'UNKNOWN') AS nation_name,
         COALESCE(MIN(r.r_name), 'UNKNOWN') AS region_name,
         MIN(c.c_acctbal) AS acctbal
  FROM customer c
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY c.c_custkey
)
SELECT p.o_custkey,
       (SELECT MAX(day) FROM facts) - p.last_purchase_day AS recency,
       p.frequency, p.monetary,
       d.mktsegment, d.nation_name, d.region_name, d.acctbal
FROM per_cust p JOIN demo d ON p.o_custkey = d.c_custkey
"""


def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic 5-quintile RFM scoring on top of :func:`rfm` — NTILE(5)
    per metric with the customer key as total-order tiebreak (NTILE is
    purely rank-based, so a unique ordering makes it deterministic and
    engine-portable).  R inverts (most recent = 5); the concatenated
    segment code is the standard retail-marketing cell label.

    Scale (VERDICT r1 item 1): customers grow with the business, so the
    former three global ``ntile(5)`` windows (single-task sort each) are
    replaced by ONE melted two-phase ranking pass: the frame unpivots to
    (custkey, metric, ord) — ord ascending-normalized by negation, exact
    for longs < 2^53 and IEEE doubles — then one range exchange over the
    3n melted rows, a per-(partition, metric) local row_number, broadcast
    prefix-sum offsets per metric, closed-form NTILE arithmetic, and a
    pivot back to one row per customer.  Values identical (the SQL oracle
    still says NTILE); no unpartitioned WindowExec remains
    (asserted in tests/test_plans.py).
    """
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_row_number,
        ntile_from_rn,
        with_total_count,
    )

    # The per-customer frame feeds four consumers (count, melt, final
    # join); persist it once — it is the AGGREGATED frame (|customers|
    # rows, spill-safe MEMORY_AND_DISK), not the fact table.  Same
    # persist-for-multi-consumer pattern as weekly_sales_interpolated.
    base = with_total_count(rfm(spark, sf_dir).persist())
    melted = base.select(
        "o_custkey",
        "_n_total",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency").cast("double").alias("ord"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    (-F.col("frequency")).cast("double").alias("ord"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    (-F.col("monetary")).alias("ord"),
                ),
            )
        ).alias("mv"),
    ).select("o_custkey", "_n_total", "mv.metric", "mv.ord")

    ranked = grouped_row_number(
        melted,
        ["metric"],
        [F.asc("ord"), F.asc("o_custkey")],
        "_rn",
    )
    score = F.lit(6) - ntile_from_rn(F.col("_rn"), F.col("_n_total"), 5)
    scores = ranked.groupBy("o_custkey").agg(
        F.max(F.when(F.col("metric") == "r", score)).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", score)).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", score)).alias("m_score"),
    )
    return (
        base.join(scores, "o_custkey")
        .select(
            "o_custkey",
            "recency",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
        .withColumn(
            "segment",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ),
        )
    )


RFM_SCORES_SQL = f"""
WITH rfm_base AS ({RFM_SQL})
SELECT o_custkey, recency, frequency, monetary,
       6 - NTILE(5) OVER (ORDER BY recency ASC, o_custkey ASC) AS r_score,
       6 - NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
       6 - NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score,
       CAST(6 - NTILE(5) OVER (ORDER BY recency ASC, o_custkey ASC) AS VARCHAR)
       || CAST(6 - NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS VARCHAR)
       || CAST(6 - NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS VARCHAR)
           AS segment
FROM rfm_base
"""


ORACLES: dict[str, str] = {
    "rfm": RFM_SQL,
    "rfm_demographics": RFM_DEMOGRAPHICS_SQL,
    "rfm_scores": RFM_SCORES_SQL,
}

QUERIES = {
    "rfm": rfm,
    "rfm_demographics": rfm_demographics,
    "rfm_scores": rfm_scores,
}
