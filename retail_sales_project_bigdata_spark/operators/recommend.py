"""Product recommendation (SURVEY §2.4 A8, §2.11 M2, §2.3 J8).

Re-expresses ``ProductRecommendation.java``: implicit ratings =
``sum(SALES_VALUE)`` per (household, product) (``:49-50``), ALS with
maxIter 10 / regParam 0.1 / implicitPrefs / coldStartStrategy drop
(``:53-62``), ``recommendForAllUsers(5)`` flattened via explode + struct
field access (``:65-69``), joined to product names (``:71-72``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import (
    collect_item_sets,
    net_sales,
    oracle_sum,
    pair_explode_sets,
    pround,
    stable_sum,
)
from retail_sales_project_bigdata_spark.sources import read_table

ALS_MAX_ITER = 10  # ProductRecommendation.java:53-62
ALS_REG_PARAM = 0.1
ALS_TOP_K = 5
ALS_SEED = 42


def ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: implicit rating = total spend per (household, product)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", net_sales().alias("net_sales")
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(stable_sum("net_sales").alias("rating"))
    )


RATINGS_SQL = f"""
SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
       {oracle_sum('l.l_extendedprice * (1.0 - l.l_discount)')} AS rating
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey, l.l_partkey
"""


def als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 + O4 + J8: ALS top-5 per user, exploded and joined to part names.

    ``recommendForAllUsers`` returns ``array<struct<partkey,rating>>`` —
    flattened exactly like ProductRecommendation.java:65-69 (explode +
    ``col("rec.PRODUCT_ID")``-style struct access).  Rows-only check:
    factorization is seeded but engine-version-sensitive; tests assert
    exactly K recs per user with descending scores.
    """
    from pyspark.ml.recommendation import ALS

    base = ratings(spark, sf_dir)
    # ALS requires int32 ids.  A raw cast past 2^31 either throws under
    # ANSI mode or silently WRAPS (merging different customers' ratings)
    # without it — fail loudly with the remediation instead: key spaces
    # that outgrow int32 need a contiguous index mapping
    # (zipWithIndex / dense rank) built once and joined back after
    # recommendation.
    max_key = base.agg(
        F.greatest(F.max("custkey"), F.max("partkey"))
    ).first()[0]
    if max_key is not None and max_key > 2**31 - 1:
        raise ValueError(
            f"ALS ids must fit int32; max key {max_key} exceeds 2^31-1 — "
            "build a contiguous index mapping for custkey/partkey first"
        )
    r = base.select(
        F.col("custkey").cast("int").alias("user"),
        F.col("partkey").cast("int").alias("item"),
        F.col("rating").cast("float").alias("rating"),
    )
    als = ALS(
        maxIter=ALS_MAX_ITER,
        regParam=ALS_REG_PARAM,
        implicitPrefs=True,
        coldStartStrategy="drop",
        seed=ALS_SEED,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
    )
    model = als.fit(r)
    recs = model.recommendForAllUsers(ALS_TOP_K)
    flat = recs.select(
        F.col("user").alias("custkey"),
        F.explode("recommendations").alias("rec"),
    ).select(
        "custkey",
        F.col("rec.item").alias("partkey"),
        F.col("rec.rating").alias("score"),
    )
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("partkey"), "p_name"
    )
    return flat.join(part, "partkey", "inner").select(
        "custkey", "partkey", "p_name", "score"
    )


II_MIN_CO = 3  # minimum co-basket support for a neighbor pair
II_TOP_K = 5


def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering neighbors: top-{k} most similar
    parts per part by BINARY COSINE over co-basket counts —
    ``cos(a,b) = co(a,b) / √(n(a)·n(b))`` — the memory-based
    recommender that complements the model-based ALS path
    (ProductRecommendation.java:53-62 is the spec's only recommender;
    this is the classical neighborhood twin).

    Exactness: counts are exact integers; the denominator is
    ``sqrt`` OF THE EXACT INTEGER PRODUCT (not √n·√m — the two-sqrt
    form can round differently from the one-sqrt form), then ONE
    division: identical correctly-rounded ops on both engines.  Ranking
    ties (equal cosine) break on the neighbor id, so top-k membership
    is engine-deterministic.

    Scale: per-basket pair explosion is bounded by basket size (TPC-H
    ≤ 7 lines/order; a retail feed caps basket length upstream), and
    the ``II_MIN_CO`` support threshold prunes the pair frame before
    the similarity math.  The per-item top-k window partitions on
    partkey — |parts|-cardinality, so no single-task hazard — and
    Spark's WindowGroupLimit pushes the rank filter map-side.
    """
    from pyspark.sql.window import Window

    # ONE per-basket shuffle builds the sorted item sets (collect_set
    # dedups — no upstream distinct); the persisted sets feed BOTH the
    # per-item basket counts (one explode) and the co-basket pair counts
    # (map-side pair explosion).  Replaces distinct + self-join: one
    # fact exchange instead of three.  The oracle keeps the self-join
    # form, proving the rewrite equivalent.
    sets = collect_item_sets(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
        "l_orderkey",
        "l_partkey",
    ).persist()
    item_n = (
        sets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    co = (
        pair_explode_sets(sets, a="pa", b="pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= II_MIN_CO)
    )
    na = item_n.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))
    nb = item_n.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))
    # sim feeds BOTH branches of the direction-mirroring union below;
    # without a cache boundary each branch re-runs the co-pair explode +
    # aggregate and both count joins (optimization round r10, guide
    # §2.4 — same fix as association_rules_2item).  Support-pruned by
    # II_MIN_CO → bounded at any scale.
    sim = co.join(na, "pa").join(nb, "pb").select(
        "pa",
        "pb",
        "co",
        (
            F.col("co").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
        ).alias("cos_raw"),
    ).persist()
    both = sim.select(
        F.col("pa").alias("item"),
        F.col("pb").alias("neighbor"),
        "co",
        "cos_raw",
    ).unionByName(
        sim.select(
            F.col("pb").alias("item"),
            F.col("pa").alias("neighbor"),
            "co",
            "cos_raw",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cos_raw"), F.asc("neighbor")
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= II_TOP_K)
        .select(
            "item",
            "neighbor",
            "co",
            pround("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


item_item_cosine_topk.__doc__ = item_item_cosine_topk.__doc__.format(
    k=II_TOP_K
)


ITEM_ITEM_COSINE_TOPK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item_n AS (
  SELECT l_partkey, COUNT(*) AS n FROM pairs GROUP BY l_partkey
),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
  FROM pairs a JOIN pairs b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {II_MIN_CO}
),
sim AS (
  SELECT c.pa, c.pb, c.co,
         CAST(c.co AS DOUBLE) / SQRT(CAST(na.n * nb.n AS DOUBLE)) AS cos_raw
  FROM co c
  JOIN item_n na ON c.pa = na.l_partkey
  JOIN item_n nb ON c.pb = nb.l_partkey
),
dirs AS (
  SELECT pa AS item, pb AS neighbor, co, cos_raw FROM sim
  UNION ALL
  SELECT pb AS item, pa AS neighbor, co, cos_raw FROM sim
),
ranked AS (
  SELECT item, neighbor, co, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY item
                            ORDER BY cos_raw DESC, neighbor) AS rank
  FROM dirs
)
SELECT item, neighbor, co, ROUND(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= {II_TOP_K}
"""


ORACLES: dict[str, str] = {
    "ratings": RATINGS_SQL,
    "item_item_cosine_topk": ITEM_ITEM_COSINE_TOPK_SQL,
    # als_recommendations: rows-only (seeded ALS, engine-version-sensitive)
}

QUERIES = {
    "ratings": ratings,
    "als_recommendations": als_recommendations,
    "item_item_cosine_topk": item_item_cosine_topk,
}
