"""Customer segmentation (SURVEY §2.4 A7, §2.11 M5-M6).

Re-expresses ``SegmentationFeatureEngineering.java:17-49`` (3-way join +
per-household aggregate with three countDistincts) and
``SegmentationModel.java:95-174`` (KMeans k-sweep with silhouette pick,
tie-break lower WSSSE).

Scale: multiple ``countDistinct`` in one agg compiles to Catalyst's
expand-node (one shuffle, 3× row expansion) — acceptable; for the 100 TB
path a pre-aggregated ``approx_count_distinct`` variant is provided
(``segmentation_features_approx``) that keeps a single unexpanded shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import (
    net_sales,
    oracle_avg,
    oracle_sum,
    stable_avg,
    stable_sum,
)
from retail_sales_project_bigdata_spark.sources import read_table

KMEANS_K_RANGE = range(2, 9)  # SegmentationModel.java:95 (k ∈ {2..8})
KMEANS_SEED = 123  # SegmentationModel.java:113

FEATURE_COLS = [
    "total_sales",
    "total_quantity",
    "n_baskets",
    "n_products",
    "n_brands",
    "avg_sales",
]


def segmentation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-household features over tx ⋈ product ⋈ demographics (J7).

    ``SegmentationFeatureEngineering.java:33-45``: sum(sales), sum(qty),
    countDistinct(basket), countDistinct(product), countDistinct(brand),
    avg(sales).  The product dim joins broadcast (scale-invariant).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", net_sales().alias("net_sales")
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            stable_sum("net_sales").alias("total_sales"),
            stable_sum("l_quantity").alias("total_quantity"),
            F.countDistinct("o_orderkey").alias("n_baskets"),
            F.countDistinct("l_partkey").alias("n_products"),
            F.countDistinct("p_brand").alias("n_brands"),
            stable_avg("net_sales").alias("avg_sales"),
        )
    )


SEGMENTATION_FEATURES_SQL = f"""
SELECT o.o_custkey AS custkey,
       {oracle_sum('l.l_extendedprice * (1.0 - l.l_discount)')} AS total_sales,
       {oracle_sum('l.l_quantity')} AS total_quantity,
       COUNT(DISTINCT o.o_orderkey) AS n_baskets,
       COUNT(DISTINCT l.l_partkey) AS n_products,
       COUNT(DISTINCT p.p_brand) AS n_brands,
       {oracle_avg('l.l_extendedprice * (1.0 - l.l_discount)')} AS avg_sales
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_custkey
"""


def segmentation_features_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB variant of A7: ``approx_count_distinct`` (HLL++) replaces the
    expand-node — single shuffle, no row expansion, ~2% relative error.
    Rows-only check (approximate by design)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", net_sales().alias("net_sales")
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            stable_sum("net_sales").alias("total_sales"),
            F.approx_count_distinct("o_orderkey").alias("n_baskets_approx"),
            F.approx_count_distinct("l_partkey").alias("n_products_approx"),
            F.approx_count_distinct("p_brand").alias("n_brands_approx"),
        )
    )


def _fit_feature_prep(spark: SparkSession, sf_dir: str):
    """(assembler, fitted scaler, assembled corpus frame): the shared
    feature-prep pipeline (SegmentationModel.java:84-88 — std only, no
    mean centering).  The sweep returns it, so assignments and the
    manual-row path score against the SAME fitted scaler as the corpus
    (the reference's manual mode re-derives it identically,
    SegmentationPrediction.java:74-87) without fitting it twice."""
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    feats = segmentation_features(spark, sf_dir).na.fill(0.0, FEATURE_COLS)
    assembler = VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features_raw"
    )
    assembled = assembler.transform(feats)
    scaler = StandardScaler(
        inputCol="features_raw",
        outputCol="features",
        withStd=True,
        withMean=False,
    ).fit(assembled)
    return assembler, scaler, assembled


def _scaled_features(prep) -> DataFrame:
    """(custkey, features): assembled + standard-scaled feature frame."""
    _, scaler, assembled = prep
    return scaler.transform(assembled).select("custkey", "features")


def _run_sweep(spark: SparkSession, sf_dir: str):
    """(metric rows, best k, best fitted model, feature prep): the seeded
    KMeans grid over one fitted feature prep.  Callers that score reuse
    the returned prep and model instead of fitting either again."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator

    prep = _fit_feature_prep(spark, sf_dir)
    scaled = _scaled_features(prep).cache()
    try:
        evaluator = ClusteringEvaluator(metricName="silhouette")
        rows, models = [], {}
        for k in KMEANS_K_RANGE:
            model = KMeans(
                k=k,
                seed=KMEANS_SEED,
                featuresCol="features",
                maxIter=20,
            ).fit(scaled)
            pred = model.transform(scaled)
            silhouette = evaluator.evaluate(pred)
            wssse = model.summary.trainingCost
            rows.append((k, float(silhouette), float(wssse)))
            models[k] = model
    finally:
        scaled.unpersist()
    best = max(rows, key=lambda r: (r[1], -r[2]))  # silhouette max, WSSSE tie
    best_k = best[0]
    # trainingCost has been read; drop the summary so later transforms
    # never serialize the session (ml.pipelines.strip_training_summary).
    from retail_sales_project_bigdata_spark.ml.pipelines import (
        strip_training_summary,
    )

    strip_training_summary(models[best_k])
    return rows, best_k, models[best_k], prep


def kmeans_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: KMeans k-sweep with silhouette metric per k —
    SegmentationModel.java:95-151 (k ∈ 2..8, seed 123, standard-scaled
    features, silhouette-max best k, tie-break lower WSSSE).

    Returns one row per k: (k, silhouette, wssse, is_best).  Rows-only
    (metric values are engine/version-sensitive; schema + row count + value
    ranges are asserted in tests).
    """
    rows, best_k, _, _ = _run_sweep(spark, sf_dir)
    return spark.createDataFrame(
        [(k, s, w, 1 if k == best_k else 0) for k, s, w in rows],
        "k int, silhouette double, wssse double, is_best int",
    )


def segment_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: score households with the best-k model
    (SegmentationPrediction.java:32-66's by-key scoring path).
    Returns (custkey, cluster) — rows-only (cluster ids are seed/engine
    specific; tests assert partition properties instead).

    Scores with the MODEL the sweep actually fitted (M5 → M6 contract:
    the published metrics and the assignments describe the SAME
    segmentation) — no second sweep, no refit."""
    _, _, model, prep = _run_sweep(spark, sf_dir)
    return model.transform(_scaled_features(prep)).select(
        "custkey", F.col("prediction").alias("cluster")
    )


def score_manual_row(
    spark: SparkSession, sf_dir: str, values: list[float]
) -> DataFrame:
    """M6 manual-input scoring (SegmentationPrediction.java:74-87 /
    the reference UI's "Manual Input" mode): a single 6-float feature row
    — (total_sales, total_quantity, n_baskets, n_products, n_brands,
    avg_sales) — is assembled, scaled with the corpus-fitted
    StandardScaler (NOT a scaler fit on the one row, which would be
    degenerate), and scored with the sweep's best-k model.  Returns a
    1-row (cluster) frame."""
    if len(values) != len(FEATURE_COLS):
        raise ValueError(
            f"manual scoring needs {len(FEATURE_COLS)} values "
            f"({', '.join(FEATURE_COLS)}); got {len(values)}"
        )
    _, _, model, (assembler, scaler, _) = _run_sweep(spark, sf_dir)
    row = spark.createDataFrame(
        [tuple(float(v) for v in values)],
        ", ".join(f"{c} double" for c in FEATURE_COLS),
    )
    scaled = scaler.transform(assembler.transform(row))
    return model.transform(scaled).select(
        F.col("prediction").alias("cluster")
    )


ORACLES: dict[str, str] = {
    "segmentation_features": SEGMENTATION_FEATURES_SQL,
    # approx / kmeans / assignments: rows-only by design
}

QUERIES = {
    "segmentation_features": segmentation_features,
    "segmentation_features_approx": segmentation_features_approx,
    "kmeans_sweep": kmeans_sweep,
    "segment_assignments": segment_assignments,
}
