"""ML pipeline builders (SURVEY §2.11 M3-M4, §2.10 transformer surface).

The churn classifier pipeline of ``ChurnPrediction.java:270-318``:
StringIndexer (handleInvalid=keep) → OneHotEncoder → VectorAssembler →
StandardScaler (withStd only) → RandomForest (100 trees, depth 8, seed 42),
trained on an 80/20 split (seed 42) and evaluated with areaUnderROC
(``:321-337``).

Model persistence (S10): ``save_pipeline`` / ``load_pipeline`` wrap
``MLWriter``/``PipelineModel.load`` (ChurnPrediction.java:348-350,
SegmentationPrediction.java:26-27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RF_NUM_TREES = 100  # ChurnPrediction.java:309-314
RF_MAX_DEPTH = 8
RF_SEED = 42
SPLIT_SEED = 42  # ChurnPrediction.java:321

CATEGORICAL_COLS = ["mktsegment"]
NUMERIC_COLS = [
    "first_day",
    "first_dow",
    "first_with_discount",
    "tx_count",
    "total_sales",
    "avg_sales",
    "acctbal",
]


def build_churn_pipeline():
    """M3: the 5-stage pipeline, stage-for-stage with the reference."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import (
        OneHotEncoder,
        StandardScaler,
        StringIndexer,
        VectorAssembler,
    )

    indexers = [
        StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        for c in CATEGORICAL_COLS
    ]
    encoder = OneHotEncoder(
        inputCols=[f"{c}_idx" for c in CATEGORICAL_COLS],
        outputCols=[f"{c}_vec" for c in CATEGORICAL_COLS],
    )
    assembler = VectorAssembler(
        inputCols=NUMERIC_COLS + [f"{c}_vec" for c in CATEGORICAL_COLS],
        outputCol="features_raw",
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withStd=True, withMean=False
    )
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=RF_NUM_TREES,
        maxDepth=RF_MAX_DEPTH,
        seed=RF_SEED,
    )
    return Pipeline(stages=[*indexers, encoder, assembler, scaler, rf])


def _prepare_features(features: DataFrame) -> DataFrame:
    """Cast every numeric feature to double — the single place the
    'ML-ready frame' invariant lives (shared by the fixed fit and the CV
    sweep so the two can never train on differently-typed frames)."""
    for c in NUMERIC_COLS:
        features = features.withColumn(c, F.col(c).cast("double"))
    return features


def strip_training_summary(model) -> None:
    """Drop a fitted model's driver-side training summary, in place
    (recurses into ``PipelineModel`` stages).

    Why this must happen before every ``transform``: HasTrainingSummary
    models (LogisticRegression, RandomForest, KMeans, ...) keep a summary
    that references the SparkSession, and the scoring UDF closure
    serializes the model — which fails with ``NotSerializableException:
    org.apache.spark.sql.classic.ObservationManager`` once ANY
    ``df.observe`` has been used on the session (Spark 4.1 materializes
    ``SparkSession.observationManager`` lazily; it is null — and thus
    serializable — until the first Observation, which is why the bug is
    order-dependent).  Scoring must never depend on driver-side training
    state anyway.  ``model.copy()`` is NOT a reliable substitute: some
    models (LogisticRegressionModel) re-attach the summary in ``copy``.
    """
    from pyspark import SparkContext

    stages = getattr(model, "stages", None)
    for st in stages if stages is not None else [model]:
        jobj = getattr(st, "_java_obj", None)
        if jobj is None:
            continue
        try:
            if jobj.hasSummary():
                jobj.setSummary(
                    SparkContext._active_spark_context._jvm.scala.Option.empty()
                )
        except Exception:
            continue  # model type without a summary slot


def train_and_evaluate_churn(features: DataFrame) -> tuple[object, float]:
    """M4: 80/20 split + AUC — ChurnPrediction.java:321-337."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    features = _prepare_features(features)
    train, test = features.randomSplit([0.8, 0.2], seed=SPLIT_SEED)
    model = build_churn_pipeline().fit(train)
    strip_training_summary(model)  # see docstring: scoring-closure hygiene
    evaluator = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    )
    auc = float(evaluator.evaluate(model.transform(test)))
    return model, auc


def churn_model_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the churn model on the oracle-checked feature frame and return
    a one-row metrics DataFrame (rows-only: RF/AUC are engine-sensitive;
    the README-published reference AUC was 0.560 on Dunnhumby —
    scripts/churn_prediction/README.md:105-114)."""
    from retail_sales_project_bigdata_spark.operators.churn import churn_features

    feats = churn_features(spark, sf_dir)
    _, auc = train_and_evaluate_churn(feats)
    n = feats.count()
    pos = feats.filter(F.col("label") == 1).count()
    return spark.createDataFrame(
        [(float(auc), n, pos, round(pos / n, 6) if n else 0.0)],
        "auc double, n_pairs bigint, n_positive bigint, positive_rate double",
    )


QC_SEED = 7
QC_NUM_FEATURES = 1 << 12  # hashed unigram space
QC_POS_THRESHOLD = 0.5


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter over the document corpus — the
    CCNet/GPT-3-shaped pattern: seed WEAK labels from the deterministic
    heuristic (``textstats.text_quality``'s ``is_quality`` flag), train a
    logistic regression on hashed unigram features, then score every
    document with a calibrated probability.  In production the weak
    labels come from a trusted reference domain (e.g. "wikipedia-like")
    and the classifier generalizes the heuristic to the open crawl; the
    plumbing — one corpus scan to features, distributed LBFGS, map-only
    scoring — is identical and is what this query exercises.

    Scale: HashingTF is stateless/map-only (no vocabulary shuffle —
    the reason hashing beats CountVectorizer at corpus scale);
    LogisticRegression aggregates gradients tree-wise per iteration;
    scoring is a broadcast of the coefficient vector.  Rows-only for the
    driver (LBFGS float accumulation is engine-sensitive); the property
    test pins AUC ≈ 1 against the recoverable weak labels and exact
    score determinism across two fits with the same seed.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    from retail_sales_project_bigdata_spark.operators.textstats import (
        text_quality,
    )
    from retail_sales_project_bigdata_spark.sources import fan_out, read_table

    docs = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("words")
    )
    # weak label: above-median stopword ratio — a balanced heuristic
    # split by construction (the raw is_quality flag can be single-class
    # on clean corpora, which makes training degenerate).  The median is
    # a tiny scalar aggregate broadcast via cross join.
    tq = text_quality(spark, sf_dir).select("doc_id", "stopword_ratio")
    med = tq.agg(
        F.expr("approx_percentile(stopword_ratio, 0.5)").alias("_med")
    )
    labels = tq.crossJoin(F.broadcast(med)).select(
        "doc_id",
        (F.col("stopword_ratio") > F.col("_med"))
        .cast("double")
        .alias("label"),
    )
    train = docs.join(labels, "doc_id")
    pipe = Pipeline(
        stages=[
            HashingTF(
                inputCol="words",
                outputCol="features",
                numFeatures=QC_NUM_FEATURES,
            ),
            LogisticRegression(
                maxIter=25,
                regParam=0.01,
                standardization=True,
            ),
        ]
    )
    model = pipe.fit(train)
    strip_training_summary(model)  # LR summary holds the session; see helper
    scored = model.transform(train)
    return scored.select(
        "doc_id",
        F.col("label").cast("int").alias("weak_label"),
        F.round(vector_to_array("probability")[1], 6).alias("quality_score"),
        (vector_to_array("probability")[1] > QC_POS_THRESHOLD)
        .cast("int")
        .alias("keep"),
    )


CV_FOLDS = 3
CV_DEPTH_GRID = [4, 8]
CV_TREES_GRID = [20, 50]


def tune_churn_cv(features: DataFrame):
    """Hyperparameter tuning with k-fold cross-validation (beyond the
    reference's fixed RF config): a 2×2 grid over tree depth and count,
    3-fold CV on areaUnderROC, returning (best_model, results) where
    results lists every grid point's mean CV metric.

    Scale notes: CrossValidator trains folds×grid models — the
    parallelism knob trains grid points concurrently, which on a real
    cluster overlaps the per-model shuffle/IO stalls; the input frame is
    cached by CV itself per fold split.  Trees are smaller than the
    reference's 100 because CV multiplies training cost by
    folds×|grid| — the point of the sweep is picking capacity, not
    shipping the final fit (refit at full size after selection).
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    features = _prepare_features(features)
    pipeline = build_churn_pipeline()
    rf = pipeline.getStages()[-1]
    grid = (
        ParamGridBuilder()
        .addGrid(rf.maxDepth, CV_DEPTH_GRID)
        .addGrid(rf.numTrees, CV_TREES_GRID)
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=CV_FOLDS,
        seed=RF_SEED,
        parallelism=4,
    )
    cv_model = cv.fit(features)
    results = [
        {
            "maxDepth": pm[rf.maxDepth],
            "numTrees": pm[rf.numTrees],
            "mean_auc": float(m),
        }
        for pm, m in zip(cv.getEstimatorParamMaps(), cv_model.avgMetrics)
    ]
    return cv_model, results


def save_pipeline(model, path: str) -> None:
    """S10: persist a fitted PipelineModel (overwrite)."""
    model.write().overwrite().save(path)


def load_pipeline(path: str):
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)
