"""pyspark.ml pipelines mirroring the reference's model suite (SURVEY.md
§2.11, M1–M7).

Parity is structural — same features/labels/split/metrics — not value-exact:
sklearn and MLlib tree algorithms differ (binning, feature sampling), so the
gate is metric sanity ranges (SURVEY §5.4), enforced in tests/test_ml.py.

Every pipeline is distributed end-to-end: VectorAssembler and the label/flag
derivations are Catalyst expressions, the fits are MLlib's distributed
implementations, the confusion matrix is a groupBy — no driver-side learning.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import (
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor, RandomForestRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.binning import traffic_category
from ..functions.timeparts import with_time_parts

SEED = 42

# ml9's hyperparameter grid, shared with mlx9's value-checked fold/grid
# contract (the oracle's VALUES clause is generated from these, so the swept
# grid and the checked grid cannot drift apart).
CV_NUM_TREES = (20, 50)
CV_MAX_DEPTH = (3, 5)
CV_NUM_FOLDS = 3


def feature_frame(events: DataFrame) -> DataFrame:
    """The reference's feature block (TrafficAnalysis.py:80-84) on events:
    hour / day_of_week / is_weekend / month plus ids and the measure."""
    return with_time_parts(events).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "hour_of_day",
        "day_of_week",
        "is_weekend",
        "month",
        "year",
        "week_of_year",
    )


def rf_regression(events: DataFrame) -> dict:
    """M1 (ref TrafficAnalysis.py:147-165): RF regression value ~ [id, hour],
    80/20 split seed 42, 100 trees, MSE + R²."""
    df = feature_frame(events)
    assembler = VectorAssembler(
        inputCols=["user_id", "hour_of_day"], outputCol="features"
    )
    rf = RandomForestRegressor(
        featuresCol="features", labelCol="value", numTrees=100, seed=SEED
    )
    train, test = df.randomSplit([0.8, 0.2], seed=SEED)
    model = Pipeline(stages=[assembler, rf]).fit(train)
    pred = model.transform(test)
    mse = RegressionEvaluator(
        labelCol="value", predictionCol="prediction", metricName="mse"
    ).evaluate(pred)
    r2 = RegressionEvaluator(
        labelCol="value", predictionCol="prediction", metricName="r2"
    ).evaluate(pred)
    return {"model": model, "mse": mse, "r2": r2, "n_test": pred.count(), "pred": pred}


def rf_feature_importance(events: DataFrame) -> DataFrame:
    """M2 (ref TrafficAnalysis.py:201-214): fit on the full frame, rank
    feature importances over the reference's six features
    [hour, month, day_of_week, is_weekend, segment_id→user_id, year]."""
    feats = ["hour_of_day", "month", "day_of_week", "is_weekend", "user_id", "year"]
    df = feature_frame(events)
    assembler = VectorAssembler(inputCols=feats, outputCol="features")
    rf = RandomForestRegressor(
        featuresCol="features", labelCol="value", numTrees=50, seed=SEED
    )
    model = Pipeline(stages=[assembler, rf]).fit(df)
    imps = model.stages[-1].featureImportances.toArray().tolist()
    spark = events.sparkSession
    return spark.createDataFrame(
        sorted(zip(feats, imps), key=lambda t: -t[1]), "feature string, importance double"
    )


def _classification_pipeline(label_col: str) -> Pipeline:
    """Shared M3–M5 shape (ref TrafficAnalysis.py:352-433): one-hot the
    categorical, assemble, RF-100."""
    idx = StringIndexer(
        inputCol="event_type", outputCol="type_idx", handleInvalid="keep"
    )
    ohe = OneHotEncoder(inputCols=["type_idx"], outputCols=["type_vec"])
    assembler = VectorAssembler(
        inputCols=["hour_of_day", "user_id", "type_vec"], outputCol="features"
    )
    rf = RandomForestClassifier(
        featuresCol="features", labelCol=label_col, numTrees=100, seed=SEED
    )
    return Pipeline(stages=[idx, ohe, assembler, rf])


def _fit_eval_classifier(df: DataFrame, label_col: str) -> dict:
    train, test = df.randomSplit([0.8, 0.2], seed=SEED)
    model = _classification_pipeline(label_col).fit(train)
    pred = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    ).evaluate(pred)
    f1 = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="f1"
    ).evaluate(pred)
    confusion = (
        pred.groupBy(label_col, "prediction")
        .count()
        .orderBy(label_col, "prediction")
    )
    return {
        "model": model,
        "accuracy": acc,
        "f1": f1,
        "confusion": confusion,
        "pred": pred,
    }


def volume_label_frame(events: DataFrame) -> DataFrame:
    """M3's exact fit input: feature block + 3-class Low/Medium/High label
    from the F9 bins. Factored out of the fit so the label-derivation stage
    is driver-oracle-checkable (mlx1) with the PRODUCTION expression, not a
    re-implementation. NULL/negative values fall through to class 2 — the
    otherwise() branch — mirroring the when-chain's semantics exactly."""
    return feature_frame(events).withColumn(
        "label",
        F.when(traffic_category(F.col("value")) == "Low", 0)
        .when(traffic_category(F.col("value")) == "Medium", 1)
        .otherwise(2)
        .cast("double"),
    )


def peak_label_frame(events: DataFrame) -> DataFrame:
    """M4's exact fit input: binary label value ≥ P75 (exact interpolated
    percentile, broadcast back over the scan). Oracle-checked as mlx2."""
    p75 = events.agg(F.percentile("value", F.lit(0.75)).alias("t"))
    return (
        feature_frame(events)
        .crossJoin(F.broadcast(p75))
        .withColumn("label", (F.col("value") >= F.col("t")).cast("double"))
        .drop("t")
    )


def abnormal_label_frame(events: DataFrame) -> DataFrame:
    """M5's exact fit input: binary label outside μ±3σ. Oracle-checked as
    mlx3."""
    stats = events.agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return (
        feature_frame(events)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "label",
            (
                (F.col("value") > F.col("mu") + 3 * F.col("sigma"))
                | (F.col("value") < F.col("mu") - 3 * F.col("sigma"))
            ).cast("double"),
        )
        .drop("mu", "sigma")
    )


def volume_class_model(events: DataFrame) -> dict:
    """M3 (ref TrafficAnalysis.py:352-381): 3-class Low/Medium/High label from
    the F9 bins, RF classification, accuracy + F1 + confusion matrix."""
    return _fit_eval_classifier(volume_label_frame(events), "label")


def peak_hour_model(events: DataFrame) -> dict:
    """M4 (ref TrafficAnalysis.py:383-406): binary label value ≥ P75."""
    return _fit_eval_classifier(peak_label_frame(events), "label")


def abnormal_traffic_model(events: DataFrame) -> dict:
    """M5 (ref TrafficAnalysis.py:408-433): binary label outside μ±3σ."""
    return _fit_eval_classifier(abnormal_label_frame(events), "label")


def gbt_regression(events: DataFrame) -> dict:
    """M6 (ref proto:234-288, cleaned semantics — no target leakage):
    boosted-tree regression of daily totals from calendar features. The
    reference trains XGBoost; Spark ML's ``GBTRegressor`` is the same
    gradient-boosted-trees family over the same cleaned features."""
    daily = (
        with_time_parts(events)
        .groupBy("date_str", "day_of_week", "month", "is_weekend")
        .agg(F.sum("value").alias("total"))
    )
    assembler = VectorAssembler(
        inputCols=["day_of_week", "month", "is_weekend"], outputCol="features"
    )
    gbt = GBTRegressor(maxIter=20, featuresCol="features", labelCol="total", seed=SEED)
    train, test = daily.randomSplit([0.8, 0.2], seed=SEED)
    model = Pipeline(stages=[assembler, gbt]).fit(train)
    pred = model.transform(test)
    mse = RegressionEvaluator(
        labelCol="total", predictionCol="prediction", metricName="mse"
    ).evaluate(pred)
    # pred rides along for mlx8's persisted-residuals artifact (the mlx6
    # pattern applied to M6)
    return {"model": model, "mse": mse, "n_test": pred.count(), "pred": pred}


def quality_label_frame(docs: DataFrame) -> DataFrame:
    """ml8's exact fit input: Catalyst text signals, the heuristic
    clearly-good label, and the md5-deterministic split byte ``__u``
    (first md5 hex byte of the doc id; < 192 → train, a 75/25 split that is
    reproducible on any engine, partitioning, or row order — unlike
    randomSplit, whose per-partition seeding ties the assignment to the
    physical layout). Factored out of the fit so the stage is
    driver-oracle-checkable (mlx4) with the production expressions."""
    from ..functions.text import (
        EN_STOP,
        lexical_diversity,
        stopword_ratio,
        token_count,
    )

    feats = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("double").alias("n_tokens"),
        F.coalesce(stopword_ratio(F.col("text"), EN_STOP), F.lit(0.0)).alias(
            "stop_ratio"
        ),
        F.coalesce(lexical_diversity(F.col("text")), F.lit(0.0)).alias("diversity"),
    ).withColumn(
        "label",
        (
            (F.col("n_tokens") >= 50)
            & (F.col("stop_ratio") >= 0.05)
            & (F.col("stop_ratio") <= 0.6)
        ).cast("double"),
    )
    is_train = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
    return feats.withColumn("__u", is_train.cast("long"))


def quality_filter_model(docs: DataFrame) -> dict:
    """Model-based corpus quality filtering (M-extension): train a logistic
    classifier on cheap heuristic labels, use its score as the keep/drop
    signal — the fastText-style quality pass of an LLM data pipeline (the
    heuristic bootstraps the label; the model generalizes it to documents
    the heuristic is unsure about, and its probability is a tunable dial
    where the heuristic is binary).

    Features are the engine's Catalyst text signals (token count, stopword
    ratio, lexical diversity); the label marks clearly-good docs (enough
    tokens AND stopword share in the natural-prose band). Deterministic
    split via md5-hash, seeded fit. Returns accuracy/f1/confusion vs the
    heuristic on the held-out split plus the keep rate at p >= 0.5.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = quality_label_frame(docs)
    train = feats.filter(F.col("__u") < 192)  # 75%
    test = feats.filter(F.col("__u") >= 192)

    assembler = VectorAssembler(
        inputCols=["n_tokens", "stop_ratio", "diversity"], outputCol="features"
    )
    lr = LogisticRegression(labelCol="label", featuresCol="features", maxIter=20)
    model = lr.fit(assembler.transform(train))
    pred = model.transform(assembler.transform(test))

    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(pred)
    f1 = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="f1"
    ).evaluate(pred)
    keep = pred.agg(
        F.avg((F.col("prediction") >= 0.5).cast("double")).alias("keep_rate")
    ).collect()[0].keep_rate
    confusion = pred.groupBy("label", "prediction").count().orderBy("label", "prediction")
    return {
        "model": model,
        "accuracy": acc,
        "f1": f1,
        "keep_rate": keep,
        "confusion": confusion,
        "n_test": pred.count(),
    }


def tuned_rf_regression(events: DataFrame) -> dict:
    """M-extension: distributed hyperparameter tuning for M1's regressor —
    CrossValidator over a small (numTrees × maxDepth) grid with k=3 folds,
    every fold-fit a distributed job and all parallelizable
    (``parallelism=2``). The reference tunes nothing (fixed sklearn
    hyperparameters); at cluster scale the CV grid is the standard next
    step and Spark runs the folds' fits concurrently against the same
    cached folds.

    Returns the winning params + test metrics. Grid and folds are tiny by
    design — the surface under test is the tuning machinery, not model
    quality (metric RANGES are asserted in tests/test_ml.py like every
    other fit)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    df = feature_frame(events)
    assembler = VectorAssembler(
        inputCols=["user_id", "hour_of_day"], outputCol="features"
    )
    rf = RandomForestRegressor(featuresCol="features", labelCol="value", seed=SEED)
    pipe = Pipeline(stages=[assembler, rf])
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(CV_NUM_TREES))
        .addGrid(rf.maxDepth, list(CV_MAX_DEPTH))
        .build()
    )
    evaluator = RegressionEvaluator(
        labelCol="value", predictionCol="prediction", metricName="rmse"
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=CV_NUM_FOLDS,
        parallelism=2,
        seed=SEED,
    )
    train, test = df.randomSplit([0.8, 0.2], seed=SEED)
    model = cv.fit(train)
    best = model.bestModel.stages[-1]
    pred = model.transform(test)
    rmse = evaluator.evaluate(pred)
    r2 = RegressionEvaluator(
        labelCol="value", predictionCol="prediction", metricName="r2"
    ).evaluate(pred)
    return {
        "model": model,
        "best_num_trees": best.getNumTrees,
        "best_max_depth": best.getMaxDepth(),
        "rmse": rmse,
        "r2": r2,
        "n_test": pred.count(),
        "avg_fold_rmse": [float(m) for m in model.avgMetrics],
        # receipt for the concurrent-fold claim: the wiring the fit ran with
        "parallelism": cv.getParallelism(),
    }
