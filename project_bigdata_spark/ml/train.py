"""ML training on the engine's feature frame (reference layer 4, M5).

The reference trains LightGBM/XGBoost on a driver-side pandas frame
(``ml_training/train_lightgbm.py:39-132``) — its features are built in
pandas (the scalability defect fixed by operators/features.py). Here the
whole chain is distributed:

feature_frame (catalog query) -> null-fill (P10, train_lightgbm.py:70-74)
-> time split (W7) -> VectorAssembler -> Spark ML regressor -> metrics
(RMSE/MAE/R² + the reference's masked MAPE, evaluate.py:23-160) -> clamped
predictions (F8, app.py:490).

Gradient-boosted trees (the closest Spark-native analog of LightGBM) and
linear regression are both exposed; model choice is orthogonal to the
engine. At 100 TB the feature frame never materializes on the driver —
Spark ML consumes it partition by partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_COLS = [
    "hour", "day_of_week", "month", "day_of_year", "is_weekend",
    "value_lag_1h", "value_lag_24h", "value_lag_168h",
    "value_mean_7d", "value_std_7d", "value_max_7d", "value_min_7d",
    "value_mean_30d",
    "user_encoded", "n_events",
    "v_click", "v_view", "v_purchase", "v_signup", "v_error",
    "value",
]
TARGET = "target_next"


def prepare_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """feature_frame -> numeric matrix: fill feature nulls with 0
    (train_lightgbm.py:70-74), drop rows without a target (last row per
    entity), cast booleans/ints to double for the assembler."""
    from project_bigdata_spark.plans.catalog import load_all

    frame = load_all()["feature_frame"].builder(spark, sf_dir)
    typed = frame.select(
        *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c)
          for c in FEATURE_COLS],
        F.col(TARGET).cast("double").alias(TARGET),
        "hour_ts",
    )
    return typed.filter(F.col(TARGET).isNotNull())


def train_regressor(train: DataFrame, kind: str = "gbt"):
    """Fit a Spark ML regressor on the assembled feature vector (a GBT
    runs 20 iterations)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor, LinearRegression

    assembler = VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features", handleInvalid="keep"
    )
    if kind == "gbt":
        reg = GBTRegressor(
            labelCol=TARGET, featuresCol="features", maxIter=20, maxDepth=4
        )
    else:
        reg = LinearRegression(
            labelCol=TARGET, featuresCol="features", regParam=0.01
        )
    return Pipeline(stages=[assembler, reg]).fit(train)


def predict(model, df: DataFrame) -> DataFrame:
    """Predictions clamped at 0 (F8, app.py:490)."""
    out = model.transform(df)
    return out.withColumn(
        "prediction", F.greatest(F.lit(0.0), F.col("prediction"))
    )


def metrics(pred: DataFrame) -> dict[str, float]:
    """RMSE / MAE / R² / masked MAPE (reference evaluate.py:23-160: MAPE
    only over |actual| > 0.1 to avoid divide-by-tiny blowups)."""
    from pyspark.ml.evaluation import RegressionEvaluator

    out = {}
    for name in ("rmse", "mae", "r2"):
        out[name] = RegressionEvaluator(
            labelCol=TARGET, predictionCol="prediction", metricName=name
        ).evaluate(pred)
    mape_row = (
        pred.filter(F.abs(F.col(TARGET)) > 0.1)
        .agg(
            F.avg(
                F.abs((F.col(TARGET) - F.col("prediction")) / F.col(TARGET))
            ).alias("mape")
        )
        .first()
    )
    out["mape"] = float(mape_row.mape) if mape_row.mape is not None else float("nan")
    return out


def train_and_evaluate(
    spark: SparkSession, sf_dir: str, kind: str = "gbt"
) -> dict[str, float]:
    """End-to-end: prepare -> time split at 2024-01-20 -> fit -> clamped
    predict -> metrics."""
    frame = prepare_training_frame(spark, sf_dir)
    split_ts = "2024-01-20 00:00:00"
    train = frame.filter(F.col("hour_ts") < split_ts).drop("hour_ts")
    test = frame.filter(F.col("hour_ts") >= split_ts).drop("hour_ts")
    model = train_regressor(train, kind=kind)
    return metrics(predict(model, test))


def save_artifacts(
    model,
    path: str,
    feature_cols: list[str],
    train_metrics: dict[str, float],
    encoder: DataFrame | None = None,
) -> None:
    """Persist the full serving bundle, the distributed analog of the
    reference's pickle of {model, label encoder, metrics}
    (``ml_training/train_lightgbm.py:192-201``):

    - ``<path>/model`` — the fitted PipelineModel (assembler + regressor,
      so feature assembly order ships WITH the model);
    - ``<path>/meta.json`` — feature column order + training metrics;
    - ``<path>/encoder`` — the label-encode dictionary as parquet, joined
      back at inference so codes can never drift from training.
    """
    import json
    import os

    model.write().overwrite().save(f"{path}/model")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as fh:
        json.dump({"feature_cols": feature_cols, "metrics": train_metrics}, fh)
    if encoder is not None:
        encoder.write.mode("overwrite").parquet(f"{path}/encoder")


def load_artifacts(
    spark: SparkSession, path: str
) -> tuple[object, dict, DataFrame | None]:
    """Reload (model, meta, encoder). Predictions from the reloaded model
    are bit-identical to the original — asserted in tests/test_ml.py."""
    import json
    import os

    from pyspark.ml import PipelineModel

    model = PipelineModel.load(f"{path}/model")
    with open(f"{path}/meta.json") as fh:
        meta = json.load(fh)
    encoder = None
    if os.path.isdir(f"{path}/encoder"):
        encoder = spark.read.parquet(f"{path}/encoder")
    return model, meta, encoder
