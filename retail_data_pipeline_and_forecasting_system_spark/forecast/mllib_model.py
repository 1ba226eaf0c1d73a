"""MLlib forecasting backend: one distributed linear model over ALL series.

Complements the two existing paths (reference file:line in
``forecast/univariate.py``):

- ``univariate`` — driver-side fit of the tiny daily summary (reference
  parity, src/time_series.py:16-67);
- ``forecast_many`` — independent closed-form OLS per series inside
  ``applyInPandas`` (embarrassingly parallel, no cross-series sharing);
- this module — a single MLlib ``LinearRegression`` trained on the union
  of all series, with per-series intercepts (one-hot series id) and
  shared trend/weekly-seasonality coefficients. This is the
  "pooled/global model" a 100 TB pipeline wants when most series are
  short: pooling borrows statistical strength across series, and MLlib's
  L-BFGS/WLS training is itself distributed — no per-group Python at all.

The feature pipeline is pure MLlib (StringIndexer → OneHotEncoder →
VectorAssembler → LinearRegression), so training scales with executors
and the fitted PipelineModel broadcasts for scoring.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _featurize(df: DataFrame, series_col: str, date_col: str) -> DataFrame:
    # integer day index (shared trend axis) + day-of-week (1..7)
    return df.withColumn(
        "_t", F.datediff(F.col(date_col), F.lit("1970-01-01")).cast("double")
    ).withColumn("_dow", (F.dayofweek(date_col) - 1).cast("double"))


def fit_global_forecaster(
    daily: DataFrame,
    series_col: str,
    date_col: str,
    value_col: str,
) -> PipelineModel:
    """Fit the pooled model on (series, date, value) rows.

    Per-series one-hot gives each series its own intercept; ``_t`` and the
    day-of-week one-hot are shared across series.
    """
    train = _featurize(daily, series_col, date_col).withColumn(
        "_label", F.col(value_col).cast("double")
    )
    pipeline = Pipeline(
        stages=[
            StringIndexer(
                inputCol=series_col,
                outputCol="_sid",
                handleInvalid="keep",
                stringOrderType="alphabetAsc",
            ),
            OneHotEncoder(inputCols=["_sid", "_dow"], outputCols=["_svec", "_dvec"]),
            VectorAssembler(
                inputCols=["_t", "_svec", "_dvec"], outputCol="features"
            ),
            LinearRegression(
                featuresCol="features",
                labelCol="_label",
                regParam=0.0,
                solver="normal",  # exact WLS — deterministic coefficients
            ),
        ]
    )
    return pipeline.fit(train)


def forecast_next_days(
    model: PipelineModel,
    daily: DataFrame,
    series_col: str,
    date_col: str,
    horizon: int = 1,
) -> DataFrame:
    """Score `horizon` days past each series' last observed date.

    Returns (series, date, forecast). The future grid is built with a
    grouped max + sequence explode — O(series × horizon) rows, no driver
    loop; the fitted model broadcasts to score them.
    """
    last = daily.groupBy(series_col).agg(F.max(date_col).alias("_last"))
    future = last.select(
        series_col,
        F.explode(
            F.sequence(
                F.date_add(F.col("_last"), 1),
                F.date_add(F.col("_last"), horizon),
            )
        ).alias(date_col),
    )
    scored = model.transform(_featurize(future, series_col, date_col))
    return scored.select(
        series_col, date_col, F.col("prediction").alias("forecast")
    )
