"""Player-prop forecasting with pyspark.ml (SURVEY §2.8 M2-M3).

Replaces the reference's sklearn wrappers (``src/modeling.py:11-29``):
``LinearRegression`` / ``RandomForestRegressor(n_estimators=100,
random_state=42)`` → MLlib estimators with the same hyperparameters
(``numTrees=100, seed=42``). Training is the one genuinely iterative
distributed computation in the engine.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import (
    LinearRegression,
    RandomForestRegressionModel,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame

DEFAULT_FEATURES = (
    "points_rolling_avg",
    "rebounds_rolling_avg",
    "assists_rolling_avg",
)


# PySpark declares ``RandomForestRegressionModel.trees`` a
# ``cached_property``, and ``Params.params`` (read by ``_resetUid`` as every
# fitted model is wrapped) evaluates each attribute that is not a plain
# ``property``: every fit built 100 ``DecisionTreeRegressionModel``
# wrappers, each discovering its params over py4j (~7,000 py4j commands
# per fit instead of ~400). A plain ``property`` is skipped there and
# builds the trees only when asked. Drop these two classes once PySpark's
# ``params`` skips ``cached_property`` too.
class _LazyTreesForestModel(RandomForestRegressionModel):
    trees = property(RandomForestRegressionModel.trees.func)


class _LazyTreesForest(RandomForestRegressor):
    def _create_model(self, java_model) -> _LazyTreesForestModel:
        return _LazyTreesForestModel(java_model)


def train_model(
    df: DataFrame,
    feature_cols: tuple[str, ...] = DEFAULT_FEATURES,
    label_col: str = "target_points",
    model_type: str = "linear",
) -> PipelineModel:
    """Train a forecaster (reference ``src/modeling.py:11-23``); unknown
    ``model_type`` raises ValueError exactly like the reference."""
    assembler = VectorAssembler(
        inputCols=list(feature_cols), outputCol="features", handleInvalid="skip"
    )
    if model_type == "linear":
        est = LinearRegression(featuresCol="features", labelCol=label_col)
    elif model_type == "forest":
        est = _LazyTreesForest(
            featuresCol="features", labelCol=label_col, numTrees=100, seed=42
        )
    else:
        raise ValueError(f"Unsupported model_type: {model_type}")
    return Pipeline(stages=[assembler, est]).fit(df)


def predict(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Score new rows (reference ``src/modeling.py:25-29``)."""
    return model.transform(df)
