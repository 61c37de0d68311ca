"""Model-based quality scoring: train a seeded logistic regression over
cheap text signals, serve it as PURE column expressions.

The heuristic rule sets (Gopher flags, quality_score) make hard binary
calls; public pipelines additionally train a lightweight classifier on
labeled (or weakly-labeled) examples and keep a SMOOTH score to
threshold or bucket by. This module does that with the engine's usual
fit/serve split:

- **Fit** uses ``pyspark.ml.classification.LogisticRegression`` on a
  fixed feature vector of existing text signals — distributed, seeded,
  deterministic. Only the coefficient list (O(features) doubles) leaves
  the fit.
- **Serve** rebuilds ``sigmoid(w·x + b)`` as built-in expressions from
  those coefficients: inference at 100 TB is whole-stage codegen over
  the scan, with NO model object, ml pipeline, or UDF on the hot path —
  and therefore also usable inside streaming foreachBatch ticks and the
  DuckDB-mirrorable query surface. Parity between the two faces is
  pinned two ways: in-session, expression scores are checked against
  ``sigmoid(w·x + b)`` recomputed in plain Python from the fitted
  coefficients; and a subprocess-isolated test (fresh JVM — the shared
  long-lived test session intermittently fails ml transform's closure
  serialization) checks expression scores against the actual
  ``LogisticRegressionModel.transform`` probabilities row-for-row.
  Refit determinism is verified for a fixed dataset and partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_instagram_spark.functions import text as T

# the fixed, ordered feature vector — training and serving share it
QUALITY_FEATURES: tuple[str, ...] = (
    "log_n_chars",
    "mean_token_len",
    "punct_ratio",
    "stopword_ratio",
    "upper_ratio",
    "digit_ratio",
)


def quality_feature_cols(col: Column) -> list[Column]:
    """The feature expressions, in :data:`QUALITY_FEATURES` order. All
    scan-stage codegen; NULL text produces all-zero features (scored at
    the model's intercept, never an error)."""
    txt = F.coalesce(col, F.lit(""))
    n = F.length(txt)
    nz = F.nullif(n.cast("double"), F.lit(0.0))
    cnt = lambda pat: F.length(F.regexp_replace(txt, pat, ""))  # noqa: E731
    return [
        F.log1p(n).alias("log_n_chars"),
        F.coalesce(T.mean_token_len(txt), F.lit(0.0)).alias("mean_token_len"),
        T.punct_ratio(txt).alias("punct_ratio"),
        T.stopword_ratio(txt).alias("stopword_ratio"),
        F.coalesce((n - cnt("[A-Z]")) / nz, F.lit(0.0)).alias("upper_ratio"),
        F.coalesce((n - cnt("[0-9]")) / nz, F.lit(0.0)).alias("digit_ratio"),
    ]


def _fit_quality_model(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.01,
    keep_cols: tuple[str, ...] = (),
):
    """Internal fit: returns ``(model, assembled)`` — the fitted
    LogisticRegressionModel and its assembled-features input frame
    (``keep_cols`` pass through for row-level joins). Only the isolated
    transform-parity test touches the model object; production serving
    goes through :func:`fit_quality_classifier`'s coefficient list."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = df.select(
        *[F.col(c) for c in keep_cols],
        F.col(label_col).cast("double").alias("label"),
        *quality_feature_cols(F.col(text_col)),
    )
    assembled = VectorAssembler(
        inputCols=list(QUALITY_FEATURES), outputCol="features"
    ).transform(feats)
    model = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, standardization=True
    ).fit(assembled)
    return model, assembled


def fit_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.01,
) -> tuple[list[float], float]:
    """Fit the classifier distributed and return ``(weights, bias)`` —
    the only state serving needs. LBFGS logistic regression involves no
    sampling, so refits reproduce coefficients bit-for-bit for a fixed
    dataset and partitioning (pinned by test at one partitioning)."""
    model, _ = _fit_quality_model(df, label_col, text_col, max_iter, reg_param)
    return [float(w) for w in model.coefficients], float(model.intercept)


def quality_model_score(
    col: Column, weights: list[float], bias: float
) -> Column:
    """``sigmoid(w·x + b)`` over :func:`quality_feature_cols` as one
    codegen expression — the serving face. Fixed left-to-right sum, so
    scores are reproducible anywhere the coefficients travel."""
    if len(weights) != len(QUALITY_FEATURES):
        raise ValueError(
            f"expected {len(QUALITY_FEATURES)} weights, got {len(weights)}"
        )
    z: Column = F.lit(float(bias))
    for w, feat in zip(weights, quality_feature_cols(col)):
        z = z + F.lit(float(w)) * feat
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_model_filter(
    df: DataFrame,
    weights: list[float],
    bias: float,
    min_score: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Keep documents the model scores at or above ``min_score``."""
    return df.filter(
        quality_model_score(F.col(text_col), weights, bias) >= min_score
    )
