"""Tests for the trained quality classifier (enrich/quality_model.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_instagram_spark.enrich.quality_model import (
    QUALITY_FEATURES,
    fit_quality_classifier,
    quality_feature_cols,
    quality_model_filter,
    quality_model_score,
)

GOOD = [
    "The distributed planner rewrites each declarative query into a "
    "physical plan that streams columnar batches through generated code.",
    "Researchers measured the effect of caching on tail latency and "
    "found that admission policies matter more than raw capacity.",
    "A well tended garden rewards patience with tomatoes, basil, and "
    "the quiet satisfaction of a summer meal grown at home.",
    "The committee reviewed the proposal carefully and suggested minor "
    "revisions to the methodology before approving the budget.",
]
BAD = [
    "$$$ WIN NOW!!! CLICK CLICK CLICK 11111 22222 33333 !!!",
    ">>>> ~~~ ### @@@@ 9999999 BUY BUY BUY !!!! ****",
    "AAAAAAA BBBBBBB 123456789 !!!!!! ??????? %%%%%",
    "x",
]


def _train_df(spark):
    rows = [(i, t, 1) for i, t in enumerate(GOOD)] + [
        (100 + i, t, 0) for i, t in enumerate(BAD)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_fit_is_deterministic_and_separates(spark):
    df = _train_df(spark)
    w1, b1 = fit_quality_classifier(df, "label")
    w2, b2 = fit_quality_classifier(df, "label")
    assert w1 == w2 and b1 == b2
    assert len(w1) == len(QUALITY_FEATURES)
    scores = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", quality_model_score(F.col("text"), w1, b1).alias("s")
        ).collect()
    }
    good_scores = [scores[i] for i in range(len(GOOD))]
    bad_scores = [scores[100 + i] for i in range(len(BAD))]
    assert min(good_scores) > max(bad_scores)
    kept = quality_model_filter(
        df, w1, b1, min_score=(min(good_scores) + max(bad_scores)) / 2
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == list(range(len(GOOD)))


def test_expression_serving_matches_model_math(spark):
    """The codegen serving face must reproduce the fitted model's own
    sigmoid(w·x + b) over the same features — coefficients are the ONLY
    state that travels. The reference probabilities are computed in
    plain Python from the model's coefficients and the collected
    feature values (equivalent to ml transform's probability column,
    but without a second ml job: LogisticRegressionModel.transform's
    internal ScalaUDF closure intermittently fails Java serialization
    in a long-lived shared test session — a Spark quirk this test has
    no reason to be exposed to)."""
    import math

    df = _train_df(spark)
    w, b = fit_quality_classifier(df, "label")
    feat_rows = df.select("doc_id", *quality_feature_cols(F.col("text"))).collect()
    ref_probs = {
        r["doc_id"]: 1.0
        / (1.0 + math.exp(-(b + sum(wi * r[f] for wi, f in zip(w, QUALITY_FEATURES)))))
        for r in feat_rows
    }
    expr_probs = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", quality_model_score(F.col("text"), w, b).alias("s")
        ).collect()
    }
    for k in ref_probs:
        assert expr_probs[k] == pytest.approx(ref_probs[k], abs=1e-9)


_ISOLATED_TRANSFORM_SCRIPT = r"""
import math, os, sys
root = sys.argv[1]  # the checkout under test
sys.path[:0] = [root, os.path.join(root, "tests")]
from pyspark.sql import functions as F
from etl_instagram_spark.session import get_spark
from etl_instagram_spark.enrich.quality_model import (
    _fit_quality_model, quality_model_score,
)
from test_quality_model import _train_df

spark = get_spark("qm-transform-parity", shuffle_partitions=2)
df = _train_df(spark)
model, assembled = _fit_quality_model(df, "label", keep_cols=("doc_id",))
w = [float(x) for x in model.coefficients]
b = float(model.intercept)
ml_probs = {
    r["doc_id"]: float(r["probability"][1])
    for r in model.transform(assembled).select("doc_id", "probability").collect()
}
expr_probs = {
    r["doc_id"]: r["s"]
    for r in df.select(
        "doc_id", quality_model_score(F.col("text"), w, b).alias("s")
    ).collect()
}
assert set(ml_probs) == set(expr_probs)
bad = {
    k: (ml_probs[k], expr_probs[k])
    for k in ml_probs
    if abs(ml_probs[k] - expr_probs[k]) > 1e-6
}
assert not bad, bad
spark.stop()
print("TRANSFORM_PARITY_OK", len(ml_probs))
"""


def test_ml_transform_matches_expression_serving_isolated():
    """The serving face certified against the ACTUAL fitted model's
    transform probabilities, row-for-row at 1e-6 — not just against a
    Python recomputation from the coefficients. Runs in a fresh JVM via
    subprocess because LogisticRegressionModel.transform's internal
    ScalaUDF closure intermittently fails Java serialization in the
    shared long-lived test session (the quirk that motivated the
    coefficient-based in-session test above)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _ISOLATED_TRANSFORM_SCRIPT, root],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=root,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "TRANSFORM_PARITY_OK" in proc.stdout


def test_null_text_scores_at_zero_features_not_error(spark):
    df = _train_df(spark)
    w, b = fit_quality_classifier(df, "label")
    nulls = spark.createDataFrame([(7, None, 0)], "doc_id long, text string, label int")
    s = nulls.select(quality_model_score(F.col("text"), w, b).alias("s")).first()["s"]
    assert s is not None and 0.0 <= s <= 1.0
    with pytest.raises(ValueError, match="weights"):
        quality_model_score(F.col("text"), [1.0], 0.0)
