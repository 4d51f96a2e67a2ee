"""operators/classifier_train: the distributed GD loop must be the SAME
algorithm as a straight numpy implementation (iteration-for-iteration),
and the distilled model must actually learn the rule it distills."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.classifier_train import (
    TrainedModel,
    score_expr,
    train_logreg,
)
from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
    _TRAIN_FEATURES,
    _classifier_feature_frame,
)

ITERS, LR = 12, 1.0


def _numpy_logreg(X: np.ndarray, y: np.ndarray, iters: int, lr: float):
    """The reference implementation: standardize, then full-batch GD with
    avg-gradient steps — mirrors train_logreg exactly."""
    mu = X.mean(axis=0)
    sd = np.maximum(X.std(axis=0), 1e-12)  # population std
    Z = (X - mu) / sd
    w = np.zeros(X.shape[1])
    b = 0.0
    losses = []
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Z @ w + b)))
        eps = 1e-12
        losses.append(float(-np.mean(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))))
        resid = p - y
        w = w - lr * (Z * resid[:, None]).mean(axis=0)
        b = b - lr * float(resid.mean())
    return w, b, losses


@pytest.fixture(scope="module")
def feats(spark, sf_dir):
    df = _classifier_feature_frame(spark, sf_dir).persist()
    df.count()
    yield df
    df.unpersist()


def test_gd_matches_numpy_reference(feats):
    model = train_logreg(feats, _TRAIN_FEATURES, "label", iters=ITERS, lr=LR)
    pdf = feats.select("label", *_TRAIN_FEATURES).toPandas()
    X = pdf[_TRAIN_FEATURES].to_numpy(dtype=float)
    y = pdf["label"].to_numpy(dtype=float)
    w_ref, b_ref, losses_ref = _numpy_logreg(X, y, ITERS, LR)
    # Partial-aggregate float order differs between engines; over a dozen
    # smooth convex steps the drift stays far below 1e-6 relative.
    np.testing.assert_allclose(model.weights, w_ref, rtol=1e-6, atol=1e-9)
    assert model.bias == pytest.approx(b_ref, rel=1e-6, abs=1e-9)
    np.testing.assert_allclose(model.losses, losses_ref, rtol=1e-6)


def test_loss_decreases_and_beats_majority(feats):
    model = train_logreg(feats, _TRAIN_FEATURES, "label", iters=ITERS, lr=LR)
    assert model.losses[-1] < model.losses[0]
    scored = feats.select(
        ((score_expr(model) >= 0.5).cast("double") == F.col("label"))
        .cast("double")
        .alias("hit"),
        F.col("label"),
    )
    row = scored.agg(F.avg("hit").alias("acc"), F.avg("label").alias("pos")).collect()[0]
    majority = max(row["pos"], 1.0 - row["pos"])
    assert row["acc"] >= majority, (row["acc"], majority)


def test_cache_memoizes(spark, sf_dir, feats):
    # The same frame, and a frame rebuilt over the same files, are both
    # memo hits: training runs once per input content.
    for build in (lambda: feats, lambda: _classifier_feature_frame(spark, sf_dir)):
        m1 = train_logreg(build(), _TRAIN_FEATURES, "label", iters=3, lr=LR)
        m2 = train_logreg(build(), _TRAIN_FEATURES, "label", iters=3, lr=LR)
        assert m1 is m2
        assert isinstance(m1, TrainedModel)
    # Every hyperparameter is part of the memo key: a different step count
    # on the same frame is a different model.
    m1 = train_logreg(feats, _TRAIN_FEATURES, "label", iters=3, lr=LR)
    m3 = train_logreg(feats, _TRAIN_FEATURES, "label", iters=4, lr=LR)
    assert m3 is not m1


def test_constant_feature_gets_zero_weight(spark):
    """A zero-variance feature standardizes to 0 everywhere, so its weight
    must stay exactly 0 (no NaN from the std floor)."""
    df = spark.createDataFrame(
        [(float(i % 2), float(i), 7.0) for i in range(40)], "label double, f double, c double"
    )
    model = train_logreg(df, ["f", "c"], "label", iters=5, lr=0.5)
    assert model.weights[1] == 0.0
    assert all(np.isfinite(model.weights)) and np.isfinite(model.bias)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _toy_frame(spark, n: int = 40):
    return spark.createDataFrame(
        [(float(i % 2), float(i % 7) + (i % 2)) for i in range(n)], "label double, f double"
    )


def test_training_leaves_no_cache_entry(spark):
    """The loop iterates over a local checkpoint, not a persisted frame:
    after a normal return and after either raise the session's
    CacheManager holds nothing the trainer put there."""
    spark.catalog.clearCache()
    model = train_logreg(_toy_frame(spark), ["f"], "label", iters=3, lr=0.5)
    assert model.n_rows == 40
    assert _cache_is_empty(spark)

    with pytest.raises(ValueError, match="empty"):
        train_logreg(_toy_frame(spark, 0), ["f"], "label", iters=3, lr=0.5)
    assert _cache_is_empty(spark)

    with pytest.raises(RuntimeError, match="diverged"):
        train_logreg(_toy_frame(spark), ["f"], "label", iters=3, lr=float("inf"))
    assert _cache_is_empty(spark)
