"""operators/classifier_train: the distributed GD loop must be the SAME
algorithm as a straight numpy implementation (iteration-for-iteration),
and the distilled model must actually learn the rule it distills."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.classifier_train import (
    CONSTANT_STD,
    TrainedModel,
    score_expr,
    train_logreg,
)
from data_pipeline_with_spark_kafka_spark.operators.iterate import fits_driver
from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
    _TRAIN_FEATURES,
    _classifier_feature_frame,
)

ITERS, LR = 12, 1.0


def _numpy_logreg(X: np.ndarray, y: np.ndarray, iters: int, lr: float):
    """The reference implementation: standardize, then full-batch GD with
    avg-gradient steps — mirrors train_logreg exactly."""
    mu = X.mean(axis=0)
    sd = X.std(axis=0)  # population std; a constant feature standardizes to 0
    sd = np.where(sd > CONSTANT_STD, sd, np.inf)
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


def _assert_matches_numpy_reference(model, feats):
    pdf = feats.select("label", *_TRAIN_FEATURES).toPandas()
    X = pdf[_TRAIN_FEATURES].to_numpy(dtype=float)
    y = pdf["label"].to_numpy(dtype=float)
    w_ref, b_ref, losses_ref = _numpy_logreg(X, y, ITERS, LR)
    # Partial-aggregate float order differs between engines; over a dozen
    # smooth convex steps the drift stays far below 1e-6 relative.
    np.testing.assert_allclose(model.weights, w_ref, rtol=1e-6, atol=1e-9)
    assert model.bias == pytest.approx(b_ref, rel=1e-6, abs=1e-9)
    np.testing.assert_allclose(model.losses, losses_ref, rtol=1e-6)


def _spark_accuracy(feats, model) -> float:
    hit = ((score_expr(model) >= 0.5).cast("double") == F.col("label")).cast("double")
    return feats.agg(F.avg(hit)).collect()[0][0]


def test_gd_matches_numpy_reference(feats):
    """The fixture frame is persisted and small: the driver tier."""
    assert fits_driver(feats.select("label", *_TRAIN_FEATURES))
    model = train_logreg(feats, _TRAIN_FEATURES, "label", iters=ITERS, lr=LR)
    _assert_matches_numpy_reference(model, feats)


def test_gd_distributed_tier_matches_numpy_reference(feats, distributed_tier):
    """Both tiers meet the same reference, and their training accuracies
    equal the one a Spark scoring pass over the raw features measures."""
    with distributed_tier():
        model = train_logreg(feats, _TRAIN_FEATURES, "label", iters=ITERS, lr=LR)
    _assert_matches_numpy_reference(model, feats)
    driver = train_logreg(feats, _TRAIN_FEATURES, "label", iters=ITERS, lr=LR)
    assert driver is not model
    assert driver.n_rows == model.n_rows == feats.count()
    assert driver.accuracy == model.accuracy == _spark_accuracy(feats, model)


def test_driver_tier_follows_sql_null_semantics(spark, distributed_tier):
    """A NULL feature drops out of that feature's stats, and its row out of
    every GD and accuracy average, on both tiers alike."""
    from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows

    rows = [
        (float(i % 2), None if i % 5 == 0 else float(i % 7) + (i % 2), float(i % 3))
        for i in range(40)
    ]
    rows.append((None, 1.0, 2.0))
    df = local_rows(spark, rows, "label double, f double, g double")
    driver = train_logreg(df, ["f", "g"], "label", iters=5, lr=0.5)
    with distributed_tier():
        distributed = train_logreg(df, ["f", "g"], "label", iters=5, lr=0.5)
    assert driver.n_rows == distributed.n_rows == 41
    np.testing.assert_allclose(driver.means, distributed.means, rtol=1e-12)
    np.testing.assert_allclose(driver.stds, distributed.stds, rtol=1e-12)
    np.testing.assert_allclose(driver.weights, distributed.weights, rtol=1e-9)
    np.testing.assert_allclose(driver.losses, distributed.losses, rtol=1e-9)
    assert driver.accuracy == distributed.accuracy


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
    must stay exactly 0 (no NaN from a zero deviation)."""
    df = spark.createDataFrame(
        [(float(i % 2), float(i), 7.0) for i in range(40)], "label double, f double, c double"
    )
    model = train_logreg(df, ["f", "c"], "label", iters=5, lr=0.5)
    assert model.weights[1] == 0.0
    assert all(np.isfinite(model.weights)) and np.isfinite(model.bias)


def test_near_constant_feature_gets_zero_weight(spark, distributed_tier):
    """A feature equal on every row can still get a tiny nonzero deviation
    from the rounding of its mean (numpy: ~7e-18 for 120 x 0.0455). At or
    below ``CONSTANT_STD`` it standardizes to exactly 0 on both tiers, so
    its weight stays exactly 0 instead of fitting the rounding residue."""
    df = spark.createDataFrame(
        [(float(i % 2), float(i), 0.0455) for i in range(120)],
        "label double, f double, c double",
    )
    driver = train_logreg(df, ["f", "c"], "label", iters=5, lr=0.5)
    with distributed_tier():
        distributed = train_logreg(df, ["f", "c"], "label", iters=5, lr=0.5)
    for model in (driver, distributed):
        assert model.weights[1] == 0.0
        assert model.stds[1] == float("inf")


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
