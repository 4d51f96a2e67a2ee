"""In-Spark training of a linear document-quality classifier.

The DCLM / fineweb-edu curation loop has two halves: SCORING at corpus
scale (queries/llm_classifier.py) and TRAINING the model that scoring
applies. This module closes the loop Spark-side: batch logistic
regression by full-gradient descent, where each iteration is ONE
map-side-combined aggregate over the feature frame — the classic
"aggregate a k-vector per pass" distributed-training shape (same job
profile as the IVF k-means quantizer in operators/clustering.py).

Distillation shape: the expensive rule label (Gopher pass,
queries/text_extra.py) is distilled into a cheap linear model over
per-doc shape features, which is how real pipelines turn a slow
heuristic stack into one broadcastable weight vector.

Scale notes (100 TB design):
- the standardized feature frame is computed once and
  ``localCheckpoint()``-ed; every GD iteration aggregates that leaf, so a
  step neither re-tokenizes nor re-plans the feature pipeline,
- each iteration moves exactly k+2 doubles to the driver (gradient,
  bias gradient, loss) — bounded by the feature count, never by rows,
- standardization stats come from one aggregate pass (k means + k
  stddevs), applied as literals so the scoring expression stays in
  whole-stage codegen,
- the trained model is a k-vector: broadcast-by-construction for the
  downstream scoring join, exactly like llm_quality_classifier's
  vocabulary relation.

Reference parity: the reference repo (arunbalasundar/
data-pipeline-with-spark-kafka) has no ML surface; this extends the
[EXT] LLM-curation suite (SURVEY.md §2.11).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.sources import memo

# Width of the frame the GD loop re-aggregates. Fixed, not a knob: it sets
# the float partial-aggregation order, so a different width is a model
# that differs at ULP level.
LOOP_PARTITIONS = 8


@dataclass(frozen=True)
class TrainedModel:
    features: tuple[str, ...]
    weights: tuple[float, ...]      # on STANDARDIZED features
    bias: float
    means: tuple[float, ...]        # standardization constants
    stds: tuple[float, ...]
    losses: tuple[float, ...]       # mean log-loss per iteration (pre-step)
    n_rows: int


def _margin(feature_cols: list[str], weights: list[float], bias: float):
    """w·x + b with weights baked in as literals (stays in codegen)."""
    z = F.lit(float(bias))
    for c, w in zip(feature_cols, weights):
        z = z + F.col(c) * F.lit(float(w))
    return z


def standardization_stats(
    df: DataFrame, feature_cols: list[str]
) -> tuple[list[float], list[float]]:
    """One aggregate pass -> (means, stds); std floored at 1e-12 so a
    constant feature maps to 0 instead of NaN."""
    aggs = []
    for c in feature_cols:
        aggs.append(F.avg(c).alias(f"m_{c}"))
        aggs.append(F.stddev_pop(c).alias(f"s_{c}"))
    row = df.agg(*aggs).collect()[0]  # 2k scalars — feature-bounded
    if row[f"m_{feature_cols[0]}"] is None:
        raise ValueError(
            "cannot train on an empty (or all-NULL-feature) corpus: "
            "standardization stats are undefined — check the input filter"
        )
    means = [float(row[f"m_{c}"]) for c in feature_cols]
    stds = [max(float(row[f"s_{c}"] or 0.0), 1e-12) for c in feature_cols]
    return means, stds


@memo.memoized
def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    *,
    iters: int = 30,
    lr: float = 1.0,
) -> TrainedModel:
    """Full-batch logistic regression via gradient descent.

    ``df`` must carry double feature columns and a 0/1 ``label_col``.
    Features are standardized internally (population mean/std from one
    aggregate). Each iteration launches one aggregate job computing
    avg((sigmoid(z) - y) * x_j) for every j, plus the bias gradient and
    the mean log-loss — k+2 scalars to the driver per step (bounded by
    the feature count; the dataset itself never leaves the executors).

    The loop re-aggregates a local checkpoint of the (k+1)-column
    standardized frame, the lineage cut ``operators/iterate.py`` makes per
    generation: each step plans against a leaf, not the feature pipeline,
    and the checkpoint job also counts the rows. It holds no cache entry,
    so nothing needs releasing, on the error path either. The checkpoint is
    ``LOOP_PARTITIONS`` wide: it is a few doubles per row, so the input's
    scan width would be pure scheduling overhead per iteration.

    Memoized per input content (``sources.memo``): training is
    deterministic, so a repeat call on the same data returns the same
    model.
    """
    means, stds = standardization_stats(df, feature_cols)
    std_cols = [f"z_{c}" for c in feature_cols]
    rows_seen = Observation()
    zdf = (
        df.select(
            F.col(label_col).cast("double").alias("_y"),
            *[
                ((F.col(c) - F.lit(m)) / F.lit(s)).alias(zc)
                for c, m, s, zc in zip(feature_cols, means, stds, std_cols)
            ],
        )
        .repartition(LOOP_PARTITIONS)
        .observe(rows_seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_rows = rows_seen.get["n"]  # counted by the checkpoint job itself
    weights = [0.0] * len(std_cols)
    bias = 0.0
    losses: list[float] = []
    eps = F.lit(1e-12)
    for _ in range(iters):
        z = _margin(std_cols, weights, bias)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = p - F.col("_y")
        aggs = [F.avg(resid * F.col(c)).alias(c) for c in std_cols]
        aggs.append(F.avg(resid).alias("_gb"))
        aggs.append(
            F.avg(
                -(
                    F.col("_y") * F.log(p + eps)
                    + (F.lit(1.0) - F.col("_y")) * F.log(F.lit(1.0) - p + eps)
                )
            ).alias("_loss")
        )
        row = zdf.agg(*aggs).collect()[0]  # k+2 scalars per iteration
        losses.append(float(row["_loss"]))
        weights = [w - lr * float(row[c]) for w, c in zip(weights, std_cols)]
        bias -= lr * float(row["_gb"])
    for w in weights + [bias]:
        if not math.isfinite(w):
            raise RuntimeError(f"logistic-regression training diverged: {weights}, {bias}")
    return TrainedModel(
        features=tuple(feature_cols),
        weights=tuple(weights),
        bias=bias,
        means=tuple(means),
        stds=tuple(stds),
        losses=tuple(losses),
        n_rows=n_rows,
    )


def score_expr(model: TrainedModel, feature_cols: list[str] | None = None):
    """P(keep) expression for raw (unstandardized) feature columns —
    standardization constants and weights folded into literals, so the
    deployed scorer is pure codegen with the model broadcast by value."""
    cols = list(feature_cols or model.features)
    z = F.lit(float(model.bias))
    for c, w, m, s in zip(cols, model.weights, model.means, model.stds):
        z = z + ((F.col(c) - F.lit(m)) / F.lit(s)) * F.lit(w)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def model_to_json(model: TrainedModel) -> dict:
    """Plain-JSON form of the trained model — the versioned deployment
    artifact (weights + standardization constants fold back into a pure
    expression via ``score_expr``, so scoring needs no Python object)."""
    return {
        "features": list(model.features),
        "weights": [float(w) for w in model.weights],
        "bias": float(model.bias),
        "means": [float(m) for m in model.means],
        "stds": [float(s) for s in model.stds],
        "losses": [round(float(x), 6) for x in model.losses],
        "n_rows": model.n_rows,
    }


def model_from_json(d: dict) -> TrainedModel:
    return TrainedModel(
        features=tuple(d["features"]),
        weights=tuple(float(w) for w in d["weights"]),
        bias=float(d["bias"]),
        means=tuple(float(m) for m in d["means"]),
        stds=tuple(float(s) for s in d["stds"]),
        losses=tuple(float(x) for x in d.get("losses", [])),
        n_rows=int(d.get("n_rows", 0)),
    )
