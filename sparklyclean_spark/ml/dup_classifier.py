"""GBT duplicate-pair classifier: train, evaluate, apply.

Re-expresses the reference's two ML programs
(``TrainDupClassifier.scala:44-132``, ``ApplyDupClassifier.scala:44-93``)
in PySpark ML with the same hyperparameters (GBTClassifier,
maxIter=100, maxDepth=3, featureSubsetStrategy="auto", seed=647,
0.7/0.3 split). Differences by design:

* Input is a DataFrame with ``features array<double>`` straight from
  the pair-generation operator (no text round-trip through CSV).
* Evaluation is ONE ``groupBy(label, prediction).count()`` job
  instead of the reference's four separate filter/count actions
  (``TrainDupClassifier.scala:70-74``) — 4 scans → 1.
* The reference's ``Double.MaxValue`` missing-value sentinels (G2)
  pass through unchanged in parity mode; tree splits handle them as
  "very large", same as the original.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEED = 647


@dataclass
class EvalMetrics:
    tn: int
    fp: int
    fn: int
    tp: int

    @property
    def accuracy(self) -> float:
        t = self.tn + self.fp + self.fn + self.tp
        return (self.tn + self.tp) / t if t else 0.0

    @property
    def precision(self) -> float:
        d = self.tp + self.fp
        return self.tp / d if d else 0.0

    @property
    def recall(self) -> float:
        d = self.tp + self.fn
        return self.tp / d if d else 0.0

    @property
    def f1(self) -> float:
        p, r = self.precision, self.recall
        return 2 * p * r / (p + r) if (p + r) else 0.0


def _vectorize(df: DataFrame, features_col: str = "features") -> DataFrame:
    """array<double> → ml VectorUDT (zero-copy-ish, JVM-side)."""
    return df.withColumn("features_vec", array_to_vector(F.col(features_col)))


def train_dup_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    features_col: str = "features",
    max_iter: int = 100,
    max_depth: int = 3,
    seed: int = DEFAULT_SEED,
    train_fraction: float = 0.7,
) -> tuple[PipelineModel, EvalMetrics]:
    """Train on a labeled pairs DataFrame; returns (model, holdout metrics)."""
    data = _vectorize(labeled, features_col).where(F.col(label_col).isNotNull())
    train, test = data.randomSplit([train_fraction, 1.0 - train_fraction], seed=seed)
    gbt = GBTClassifier(
        labelCol=label_col,
        featuresCol="features_vec",
        maxIter=max_iter,
        maxDepth=max_depth,
        featureSubsetStrategy="auto",
        seed=seed,
    )
    model = Pipeline(stages=[gbt]).fit(train)
    metrics = evaluate(model, test, label_col)
    return model, metrics


def evaluate(model: PipelineModel, test: DataFrame, label_col: str = "label") -> EvalMetrics:
    """Confusion matrix in a single aggregation job."""
    counts = {
        (int(r[label_col]), int(r["prediction"])): r["n"]
        for r in model.transform(test)
        .groupBy(label_col, "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return EvalMetrics(
        tn=counts.get((0, 0), 0),
        fp=counts.get((0, 1), 0),
        fn=counts.get((1, 0), 0),
        tp=counts.get((1, 1), 0),
    )


def apply_dup_classifier(
    model: PipelineModel,
    unlabeled: DataFrame,
    features_col: str = "features",
    id_cols: tuple[str, str] = ("id1", "id2"),
) -> DataFrame:
    """Score pairs; returns (id1, id2, prediction) ordered by
    (prediction, id1, id2) (reference output shape,
    ``ApplyDupClassifier.scala:74-83``).

    The narrow scored projection is hash-exchanged on the ids before
    the global sort. A range sort first runs a sampling job over its
    input; fed straight from scoring, that job would re-run the pair
    join, the comparators and the GBT just to draw sort bounds. Behind
    the exchange, AQE materialises the scored pairs once as a shuffle
    stage and the sampler reads that stage instead."""
    scored = model.transform(_vectorize(unlabeled, features_col))
    return (
        scored.select(*id_cols, F.col("prediction").cast("double"))
        .repartition(*id_cols)
        .orderBy("prediction", *id_cols)
    )


def feature_importances(model: PipelineModel, feature_names: list[str]) -> list[tuple[str, float]]:
    """(name, importance) sorted desc (``TrainDupClassifier.scala:121``)."""
    gbt = model.stages[-1]
    imps = list(gbt.featureImportances.toArray())
    return sorted(zip(feature_names, imps), key=lambda x: -x[1])
