"""ML smoke: labeled points → GBT train → metrics ≥ baseline → save/load
→ apply parity (SURVEY.md §5, §7 step 6)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from sparklyclean_spark.datagen import people_df
from sparklyclean_spark.ml.dup_classifier import (
    apply_dup_classifier,
    feature_importances,
    train_dup_classifier,
)
from sparklyclean_spark.operators.dedup.pipeline import (
    FEBRL_FEATURE_NAMES,
    generate_labeled_points,
)


@pytest.fixture(scope="module")
def labeled(spark):
    df = generate_labeled_points(people_df(spark, n_originals=200), k=49, mode="sane")
    df.cache().count()
    return df


def test_labeled_points_shape(labeled):
    row = labeled.first()
    assert set(labeled.columns) == {"id1", "id2", "label", "features"}
    assert len(row["features"]) == len(FEBRL_FEATURE_NAMES)
    # both classes present
    classes = {r["label"] for r in labeled.select("label").distinct().collect()}
    assert classes == {0.0, 1.0}


@pytest.fixture(scope="module")
def trained(labeled):
    return train_dup_classifier(labeled, max_iter=15)


def test_train_eval_apply_roundtrip(labeled, trained, tmp_path):
    model, m = trained
    # Dup signal (soc_sec_id/phone levenshtein) is strong: expect solid
    # holdout quality even on the small fixture.
    assert m.tp > 0, m
    assert m.recall >= 0.7, vars(m) | {"recall": m.recall}
    assert m.precision >= 0.8, vars(m) | {"precision": m.precision}

    imps = feature_importances(model, FEBRL_FEATURE_NAMES)
    assert abs(sum(v for _, v in imps) - 1.0) < 1e-6

    path = str(tmp_path / "gbt_model")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    reloaded = PipelineModel.load(path)
    scored = apply_dup_classifier(reloaded, labeled.drop("label"))
    assert scored.columns == ["id1", "id2", "prediction"]
    n_pred_dup = scored.where(F.col("prediction") == 1.0).count()
    assert n_pred_dup > 0


def test_apply_order_and_rows_match_transform(labeled, trained):
    """The apply contract (reference ``ApplyDupClassifier.scala:74-83``):
    rows come back in (prediction, id1, id2) order, and they are
    exactly ``model.transform``'s (id1, id2, prediction) rows."""
    model, _ = trained
    unlabeled = labeled.drop("label")
    got = [tuple(r) for r in apply_dup_classifier(model, unlabeled).collect()]
    assert got == sorted(got, key=lambda r: (r[2], r[0], r[1]))
    want = (
        model.transform(unlabeled.withColumn("features_vec", array_to_vector("features")))
        .select("id1", "id2", F.col("prediction").cast("double"))
        .collect()
    )
    assert Counter(got) == Counter(tuple(r) for r in want)
