"""Bounded read of observed metrics: a missing action raises instead
of hanging the driver."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from sparklyclean_spark import observe


def test_observed_metrics_times_out_when_no_action_runs(spark, monkeypatch):
    monkeypatch.setattr(observe, "OBSERVE_TIMEOUT_S", 0.5)
    obs = Observation("never_run")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))  # no action
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="never_run"):
        observe.observed_metrics(obs)
    assert time.perf_counter() - t0 < 10
