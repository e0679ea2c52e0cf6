"""Bounded read of ``DataFrame.observe`` metrics.

``Observation.get`` blocks until the observed DataFrame's first action
finishes. Every caller here reads it right after that action, so the
metrics are due at once; if the action never ran the observation (a
plan that pruned the observe node, a caller that forgot the action)
``get`` would hang the driver forever. ``observed_metrics`` waits on
the JVM future for at most ``OBSERVE_TIMEOUT_S`` and raises instead.
"""

from __future__ import annotations

from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation

# Generous: the metrics are posted when the action ends, so a healthy
# read returns in milliseconds even on a loaded host.
OBSERVE_TIMEOUT_S = 60.0


def observed_metrics(obs: Observation) -> dict[str, Any]:
    """``obs.get``, waiting at most ``OBSERVE_TIMEOUT_S`` seconds.

    Raises ``TimeoutError`` naming the observation when its metrics
    did not arrive in time."""
    if obs._jo is not None:
        jvm = obs._jvm
        try:
            jvm.scala.concurrent.Await.ready(
                obs._jo.future(),
                jvm.scala.concurrent.duration.Duration.create(f"{OBSERVE_TIMEOUT_S} seconds"),
            )
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.util.concurrent.TimeoutException":
                raise
            raise TimeoutError(
                f"observation {obs._jo.name()!r} got no metrics within {OBSERVE_TIMEOUT_S} s: "
                "the action that should have run it did not"
            ) from None
    return obs.get
