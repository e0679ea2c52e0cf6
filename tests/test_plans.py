"""Physical-plan audits: lock in the scale properties (pushdown,
pruning, broadcast, bounded shuffles) that make a plan survive a
100× scale-up. A refactor that silently loses one of these should
fail here, not in production."""

from __future__ import annotations

import pytest

from sparklyclean_spark import plans as P
from sparklyclean_spark.operators import relational as R


@pytest.fixture(scope="module")
def t(spark):
    from sparklyclean_spark.catalog import load_tables
    from tests.conftest import SF_DIR

    return load_tables(spark, SF_DIR)


def test_q1_pushdown_and_pruning(t):
    df = R.q1_pricing_summary(t)
    # the shipdate filter must reach the parquet scan...
    assert P.has_pushed_filters(df, "l_shipdate")
    # ...and the scan must read only the 7 referenced columns of 16
    (cols,) = P.read_schema_columns(df)
    assert len(cols) == 7 and "l_comment" not in cols


def test_q5_broadcasts_dims(t):
    df = R.q5_revenue_by_nation(t)
    assert P.has_broadcast_hash_join(df)
    # shuffles: the big-side joins + final agg; must not exceed 5
    assert P.count_exchanges(df) <= 5
    assert P.whole_stage_codegen_spans(df) >= 1


def test_naive_pairs_bounded_shuffles(t):
    from sparklyclean_spark.operators.dedup.pairs import candidate_pairs_naive
    from __spark_entry__ import _CUST_RULES

    df = candidate_pairs_naive(t["customer"], _CUST_RULES, "c_custkey")
    # one self-join on (bk, bv): both sides shuffle once, nothing else
    assert P.count_exchanges(df) <= 2


def test_topk_single_shuffle(t):
    df = R.topk_orders_per_customer(t)
    # window per customer = exactly one hash exchange
    assert P.count_exchanges(df) == 1


def test_ann_paths_avoid_quadratic_joins(t):
    """The banded/bucketed near-dup paths must plan as equi-joins; the
    exact all-pairs forms are allowed to be nested-loop because they
    exist as verification/oracle paths only."""
    from sparklyclean_spark.operators.dedup import textdedup as TD
    from sparklyclean_spark.operators.similarity.knn import lsh_cosine_pairs

    assert not P.has_nested_loop_join(lsh_cosine_pairs(t["embeddings"], 0.3))
    assert not P.has_nested_loop_join(TD.minhash_lsh_pairs(t["documents"], 0.3))
    assert not P.has_nested_loop_join(TD.simhash_pairs(t["documents"], 3))
    # the exact quadratic forms really are the nested-loop shape —
    # if Catalyst ever finds an equi-plan for them, revisit the split
    assert P.has_nested_loop_join(TD.embedding_cosine_pairs(t["embeddings"], 0.3))


def test_q6_pushdown_and_pruning(t):
    """Q6 is the pushdown showcase: all three predicates must reach
    the parquet scan and the scan must read exactly the four needed
    columns."""
    df = R.q6_forecast_revenue(t)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert P.has_pushed_filters(df, col), col
    scans = P.read_schema_columns(df)
    assert scans == [["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]]


def test_global_avg_subquery_broadcasts(t):
    """The 1-row global-average aggregate must reach the orders scan
    as a BROADCAST (nested-loop of one row), never a non-broadcast
    cartesian — the pre-AQE size estimate of an aggregate is unknown,
    so the hint is load-bearing."""
    from sparklyclean_spark.operators.relational import orders_above_global_avg

    plan = P.explain_str(orders_above_global_avg(t), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_tfidf_count_in_plan_not_driver(t):
    """N must be computed inside the job (1-row broadcast aggregate),
    not via a driver-side count() action: the N scan is column-pruned
    to nothing (row-group-metadata count) and every other scan reads
    only (doc_id, text). The df side is agg+join — asserting NO
    window partitioned on term, which would drain a hot stopword's
    rows into one unsplittable sort task (the tf lineage's two scans
    are the deliberate price; see tfidf_top_terms docstring)."""
    from sparklyclean_spark.operators import text_analysis as TA

    df = TA.tfidf_top_terms(t["documents"])
    scans = sorted(tuple(c) for c in P.read_schema_columns(df))
    assert scans[0] == (), f"N scan not pruned to metadata: {scans[0]}"
    assert all(s == ("doc_id", "text") for s in scans[1:]), scans
    plan = P.explain_formatted(df)
    import re

    for m in re.finditer(r"Window.*?windowspecdefinition\(([^,)]+)", plan):
        assert "term" not in m.group(1), "df must not be a per-term window"


def test_cdc_latest_is_agg_not_window(t):
    """The CDC snapshot must plan as a hash aggregate (map-side
    partial combine) — NOT a per-key window sort."""
    from sparklyclean_spark.operators.cdc import latest_by_key

    df = latest_by_key(
        t["events"], keys=["user_id", "event_type"],
        order_cols=["ts", "event_id"], payload_cols=["value"],
    )
    plan = P.explain_formatted(df)
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan or "SortAggregate" in plan
    assert P.count_exchanges(df) == 1


def test_scd2_single_shuffle(t):
    from sparklyclean_spark.operators.cdc import scd2_intervals

    df = scd2_intervals(
        t["events"], keys=["user_id"], ts_col="ts",
        tiebreak_col="event_id", payload_cols=["value"],
    )
    assert P.count_exchanges(df) == 1


def test_chunk_dedup_no_quadratic_join(t):
    """Span dedup must be explode+agg+equi-join — no nested-loop
    anywhere, bounded shuffle count."""
    from sparklyclean_spark.operators.dedup.chunks import chunk_dedup

    df = chunk_dedup(t["documents"], chunk_tokens=10)
    assert not P.has_nested_loop_join(df)
    # chunk-winner agg, winner join, doc reassembly agg, final join
    assert P.count_exchanges(df) <= 6


def test_quantize_stays_jvm_side(t):
    """int8 quantization is pure Column expressions: no Python/Arrow
    stage, no shuffle at all."""
    from sparklyclean_spark.operators.similarity.quantize import quantize_int8

    df = quantize_int8(t["embeddings"])
    plan = P.explain_formatted(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert P.count_exchanges(df) == 0


def test_apply_sort_reads_a_hash_exchange(spark):
    """apply_dup_classifier's range exchange sits directly over a hash
    exchange on (id1, id2): the range sampler then reads the scored
    pairs' shuffle stage instead of re-running comparators and GBT."""
    import re

    from sparklyclean_spark.ml.dup_classifier import (
        apply_dup_classifier,
        train_dup_classifier,
    )

    labeled = spark.createDataFrame(
        [(f"a{i}", f"b{i}", float(i % 2), [float(i % 2), float(i)]) for i in range(40)],
        "id1 string, id2 string, label double, features array<double>",
    )
    model, _ = train_dup_classifier(labeled, max_iter=2, max_depth=2)
    plan = P.explain_str(apply_dup_classifier(model, labeled.drop("label")), "simple")
    lines = plan.splitlines()
    i = next(n for n, line in enumerate(lines) if "Exchange rangepartitioning" in line)
    assert re.search(r"\+- Exchange hashpartitioning\(id1#\d+, id2#\d+, \d+\)", lines[i + 1]), plan


def test_disdedup_assignment_table_is_jvm_only(spark):
    """The planner's heavy-block table has no Python RDD in its lineage
    (a Python-list createDataFrame would run Python-worker tasks), and
    it holds exactly the plan's rows."""
    from sparklyclean_spark.operators.dedup.disdedup import (
        _assignment_table,
        plan_assignment,
    )

    heavy = [(2, "nsw", 600), (2, "vic", 400), (1, "3", 120)]
    plan = plan_assignment(heavy, sum(n * (n - 1) // 2 for *_, n in heavy) + 5000, 49)
    asg = _assignment_table(spark, plan)
    assert "PythonRDD" not in asg._jdf.queryExecution().toRdd().toDebugString()
    want = [(bk, bv, l, rids) for (bk, bv), (l, rids) in plan.multi.items()]
    want += [(bk, bv, 1, [rid]) for (bk, bv), rid in plan.single_det.items()]
    assert sorted(tuple(r) for r in asg.collect()) == sorted(want)
