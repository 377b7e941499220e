"""Tests for operators/graph.py (weighted PageRank) and its query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL, plan_of

from enterprise_data_quality_platform_spark.operators.graph import pagerank
from enterprise_data_quality_platform_spark.queries import all_queries
from enterprise_data_quality_platform_spark.queries import operator_ops as oo


def _ranks(spark, rows, **kw):
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    return {r.node: r.rank for r in pagerank(edges, **kw).collect()}


def test_pagerank_symmetric_graph_is_uniform(spark):
    # triangle: all nodes equivalent -> rank 1/3 each
    got = _ranks(spark, [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)], iterations=20)
    for v in got.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)


def test_pagerank_is_stochastic_and_hub_dominates(spark):
    # star: center 0 linked to 1..4 -> center rank highest; sum == 1
    got = _ranks(spark, [(0, i, 1.0) for i in range(1, 5)], iterations=30)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(got[0] > got[i] for i in range(1, 5))
    # closed form (d=0.85, N=5): c = (1-d)/N + d*4l, l = (1-d)/N + d*c/4
    # -> c = 0.132/0.2775 = 0.47567...
    assert got[0] == pytest.approx(0.132 / 0.2775, rel=5e-3)


def test_pagerank_weight_matters(spark):
    # path a-b heavy, b-c light: a should outrank c
    got = _ranks(spark, [(1, 2, 10.0), (2, 3, 1.0)], iterations=40)
    assert got[1] > got[3]


def test_pagerank_converges(spark):
    edges = [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (4, 1, 3.0), (1, 3, 1.0)]
    # geometric convergence at rate d=0.85: after 25 vs 35 rounds the
    # residual is O(0.85^25) ~ 2e-2 of the initial gap -> assert 3e-4
    r1 = _ranks(spark, edges, iterations=25)
    r2 = _ranks(spark, edges, iterations=35)
    for k in r1:
        assert r1[k] == pytest.approx(r2[k], abs=3e-4)


def test_copurchase_pagerank_query_shape(spark):
    df = all_queries()["mart_copurchase_pagerank"].fn(spark, SF_SMALL)
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert all(r.rank > 0 for r in rows)
    # descending rank order with key tiebreak
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)


# --------------------------------------------------------- schema audit


def test_schema_audit_detects_all_drift_kinds(spark, tmp_path):
    import enterprise_data_quality_platform_spark.queries.dq as dq

    sf = str(tmp_path)
    # nation with: n_name correct; n_nationkey type drift (int vs long...
    # catalog declares int); n_regionkey missing; extra column added
    spark.createDataFrame(
        [(1.5, "a", "x")],
        "n_nationkey double, n_name string, n_extra string",
    ).write.parquet(f"{sf}/nation.parquet")
    out = dq.dq_schema_audit(spark, sf).filter("table_name = 'nation'")
    got = {(r.column_name): r.status for r in out.collect()}
    assert got["n_nationkey"] == "type_drift"
    assert got["n_name"] == "match"
    assert got["n_regionkey"] == "missing"
    assert got["n_extra"] == "unexpected"
    # every other declared table is absent in this dir
    other = (
        dq.dq_schema_audit(spark, sf)
        .filter("table_name = 'orders'")
        .select("status")
        .distinct()
        .collect()
    )
    assert [r.status for r in other] == ["missing_table"]


def test_schema_audit_green_on_real_testdata(spark):
    import enterprise_data_quality_platform_spark.queries.dq as dq

    statuses = {
        r.status
        for r in dq.dq_schema_audit(spark, SF_SMALL).select("status").distinct().collect()
    }
    assert statuses <= {"match", "adapted"}


# ----------------------------------------------------------- file stats


def test_file_stats_flags(spark, tmp_path):
    """Small-file and oversized-row-group detection on crafted layouts."""
    import enterprise_data_quality_platform_spark.queries.dq as dq
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    # orders: one file with a single 300k-row group -> oversized flag
    t = pa.table({"o_orderkey": list(range(300_000))})
    pq.write_table(t, f"{sf}/orders.parquet", row_group_size=300_000)
    out = {r.table_name: r for r in dq.dq_file_stats(spark, sf).collect()}
    o = out["orders"]
    assert o.n_files == 1 and o.n_rows == 300_000
    assert o.oversized_row_groups is True
    # absent tables report zero files, no flags
    assert out["lineitem"].n_files == 0
    assert out["lineitem"].small_files is False


# ----------------------------------------------------- point-in-time join


def test_pit_state_join_no_leakage(spark, crafted_tables):
    """A purchase must see the state valid AT its timestamp — never a
    later state (leakage), and a state starting exactly at purchase_ts
    matches (backward ASOF <=)."""
    import datetime

    def ts(m):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)

    rows = [
        # user 1: view-state from t0, error-state from t20
        (1, 1, "view", ts(0), 0.0),
        (2, 1, "error", ts(20), 0.0),
        (3, 1, "purchase", ts(10), 9.9),   # inside view state
        (4, 1, "purchase", ts(20), 9.9),   # exactly at error start -> error
        # user 2: purchase before ANY state -> NULL state
        (5, 2, "purchase", ts(5), 1.0),
        (6, 2, "click", ts(30), 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    crafted_tables(oo, df)
    got = {
        r.state_type: (r.n_purchases, r.total_state_age_sec)
        for r in oo.events_pit_state_join(spark, "x").collect()
    }
    # purchase 3: view state since t0 (age 600s); purchase 4: error state
    # since t20 (age 0 — exact-boundary match); purchase 5: no past state
    assert got["view"] == (1, 600)
    assert got["error"] == (1, 0)
    assert got["none"] == (1, 0)  # future state never leaks backward


def test_pit_state_join_single_user_shuffle(spark):
    """The as-of composition must not plan an inequality join."""
    p = plan_of(spark, "events_pit_state_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
