from __future__ import annotations

import datetime
import re

from conftest import minute, plan_of

from enterprise_data_quality_platform_spark.queries import (
    dq,
    events as ev,
    relational as rel,
    text as tx,
)


def test_heavy_hitters_threshold_is_strict(spark, crafted_tables):
    # 200 events: user 1 owns 2 (exactly 1.0%), user 2 owns 1 (0.5% exactly
    # -> strict > excludes), rest spread over 197 users
    rows = [(1, 1), (2, 1), (3, 2)] + [(i + 4, i + 100) for i in range(197)]
    df = spark.createDataFrame(
        [(eid, uid, "view", minute(eid), 1.0) for eid, uid in rows],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    crafted_tables(ev, df)
    got = {r.user_id: r.share for r in ev.events_heavy_hitters(spark, "x").collect()}
    assert got == {1: 0.01}  # 2/200; user 2 at exactly 0.5% excluded


def test_heavy_hitters_broadcast_total(spark):
    plan = plan_of(spark, "events_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_value_trend_recovers_known_slope(spark, crafted_tables):
    """y rises exactly 36 value-units per hour -> slope_per_hour == 36."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 7, "view", base + datetime.timedelta(seconds=100 * i), 0.01 * i)
        for i in range(12)
    ]  # dy/dx = 0.01 per 100s = 1e-4/s = 0.36/h... scaled below
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    crafted_tables(ev, df)
    out = ev.events_user_value_trend(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r.user_id == 7 and r.n == 12
    assert abs(r.slope_per_hour - 0.36) < 1e-9


def test_value_trend_zero_variance_is_null(spark, crafted_tables):
    """All events at the same second: denominator 0 -> NULL slope, no
    ANSI divide-by-zero throw."""
    df = spark.createDataFrame(
        [(i, 1, "view", minute(0), float(i)) for i in range(10)],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    crafted_tables(ev, df)
    out = ev.events_user_value_trend(spark, "x").collect()
    assert len(out) == 1 and out[0].slope_per_hour is None


def test_value_trend_no_window_no_udf(spark):
    plan = plan_of(spark, "events_user_value_trend")
    assert "Window" not in plan
    assert "Python" not in plan  # no UDF: sufficient statistics only


def test_sequence_gaps_counts_missing_and_duplicates(spark, crafted_tables):
    # bucket 0: ids 0..9 minus {3,7} -> 2 missing; bucket 1: 1000,1000,1001
    # -> duplicate shows as -1
    ids = [i for i in range(10) if i not in (3, 7)] + [1000, 1000, 1001]
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    crafted_tables(dq, df)
    got = {
        r.bucket: r.missing_in_range
        for r in dq.dq_sequence_gaps(spark, "x").collect()
    }
    assert got == {0: 2, 1: -1}


def test_sequence_gaps_no_window(spark):
    plan = plan_of(spark, "dq_sequence_gaps")
    assert "Window" not in plan  # groupBy min/max/count, never a LAG sort


def test_first_last_order_tiebreak_on_orderkey(spark, crafted_tables):
    """Two orders on the same day: the packed key must break the tie on
    orderkey (lower key = first) on both engines."""
    d = datetime.datetime(2024, 3, 1)
    orders = spark.createDataFrame(
        [
            (5, 1, d, 50.0),
            (2, 1, d, 20.0),  # same day, lower key -> the 'first'
            (9, 1, datetime.datetime(2024, 4, 1), 90.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    crafted_tables(rel, orders)
    r = rel.mart_customer_first_last_order(spark, "x").collect()[0]
    assert (r.n_orders, r.first_order_price, r.last_order_price) == (3, 20.0, 90.0)
    assert r.first_order_date == d


def test_first_last_order_single_groupby_no_window(spark):
    plan = plan_of(spark, "mart_customer_first_last_order")
    assert "Window" not in plan
    assert plan.count("Exchange") <= 4  # one agg shuffle (+AQE reads)


def test_cluster_sizes_both_scopes(spark, crafted_tables):
    long_a = "alpha " * 30  # same 64-char prefix family
    docs = spark.createDataFrame(
        [
            (1, long_a + "tail one"),
            (2, long_a + "tail two"),  # prefix64 dup of 1, exact-distinct
            (3, "Hello   World"),
            (4, "hello world"),  # exact dup of 3 after normalization
            (5, "unique"),
        ],
        "doc_id long, text string",
    )
    crafted_tables(tx, docs)
    got = {
        (r.scope, r.cluster_size): (r.n_clusters, r.n_docs)
        for r in tx.dedup_cluster_sizes(spark, "x").collect()
    }
    # exact: {3,4} cluster of 2, three singletons
    assert got[("exact", 2)] == (1, 2) and got[("exact", 1)] == (3, 3)
    # prefix64: {1,2} cluster of 2 and {3,4} cluster of 2, one singleton
    assert got[("prefix64", 2)] == (2, 4) and got[("prefix64", 1)] == (1, 1)


def test_cluster_sizes_one_scan(spark):
    plan = plan_of(spark, "dedup_cluster_sizes")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
