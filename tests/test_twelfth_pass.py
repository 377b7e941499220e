from __future__ import annotations

import datetime
import math

import pytest

from conftest import minute, plan_of

from enterprise_data_quality_platform_spark.queries import (
    dq,
    embeddings as em,
    events as ev,
    relational as rel,
)


def test_top_paths_counts_trigrams(spark, crafted_tables):
    rows = [
        # user 1: A B C D -> A>B>C, B>C>D
        (1, 1, "A", minute(0)),
        (2, 1, "B", minute(1)),
        (3, 1, "C", minute(2)),
        (4, 1, "D", minute(3)),
        # user 2: A B -> too short for a trigram
        (5, 2, "A", minute(0)),
        (6, 2, "B", minute(1)),
        # user 3: A B C -> A>B>C again
        (7, 3, "A", minute(0)),
        (8, 3, "B", minute(1)),
        (9, 3, "C", minute(2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = {r.path: r.n_journeys for r in ev.events_top_paths(spark, "unused").collect()}
    assert got == {"A > B > C": 2, "B > C > D": 1}


def test_top_paths_tiebreak_on_event_id(spark, crafted_tables):
    """Duplicate timestamps must order by event_id, so the journey is
    deterministic under any partitioning."""
    t = minute(0)
    rows = [(3, 1, "C", t), (1, 1, "A", t), (2, 1, "B", t)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = [r.path for r in ev.events_top_paths(spark, "unused").collect()]
    assert got == ["A > B > C"]


def test_top_paths_is_topk_no_global_sort(spark):
    plan = plan_of(spark, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan


def test_dau_wau_rolling_distinct(spark, crafted_tables):
    def day(d: int) -> datetime.datetime:
        return datetime.datetime(2024, 1, d, 12, 0, 0)

    rows = [
        (1, 1, day(1)),
        (2, 1, day(1)),  # same user twice on day 1 -> still 1 DAU vote
        (3, 2, day(1)),
        (4, 2, day(5)),
        (5, 1, day(12)),  # day 12: user 2's day-5 activity is outside the 7-day window
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    got = {
        str(r.day): (r.dau, r.wau)
        for r in ev.events_dau_wau(spark, "unused").collect()
    }
    assert got == {
        "2024-01-01": (2, 2),  # both users active
        "2024-01-05": (1, 2),  # user 2 active; user 1's day-1 still in window
        "2024-01-12": (1, 1),  # day 5 is 7 days back -> expired
    }


def test_dau_wau_explodes_instead_of_range_join(spark):
    plan = plan_of(spark, "events_dau_wau")
    assert "Generate" in plan  # explode-to-target-days
    assert "NestedLoop" not in plan  # never a range cross-join


def test_ab_experiment_matches_manual_counts(spark, crafted_tables):
    # users 1..40; converted iff user_id % 4 == 0
    rows = []
    eid = 0
    for u in range(1, 41):
        rows.append((eid, u, "view", minute(u)))
        eid += 1
        if u % 4 == 0:
            rows.append((eid, u, "purchase", minute(u + 1)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    row = ev.events_ab_experiment(spark, "unused").collect()[0]

    arm = {u: "A" if (u * 2654435761) % 1000 < 500 else "B" for u in range(1, 41)}
    n_a = sum(1 for v in arm.values() if v == "A")
    conv_a = sum(1 for u, v in arm.items() if v == "A" and u % 4 == 0)
    conv_b = sum(1 for u, v in arm.items() if v == "B" and u % 4 == 0)
    assert (row.n_a, row.n_b, row.conv_a, row.conv_b) == (
        n_a,
        40 - n_a,
        conv_a,
        conv_b,
    )
    # z-score against the textbook two-proportion formula
    pa, pb = conv_a / n_a, conv_b / (40 - n_a)
    pool = (conv_a + conv_b) / 40
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / (40 - n_a)))
    assert row.z_score == pytest.approx(z, abs=1e-6)


def test_ab_experiment_degenerate_variance_yields_null(spark, crafted_tables):
    """All users converted -> zero pooled variance -> z is NULL, never an
    ANSI divide-by-zero throw."""
    rows = [(u, u, "purchase", minute(u)) for u in range(1, 11)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    row = ev.events_ab_experiment(spark, "unused").collect()[0]
    assert row.z_score is None
    assert row.rate_a == 1.0 and row.rate_b == 1.0


def test_ab_experiment_single_scan_no_join(spark):
    plan = plan_of(spark, "events_ab_experiment")
    assert "Join" not in plan  # arms come from one conditional aggregate


def test_fd_check_counts_majority_violations(spark, crafted_tables):
    rows = [
        (1, "x"), (1, "x"), (1, "y"),  # key 1: majority x, 1 violating row
        (2, "z"), (2, "z"),            # key 2: clean
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderpriority string")
    crafted_tables(dq, df)
    row = dq.dq_fd_check(spark, "unused").collect()[0]
    assert (row.n_keys, row.violating_keys, row.violating_rows) == (2, 1, 1)
    assert row.fd_strength == pytest.approx(4 / 5, abs=1e-6)


def test_fd_check_no_expand(spark):
    """Two-level aggregate, not count_distinct: no Expand row duplication."""
    plan = plan_of(spark, "dq_fd_check")
    assert "Expand" not in plan


def test_small_qty_revenue_matches_manual(spark, crafted_tables):
    # part 1: quantities 1, 10, 10 -> avg 7 -> only qty 1 < 1.4 qualifies
    # part 2: quantities 5, 5 -> avg 5 -> nothing < 1.0
    li = spark.createDataFrame(
        [
            (1, 1.0, 100.0),
            (1, 10.0, 100.0),
            (1, 10.0, 100.0),
            (2, 5.0, 100.0),
            (2, 5.0, 100.0),
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "BRAND_A"), (2, "BRAND_B")], "p_partkey long, p_brand string"
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    got = rel.mart_small_qty_revenue(spark, "unused").collect()
    assert [(r.p_brand, r.small_qty_lines, r.small_qty_revenue) for r in got] == [
        ("BRAND_A", 1, 100.0)
    ]


def test_small_qty_revenue_decorrelates(spark):
    """Catalyst must rewrite the correlated scalar subqueries into
    aggregate+join — no per-row subquery execution in the physical plan."""
    plan = plan_of(spark, "mart_small_qty_revenue_subquery")
    assert "Subquery" not in plan
    assert "NestedLoop" not in plan


def test_small_qty_revenue_threshold_plan(spark):
    """The packed-threshold-map form: the 60M probe's threshold AND
    brand joins are broadcast word joins — no SortMergeJoin, no SMJ sort
    of the probe; the single fact exchange is the per-part stats
    aggregate (irreducible: every line feeds its part's average)."""
    plan = plan_of(spark, "mart_small_qty_revenue")
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_label_centroid_cohesion_values(spark, crafted_tables):
    rows = [
        # label 0: identical vectors -> cohesion exactly 1
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0], 0),
        # label 1: orthogonal pair -> centroid [.5,.5,0], cos = 1/sqrt(2)
        (3, [1.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    crafted_tables(em, df)
    got = {r.label: r for r in em.embed_label_centroid(spark, "unused").collect()}
    assert got[0].n_vectors == 2
    assert got[0].avg_cohesion == pytest.approx(1.0, abs=1e-4)
    assert got[1].avg_cohesion == pytest.approx(1 / math.sqrt(2), abs=1e-4)
    assert got[1].min_cohesion == pytest.approx(1 / math.sqrt(2), abs=1e-4)


def test_label_centroid_broadcasts_centroids(spark):
    plan = plan_of(spark, "embed_label_centroid")
    assert "BroadcastHashJoin" in plan  # centroid frame is size-constant
    assert "NestedLoop" not in plan


def test_pareto_classes_and_cumshare(spark, crafted_tables):
    # nation revenues 80 / 15 / 5 -> classes A, B, C at the 80/95 cuts
    orders = spark.createDataFrame(
        [(i, c, v) for i, (c, v) in enumerate([(1, 80.0), (2, 15.0), (3, 5.0)])],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame(
        [(10, "N_A"), (20, "N_B"), (30, "N_C")], "n_nationkey int, n_name string"
    )
    tables = {"orders": orders, "customer": customer, "nation": nation}
    crafted_tables(rel, tables)
    got = rel.mart_nation_pareto(spark, "unused").collect()
    assert [(r.nation_name, r.abc_class) for r in got] == [
        ("N_A", "A"),
        ("N_B", "B"),
        ("N_C", "C"),
    ]
    assert got[-1].cum_share == pytest.approx(1.0, abs=1e-6)


def test_pareto_single_window_no_total_factor(spark):
    """Running sum and grand total share ONE window pass over the 25
    aggregated nation rows: no crossJoin total factor, no second
    star-join subtree (window-over-aggregate)."""
    plan = plan_of(spark, "mart_nation_pareto")
    assert "Window" in plan
    assert "NestedLoop" not in plan  # the 1-row crossJoin factor is gone
    # one star-join subtree: orders scanned once
    assert plan.count("orders.parquet") == 1


def test_part_value_share_total_avoids_second_per_part_shuffle(spark):
    """The grand total is a map-combined 1-row aggregate off the scan —
    exactly one per-part hash exchange in the whole plan (re-aggregating
    the grouped frame would shuffle by l_partkey twice)."""
    plan = plan_of(spark, "mart_part_value_share")
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "TakeOrderedAndProject" in plan


def test_part_value_share_threshold_is_exact(spark, crafted_tables):
    # part 1 carries 99.99% of value; part 2 exactly 0.01% -> excluded (>)
    li = spark.createDataFrame(
        [(1, 9999.0), (2, 1.0)],
        "l_partkey long, l_extendedprice double",
    )
    crafted_tables(rel, li)
    got = rel.mart_part_value_share(spark, "unused").collect()
    assert [r.l_partkey for r in got] == [1]
    assert got[0].value_share == pytest.approx(0.9999, abs=1e-6)


def test_hourly_seasonality_profile(spark, crafted_tables):
    rows, eid = [], 0
    # hour 9 on two days (3 + 1 events), hour 17 on one day (2 events)
    for d, h, n in [(1, 9, 3), (2, 9, 1), (1, 17, 2)]:
        for i in range(n):
            rows.append((eid, datetime.datetime(2024, 1, d, h, i)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    crafted_tables(ev, df)
    got = {r.hour_of_day: r for r in ev.events_hourly_seasonality(spark, "unused").collect()}
    assert got[9].n_hours == 2 and got[9].total_events == 4
    assert got[9].avg_per_hour == pytest.approx(2.0, abs=1e-4)
    assert got[17].share == pytest.approx(2 / 6, abs=1e-6)


def test_churn_inactivity_seven_day_rule(spark, crafted_tables):
    t_end = datetime.datetime(2024, 1, 31)
    rows = [
        (1, 1, t_end),                                     # frontier user: active
        (2, 2, t_end - datetime.timedelta(days=7)),        # exactly 7d: NOT churned (>)
        (3, 3, t_end - datetime.timedelta(days=7, seconds=1)),  # just over: churned
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    row = ev.events_churn_inactivity(spark, "unused").collect()[0]
    assert (row.n_users, row.churned_users, row.active_users) == (3, 1, 2)
    assert row.churn_rate == pytest.approx(1 / 3, abs=1e-6)


def test_seasonality_and_churn_broadcast_single_row_factors(spark):
    for name in ("events_hourly_seasonality", "events_churn_inactivity"):
        plan = plan_of(spark, name)
        assert "NestedLoop" in plan or "BroadcastHashJoin" in plan or "Join" in plan
        assert "SortMergeJoin" not in plan  # 1-row factor is always broadcast
