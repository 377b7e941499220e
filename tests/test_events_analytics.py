"""Event analytics queries (``queries/events.py``): crafted-input
semantics of the funnel, cohort, session, path, transition, A/B,
seasonality, churn and user-activity operators, and the plan shapes they
promise."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from conftest import minute, plan_of

from enterprise_data_quality_platform_spark.queries import events as ev

SCHEMA = "user_id long, event_type string, ts timestamp_ntz"


def _ts(day, hour=0):
    return datetime.datetime(2024, 1, day, hour)


def _funnel(spark, crafted_tables, rows):
    crafted_tables(ev, spark.createDataFrame(rows, SCHEMA))
    return ev.events_funnel_conversion(spark, "unused").first()


def test_funnel_counts_only_ordered_completions(spark, crafted_tables):
    rows = [
        # user 1: full funnel in order -> counts everywhere
        (1, "view", _ts(1, 1)), (1, "click", _ts(1, 2)), (1, "purchase", _ts(1, 3)),
        # user 2: click BEFORE view -> not click_after_view, not full
        (2, "click", _ts(1, 1)), (2, "view", _ts(1, 2)), (2, "purchase", _ts(1, 3)),
        # user 3: view only
        (3, "view", _ts(1, 1)),
        # user 4: view then purchase, no click -> not full (NULL stage)
        (4, "view", _ts(1, 1)), (4, "purchase", _ts(1, 2)),
        # user 5: purchase before click (view, click, then purchase earlier same day)
        (5, "view", _ts(1, 1)), (5, "purchase", _ts(1, 2)), (5, "click", _ts(1, 3)),
    ]
    r = _funnel(spark, crafted_tables, rows)
    assert r["n_users"] == 5
    assert r["n_view"] == 5
    assert r["n_click_after_view"] == 2  # users 1 and 5
    assert r["n_full_funnel"] == 1  # user 1 only


def test_funnel_first_touch_is_min_per_stage(spark, crafted_tables):
    # repeated views: the EARLIEST view is the anchor; a click between
    # view#1 and view#2 still counts as after-view
    rows = [
        (1, "view", _ts(1, 1)), (1, "click", _ts(1, 2)), (1, "view", _ts(1, 3)),
        (1, "purchase", _ts(1, 4)),
    ]
    r = _funnel(spark, crafted_tables, rows)
    assert r["n_click_after_view"] == 1
    assert r["n_full_funnel"] == 1


def test_retention_cohort_day_offsets(spark, crafted_tables):
    rows = [
        # user 1: first day Jan 1, active Jan 1/2/4
        (1, "view", _ts(1)), (1, "click", _ts(2)), (1, "view", _ts(4)),
        # user 2: first day Jan 2, active Jan 2 only (two events, one day)
        (2, "view", _ts(2, 1)), (2, "click", _ts(2, 5)),
        # user 3: first day Jan 1, active Jan 1 and Jan 20 (beyond window)
        (3, "view", _ts(1)), (3, "view", _ts(20)),
    ]
    crafted_tables(ev, spark.createDataFrame(rows, SCHEMA))
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r["active_users"]
        for r in ev.events_retention_cohorts(spark, "unused").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # users 1 and 3 on their day 0
        ("2024-01-01", 1): 1,  # user 1 on Jan 2
        ("2024-01-01", 3): 1,  # user 1 on Jan 4
        ("2024-01-02", 0): 1,  # user 2 (deduped within the day)
    }


def test_sessionization_gap_boundary_semantics(spark):
    """The batch sessionization uses native session_window; Spark's batch
    session merge is inclusive (event exactly at session_end extends it),
    which must match the oracle's `gap > 30 minutes` new-session rule:
    a 30:00.000000 gap stays one session, 30:00.000001 starts a new one."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("exact30", base, 1),
        ("exact30", base + datetime.timedelta(minutes=30), 2),
        ("over30", base, 3),
        ("over30", base + datetime.timedelta(minutes=30, microseconds=1), 4),
        ("under30", base, 5),
        ("under30", base + datetime.timedelta(minutes=29), 6),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")
    sessions = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("session_count"))
    )
    got = {r["user_id"]: r["session_count"] for r in sessions.collect()}
    assert got == {"exact30": 1, "over30": 2, "under30": 1}


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


def test_rapid_fire_orders_by_min_gap_and_counts_rapid(spark, crafted_tables):
    base = datetime.datetime(2024, 1, 1)

    def at(sec):
        return base + datetime.timedelta(seconds=sec)

    rows = [
        # user 1: gaps 1s and 3600s -> min 1s, one rapid gap
        (1, 1, at(0)), (2, 1, at(1)), (3, 1, at(3601)),
        # user 2: gap 30s then 59s -> min 30s, TWO rapid gaps
        (4, 2, at(0)), (5, 2, at(30)), (6, 2, at(89)),
        # user 3: single event -> excluded (no gap)
        (7, 3, at(0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    out = ev.events_rapid_fire_users(spark, "unused").collect()
    assert [r.user_id for r in out] == [1, 2]
    by_user = {r.user_id: r for r in out}
    assert by_user[1].min_gap_us == 1_000_000
    assert by_user[1].n_rapid_gaps == 1
    assert by_user[2].min_gap_us == 30_000_000
    assert by_user[2].n_rapid_gaps == 2
    assert by_user[2].n_events == 3


def test_rapid_fire_duplicate_ts_ordered_by_event_id(spark, crafted_tables):
    """Two events at the SAME timestamp -> gap 0 via the event_id
    tiebreak (the scripted-burst signature)."""
    t = datetime.datetime(2024, 1, 1)
    rows = [(10, 1, t), (11, 1, t)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    crafted_tables(ev, df)
    out = ev.events_rapid_fire_users(spark, "unused").collect()
    assert out[0].min_gap_us == 0


def test_user_transitions_matrix_and_probabilities(spark, crafted_tables):
    rows = [
        # user 1: view -> click -> purchase
        (1, 1, "view", minute(0)), (2, 1, "click", minute(1)), (3, 1, "purchase", minute(2)),
        # user 2: view -> view
        (4, 2, "view", minute(0)), (5, 2, "view", minute(1)),
        # user 3: single event, no transition
        (6, 3, "click", minute(0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = {
        (r.from_type, r.to_type): (r.transition_count, r.transition_prob)
        for r in ev.events_user_transitions(spark, "unused").collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("view", "view"): (1, 0.5),
        ("click", "purchase"): (1, 1.0),
    }


def test_user_transitions_tiebreak_on_event_id(spark, crafted_tables):
    """Equal timestamps must order by event_id so the matrix is
    deterministic under shuffle/partitioning changes."""
    t = datetime.datetime(2024, 1, 1)
    rows = [(2, 1, "click", t), (1, 1, "view", t)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = ev.events_user_transitions(spark, "unused").collect()
    assert [(r.from_type, r.to_type) for r in got] == [("view", "click")]
