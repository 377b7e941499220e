"""Event analytics queries (``queries/events.py``): crafted-input
semantics of the funnel, cohort, session, transition and user-activity
operators, and the plan shapes they promise."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from conftest import plan_of

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
