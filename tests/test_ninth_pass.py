from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from conftest import minute

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.operators.skew import (
    salt_column,
    salted_count_sum,
    salted_join,
)
from enterprise_data_quality_platform_spark.queries import (
    events as ev,
    relational as rel,
)


def _skewed_facts(spark):
    # key 1 is hot: 500 rows; keys 2..20 have 5 each
    rows = [(1, i) for i in range(500)] + [
        (k, i) for k in range(2, 21) for i in range(5)
    ]
    return spark.createDataFrame(rows, "key long, v long")


def _dim(spark):
    return spark.createDataFrame(
        [(k, f"name_{k}") for k in range(1, 26)], "key long, name string"
    )


def test_salted_join_equals_plain_inner(spark):
    big, small = _skewed_facts(spark), _dim(spark)
    expected = sorted(big.join(small, ["key"]).collect())
    got = sorted(salted_join(big, small, ["key"], num_salts=8).collect())
    assert got == expected


def test_salted_join_left_preserves_unmatched(spark):
    big = _skewed_facts(spark)
    small = _dim(spark).filter(F.col("key") > 10)  # keys 1..10 unmatched
    expected = sorted(
        big.join(small, ["key"], "left").collect(), key=str
    )
    got = sorted(
        salted_join(big, small, ["key"], num_salts=4, how="left").collect(),
        key=str,
    )
    assert got == expected


def test_salted_join_replicates_duplicate_dim_rows(spark):
    """A dup key on the small side must multiply matches exactly as the
    plain join does (each dup replicated per salt, matched once)."""
    big = _skewed_facts(spark)
    small = _dim(spark).unionByName(
        spark.createDataFrame([(1, "name_1_dup")], "key long, name string")
    )
    assert (
        salted_join(big, small, ["key"], num_salts=8).count()
        == big.join(small, ["key"]).count()
    )


def test_salted_count_sum_equals_plain_groupby(spark):
    df = _skewed_facts(spark)
    expected = {
        r.key: (r.n_rows, r.sum_v)
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    got = {
        r.key: (r.n_rows, r.sum_v)
        for r in salted_count_sum(df, ["key"], ["v"], num_salts=8).collect()
    }
    assert got == expected


def test_salt_spreads_hot_key(spark):
    """The hot key's rows must land in more than one salt bucket."""
    df = _skewed_facts(spark).filter(F.col("key") == 1)
    n_buckets = (
        df.withColumn("s", salt_column(df, 8)).select("s").distinct().count()
    )
    assert n_buckets > 1


def test_rate_anomaly_flags_spike_hour(spark, crafted_tables):
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(24):
        n = 1000 if h == 12 else 10  # big spike at noon
        for i in range(n):
            rows.append((eid, t0 + datetime.timedelta(hours=h, seconds=i)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    crafted_tables(ev, df)
    got = ev.events_rate_anomaly(spark, "unused").collect()
    assert [r.hour_start.hour for r in got] == [12]
    assert got[0].zscore > 2.0


def test_scd2_episodes_collapse_consecutive_runs(spark, crafted_tables):
    rows = [
        (1, 1, "view", minute(0)), (2, 1, "view", minute(1)), (3, 1, "click", minute(2)),
        (4, 1, "view", minute(3)),  # view AGAIN -> new episode, not merged
        (5, 2, "error", minute(0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = sorted(
        (r.user_id, r.episode_seq, r.event_type, r.n_events)
        for r in ev.events_scd2_episodes(spark, "unused").collect()
    )
    assert got == [
        (1, 1, "view", 2),
        (1, 2, "click", 1),
        (1, 3, "view", 1),
        (2, 1, "error", 1),
    ]


def test_rfm_segments_partition_customers(spark, sf_dir):
    rows = rel.mart_customer_rfm(spark, sf_dir).collect()
    segs = [r.rfm_segment for r in rows]
    assert segs == sorted(segs) and len(segs) == len(set(segs))
    assert all(
        len(s) == 3 and set(s) <= set("1234") for s in segs
    )
    # every scored customer lands in exactly one segment
    n_cust = (
        table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust


def test_attribution_credits_last_preceding_touch(spark, crafted_tables):
    rows = [
        # user 1: view@0, click@10, purchase@30 -> credited to click, 20min
        (1, 1, "view", minute(0)), (2, 1, "click", minute(10)), (3, 1, "purchase", minute(30)),
        # user 2: purchase with no prior touch -> 'none'
        (4, 2, "purchase", minute(5)),
        # user 3: purchase then view then purchase -> second credited to view
        (5, 3, "purchase", minute(0)), (6, 3, "view", minute(1)), (7, 3, "purchase", minute(2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    crafted_tables(ev, df)
    got = {
        r.attributed_type: (r.n_purchases, r.total_secs_to_convert)
        for r in ev.events_attribution(spark, "unused").collect()
    }
    assert got == {
        "click": (1, 20 * 60),
        "none": (2, None),  # user 2 and user 3's first purchase
        "view": (1, 60),
    }
