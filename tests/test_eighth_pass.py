from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from conftest import minute

from enterprise_data_quality_platform_spark.operators.snapshot import (
    diff_snapshots,
    diff_summary,
)
from enterprise_data_quality_platform_spark.queries import (
    dq,
    events as ev,
    relational as rel,
)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "key long, cents long, status string")


def test_snapshot_diff_classifies_all_four_classes(spark):
    old = _snap(spark, [(1, 100, "O"), (2, 200, "F"), (3, 300, "O")])
    new = _snap(spark, [(2, 200, "F"), (3, 333, "O"), (4, 400, "P")])
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_null_value_is_not_equal_to_literal(spark):
    """NULL in a compared column must differ from the string 'null' and
    must compare equal to NULL on the other side."""
    old = _snap(spark, [(1, None, "x"), (2, 5, None)])
    new = _snap(spark, [(1, None, "x"), (2, 5, "null")])
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed"}


def test_snapshot_diff_value_swap_between_columns_is_changed(spark):
    """xxhash64 SKIPS null inputs, so without the per-column isnull flags
    of the native fingerprint, a value moving between two columns —
    (x, NULL) -> (NULL, x) — would hash identically and classify
    'unchanged'."""
    old = _snap(spark, [(1, 7, None)])
    new = spark.createDataFrame(
        [(1, None, "7")], "key long, cents long, status string"
    )
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "changed"}


def test_snapshot_diff_map_columns_supported(spark):
    """MapType is the one type xxhash64 rejects — top-level map columns
    are canonicalised as array_sort(map_entries(col)) and hashed natively
    (pinned so the native-fingerprint rewrite can never silently drop map
    support)."""
    old = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "key long, attrs map<string,int>"
    )
    new = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 3})], "key long, attrs map<string,int>"
    )
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed"}


def test_snapshot_diff_map_entry_order_insensitive(spark):
    """Two logically-equal maps built in DIFFERENT entry orders must
    classify 'unchanged' (a string-cast fallback stringifies entries in
    internal order, so map_concat vs parquet-round-trip orderings would
    spuriously classify 'changed')."""
    old = spark.range(1).select(
        F.col("id").alias("key"),
        F.create_map(
            F.lit("a"), F.lit(1), F.lit("b"), F.lit(2), F.lit("c"), F.lit(3)
        ).alias("attrs"),
    )
    new = spark.range(1).select(
        F.col("id").alias("key"),
        F.create_map(
            F.lit("c"), F.lit(3), F.lit("a"), F.lit(1), F.lit("b"), F.lit(2)
        ).alias("attrs"),
    )
    got = diff_snapshots(old, new, keys=["key"]).collect()
    assert [r.change_type for r in got] == ["unchanged"]
    # and a real value change under reordered entries still surfaces
    new2 = spark.range(1).select(
        F.col("id").alias("key"),
        F.create_map(
            F.lit("c"), F.lit(3), F.lit("a"), F.lit(9), F.lit("b"), F.lit(2)
        ).alias("attrs"),
    )
    got2 = diff_snapshots(old, new2, keys=["key"]).collect()
    assert [r.change_type for r in got2] == ["changed"]


def test_snapshot_diff_null_map_vs_empty_map(spark):
    """NULL map and empty map must not collide: array_sort(map_entries(
    NULL)) is NULL (xxhash64 skips it) — the isnull flag carries the
    distinction, same scheme as scalar columns."""
    old = spark.createDataFrame(
        [(1, None), (2, {})], "key long, attrs map<string,int>"
    )
    new = spark.createDataFrame(
        [(1, {}), (2, {})], "key long, attrs map<string,int>"
    )
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "changed", 2: "unchanged"}


def test_snapshot_diff_nested_map_does_not_crash(spark):
    """xxhash64 rejects MapType RECURSIVELY — an
    array<map<..>> compare column must take the string-cast sentinel
    branch, not fail analysis."""
    old = spark.createDataFrame(
        [(1, [{"a": 1}]), (2, [{"b": 2}])],
        "key long, tags array<map<string,int>>",
    )
    new = spark.createDataFrame(
        [(1, [{"a": 1}]), (2, [{"b": 99}])],
        "key long, tags array<map<string,int>>",
    )
    got = {
        r.key: r.change_type
        for r in diff_snapshots(old, new, keys=["key"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed"}


def test_snapshot_summary_counts(spark):
    old = _snap(spark, [(i, i * 10, "O") for i in range(10)])
    new = _snap(
        spark,
        [(i, i * 10 + (1 if i % 3 == 0 else 0), "O") for i in range(2, 12)],
    )
    got = {r.change_type: r.n for r in diff_summary(old, new, ["key"]).collect()}
    # keys 0,1 removed; 10,11 added; of 2..9: 3,6,9 changed -> 3; rest 5
    assert got == {"added": 2, "removed": 2, "changed": 3, "unchanged": 5}


def test_benford_digit_extraction_and_shares(spark, sf_dir):
    rows = dq.dq_benford(spark, sf_dir).collect()
    digits = [r.digit for r in rows]
    assert digits == sorted(digits) and set(digits) <= set("123456789")
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r.deviation == pytest.approx(r.share - r.benford_expected)


def test_correlation_exact_on_linear_data(spark, crafted_tables, tmp_path):
    """y = 3x exactly -> r == 1.0, slope == 3.0 bit-exact (all moments are
    exact decimals; the closed form divides identical quantities)."""
    df = spark.createDataFrame(
        [(float(i), float(3 * i)) for i in range(1, 101)],
        "l_quantity double, l_extendedprice double",
    )
    crafted_tables(dq, df)
    row = dq.dq_correlation(spark, "unused").first()
    assert row.n == 100
    assert row.pearson_r == 1.0
    assert row.slope == 3.0


def test_ma7_is_trailing_and_partial_at_series_start(spark, crafted_tables):
    days = [datetime.datetime(2024, 1, d) for d in range(1, 11)]
    # revenue 100, 200, ..., 1000 (one order per day)
    df = spark.createDataFrame(
        [(d, float((i + 1) * 100)) for i, d in enumerate(days)],
        "o_orderdate timestamp, o_totalprice double",
    )
    crafted_tables(rel, df)
    rows = rel.mart_daily_revenue_ma7(spark, "unused").collect()
    assert [r.revenue for r in rows] == [float((i + 1) * 100) for i in range(10)]
    # day 1: avg(100); day 3: avg(100..300)=200; day 10: avg(400..1000)=700
    assert rows[0].ma7_revenue == 100.0
    assert rows[2].ma7_revenue == 200.0
    assert rows[9].ma7_revenue == 700.0


def test_quartiles_ntile_and_percent_rank(spark, sf_dir):
    rows = rel.mart_nation_revenue_quartiles(spark, sf_dir).collect()
    n = len(rows)
    assert sorted({r.quartile for r in rows}) == [1, 2, 3, 4]
    # quartiles are monotone along the revenue-desc order and balanced ±1
    qs = [r.quartile for r in rows]
    assert qs == sorted(qs)
    sizes = [qs.count(q) for q in (1, 2, 3, 4)]
    assert max(sizes) - min(sizes) <= 1
    assert rows[0].pct_rank == 0.0 and rows[-1].pct_rank == 1.0
    assert rows[-1].cume == 1.0
    assert rows[0].cume == pytest.approx(1.0 / n)


def test_part_affinity_counts_pairs_within_basket(spark, crafted_tables):
    rows = [
        (1, 10), (1, 20), (1, 30),   # basket 1 -> (10,20) (10,30) (20,30)
        (2, 10), (2, 20),            # basket 2 -> (10,20)
        (3, 40),                     # singleton -> nothing
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    crafted_tables(rel, df)
    got = {
        (r.part_a, r.part_b): r.together_count
        for r in rel.mart_part_affinity(spark, "unused").collect()
    }
    assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}


def test_unpivot_produces_one_row_per_metric(spark, sf_dir):
    rows = rel.stg_unpivot_metrics(spark, sf_dir).collect()
    assert [r.metric for r in rows] == [
        "discount", "extendedprice", "quantity", "tax",
    ]
    assert len({r.n_rows for r in rows}) == 1  # all four same row count


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
