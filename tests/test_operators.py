"""Custom operators Spark lacks (``operators/``): as-of and range joins,
snapshot diff, skew salting and Z-order layout, anchored by hand fixtures
and by equivalence with the naive plan."""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import plan_of

from enterprise_data_quality_platform_spark.operators import (
    asof_join,
    interleave_bits,
    interval_join,
    zorder_by,
)
from enterprise_data_quality_platform_spark.operators.skew import (
    salt_column,
    salted_count_sum,
    salted_join,
)
from enterprise_data_quality_platform_spark.operators.snapshot import (
    diff_snapshots,
    diff_summary,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            Row(key=1, ts=_ts("2024-01-01 10:00:00"), name="a"),
            Row(key=1, ts=_ts("2024-01-01 12:00:00"), name="b"),
            Row(key=2, ts=_ts("2024-01-01 09:00:00"), name="c"),  # no match
            Row(key=1, ts=_ts("2024-01-01 11:00:00"), name="d"),  # equal-ts match
        ]
    )
    right = spark.createDataFrame(
        [
            Row(key=1, ts=_ts("2024-01-01 09:30:00"), v=1.0),
            Row(key=1, ts=_ts("2024-01-01 11:00:00"), v=2.0),
            Row(key=2, ts=_ts("2024-01-01 09:30:00"), v=3.0),
        ]
    )
    out = {
        r.name: (r.ts_right, r.v_right)
        for r in asof_join(left, right, on="ts", key="key", right_value_cols=["v"]).collect()
    }
    assert out["a"] == (_ts("2024-01-01 09:30:00"), 1.0)  # backward
    assert out["b"] == (_ts("2024-01-01 11:00:00"), 2.0)  # latest prior
    assert out["c"] == (None, None)  # right is later → no match
    assert out["d"] == (_ts("2024-01-01 11:00:00"), 2.0)  # <= includes equal


def test_asof_preserves_left_rows(spark):
    left = spark.range(100).select(
        (F.col("id") % 5).alias("key"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000).alias("ts"),
        F.col("id"),
    )
    right = spark.range(10).select(
        (F.col("id") % 5).alias("key"),
        F.timestamp_seconds(F.col("id") * 500 + 1_700_000_000).alias("ts"),
    )
    out = asof_join(left, right, on="ts", key="key")
    assert out.count() == 100  # left join semantics: every left row kept


def test_interval_join_matches_naive(spark):
    points = spark.range(500).select(
        F.col("id").alias("pid"),
        F.timestamp_seconds(F.col("id") * 97 + 1_700_000_000).alias("ts"),
    )
    intervals = spark.range(40).select(
        F.col("id").alias("iid"),
        F.timestamp_seconds(F.col("id") * 1100 + 1_700_000_000).alias("start_ts"),
        F.timestamp_seconds(F.col("id") * 1100 + 1_700_000_900).alias("end_ts"),
    )
    fast = interval_join(points, intervals, "ts", "start_ts", "end_ts", 900)
    naive = points.join(
        intervals,
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")),
    )
    fast_pairs = {(r.pid, r.iid) for r in fast.collect()}
    naive_pairs = {(r.pid, r.iid) for r in naive.collect()}
    assert fast_pairs == naive_pairs
    assert len(fast_pairs) > 0


def test_interval_join_plans_hash_join_not_nested_loop(spark):
    points = spark.range(100).select(
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000).alias("ts")
    )
    intervals = spark.range(10).select(
        F.timestamp_seconds(F.col("id") * 600 + 1_700_000_000).alias("start_ts"),
        F.timestamp_seconds(F.col("id") * 600 + 1_700_000_500).alias("end_ts"),
    )
    plan = interval_join(
        points, intervals, "ts", "start_ts", "end_ts", 600
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "NestedLoop" not in plan  # the whole point of the bucket trick


def test_asof_split_hot_keys_matches_plain(spark):
    """One user owns 50% of both sides; the sliced window must return
    byte-identical results to the plain per-key window."""
    # hot key 0: 500 left rows spread over ~14 days; keys 1-9: 500 more
    left = spark.range(1000).select(
        F.when(F.col("id") < 500, 0).otherwise((F.col("id") % 9) + 1).alias("key"),
        F.timestamp_seconds(F.col("id") * 2400 + 1_700_000_000).alias("ts"),
        F.col("id"),
    )
    right = spark.range(300).select(
        F.when(F.col("id") < 150, 0).otherwise((F.col("id") % 9) + 1).alias("key"),
        F.timestamp_seconds(F.col("id") * 7919 + 1_700_000_000).alias("ts"),
        (F.col("id") * 10).alias("v"),
    )
    plain = asof_join(left, right, on="ts", key="key", right_value_cols=["v"])
    split = asof_join(
        left,
        right,
        on="ts",
        key="key",
        right_value_cols=["v"],
        split_hot_keys=True,
        slice_seconds=86400,
    )
    p = {(r.id): (r.ts_right, r.v_right) for r in plain.collect()}
    s = {(r.id): (r.ts_right, r.v_right) for r in split.collect()}
    assert p == s
    assert len(s) == 1000


def test_asof_split_bounds_window_groups(spark):
    """The point of the split: no (key, slice) window group holds more than
    one slice's worth of the hot key — max group size stays near the mean,
    instead of one group owning 50% of all rows."""
    n = 2000
    left = spark.range(n).select(
        F.lit(0).alias("key"),  # EVERY row on one key — worst case
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("ts"),
        F.col("id"),
    )
    right = left.select("key", "ts", (F.col("id") * 2).alias("v")).drop("id")
    out = asof_join(
        left, right, on="ts", key="key", right_value_cols=["v"],
        split_hot_keys=True, slice_seconds=86400,
    )
    assert out.count() == n
    # group cardinality check: with 1-day slices and hourly rows, each
    # (key, slice) group sees <= 24 left + 24 right + 1 carry rows, while
    # the unsplit window would put all 4000 in one group
    slices = (
        left.select(F.floor(F.unix_timestamp("ts") / 86400).alias("s"))
        .groupBy("s").count()
    )
    max_group = slices.agg(F.max("count")).collect()[0][0]
    assert max_group <= 24


def test_interleave_bits_known_values(spark):
    # a=0b101 (bits at 0,2 -> result bits 0,4), b=0b011 (bits 0,1 ->
    # result bits 1,3) => z = 1 + 16 + 2 + 8 = 27
    df = spark.createDataFrame([(5, 3)], "a long, b long").select(
        interleave_bits(F.col("a"), F.col("b")).alias("z")
    )
    assert df.collect()[0].z == 27


def test_interleave_bits_matches_python_oracle(spark):
    rows = [(a, b) for a in range(0, 256, 37) for b in range(0, 256, 41)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", interleave_bits(F.col("a"), F.col("b")).alias("z")
    )

    def morton(a, b):
        return sum(
            (((a >> i) & 1) << (2 * i)) + (((b >> i) & 1) << (2 * i + 1))
            for i in range(8)
        )

    for r in df.collect():
        assert r.z == morton(r.a, r.b)


def test_zorder_by_bounds_both_dimensions(spark):
    """After zorder_by, each partition covers a bounded rectangle of
    (a, b) space — BOTH per-partition ranges must be far smaller than the
    global range (the property a linear sort gives only its prefix key)."""
    rows = [(a, b) for a, b in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "a long, b long")
    zed = zorder_by(df, F.col("a"), F.col("b"), bits=6, num_partitions=16)
    spans = (
        zed.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert sum(r.n for r in spans) == 64 * 64
    # 16 partitions over a 64x64 grid: each z-contiguous chunk spans at
    # most half the global range on each axis (perfect quadrant = 16)
    for r in spans:
        if r.n >= 64:  # skip tiny boundary slivers
            assert r.span_a <= 32 and r.span_b <= 32, (r.span_a, r.span_b)


def test_zorder_locality_no_udf(spark):
    plan = plan_of(spark, "events_zorder_locality")
    assert "Python" not in plan  # bit math stays in codegen
    assert "Window" not in plan


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
