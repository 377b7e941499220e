"""Writers (``sources/writers.py``): merge-by-key upsert on plain parquet
and the incremental refresh pipeline (re-run one date partition, swap in,
re-validate — pager-workflow.py:292-322 semantics), partition overwrite,
the quarantine sink, bucketed writes and compaction."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.checks import Check
from enterprise_data_quality_platform_spark.plans.reference_pipelines import (
    incremental_refresh_pipeline,
)
from enterprise_data_quality_platform_spark.sources.writers import (
    compact_partitions,
    materialize_incremental,
    merge_upsert,
    write_bucketed,
    write_violations,
)

from conftest import SF_SMALL


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_merge_upsert_unpartitioned_update_and_insert(tmp_path, spark):
    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    merge_upsert(spark, base, path, keys=["k"])  # bootstrap

    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="d")])
    out = merge_upsert(spark, updates, path, keys=["k"])
    assert _rows(out, "k", "v") == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]


def test_merge_upsert_idempotent(tmp_path, spark):
    path = str(tmp_path / "dim")
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    merge_upsert(spark, base, path, keys=["k"])
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=5, v="e")])
    once = _rows(merge_upsert(spark, updates, path, keys=["k"]), "k", "v")
    twice = _rows(merge_upsert(spark, updates, path, keys=["k"]), "k", "v")
    assert once == twice == [(1, "a"), (2, "B2"), (5, "e")]


def test_merge_upsert_partition_scoped(tmp_path, spark):
    """Partition-scoped merge: only touched p_date partitions are rewritten;
    untouched partition files stay byte-identical on disk."""
    import glob
    import os

    path = str(tmp_path / "fact")
    base = spark.createDataFrame(
        [
            Row(d="2025-01-01", k=1, v=10.0),
            Row(d="2025-01-01", k=2, v=20.0),
            Row(d="2025-01-02", k=3, v=30.0),
        ]
    ).withColumn("d", F.to_date("d"))
    merge_upsert(spark, base, path, keys=["k"], date_col="d")

    day1_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/p_date=2025-01-01/*.parquet")
    }
    assert day1_files

    updates = spark.createDataFrame(
        [Row(d="2025-01-02", k=3, v=99.0), Row(d="2025-01-02", k=4, v=40.0)]
    ).withColumn("d", F.to_date("d"))
    out = merge_upsert(spark, updates, path, keys=["k"], date_col="d")
    assert _rows(out, "k", "v") == [(1, 10.0), (2, 20.0), (3, 99.0), (4, 40.0)]
    # day-1 partition untouched (same files, same mtimes)
    assert day1_files == {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/p_date=2025-01-01/*.parquet")
    }
    # staging dir cleaned up
    assert not os.path.exists(path + "__stage")


def test_merge_upsert_partition_scoped_idempotent(tmp_path, spark):
    path = str(tmp_path / "fact")
    base = spark.createDataFrame(
        [Row(d="2025-01-01", k=1, v=1.0), Row(d="2025-01-02", k=2, v=2.0)]
    ).withColumn("d", F.to_date("d"))
    merge_upsert(spark, base, path, keys=["k"], date_col="d")
    updates = spark.createDataFrame(
        [Row(d="2025-01-01", k=1, v=5.0)]
    ).withColumn("d", F.to_date("d"))
    once = _rows(
        merge_upsert(spark, updates, path, keys=["k"], date_col="d"), "k", "v"
    )
    twice = _rows(
        merge_upsert(spark, updates, path, keys=["k"], date_col="d"), "k", "v"
    )
    assert once == twice == [(1, 5.0), (2, 2.0)]


def test_incremental_refresh_pipeline_one_date(tmp_path, spark):
    """Full refresh flow: bootstrap the daily mart, then refresh ONE date —
    only that p_date partition changes, validation gate passes, and the
    refreshed values equal a from-scratch rebuild (no drift)."""
    import glob
    import os

    from enterprise_data_quality_platform_spark.catalog import table

    mart = str(tmp_path / "mart_events_daily")
    # bootstrap: all dates
    incremental_refresh_pipeline(spark, SF_SMALL, mart).run()
    full_first = _rows(
        spark.read.parquet(mart), "p_date", "event_type", "event_count"
    )

    dates = sorted(
        r.d
        for r in table(spark, SF_SMALL, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .collect()
    )
    refresh_day = dates[1]
    untouched = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{mart}/p_date={dates[0]}/*.parquet")
    }
    ctx = incremental_refresh_pipeline(
        spark, SF_SMALL, mart, refresh_dates=[refresh_day]
    ).run()
    assert len(ctx["revalidate"]) == 3  # all checks ran

    # only the refreshed partition was rewritten
    assert untouched == {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{mart}/p_date={dates[0]}/*.parquet")
    }
    # and the table still equals the full rebuild (refresh introduced no drift)
    assert (
        _rows(spark.read.parquet(mart), "p_date", "event_type", "event_count")
        == full_first
    )


# ------------------- crash consistency of the staging+rename stand-in
# The parquet merge claims the atomicity a table format would give, so
# each crash state is tested, not assumed. Crash states are constructed
# directly on disk — exactly the layouts a kill at each point in
# merge_upsert's swap sequence leaves.


def test_merge_upsert_crash_before_swap_old_data_intact(tmp_path, spark):
    """Kill AFTER the staging write, BEFORE the swap: the target still
    serves the old rows, and a retry of the same merge both succeeds and
    clears the stale stage dir."""
    import shutil

    path = str(tmp_path / "dim")
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    merge_upsert(spark, base, path, keys=["k"])

    # simulate the crash state: a completed __stage write, swap never ran
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=9, v="z")])
    stage = path + "__stage"
    target = spark.read.parquet(path)
    kept = target.join(updates.select("k").distinct(), on=["k"], how="left_anti")
    kept.unionByName(updates).write.mode("overwrite").parquet(stage)

    # old data intact and readable
    assert _rows(spark.read.parquet(path), "k", "v") == [(1, "a"), (2, "b")]

    # retry completes the merge despite the stale stage dir
    out = merge_upsert(spark, updates, path, keys=["k"])
    assert _rows(out, "k", "v") == [(1, "a"), (2, "B2"), (9, "z")]
    assert not (tmp_path / "dim__stage").exists()
    assert not (tmp_path / "dim__old").exists()
    shutil.rmtree(stage, ignore_errors=True)


def test_merge_upsert_crash_mid_swap_recovers_old_table(tmp_path, spark):
    """Kill BETWEEN rename-out and rename-in: the target path is missing
    but the full old table sits in __old — the next merge_upsert call
    restores it first, so no committed row is ever lost."""
    import shutil

    path = str(tmp_path / "dim")
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    merge_upsert(spark, base, path, keys=["k"])

    # simulate: rename-out happened (target -> __old), rename-in did not
    shutil.move(path, path + "__old")
    assert not (tmp_path / "dim").exists()

    updates = spark.createDataFrame([Row(k=2, v="B2")])
    out = merge_upsert(spark, updates, path, keys=["k"])
    # recovery restored the old table, then the merge applied on top
    assert _rows(out, "k", "v") == [(1, "a"), (2, "B2")]
    assert not (tmp_path / "dim__old").exists()
    assert not (tmp_path / "dim__stage").exists()


def test_merge_upsert_crash_after_swap_cleans_stale_backup(tmp_path, spark):
    """Kill AFTER rename-in, BEFORE the __old cleanup: the target already
    serves the NEW data; the stale __old backup must be dropped, not
    restored over it."""
    import shutil

    path = str(tmp_path / "dim")
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    merge_upsert(spark, base, path, keys=["k"])
    first = merge_upsert(
        spark, spark.createDataFrame([Row(k=2, v="B2")]), path, keys=["k"]
    )
    assert _rows(first, "k", "v") == [(1, "a"), (2, "B2")]

    # simulate the stale backup a crash-after-rename-in leaves behind
    shutil.copytree(path, path + "__old")

    out = merge_upsert(
        spark, spark.createDataFrame([Row(k=3, v="c")]), path, keys=["k"]
    )
    # new data won; the backup did not clobber the newer table
    assert _rows(out, "k", "v") == [(1, "a"), (2, "B2"), (3, "c")]
    assert not (tmp_path / "dim__old").exists()


def test_write_violations_quarantine(tmp_path, spark):
    rows = [Row(region=r, value=float(i)) for i, r in enumerate(
        ["North America", "Europe", "South America", "Antarctica", "Europe"]
    )]
    df = spark.createDataFrame(rows)
    check = Check(
        "whitelist",
        "values_in_set",
        "t",
        column="region",
        params={"values": ("North America", "Europe")},
    )
    path = str(tmp_path / "quarantine")
    write_violations(df, check, path)
    back = spark.read.parquet(path)
    got = sorted(r["region"] for r in back.collect())
    assert got == ["Antarctica", "South America"]  # complete, not sampled
    assert set(back.columns) >= {"region", "value", "__check_name", "__run_ts"}


def test_materialize_incremental_one_partition(tmp_path, spark):
    path = str(tmp_path / "mart")
    full = spark.createDataFrame(
        [
            Row(d="2025-01-01", v=1),
            Row(d="2025-01-02", v=2),
        ]
    ).withColumn("d", F.to_date("d"))
    materialize_incremental(spark, full, path, date_col="d")

    # re-run ONLY day 2 with a new value
    day2 = spark.createDataFrame([Row(d="2025-01-02", v=99)]).withColumn(
        "d", F.to_date("d")
    )
    out = materialize_incremental(spark, day2, path, date_col="d")
    got = {(str(r["p_date"]), r["v"]) for r in out.collect()}
    # day 1 untouched, day 2 replaced (not appended)
    assert got == {("2025-01-01", 1), ("2025-01-02", 99)}


def test_write_bucketed_rejects_append_on_sorted(spark, tmp_path):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS r8bucket LOCATION '{tmp_path}/db'")
    try:
        nation = table(spark, SF_SMALL, "nation")
        write_bucketed(
            nation, "r8bucket.sorted_t", ["n_nationkey"], 4,
            sort_cols=["n_nationkey"],
        )
        # append with sort_cols: rejected regardless of target state
        with pytest.raises(ValueError, match="one-sorted-file-per-bucket"):
            write_bucketed(
                nation, "r8bucket.sorted_t", ["n_nationkey"], 4,
                sort_cols=["n_nationkey"], mode="append",
            )
        # append WITHOUT sort_cols onto an existing SORTED table: the stale
        # sort metadata would still mislead readers — rejected too
        with pytest.raises(ValueError, match="one-sorted-file-per-bucket"):
            write_bucketed(
                nation, "r8bucket.sorted_t", ["n_nationkey"], 4, mode="append"
            )
        # unsorted bucketed table: appends are safe (worst case a re-Sort)
        write_bucketed(nation, "r8bucket.plain_t", ["n_nationkey"], 4)
        write_bucketed(
            nation, "r8bucket.plain_t", ["n_nationkey"], 4, mode="append"
        )
        assert spark.table("r8bucket.plain_t").count() == 2 * nation.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS r8bucket CASCADE")
