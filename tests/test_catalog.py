"""Unit pins for catalog.py — the footer snapshot every table read and every
footer consumer goes through.

The load-bearing properties: the snapshot schema is exactly what
``spark.read.parquet`` infers (or ``None``, so the read falls back to
Spark's inference) on every tier table and on crafted files; a table read
with it runs no Spark job; row counts and integral bounds come from the
footers as they are now, never from an earlier read."""

from __future__ import annotations

import datetime
import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from enterprise_data_quality_platform_spark import catalog
from enterprise_data_quality_platform_spark.catalog import footer, raw_table
from enterprise_data_quality_platform_spark.session import (
    RUNTIME_CONFS,
    configure_session,
    drop_stale_session_dirs,
)

from conftest import SF_ORACLE, SF_SMALL

TIERS = (SF_SMALL, SF_ORACLE, os.path.join(os.path.dirname(SF_SMALL), "sf0.1"))

TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)


def _inferred(spark, sf_dir, name):
    return spark.read.parquet(catalog.table_path(sf_dir, name)).schema


def _write(sf_dir, name, tbl, **kw):
    pq.write_table(tbl, catalog.table_path(str(sf_dir), name), **kw)
    return str(sf_dir)


@pytest.mark.parametrize("sf_dir", TIERS)
@pytest.mark.parametrize("name", catalog.TABLES)
def test_snapshot_schema_equals_spark_inference(spark, sf_dir, name):
    assert footer(sf_dir, name).schema == _inferred(spark, sf_dir, name)


def test_table_read_runs_no_job(spark):
    """Reading with the snapshot schema skips Spark's one-task inference
    job; the bare read in the same job group runs one (the control)."""
    sc = spark.sparkContext
    sc.setJobGroup("catalog-no-job", "catalog.table reads")
    try:
        catalog.table(spark, SF_SMALL, "lineitem")
        catalog.load_tables(spark, SF_SMALL, ("orders", "events"))
        assert sc.statusTracker().getJobIdsForGroup("catalog-no-job") == []
        _inferred(spark, SF_SMALL, "nation")
        assert sc.statusTracker().getJobIdsForGroup("catalog-no-job") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize(
    "ts_type, want",
    [
        (pa.timestamp("ns"), "bigint"),  # nanosAsLong
        (pa.timestamp("us"), "timestamp_ntz"),
        (pa.timestamp("us", tz="UTC"), "timestamp"),
    ],
)
def test_events_ts_units_match_spark(spark, tmp_path, ts_type, want):
    sf = _write(
        tmp_path,
        "events",
        pa.table({"event_id": [1], "ts": pa.array([TS], ts_type)}),
    )
    snap = footer(sf, "events")
    assert snap.schema == _inferred(spark, sf, "events")
    assert snap.schema["ts"].dataType.simpleString() == want
    # every representation reads back as the same UTC wall-clock value
    ts = catalog.table(spark, sf, "events").selectExpr(
        "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    )
    assert ts.collect()[0].ts == TS


def test_string_partkey_matches_spark_and_has_no_bounds(spark, tmp_path):
    sf = _write(
        tmp_path,
        "lineitem",
        pa.table({"l_orderkey": [1, 2], "l_partkey": ["3", "5"]}),
    )
    snap = footer(sf, "lineitem")
    assert snap.schema == _inferred(spark, sf, "lineitem")
    assert snap.bounds == {"l_orderkey": (1, 2)}


def test_required_column_reads_nullable(spark, tmp_path):
    schema = pa.schema(
        [
            pa.field("k", pa.int64(), nullable=False),
            pa.field(
                "v", pa.list_(pa.field("item", pa.float32(), nullable=False))
            ),
        ]
    )
    sf = _write(tmp_path, "embeddings", pa.table({"k": [1], "v": [[0.5]]}, schema))
    snap = footer(sf, "embeddings")
    assert snap.schema == _inferred(spark, sf, "embeddings")
    assert snap.schema["k"].nullable and snap.schema["v"].dataType.containsNull


def test_spark_written_int96_falls_back_to_spark(spark, tmp_path):
    """Spark writes timestamps as INT96, which Arrow reports as
    timestamp[ns]: the snapshot must not call it a long."""
    df = spark.sql(
        "SELECT 1L AS k, TIMESTAMP'2024-01-02 03:04:05' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts_ntz,"
        " CAST(1.25 AS DECIMAL(10, 2)) AS amount"
    )
    df.write.parquet(catalog.table_path(str(tmp_path / "all"), "orders"))
    sf = str(tmp_path / "all")
    assert footer(sf, "orders").schema is None
    assert raw_table(spark, sf, "orders").schema == _inferred(spark, sf, "orders")
    assert raw_table(spark, sf, "orders").schema["ts"].dataType.simpleString() == (
        "timestamp"
    )
    # without the INT96 column, Spark's own files map exactly
    df.drop("ts").write.parquet(catalog.table_path(str(tmp_path / "no96"), "orders"))
    sf = str(tmp_path / "no96")
    assert footer(sf, "orders").schema == _inferred(spark, sf, "orders")
    # Spark reads its files with the schema stored in them: field metadata
    # the parquet types cannot carry falls back to Spark too
    df.selectExpr("k").withMetadata("k", {"comment": "key"}).write.parquet(
        catalog.table_path(str(tmp_path / "meta"), "orders")
    )
    sf = str(tmp_path / "meta")
    assert footer(sf, "orders").schema is None
    assert raw_table(spark, sf, "orders").schema == _inferred(spark, sf, "orders")


@pytest.mark.parametrize("layout", ["int96", "uint", "mixed", "hive", "many"])
def test_unprovable_layouts_fall_back_to_spark(spark, tmp_path, layout):
    path = catalog.table_path(str(tmp_path), "part")
    if layout == "int96":  # no Spark schema in the footer to catch it
        tbl = pa.table({"p": pa.array([TS], pa.timestamp("ns"))})
        pq.write_table(tbl, path, use_deprecated_int96_timestamps=True)
    elif layout == "uint":
        pq.write_table(pa.table({"p": pa.array([1], pa.uint32())}), path)
    else:
        os.makedirs(path)
    if layout == "mixed":
        pq.write_table(pa.table({"p": pa.array([1], pa.int32())}), f"{path}/a.parquet")
        pq.write_table(pa.table({"p": pa.array([2], pa.int64())}), f"{path}/b.parquet")
    if layout == "hive":
        for k in (0, 1):
            os.makedirs(f"{path}/k={k}")
            pq.write_table(pa.table({"p": [k]}), f"{path}/k={k}/a.parquet")
    if layout == "many":
        for i in range(catalog.MAX_FOOTER_FILES + 1):
            pq.write_table(pa.table({"p": [i]}), f"{path}/{i:04d}.parquet")
    snap = footer(str(tmp_path), "part")
    assert snap.schema is None
    if layout == "many":
        assert snap.rows == catalog.MAX_FOOTER_FILES + 1 and snap.bounds == {}
    got = raw_table(spark, str(tmp_path), "part").schema
    assert got == _inferred(spark, str(tmp_path), "part")


def test_absent_table_has_no_snapshot(spark, tmp_path):
    snap = footer(str(tmp_path), "region")
    assert (snap.files, snap.rows, snap.bounds, snap.schema) == ((), None, {}, None)
    with pytest.raises(Exception):
        raw_table(spark, str(tmp_path), "region")


def test_ntz_inference_off_falls_back_to_spark(spark, tmp_path):
    """The snapshot maps types under the engine's confs; a session with
    TIMESTAMP_NTZ inference off reads with Spark's inference instead."""
    sf = _write(
        tmp_path, "events", pa.table({"ts": pa.array([TS], pa.timestamp("us"))})
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = raw_table(spark, sf, "events").schema
        assert got == _inferred(spark, sf, "events")
        assert got["ts"].dataType.simpleString() == "timestamp"
    finally:
        spark.conf.set(key, old)


def test_no_statistics_leave_the_in_plan_guard(spark, tmp_path):
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_part_affinity,
    )

    sf = _write(
        tmp_path,
        "lineitem",
        pa.table({"l_orderkey": [1, 1, 2], "l_partkey": [3, 5, 3]}),
        write_statistics=False,
    )
    snap = footer(sf, "lineitem")
    assert snap.bounds == {} and snap.rows == 3
    assert snap.schema == _inferred(spark, sf, "lineitem")
    df = mart_part_affinity(spark, sf)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "raise_error" in plan  # the in-plan pack-range guard


def test_rewritten_table_is_reread(tmp_path):
    """No memoization: a table rewritten in place between two snapshots
    shows its new row count and bounds."""
    sf = _write(tmp_path, "lineitem", pa.table({"l_partkey": [1, 2, 3]}))
    assert footer(sf, "lineitem").rows == 3
    _write(tmp_path, "lineitem", pa.table({"l_partkey": [-7, 9]}))
    snap = footer(sf, "lineitem")
    assert snap.rows == 2 and snap.bounds["l_partkey"] == (-7, 9)


def test_shj_build_fits_size_arithmetic(spark):
    """The shuffled-hash-join hint gate: tiny builds fit; a build whose
    per-partition bytes exceed the task execution-memory share does not
    (simulated via an absurd bytes-per-row); estimation failures fall back
    to True (the hint — the gate exists to avoid loud failures, not to
    silently change plans on error)."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        _shj_build_fits,
    )

    assert _shj_build_fits(spark, SF_SMALL, "lineitem") is True
    assert (
        _shj_build_fits(spark, SF_SMALL, "lineitem", bytes_per_row=1 << 40)
        is False
    )
    assert _shj_build_fits(spark, "/nonexistent", "lineitem") is True


def test_null_counts_need_every_chunk(tmp_path):
    """``Footer.nulls`` is exact per flat column: summed over row groups,
    absent without statistics, never taken from a nested leaf."""
    tbl = pa.table(
        {
            "a": pa.array([1, None, 3, None], pa.int64()),
            "s": ["x", "y", None, "z"],
            "v": pa.array([[1.0], None, [None], []], pa.list_(pa.float32())),
        }
    )
    sf = _write(tmp_path, "embeddings", tbl, row_group_size=2)
    assert footer(sf, "embeddings").nulls == {"a": 2, "s": 1}
    sf = _write(tmp_path, "embeddings", tbl, write_statistics=False)
    assert footer(sf, "embeddings").nulls == {}


def test_footer_of_only_for_a_bare_read(spark, tmp_path):
    """A frame read bare from the table maps to its snapshot; an operator on
    top, a frame not read from files, or a rewrite since the read gives
    ``None``."""
    import time

    from enterprise_data_quality_platform_spark.catalog import footer_of, table

    snap = footer_of(table(spark, SF_SMALL, "orders"))
    want = footer(SF_SMALL, "orders")
    assert (snap.files, snap.rows, snap.bounds, snap.nulls, snap.schema) == (
        want.files, want.rows, want.bounds, want.nulls, want.schema,
    )
    orders = table(spark, SF_SMALL, "orders")
    assert footer_of(orders.filter("o_orderkey > 1")) is None
    assert footer_of(orders.select("o_orderkey")) is None
    assert footer_of(orders.limit(5)) is None
    assert footer_of(spark.range(3)) is None

    sf = _write(tmp_path, "lineitem", pa.table({"l_partkey": [1, 2, 3]}))
    df = table(spark, sf, "lineitem")
    assert footer_of(df).rows == 3
    time.sleep(0.01)
    _write(tmp_path, "lineitem", pa.table({"l_partkey": [7, 8, 9]}))
    assert footer_of(df) is None  # listed before the rewrite
    assert footer_of(table(spark, sf, "lineitem")).bounds["l_partkey"] == (7, 9)


def test_drop_stale_session_dirs_mtime_gate(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    old_dir = tmp_path / "edqp-orc-app-old"
    new_dir = tmp_path / "edqp-orc-app-live"
    keep_dir = tmp_path / "edqp-orc-app-current"
    for d in (old_dir, new_dir, keep_dir):
        d.mkdir()
    stale_ts = time.time() - 7 * 3600
    os.utime(old_dir, (stale_ts, stale_ts))

    drop_stale_session_dirs("edqp-orc", keep=str(keep_dir))
    assert not old_dir.exists()  # 7h old: dead session, removed
    assert new_dir.exists()  # fresh mtime: plausibly live, kept
    assert keep_dir.exists()  # current session's own dir, kept


def test_user_conf_overrides_survive_table_reads(spark):
    """configure_session applies engine defaults ONCE per session: a conf
    the caller tunes between table() reads must survive the next read
    (previously every read re-applied RUNTIME_CONFS and silently reverted
    the override, so a tuned skew demo planned a broadcast join)."""
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    engine_default = RUNTIME_CONFS[key]
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        catalog.table(spark, SF_SMALL, "nation").count()
        assert spark.conf.get(key) == "-1"  # override survived the read
        configure_session(spark, force=True)
        assert spark.conf.get(key) == engine_default  # force re-applies
    finally:
        spark.conf.set(key, old)
