"""Sources (CSV/JSON/Parquet ingest) + orchestration pipeline tests
(SURVEY.md §2.1, §2.5, §5.2.3)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from enterprise_data_quality_platform_spark.checks.runner import ValidationGateError
from enterprise_data_quality_platform_spark.plans import Pipeline, StageFailure
from enterprise_data_quality_platform_spark.plans.reference_pipelines import (
    etl_pipeline,
    validation_pipeline,
)
from enterprise_data_quality_platform_spark.sources import (
    materialize_model,
    read_csv,
    read_json,
    read_parquet,
)
from enterprise_data_quality_platform_spark.sources.readers import (
    CORRUPT_COL,
    SchemaMismatchError,
    enforce_schema,
    read_parquet_evolving,
)

from conftest import SF_SMALL

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


# --- readers --------------------------------------------------------------


def test_read_csv_with_corrupt_capture(spark):
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/data.csv", "w") as f:
            f.write("id,name,value\n1,alpha,1.5\n2,beta,2.5\nnot-a-number,gamma,oops\n")
        df = read_csv(spark, f"{d}/data.csv", SCHEMA)
        rows = df.collect()
        assert len(rows) == 3
        good = [r for r in rows if r[CORRUPT_COL] is None]
        bad = [r for r in rows if r[CORRUPT_COL] is not None]
        assert len(good) == 2 and len(bad) == 1  # bad row captured, not fatal
        assert bad[0].id is None


def test_read_json_with_corrupt_capture(spark):
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/data.json", "w") as f:
            f.write('{"id": 1, "name": "alpha", "value": 1.5}\n')
            f.write("this is not json\n")
        df = read_json(spark, f"{d}/data.json", SCHEMA)
        rows = df.collect()
        assert len(rows) == 2
        assert sum(1 for r in rows if r[CORRUPT_COL] is not None) == 1


def test_parquet_schema_enforcement(spark):
    df = read_parquet(spark, f"{SF_SMALL}/nation.parquet")
    expected = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    assert enforce_schema(df, expected).columns == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
    ]
    bad = T.StructType([T.StructField("ghost", T.StringType())])
    with pytest.raises(SchemaMismatchError) as exc:
        enforce_schema(df, bad)
    assert "ghost" in str(exc.value)


def test_read_parquet_evolving_generations(spark, tmp_path):
    """Three schema generations of one table — v1 (amount int, cust),
    v2 (renames cust→customer_id, widens amount), v3 (adds channel) —
    read into ONE frame with the declared target schema: legacy names
    coalesce onto current ones, missing columns are typed NULLs, types
    are cast exactly."""
    v1 = spark.createDataFrame([(1, 10, "a")], "id long, amount int, cust string")
    v2 = spark.createDataFrame(
        [(2, 20_000_000_000, "b")], "id long, amount long, customer_id string"
    )
    v3 = spark.createDataFrame(
        [(3, 30, "c", "web")],
        "id long, amount long, customer_id string, channel string",
    )
    p1, p2, p3 = (str(tmp_path / f"v{i}") for i in (1, 2, 3))
    v1.write.parquet(p1)
    v2.write.parquet(p2)
    v3.write.parquet(p3)

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.LongType()),
            T.StructField("customer_id", T.StringType()),
            T.StructField("channel", T.StringType()),
            T.StructField("never_written", T.IntegerType()),
        ]
    )
    out = read_parquet_evolving(
        spark, [p1, p2, p3], target, renames={"cust": "customer_id"}
    )
    assert [f.name for f in out.schema.fields] == [
        "id", "amount", "customer_id", "channel", "never_written",
    ]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].customer_id == "a" and rows[1].amount == 10
    assert rows[1].channel is None and rows[1].never_written is None
    assert rows[2].amount == 20_000_000_000
    assert rows[3].channel == "web"


def test_materialize_model_partitioned(spark):
    events = read_parquet(spark, f"{SF_SMALL}/events.parquet")
    from enterprise_data_quality_platform_spark.catalog import _fix_events_ts

    events = _fix_events_ts(events)
    with tempfile.TemporaryDirectory() as d:
        out = materialize_model(spark, events, f"{d}/events_mat", date_col="ts")
        assert out.count() == events.count()
        assert "p_date" in out.columns
        # partition pruning reaches the file listing: one day only
        one_day = out.filter(F.col("p_date") == "2024-01-03")
        assert 0 < one_day.count() < out.count()


# --- orchestration --------------------------------------------------------


def test_pipeline_fan_in_order_and_parallel_stages():
    calls: list[str] = []

    def mk(name):
        def fn(ctx):
            calls.append(name)
            return name

        return fn

    p = (
        Pipeline()
        .add("a", mk("a"))
        .add("b", mk("b"))
        .add("c", mk("c"), upstream=("a", "b"))
        .add("d", mk("d"), upstream=("c",))
    )
    ctx = p.run()
    assert ctx["__status__"] == {
        "a": "success",
        "b": "success",
        "c": "success",
        "d": "success",
    }
    assert calls.index("c") > calls.index("a") and calls.index("c") > calls.index("b")
    assert calls.index("d") > calls.index("c")


def test_pipeline_failure_skips_downstream():
    def boom(ctx):
        raise RuntimeError("boom")

    p = (
        Pipeline()
        .add("ok", lambda ctx: 1)
        .add("bad", boom)
        .add("after_bad", lambda ctx: 2, upstream=("bad",))
        .add("after_ok", lambda ctx: 3, upstream=("ok",))
    )
    ctx = p.run(raise_on_failure=False)
    assert ctx["__status__"]["bad"] == "failed"
    assert ctx["__status__"]["after_bad"] == "skipped"
    assert ctx["__status__"]["after_ok"] == "success"
    with pytest.raises(StageFailure):
        p.run()


def test_pipeline_retries():
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return "recovered"

    ctx = Pipeline().add("flaky", flaky, retries=2).run()
    assert ctx["flaky"] == "recovered" and attempts["n"] == 3


def test_pipeline_exhausted_retries_skip_transitively():
    """The last attempt's error fails the stage; a downstream stage listed
    before its failed-or-skipped upstream is still skipped."""
    attempts = []

    def always(ctx):
        attempts.append(len(attempts))
        raise RuntimeError(f"attempt {len(attempts)}")

    p = (
        Pipeline()
        .add("last", lambda ctx: 1, upstream=("mid",))
        .add("mid", lambda ctx: 1, upstream=("bad",))
        .add("bad", always, retries=1)
    )
    with pytest.raises(StageFailure, match="attempt 2"):
        p.run()
    assert attempts == [0, 1]
    status = p.run(raise_on_failure=False)["__status__"]
    assert status == {"bad": "failed", "mid": "skipped", "last": "skipped"}


@pytest.mark.parametrize(
    "stages, ran",
    [
        ((("x", ("y",)), ("y", ("x",))), []),
        ((("a", ("a",)),), []),
        ((("ok", ()), ("x", ("y", "ok")), ("y", ("x",))), ["ok"]),
    ],
    ids=["two_stages", "self_dependency", "after_valid_stages"],
)
def test_pipeline_cycle_raises(stages, ran):
    """A dependency cycle raises instead of waiting forever; the acyclic
    prefix still runs."""
    log = []
    p = Pipeline()
    for name, upstream in stages:
        p.add(name, lambda ctx, name=name: log.append(name), upstream=upstream)
    with pytest.raises(ValueError, match="dependency cycle"):
        p.run()
    assert log == ran


# --- reference pipelines end-to-end ---------------------------------------


def test_validation_pipeline_failure_path(spark):
    """Injected whitelist failure → alerts written, gate raises, exactly
    like the reference's deliberate South-America exclusion."""
    with tempfile.TemporaryDirectory() as d:
        p = validation_pipeline(spark, SF_SMALL, f"{d}/alerts", inject_failure=True)
        with pytest.raises(StageFailure) as exc:
            p.run()
        assert isinstance(exc.value.cause, ValidationGateError)
        alerts = spark.read.parquet(f"{d}/alerts")
        assert alerts.filter(F.col("check_name") == "nation whitelist").count() == 2
        # re-run: gate still fails but no duplicate alerts (idempotent)
        p2 = validation_pipeline(spark, SF_SMALL, f"{d}/alerts", inject_failure=True)
        with pytest.raises(StageFailure):
            p2.run()
        assert spark.read.parquet(f"{d}/alerts").count() == 2


def test_validation_pipeline_success_path(spark):
    with tempfile.TemporaryDirectory() as d:
        p = validation_pipeline(spark, SF_SMALL, f"{d}/alerts", inject_failure=False)
        ctx = p.run()
        assert ctx["__status__"]["alert_and_gate"] == "success"
        assert ctx["alerts_written"] == 0


def test_etl_pipeline_fan_in(spark):
    ctx = etl_pipeline(spark, SF_SMALL).run()
    assert ctx["__status__"]["beta_validation"] == "success"
    assert ctx["enrichment"].count() > 0


def test_write_clustered_tightens_row_group_stats(spark, tmp_path):
    """Clustering must produce (near-)disjoint per-row-group min/max ranges
    on the cluster key — the property parquet predicate pushdown needs to
    skip row groups — and identical data."""
    import pyarrow.parquet as pq

    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.sources.writers import (
        write_clustered,
    )

    src = table(spark, SF_SMALL, "orders")
    clustered = str(tmp_path / "clustered")
    write_clustered(
        src, clustered, cluster_by=["o_custkey"], row_group_bytes=64 * 1024
    )

    def ranges(root):
        import glob as _g

        out = []
        for f in _g.glob(f"{root}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "o_custkey"
                )
                out.append((col.statistics.min, col.statistics.max))
        return sorted(out)

    rs = ranges(clustered)
    assert len(rs) >= 2  # bounded block size → multiple row groups
    # tight, ordered, (near-)disjoint ranges: each group's span is a small
    # slice of the key domain, and consecutive groups don't interleave
    overlaps = sum(1 for (a, b), (c, d) in zip(rs, rs[1:]) if c < b)
    assert overlaps <= len(rs) // 4  # range boundaries may share edge keys
    # same data back
    assert spark.read.parquet(clustered).count() == src.count()
    # and a point-lookup predicate still answers identically
    k = src.select("o_custkey").first()[0]
    a = sorted(r.o_orderkey for r in spark.read.parquet(clustered).filter(F.col("o_custkey") == k).collect())
    b = sorted(r.o_orderkey for r in src.filter(F.col("o_custkey") == k).collect())
    assert a == b
