"""operators/quantiles.py: the bucket-narrowing exact quantile must equal
Spark's built-in ``percentile`` (same lerp formula) on every distribution
shape that stresses the narrowing — point masses, skew, tiny n, and
interpolated (even-n) positions."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.operators.quantiles import (
    exact_group_quantiles,
    exact_quantile,
)


def _spark_percentile(spark, values, q):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    return df.agg(F.expr(f"percentile(v, {q!r})").alias("p")).first().p


@pytest.mark.parametrize(
    "name,values",
    [
        ("uniform", [random.Random(7).uniform(0, 1e6) for _ in range(5000)]),
        ("point_mass", [42.0] * 3000 + [7.0] * 10 + [99.0]),
        ("skewed", [2.0 ** random.Random(11).uniform(0, 30) for _ in range(2000)]),
        ("tiny_even", [4.0, 1.0, 3.0, 2.0]),
        ("tiny_odd", [10.0, 30.0, 20.0]),
        ("single", [5.5]),
        ("two_dup", [1.0, 1.0]),
    ],
)
@pytest.mark.parametrize("q", [0.0, 0.25, 0.5, 0.9, 0.99, 1.0])
def test_matches_builtin_percentile(spark, name, values, q):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = exact_quantile(df, "v", q, buckets=64)
    want = _spark_percentile(spark, values, q)
    assert got == want, f"{name} q={q}: {got} != {want}"


def test_nulls_ignored_and_empty_returns_none(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (None,)], "v double"
    )
    assert exact_quantile(df, "v", 0.5) == 2.0
    empty = df.filter(F.col("v") > 100)
    assert exact_quantile(empty, "v", 0.5) is None


def test_narrowing_recursion_on_heavy_bucket(spark, monkeypatch):
    """Force MAX_CANDIDATE_ROWS below the bucket load so the point-mass
    recursion path runs, and confirm the value is still exact."""
    import enterprise_data_quality_platform_spark.operators.quantiles as Q

    monkeypatch.setattr(Q, "MAX_CANDIDATE_ROWS", 10)
    values = [1.0] * 500 + [2.0] * 500 + [float(i) for i in range(3, 50)]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = Q.exact_quantile(df, "v", 0.5, buckets=8)
    assert got == _spark_percentile(spark, values, 0.5)


def test_loose_stats_bounds_accepted(spark):
    values = [float(i) for i in range(101)]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = exact_quantile(df, "v", 0.5, stats=(101, -1000.0, 1000.0))
    assert got == 50.0


def test_expression_column(spark):
    values = [float(i) for i in range(-50, 51)]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = exact_quantile(df, F.abs(F.col("v")), 0.5)
    assert got == _spark_percentile(spark, [abs(v) for v in values], 0.5)


def test_group_quantiles_match_builtin(spark):
    import random

    from enterprise_data_quality_platform_spark.operators.quantiles import (
        exact_group_quantiles,
    )

    rng = random.Random(3)
    rows = [
        (g, rng.uniform(0, 10**g) if rng.random() > 0.05 else None)
        for g in (1, 2, 3)
        for _ in range(800)
    ] + [(4, 7.0)]  # constant group
    df = spark.createDataFrame(rows, "g long, v double")
    got = {
        r["group"]: r
        for r in exact_group_quantiles(df, "g", "v", (0.5, 0.95, 0.99), buckets=64)
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, array(0.5, 0.95, 0.99))").alias("ps"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g, w in want.items():
        assert got[g]["n_rows"] == w["n"]
        for q, p in zip((0.5, 0.95, 0.99), w["ps"]):
            assert got[g][f"q{q}"] == p, (g, q)


def test_group_quantiles_string_groups_and_empty_values(spark):
    from enterprise_data_quality_platform_spark.operators.quantiles import (
        exact_group_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None)], "g string, v double"
    )
    got = {r["group"]: r for r in exact_group_quantiles(df, "g", "v", (0.5,))}
    assert got["a"]["q0.5"] == 2.0
    assert got["b"]["q0.5"] is None and got["b"]["n_rows"] == 1


def test_group_quantiles_null_and_date_keys(spark):
    """Group keys outside {str, int} (e.g. date) and NULL group keys must
    work: schema comes from the input column's type and the joins are
    null-safe (the old isinstance-guess crashed createDataFrame / lost the
    NULL group and raised KeyError)."""
    d1 = datetime.date(2024, 1, 1)
    d2 = datetime.date(2024, 1, 2)
    rows = [Row(g=d1, v=float(i)) for i in range(1, 101)]
    rows += [Row(g=d2, v=42.0)]  # degenerate single-value group
    rows += [Row(g=None, v=float(i)) for i in range(1, 11)]  # NULL key group
    df = spark.createDataFrame(rows)
    out = {r["group"]: r for r in exact_group_quantiles(df, "g", "v", [0.5, 0.9])}
    assert out[d1]["q0.5"] == 50.5 and out[d1]["q0.9"] == pytest.approx(90.1)
    assert out[d2]["q0.5"] == 42.0
    assert out[None]["q0.5"] == 5.5 and out[None]["n_values"] == 10
