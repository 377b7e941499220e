"""Unit tests for the check compiler/runner (SURVEY.md §5.2.2-5.2.3).

The 4-record fixture mirrors the reference's only golden test — the embedded
``main()`` in ``/root/reference/analysis.md:9``: 3 valid-region records + 1
whitelist violation + 1 negative value + 1 missing field.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from enterprise_data_quality_platform_spark.checks import (
    Check,
    gate,
    run_suite,
    suite_report_df,
)
from enterprise_data_quality_platform_spark.checks.runner import (
    ValidationGateError,
    summarize,
)

AUTHORIZED_REGIONS = ("North America", "Europe", "Asia Pacific")


@pytest.fixture(scope="module")
def sample(spark):
    # analysis.md:9 shape: region/timestamp/value records
    rows = [
        Row(region="North America", timestamp="2025-09-19T14:09:00Z", value=100.0),
        Row(region="Europe", timestamp="2025-09-19T14:10:00Z", value=200.0),
        Row(region="South America", timestamp="2025-09-19T14:11:00Z", value=50.0),
        Row(region="Asia Pacific", timestamp="2025-09-19T14:12:00Z", value=-10.0),
        Row(region="Europe", timestamp=None, value=None),
    ]
    return {"metrics": spark.createDataFrame(rows)}


def _suite():
    return [
        Check("non-empty", "row_count_between", "metrics", params={"min": 1}),
        Check(
            "region whitelist",
            "values_in_set",
            "metrics",
            column="region",
            params={"values": AUTHORIZED_REGIONS},
        ),
        Check(
            "value non-negative",
            "values_between",
            "metrics",
            column="value",
            params={"min": 0},
        ),
        Check("timestamp present", "not_null", "metrics", column="timestamp"),
    ]


def test_suite_results(sample):
    results = run_suite(sample, _suite())
    by_name = {r.check_name: r for r in results}
    assert by_name["non-empty"].status == "pass"
    wl = by_name["region whitelist"]
    assert wl.status == "fail" and wl.violations == 1
    assert "South America" in wl.observed["sample"]
    assert by_name["value non-negative"].violations == 1
    assert by_name["timestamp present"].violations == 1


def test_mostly_threshold(sample):
    results = run_suite(
        sample,
        [
            Check(
                "mostly ok",
                "values_in_set",
                "metrics",
                column="region",
                params={"values": AUTHORIZED_REGIONS},
                mostly=0.75,
            )
        ],
    )
    assert results[0].status == "pass"  # 4/5 = 0.8 >= 0.75


def test_per_check_isolation(sample):
    """One broken check (bad column) must not kill the suite
    (pager-workflow.py:158-233 semantics)."""
    checks = _suite() + [
        Check("broken", "not_null", "metrics", column="no_such_column")
    ]
    results = run_suite(sample, checks)
    by_name = {r.check_name: r for r in results}
    assert by_name["broken"].status == "error"
    assert by_name["non-empty"].status == "pass"  # others unaffected
    assert len(results) == len(checks)


def test_gate_raises(sample):
    results = run_suite(sample, _suite())
    with pytest.raises(ValidationGateError) as exc:
        gate(results)
    assert "region whitelist" in str(exc.value)
    summary = summarize(results)
    assert summary["overall_status"] == "fail"
    assert summary["passed"] == 1


def test_report_df(spark, sample):
    results = run_suite(sample, _suite())
    report = suite_report_df(spark, results)
    assert report.count() == 4
    assert set(report.columns) >= {"check_name", "status", "violations", "run_ts"}


def test_local_frame_is_a_local_relation_read_without_a_job(spark):
    from enterprise_data_quality_platform_spark.session import local_frame

    df = local_frame(spark, [("a", 1), ("b", None)], "k string, v bigint")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup()
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]
    assert tracker.getJobIdsForGroup() == before


@pytest.mark.parametrize(
    "row",
    [(None, 1.0), (1, 2)],
    ids=["none-in-non-nullable", "int-in-double"],
)
def test_local_frame_rejects_rows_that_break_the_schema(spark, row):
    from enterprise_data_quality_platform_spark.session import local_frame

    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [row], "k int not null, v double")


def test_local_frame_empty_rows_keep_the_schema(spark):
    from enterprise_data_quality_platform_spark.checks import REPORT_SCHEMA
    from enterprise_data_quality_platform_spark.session import local_frame

    df = local_frame(spark, [], REPORT_SCHEMA)
    assert df.schema == REPORT_SCHEMA
    assert df.collect() == []


def test_report_row_round_trips_exactly(spark):
    from datetime import datetime

    from enterprise_data_quality_platform_spark.checks import REPORT_SCHEMA
    from enterprise_data_quality_platform_spark.checks.definitions import (
        CheckResult,
    )

    result = CheckResult(
        check_name="region whitelist",
        table="metrics",
        column="region",
        status="fail",
        violations=1,
        total=5,
        observed={"distinct_count": "4", "unexpected": None},
        error_message="1 violating record(s)",
        run_ts=datetime(2025, 9, 19, 14, 9, 0, 123456),
    )
    report = suite_report_df(spark, [result])
    assert report.schema == REPORT_SCHEMA
    assert [tuple(r) for r in report.collect()] == [
        (
            "region whitelist",
            "metrics",
            "region",
            "fail",
            1,
            5,
            {"distinct_count": "4", "unexpected": None},
            "1 violating record(s)",
            datetime(2025, 9, 19, 14, 9, 0, 123456),
        )
    ]


def test_metric_checks(spark, sample):
    results = run_suite(
        sample,
        [
            Check(
                "mean in range",
                "mean_between",
                "metrics",
                column="value",
                params={"min": 0, "max": 200},
            ),
            Check(
                "quantile median",
                "quantile_between",
                "metrics",
                column="value",
                params={"quantile": 0.5, "min": 0},
            ),
            Check("value unique", "unique", "metrics", column="value"),
        ],
    )
    by_name = {r.check_name: r for r in results}
    assert by_name["mean in range"].status == "pass"
    assert by_name["quantile median"].status == "pass"
    assert by_name["value unique"].status == "pass"


def test_schema_checks(spark, sample):
    results = run_suite(
        sample,
        [
            Check("has region", "column_exists", "metrics", column="region"),
            Check("no ghost col", "column_exists", "metrics", column="ghost"),
            Check(
                "value is double",
                "column_of_type",
                "metrics",
                column="value",
                params={"type": "double"},
            ),
        ],
    )
    assert [r.status for r in results] == ["pass", "fail", "pass"]


def test_correlation_approx_agrees_with_exact(spark):
    """dq_correlation_approx (double moments, the unbounded-n fallback)
    must agree with the exact split-sum path to 1e-9 relative on r and
    slope."""
    from conftest import SF_SMALL

    from enterprise_data_quality_platform_spark.queries.dq import (
        dq_correlation,
        dq_correlation_approx,
    )

    exact = dq_correlation(spark, SF_SMALL).collect()[0]
    approx = dq_correlation_approx(spark, SF_SMALL).collect()[0]
    assert approx.n == exact.n
    assert abs(approx.pearson_r - exact.pearson_r) <= 1e-9 * abs(exact.pearson_r)
    assert abs(approx.slope - exact.slope) <= 1e-9 * abs(exact.slope)


# -------------------------------------------- round-6 GE gallery stragglers


def test_dateutil_parseable_check(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-02",),
            ("2024-01-02 08:30:00",),
            ("2024-01-02T08:30:00.123",),
            ("not-a-date",),
            ("2024-13-99",),  # invalid month/day
            (None,),  # NULLs are skipped (not_null targets them)
        ],
        "s string",
    )
    results = run_suite(
        {"t": df},
        [Check("parse", "dateutil_parseable", "t", column="s")],
    )
    r = results[0]
    assert r.status == "fail" and r.violations == 2


def test_like_pattern_checks(spark):
    df = spark.createDataFrame(
        [("Customer#001",), ("Customer#002",), ("cust-003",), (None,)],
        "name string",
    )
    results = run_suite(
        {"t": df},
        [
            Check(
                "like", "match_like_pattern", "t", column="name",
                params={"pattern": "Customer#%"},
            ),
            Check(
                "not like", "not_match_like_pattern", "t", column="name",
                params={"pattern": "cust-%"},
            ),
            Check(
                "like any", "match_like_pattern_list", "t", column="name",
                params={"patterns": ["Customer#%", "%3"], "match_on": "any"},
            ),
            Check(
                "like all", "match_like_pattern_list", "t", column="name",
                params={"patterns": ["Customer#%", "%2"], "match_on": "all"},
            ),
        ],
    )
    by = {r.check_name: r for r in results}
    assert by["like"].violations == 1  # cust-003
    assert by["not like"].violations == 1  # cust-003 matches the banned shape
    assert by["like any"].violations == 0  # cust-003 ends with 3
    assert by["like all"].violations == 2  # only Customer#002 matches both


def test_pair_in_set_check(spark):
    df = spark.createDataFrame(
        [("A", "F"), ("N", "O"), ("A", "O"), ("R", "O"), (None, "F")],
        "flag string, status string",
    )
    results = run_suite(
        {"t": df},
        [
            Check(
                "combo", "pair_in_set", "t",
                columns=("flag", "status"),
                params={"value_pairs": [["A", "F"], ["N", "O"], ["R", "F"]]},
            )
        ],
    )
    r = results[0]
    # (A,O) and (R,O) violate; the NULL-keyed row is skipped
    assert r.status == "fail" and r.violations == 2


def test_new_check_types_ge_round_trip():
    from enterprise_data_quality_platform_spark.checks.suite_io import (
        check_from_dict,
        check_to_dict,
    )

    checks = [
        Check("p", "dateutil_parseable", "t", column="s"),
        Check(
            "l", "match_like_pattern", "t", column="s",
            params={"pattern": "X%"},
        ),
        Check(
            "ll", "match_like_pattern_list", "t", column="s",
            params={"patterns": ["X%", "%Y"], "match_on": "all"},
        ),
        Check(
            "pp", "pair_in_set", "t", columns=("a", "b"),
            params={"value_pairs": [["x", "y"]]},
        ),
    ]
    expected_types = [
        "expect_column_values_to_be_dateutil_parseable",
        "expect_column_values_to_match_like_pattern",
        "expect_column_values_to_match_like_pattern_list",
        "expect_column_pair_values_to_be_in_set",
    ]
    for check, etype in zip(checks, expected_types):
        d = check_to_dict(check)
        assert d["expectation_type"] == etype, d
        if check.check_type == "pair_in_set":
            assert d["kwargs"]["column_A"] == "a" and d["kwargs"]["column_B"] == "b"
            assert d["kwargs"]["value_pairs_set"] == [["x", "y"]]
        back = check_from_dict(d)
        assert back.check_type == check.check_type
        assert back.column == check.column
        assert back.columns == check.columns
        for k, v in check.params.items():
            got = back.params[k]
            if isinstance(v, list) and v and isinstance(v[0], list):
                assert [list(x) for x in got] == [list(x) for x in v]
            else:
                assert got == v


# ------------------------------------------------- round-7 ADVICE hardening


def test_like_pattern_list_empty_patterns_is_clear_error(spark):
    """ADVICE r6: an empty patterns list must fail with a clear
    ValueError, not an opaque IndexError. The runner's per-check
    isolation surfaces it as an error result carrying the message."""
    df = spark.createDataFrame([("x",)], "s string")
    results = run_suite(
        {"t": df},
        [
            Check(
                "ll", "match_like_pattern_list", "t", column="s",
                params={"patterns": [], "match_on": "any"},
            )
        ],
    )
    r = results[0]
    assert r.status == "error"
    assert "at least one pattern" in (r.error_message or "")
    assert "IndexError" not in (r.error_message or "")


def test_pair_in_set_ignore_row_if_modes(spark):
    """ADVICE r6: GE's default ignore_row_if='both_values_are_missing'
    EVALUATES one-NULL rows (they violate — a half-NULL pair is never in
    the set); the repo default 'either_value_is_missing' skips them."""
    df = spark.createDataFrame(
        [("A", "F"), ("A", "O"), (None, "F"), ("A", None), (None, None)],
        "flag string, status string",
    )
    pairs = {"value_pairs": [["A", "F"]]}

    def violations(extra):
        results = run_suite(
            {"t": df},
            [
                Check(
                    "combo", "pair_in_set", "t",
                    columns=("flag", "status"),
                    params={**pairs, **extra},
                )
            ],
        )
        return results[0].violations

    # default: skip any row with a NULL → only (A,O) violates
    assert violations({}) == 1
    assert violations({"ignore_row_if": "either_value_is_missing"}) == 1
    # GE default: the two one-NULL rows violate too; both-NULL skipped
    assert violations({"ignore_row_if": "both_values_are_missing"}) == 3
    # neither: every row evaluated — both-NULL also violates
    assert violations({"ignore_row_if": "neither"}) == 4

    # unknown mode → clear error result via the runner's isolation
    results = run_suite(
        {"t": df},
        [
            Check(
                "combo", "pair_in_set", "t",
                columns=("flag", "status"),
                params={**pairs, "ignore_row_if": "bogus"},
            )
        ],
    )
    assert results[0].status == "error"
    assert "ignore_row_if" in (results[0].error_message or "")


def test_dateutil_parseable_non_iso_formats(spark):
    """ADVICE r6: common non-ISO dateutil formats (US slash dates, month
    names, bare year) now parse; genuinely non-date strings still fail."""
    df = spark.createDataFrame(
        [
            ("03/15/2024",),
            ("3/5/2024",),
            ("Mar 5 2024",),
            ("March 5, 2024",),
            ("5-Mar-2024",),
            ("2024",),
            ("not-a-date",),
            ("99/99/9999",),
        ],
        "s string",
    )
    results = run_suite(
        {"t": df},
        [Check("parse", "dateutil_parseable", "t", column="s")],
    )
    r = results[0]
    assert r.status == "fail" and r.violations == 2


def test_correlation_split_sums_match_numpy(spark, tmp_path):
    """Property pin for the r7 split-sum rewrite: on randomized money/qty
    frames the split-sum Pearson r and slope match numpy's float64
    computation to 1e-9 relative — the exactness of the BIGINT moment
    sums is what makes the closed form engine-portable."""
    import numpy as np

    from enterprise_data_quality_platform_spark.queries.dq import dq_correlation

    rng = np.random.default_rng(11)
    n = 5000
    qty = np.round(rng.uniform(1, 50, n), 2)
    price = np.round(qty * 1000 + rng.normal(0, 5000, n) + 10000, 2)
    price = np.maximum(price, 1.0)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(qty, price)],
        "l_quantity double, l_extendedprice double",
    )
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = dq_correlation(spark, str(tmp_path)).collect()[0]

    x = np.floor(qty * 10000 + 0.5)
    y = np.floor(price * 10000 + 0.5)
    r_np = np.corrcoef(x, y)[0, 1]
    slope_np = ((n * (x * y).sum() - x.sum() * y.sum())
                / (n * (x * x).sum() - x.sum() ** 2))
    assert got.n == n
    assert abs(got.pearson_r - r_np) <= 1e-9 * abs(r_np)
    assert abs(got.slope - slope_np) <= 1e-9 * abs(slope_np)


def test_pair_in_set_ignore_row_if_ge_round_trip():
    """The ignore_row_if kwarg survives the GE JSON round-trip untouched
    (suite_io passes unknown kwargs through), so a ported suite keeps its
    NULL semantics."""
    from enterprise_data_quality_platform_spark.checks.suite_io import (
        check_from_dict,
        check_to_dict,
    )

    check = Check(
        "combo", "pair_in_set", "t", columns=("a", "b"),
        params={
            "value_pairs": [["x", "y"]],
            "ignore_row_if": "both_values_are_missing",
        },
    )
    d = check_to_dict(check)
    assert d["kwargs"]["ignore_row_if"] == "both_values_are_missing"
    back = check_from_dict(d)
    assert back.params["ignore_row_if"] == "both_values_are_missing"


def test_unique_packed_counter_matches_plain_plan(spark):
    """The presence-bitmap unique path (single integral key: groupBy
    key>>6, bit_or of the key's bit) returns the exact plain-plan counts —
    duplicates, NULL keys (skipped from violations, kept in total),
    negative keys (two's-complement word/bit mapping) all included."""
    import pyspark.sql.functions as F

    from enterprise_data_quality_platform_spark.checks.compiler import (
        compile_agg_check,
    )

    rows = [(1,), (1,), (2,), (None,), (None,), (-9,), (-9,), (-16,), (3,)]
    df = spark.createDataFrame(rows, "k long")
    check = Check("u", "unique", "t", column="k")
    compiled = compile_agg_check(check, prefix="c0")
    row = compiled.frame_builder(df).collect()[0].asDict()
    # the plain plan, computed independently: count - distinct over the
    # non-null keys, total over every row
    per_key = df.groupBy("k").count().collect()
    nn = [r for r in per_key if r.k is not None]
    plain_violations = sum(r["count"] for r in nn) - len(nn)
    assert row == {"c0__violations": plain_violations, "c0__total": 9}
    assert plain_violations == 2
    assert compiled.evaluate(row, "c0").violations == 2
    # run_suite end-to-end on a >127 hot key: exact, never an error
    hot = spark.range(0, 200).select(F.lit(5).cast("long").alias("k")).union(
        spark.createDataFrame([(6,), (7,)], "k long")
    )
    res = run_suite({"t": hot}, [Check("hot", "unique", "t", column="k")])[0]
    assert res.status == "fail" and res.violations == 199
    # non-integral keys take the plain per-key groupBy plan
    sdf = spark.createDataFrame([("a",), ("a",), ("b",)], "s string")
    srow = (
        compile_agg_check(Check("s", "unique", "t", column="s"), prefix="c1")
        .frame_builder(sdf)
        .collect()[0]
        .asDict()
    )
    assert srow == {"c1__violations": 1, "c1__total": 3}
