"""Unit tests for the check compiler/runner (SURVEY.md §5.2.2-5.2.3).

The 4-record fixture mirrors the reference's only golden test — the embedded
``main()`` in ``/root/reference/analysis.md:9``: 3 valid-region records + 1
whitelist violation + 1 negative value + 1 missing field.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.checks import (
    Check,
    gate,
    run_suite,
    suite_report_df,
)
from enterprise_data_quality_platform_spark.checks.compiler import (
    compile_agg_check,
    strftime_to_spark,
)
from enterprise_data_quality_platform_spark.checks.runner import (
    ValidationGateError,
    summarize,
)
from enterprise_data_quality_platform_spark.sources.writers import write_violations

from conftest import solo_results

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


# ------------------ GE gallery checks: dateutil dates, LIKE patterns, pair sets


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


# ------------- their edge cases: bad parameters, NULL pairs, non-ISO dates


def test_like_pattern_list_empty_patterns_is_clear_error(spark):
    """An empty patterns list must fail with a clear ValueError, not an
    opaque IndexError. The runner's per-check isolation surfaces it as an
    error result carrying the message."""
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
    """GE's default ignore_row_if='both_values_are_missing' EVALUATES
    one-NULL rows (they violate — a half-NULL pair is never in
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
    """The check accepts what dateutil parses: common non-ISO formats (US
    slash dates, month names, bare year) pass; non-date strings fail."""
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
    """On randomized money/qty frames the split-sum Pearson r and slope
    match numpy's float64 computation to 1e-9 relative — the exactness of
    the BIGINT moment sums is what makes the closed form engine-portable."""
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


# ---------------------------------------------------------------------------
# Suite planning (checks.runner.plan_suite): one groupBy factor per table
# with a categorical check, footer-decided checks, pooled samples. Every
# fused answer must equal ``solo_results``, which runs one job per check
# and never reads footers.
# ---------------------------------------------------------------------------


def _outcome(results):
    return [
        (r.check_name, r.status, r.violations, r.total, r.observed, r.error_message)
        for r in results
    ]


def test_categorical_table_is_one_grouped_factor(spark):
    """A table's categorical checks (scoped, multi-column), its additive
    checks and their samples come from ONE groupBy factor; metric checks
    stay in the expression factor. Counts equal the inline (non-categorical)
    plan; past SAMPLE_CAP violating values the sample is the smallest 20."""
    from enterprise_data_quality_platform_spark.checks.compiler import SAMPLE_CAP
    from enterprise_data_quality_platform_spark.checks.runner import plan_suite

    rows = (
        [("ok", "gold", 2, 1, 1.0)] * 6
        + [(f"bad{i:02d}", "gold" if i % 2 else "bronze", 1, 2, None) for i in range(25)]
        + [(None, "bronze", -1, None, 3.0)] * 2
    )
    df = spark.createDataFrame(rows, "k string, seg string, a int, b int, v double")

    def suite(categorical: bool):
        cat = {"categorical": True} if categorical else {}
        return [
            Check("k domain", "values_in_set", "t", column="k",
                  params={"values": ["ok"], **cat}),
            Check("gold k shape", "match_regex", "t", column="k",
                  params={"regex": "^ok$", "row_condition": "seg = 'gold'", **cat}),
            Check("a over b", "pair_greater_than", "t", columns=("a", "b"), params=cat),
            Check("v present", "not_null", "t", column="v"),
            Check("rows", "row_count_between", "t", params={"min": 1}),
            Check("bronze a", "expression", "t",
                  params={"condition": "a >= 0", "row_condition": "seg = 'bronze'"}),
            Check("mean a", "mean_between", "t", column="a", params={"min": 0}),
        ]

    plan = plan_suite({"t": df}, suite(True))
    assert [(f.name, len(f.members)) for f in plan.factors] == [
        ("t.grouped", 6),
        ("t.agg", 1),
    ]
    fused = run_suite({"t": df}, suite(True))
    assert _outcome(fused) == _outcome(solo_results({"t": df}, suite(True)))
    inline = run_suite({"t": df}, suite(False))
    strip = lambda rs: [(r.check_name, r.status, r.violations, r.total) for r in rs]  # noqa: E731
    assert strip(fused) == strip(inline)
    by_name = {r.check_name: r for r in fused}
    assert by_name["k domain"].violations == 25
    assert by_name["k domain"].observed["sample"] == str(
        [f"bad{i:02d}" for i in range(SAMPLE_CAP)]
    )
    assert by_name["gold k shape"].observed["sample"] == str(
        [f"bad{i:02d}" for i in range(1, 25, 2)]
    )


def test_grouped_factor_failure_retries_each_check_alone(spark):
    """An ANSI cast that throws at runtime kills the shared groupBy factor;
    each of its checks is rerun alone, so only the poisoned check errors."""
    from enterprise_data_quality_platform_spark.checks.runner import plan_suite

    df = spark.createDataFrame(
        [("O", "1"), ("O", "2"), ("X", "not-a-number")], "status string, s string"
    )
    checks = [
        Check("status domain", "values_in_set", "t", column="status",
              params={"values": ["O"], "categorical": True}),
        Check("poison", "expression", "t", params={"condition": "cast(s as int) > 0"}),
        Check("s present", "not_null", "t", column="s"),
    ]
    [factor] = plan_suite({"t": df}, checks).factors
    assert len(factor.members) == 3
    by_name = {r.check_name: r for r in run_suite({"t": df}, checks)}
    assert by_name["poison"].status == "error"
    assert by_name["s present"].status == "pass"
    status = by_name["status domain"]
    assert (status.status, status.violations, status.total) == ("fail", 1, 3)
    assert status.observed["sample"] == "['X']"


_FOOTER_CHECKS = [
    Check("rows", "row_count_between", "t", params={"min": 1, "max": 10}),
    Check("k present", "not_null", "t", column="k"),
    Check("k range", "values_between", "t", column="k", params={"min": 0, "max": 10}),
    Check("x range", "values_between", "t", column="x", params={"min": 0.0, "max": 1.0}),
]


def _footer_case(spark, tmp_path, case):
    """(tables, indexes the footers must decide) for one input layout."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from enterprise_data_quality_platform_spark import catalog

    sf = str(tmp_path)
    path = catalog.table_path(sf, "t")
    k = [1, 2, 3, 4]
    x = [0.5, 0.25, 0.75, 1.0]
    kw = {}
    decided = {0, 1, 2}
    if case == "nan":
        x = [0.5, float("nan"), 0.75, 1.0]
    if case == "all_null_chunk":
        k, kw, decided = [None, None, 3, 4], {"row_group_size": 2}, {0, 2}
    if case == "no_statistics":
        kw, decided = {"write_statistics": False}, {0}
    if case == "hive":
        pq.write_to_dataset(
            pa.table({"k": k, "x": x, "p": [0, 0, 1, 1]}), path, partition_cols=["p"]
        )
        return {"t": catalog.table(spark, sf, "t")}, set()
    pq.write_table(
        pa.table({"k": pa.array(k, pa.int64()), "x": x}),
        path, compression="none", use_dictionary=False, **kw,
    )
    df = catalog.table(spark, sf, "t")
    if case == "filtered":
        return {"t": df.filter("k > 1")}, set()
    if case == "projected":
        return {"t": df.select("k", "x")}, set()
    if case == "rewritten":
        time.sleep(0.01)  # a new modification time, same size
        pq.write_table(
            pa.table({"k": pa.array([-1, 2, 30, 4], pa.int64()), "x": x}),
            path, compression="none", use_dictionary=False,
        )
        return {"t": df}, set()
    return {"t": df}, decided


@pytest.mark.parametrize(
    "case",
    ["clean", "no_statistics", "filtered", "projected", "hive", "nan",
     "all_null_chunk", "rewritten"],
)
def test_footer_decided_checks_equal_the_scan(spark, tmp_path, case):
    """Footers decide a check only when they prove the scan's answer; every
    other input falls back to the scan, so results never change."""
    from enterprise_data_quality_platform_spark.checks.runner import plan_suite

    tables, decided = _footer_case(spark, tmp_path, case)
    assert set(plan_suite(tables, _FOOTER_CHECKS).decided) == decided
    fused = run_suite(tables, _FOOTER_CHECKS)
    assert _outcome(fused) == _outcome(solo_results(tables, _FOOTER_CHECKS))
    by_name = {r.check_name: r for r in fused}
    if case == "nan":
        assert by_name["x range"].status == "fail"  # NaN sorts above 1.0
    if case == "all_null_chunk":
        assert by_name["k present"].violations == 2
    if case == "rewritten":
        assert by_name["k range"].violations == 2


def test_plan_suite_builds_no_frame(spark, tmp_path, monkeypatch):
    """``plan_suite`` only compiles, decides and groups: with
    ``DataFrame.agg``/``groupBy``/``join`` raising it still plans an agg
    factor, a grouped factor and an own-shape factor and decides only the
    schema and footer checks. The frames are built when the suite runs, and
    the run equals ``solo_results``."""
    from enterprise_data_quality_platform_spark.checks.runner import plan_suite

    tables, footer_decided = _footer_case(spark, tmp_path, "clean")
    tables["u"] = spark.createDataFrame([(i,) for i in range(1, 4)], "pk long")
    checks = _FOOTER_CHECKS + [
        Check("k in set", "values_in_set", "t", column="k",
              params={"values": [1, 2, 3], "categorical": True}),
        Check("x mean", "mean_between", "t", column="x", params={"min": 0.0}),
        Check("k in u", "referential_integrity", "t", column="k",
              params={"parent_table": "u", "parent_column": "pk"}),
        Check("x exists", "column_exists", "t", column="x"),
    ]

    def no_frames(*args, **kwargs):
        raise AssertionError("plan_suite built a frame")

    with monkeypatch.context() as m:
        for name in ("agg", "groupBy", "join"):
            m.setattr(type(tables["t"]), name, no_frames)
        plan = plan_suite(tables, checks)
    assert set(plan.decided) == footer_decided | {7}
    assert sorted(f.name for f in plan.factors) == ["t.agg", "t.c6", "t.grouped"]
    fused = run_suite(tables, checks)
    assert _outcome(fused) == _outcome(solo_results(tables, checks))
    assert {r.check_name: r.status for r in fused}["k in u"] == "fail"


def test_compile_builds_only_its_own_metric(spark, monkeypatch):
    """A check compiles only the aggregate its type asks for: with
    ``F.stddev`` raising, freshness and min_between still compile."""

    def no_stddev(*args, **kwargs):
        raise AssertionError("F.stddev built")

    monkeypatch.setattr(F, "stddev", no_stddev)
    fresh = Check("fresh", "freshness", "t", column="ts",
                  params={"max_lag_seconds": 60})
    low = Check("low", "min_between", "t", column="v", params={"min": 0})
    assert set(compile_agg_check(fresh, "c0").exprs) == {"c0__max_ts", "c0__total"}
    assert set(compile_agg_check(low, "c1").exprs) == {"c1__min", "c1__total"}


# ---------------------------------------------------------------------------
# One lowering for every check type: schema checks are decided at plan time,
# every data check is a factor of the runner's pool, and the compiler itself
# never runs a Spark action.
# ---------------------------------------------------------------------------


def _every_type_suite():
    """A pass and a fail case for each schema type and each check type with
    its own plan shape, plus one fused check, over ``t`` (6 rows), ``u``
    (keys 1..6) and ``p`` (keys 1..5)."""
    kl = {"a": 0.5, "b": 0.5}
    skewed = {"a": 0.9, "b": 0.1}
    cases = [
        ("column_exists", {"column": "k"}, {"column": "ghost"}),
        ("columns_match_list",
         {"params": {"column_list": ["k", "v", "cat", "seq"]}},
         {"params": {"column_list": ["seq", "cat", "v", "k"]}}),
        ("column_of_type", {"column": "v", "params": {"type": "double"}},
         {"column": "v", "params": {"type": "string"}}),
        ("column_count_between", {"params": {"min": 1, "max": 10}},
         {"params": {"max": 2}}),
        ("referential_integrity",
         {"column": "k", "params": {"parent_table": "u", "parent_column": "pk"}},
         {"column": "k", "params": {"parent_table": "p", "parent_column": "pk"}}),
        ("kl_divergence_less_than",
         {"column": "cat", "params": {"expected_distribution": kl, "threshold": 0.1}},
         {"column": "cat",
          "params": {"expected_distribution": skewed, "threshold": 0.1}}),
        ("chi_square_test",
         {"column": "cat",
          "params": {"expected_distribution": kl, "critical_value": 3.84}},
         {"column": "cat",
          "params": {"expected_distribution": skewed, "critical_value": 3.84}}),
        ("row_count_equal_other_table", {"params": {"other_table": "u"}},
         {"params": {"other_table": "p"}}),
        ("z_score_less_than", {"column": "v", "params": {"threshold": 3.0}},
         {"column": "v", "params": {"threshold": 1.0}}),
        ("monotonic", {"column": "v", "params": {"order_by": "seq"}},
         {"column": "v", "params": {"order_by": "seq", "decreasing": True}}),
    ]
    checks = [Check("k present", "not_null", "t", column="k")]
    for check_type, good, bad in cases:
        checks.append(Check(f"{check_type} pass", check_type, "t", **good))
        checks.append(Check(f"{check_type} fail", check_type, "t", **bad))
    return checks


def _every_type_tables(spark):
    rows = [(i, float(i), "a" if i <= 3 else "b", i) for i in range(1, 7)]
    return {
        "t": spark.createDataFrame(rows, "k int, v double, cat string, seq int"),
        "u": spark.createDataFrame([(i,) for i in range(1, 7)], "pk int"),
        "p": spark.createDataFrame([(i,) for i in range(1, 6)], "pk int"),
    }


def test_every_check_type_plans_without_a_job(spark):
    """``plan_suite`` answers the schema checks and gives every check with
    its own plan shape its own factor, running no job; the pooled results
    equal ``solo_results`` and each case passes or fails as built."""
    from enterprise_data_quality_platform_spark.checks.definitions import (
        SCHEMA_CHECK_TYPES,
    )
    from enterprise_data_quality_platform_spark.checks.runner import plan_suite

    tables, checks = _every_type_tables(spark), _every_type_suite()
    sc = spark.sparkContext
    sc.setJobGroup("every-type-plan", "every-type-plan")
    try:
        plan = plan_suite(tables, checks)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("every-type-plan") == []

    schema = {i for i, c in enumerate(checks) if c.check_type in SCHEMA_CHECK_TYPES}
    assert set(plan.decided) == schema
    solo = {
        f.members[0].index: f.name for f in plan.factors if len(f.members) == 1
    }
    own_shape = set(range(len(checks))) - schema - {0}
    assert {i: solo.get(i) for i in own_shape} == {i: f"t.c{i}" for i in own_shape}
    assert len(plan.factors) == len(own_shape) + 1  # + the fused not_null

    results = run_suite(tables, checks)
    assert _outcome(results) == _outcome(solo_results(tables, checks))
    for r in results:
        want = "fail" if r.check_name.endswith(" fail") else "pass"
        assert r.status == want, (r.check_name, r.status, r.error_message)


def test_missing_other_table_errors_alone(spark):
    """An RI check whose parent table is not loaded and a row-count
    comparison whose other table is not loaded each return ``error``;
    their neighbours still pass."""
    tables = _every_type_tables(spark)
    checks = [
        Check("ri ok", "referential_integrity", "t", column="k",
              params={"parent_table": "u", "parent_column": "pk"}),
        Check("ri ghost", "referential_integrity", "t", column="k",
              params={"parent_table": "ghost", "parent_column": "pk"}),
        Check("rows ghost", "row_count_equal_other_table", "t",
              params={"other_table": "ghost"}),
        Check("rows ok", "row_count_equal_other_table", "t",
              params={"other_table": "u"}),
    ]
    for results in (run_suite(tables, checks), solo_results(tables, checks)):
        got = {r.check_name: r for r in results}
        assert [got[c.name].status for c in checks] == ["pass", "error", "error", "pass"]
        assert "ghost" in got["ri ghost"].error_message
        assert "ghost" in got["rows ghost"].error_message


#: Spark actions a lowering must never call: every answer comes from a
#: frame the runner's pool executes.
_ACTIONS = {"collect", "take", "first", "head", "toPandas", "toLocalIterator"}


def _spark_actions(source: str) -> list[str]:
    """``.collect(`` / ``.take(`` / ``.first(`` / ... calls and zero-argument
    ``.count()`` calls in ``source``; ``F.first(...)`` / ``F.count(...)``
    are aggregate expressions, not actions."""
    import ast

    found = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        receiver = node.func.value
        if isinstance(receiver, ast.Name) and receiver.id == "F":
            continue
        name = node.func.attr
        if name in _ACTIONS or (name == "count" and not node.args):
            found.append(f"line {node.lineno}: .{name}(")
    return found


def test_compiler_runs_no_spark_action():
    from pathlib import Path

    from enterprise_data_quality_platform_spark.checks import compiler

    assert _spark_actions(Path(compiler.__file__).read_text()) == []
    assert _spark_actions("row = df.agg(x).collect()[0]") == ["line 1: .collect("]
    assert _spark_actions("n = df.count()\nF.first('a')") == ["line 1: .count("]


def _unique_violations(spark, values):
    df = spark.createDataFrame([Row(a=v) for v in values], "a int")
    [r] = run_suite({"t": df}, [Check("u", "unique", "t", column="a")])
    return r


def test_unique_dup_plus_null(spark):
    # [1, 1, NULL]: the duplicate must count; the NULL row is skipped
    r = _unique_violations(spark, [1, 1, None])
    assert r.status == "fail" and r.violations == 1


def test_unique_all_distinct_plus_null(spark):
    # [1, 2, 3, NULL]: no duplicates — violations must be 0, never -1
    r = _unique_violations(spark, [1, 2, 3, None])
    assert r.status == "pass" and r.violations == 0


def test_compound_unique_null_fields(spark):
    rows = [
        Row(a=1, b="x"),
        Row(a=1, b="x"),  # real duplicate
        Row(a=2, b=None),
        Row(a=2, b=None),  # NULL-keyed rows are skipped, not duplicates
        Row(a=3, b="y"),
    ]
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df}, [Check("cu", "compound_unique", "t", columns=("a", "b"))]
    )
    assert r.violations == 1


def test_strftime_translation():
    assert strftime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    assert strftime_to_spark("yyyy-MM-dd") == "yyyy-MM-dd"  # passthrough
    with pytest.raises(ValueError):
        strftime_to_spark("%Q")


def test_match_strftime_with_ge_format(spark):
    df = spark.createDataFrame(
        [Row(d="2025-01-01"), Row(d="2025-02-30"), Row(d="not a date")]
    )
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "dates",
                "match_strftime",
                "t",
                column="d",
                params={"format": "%Y-%m-%d"},
            )
        ],
    )
    # 2025-02-30 is invalid, "not a date" unparseable → 2 violations
    assert r.violations == 2 and r.total == 3


def test_kl_divergence_high_cardinality(spark):
    df = spark.range(5000).select(F.col("id").alias("k"))
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "kl",
                "kl_divergence_less_than",
                "t",
                column="k",
                params={
                    "expected_distribution": {"0": 0.5, "1": 0.5},
                    "threshold": 0.1,
                },
            )
        ],
    )
    # the point: it executes in-plan (no driver histogram) and reports
    # a finite KL over the expected support, even at high cardinality
    assert r.error_message is None
    assert r.total == 5000


def test_kl_divergence_skew_fails(spark):
    rows = [Row(t="a")] * 99 + [Row(t="b")]
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "kl",
                "kl_divergence_less_than",
                "t",
                column="t",
                params={
                    "expected_distribution": {"a": 0.5, "b": 0.5},
                    "threshold": 0.1,
                },
            )
        ],
    )
    assert r.status == "fail"
    assert float(r.observed["kl_divergence"]) > 0.5


def test_kl_divergence_uniform_pass(spark):
    rows = [Row(t=x) for x in ("a", "b", "c", "d", "e") * 20]
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "kl",
                "kl_divergence_less_than",
                "t",
                column="t",
                params={
                    "expected_distribution": {k: 0.2 for k in "abcde"},
                    "threshold": 0.01,
                },
            )
        ],
    )
    assert r.status == "pass"
    assert float(r.observed["kl_divergence"]) == pytest.approx(0.0, abs=1e-9)


def test_pair_equal_check(spark):
    df = spark.createDataFrame([Row(a=1, b=1), Row(a=2, b=3), Row(a=None, b=1)])
    [r] = run_suite({"t": df}, [Check("eq", "pair_equal", "t", columns=("a", "b"))])
    assert r.violations == 1 and r.total == 3  # NULL rows skipped


def test_multicolumn_sum_equal_check(spark):
    df = spark.createDataFrame([Row(a=1, b=9), Row(a=5, b=5), Row(a=4, b=7)])
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "sums to 10",
                "multicolumn_sum_equal",
                "t",
                columns=("a", "b"),
                params={"sum_total": 10},
            )
        ],
    )
    assert r.violations == 1


def test_distinct_equal_set_check(spark):
    df = spark.createDataFrame([Row(s=x) for x in ("a", "b", "b", "z")])
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "exact domain",
                "distinct_equal_set",
                "t",
                column="s",
                params={"values": ("a", "b", "c")},
            )
        ],
    )
    # 'c' missing + 'z' extra = 2 violations
    assert r.status == "fail" and r.violations == 2


def test_distinct_contain_set_pass(spark):
    df = spark.createDataFrame([Row(s=x) for x in ("a", "b", "c", "z")])
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "coverage",
                "distinct_contain_set",
                "t",
                column="s",
                params={"values": ("a", "b", "c")},
            )
        ],
    )
    assert r.status == "pass" and r.violations == 0  # extras allowed


def test_z_score_check(spark):
    vals = [10.0] * 50 + [11.0] * 49 + [1000.0]
    df = spark.createDataFrame([Row(v=v) for v in vals])
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "no outliers",
                "z_score_less_than",
                "t",
                column="v",
                params={"threshold": 3.0},
            )
        ],
    )
    assert r.status == "fail" and r.violations == 1 and r.total == 100


def test_monotonic_decreasing_check(spark):
    df = spark.createDataFrame(
        [Row(k=1, seq=i, v=x) for i, x in enumerate([9, 7, 7, 8, 3])]
    )
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "desc",
                "monotonic",
                "t",
                column="v",
                params={"order_by": "seq", "partition_by": "k", "decreasing": True},
            )
        ],
    )
    assert r.violations == 1  # 7 -> 8 breaks non-strict decreasing


def test_monotonic_strictly_increasing(spark):
    df = spark.createDataFrame(
        [Row(k=1, seq=i, v=x) for i, x in enumerate([1, 2, 2, 5])]
    )
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "strict asc",
                "monotonic",
                "t",
                column="v",
                params={"order_by": "seq", "partition_by": "k", "strictly": True},
            )
        ],
    )
    assert r.violations == 1  # the 2 -> 2 tie


def test_row_condition_scopes_check(spark):
    rows = [
        Row(seg="gold", bal=100.0),
        Row(seg="gold", bal=-5.0),   # violates, in scope
        Row(seg="lead", bal=-50.0),  # violates but OUT of scope
        Row(seg="gold", bal=7.0),
    ]
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "gold balances non-negative",
                "values_between",
                "t",
                column="bal",
                params={"min": 0, "row_condition": "seg = 'gold'"},
            )
        ],
    )
    # scoped: 3 gold rows total, 1 violation; the lead row is ignored
    assert r.total == 3 and r.violations == 1 and r.status == "fail"


def test_row_condition_scopes_sample_and_quarantine(tmp_path, spark):
    rows = [
        Row(seg="gold", region="Mars"),
        Row(seg="lead", region="Pluto"),
        Row(seg="gold", region="Europe"),
    ]
    df = spark.createDataFrame(rows)
    check = Check(
        "gold regions",
        "values_in_set",
        "t",
        column="region",
        params={"values": ("Europe",), "row_condition": "seg = 'gold'"},
    )
    [r] = run_suite({"t": df}, [check])
    assert r.violations == 1
    assert "Mars" in r.observed["sample"] and "Pluto" not in r.observed["sample"]
    path = str(tmp_path / "q")
    write_violations(df, check, path)
    back = spark.read.parquet(path).collect()
    assert [b["region"] for b in back] == ["Mars"]  # scoped quarantine


def test_chi_square_uniform_pass(spark):
    rows = [Row(t=x) for x in ("a", "b", "c", "d") * 25]
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "chi2",
                "chi_square_test",
                "t",
                column="t",
                params={
                    "expected_distribution": {k: 0.25 for k in "abcd"},
                    "critical_value": 7.815,  # chi2(0.95, dof=3)
                },
            )
        ],
    )
    assert r.status == "pass"
    assert float(r.observed["chi_square"]) == pytest.approx(0.0, abs=1e-9)


def test_chi_square_skew_fails(spark):
    rows = [Row(t="a")] * 90 + [Row(t="b")] * 10
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "chi2",
                "chi_square_test",
                "t",
                column="t",
                params={
                    "expected_distribution": {"a": 0.5, "b": 0.5},
                    "critical_value": 3.841,  # chi2(0.95, dof=1)
                },
            )
        ],
    )
    # statistic = (90-50)^2/50 + (10-50)^2/50 = 64 >> 3.841
    assert r.status == "fail"
    assert float(r.observed["chi_square"]) == pytest.approx(64.0, abs=1e-6)


def test_chi_square_absent_category_counts(spark):
    rows = [Row(t="a")] * 100  # 'b' expected but absent
    df = spark.createDataFrame(rows)
    [r] = run_suite(
        {"t": df},
        [
            Check(
                "chi2",
                "chi_square_test",
                "t",
                column="t",
                params={
                    "expected_distribution": {"a": 0.5, "b": 0.5},
                    "critical_value": 3.841,
                },
            )
        ],
    )
    # (100-50)^2/50 + (0-50)^2/50 = 50 + 50 = 100
    assert r.status == "fail"
    assert float(r.observed["chi_square"]) == pytest.approx(100.0, abs=1e-6)


def test_categorical_check_matches_inline(spark):
    """categorical=True routes a row-condition check through a distinct-
    value groupBy factor; result must be identical to the inline path,
    including nulls, mostly, and row_condition scoping."""
    rows = (
        [Row(v="1-URGENT", seg="gold")] * 5
        + [Row(v="9-BOGUS", seg="gold")] * 3
        + [Row(v=None, seg="gold")] * 2
        + [Row(v="9-BOGUS", seg="bronze")] * 7
    )
    df = spark.createDataFrame(rows)
    for extra in (
        {},
        {"mostly": 0.5},
        {"row_condition": "seg = 'gold'"},
    ):
        base = Check(
            "rx", "match_regex", "t", column="v",
            params={"regex": r"^\d-[A-Z]+$", **extra},
        )
        cat = Check(
            "rx", "match_regex", "t", column="v",
            params={"regex": r"^\d-[A-Z]+$", "categorical": True, **extra},
        )
        [a] = run_suite({"t": df}, [base])
        [b] = run_suite({"t": df}, [cat])
        assert (a.status, a.violations, a.total) == (
            b.status,
            b.violations,
            b.total,
        ), extra


def test_categorical_pair_check(spark):
    df = spark.createDataFrame(
        [Row(a=2, b=1)] * 4 + [Row(a=1, b=2)] * 3 + [Row(a=None, b=1)] * 2
    )
    base = Check("pair", "pair_greater_than", "t", columns=("a", "b"))
    cat = Check(
        "pair", "pair_greater_than", "t", columns=("a", "b"),
        params={"categorical": True},
    )
    [x] = run_suite({"t": df}, [base])
    [y] = run_suite({"t": df}, [cat])
    assert (x.status, x.violations, x.total) == (y.status, y.violations, y.total)


def test_isolation_retry_uses_own_table_frame(spark):
    """A fused factor that dies at runtime retries its members SOLO — and
    the solo frame must be the member's OWN table, not whichever table the
    loop visited last (late-binding closure bug: same column names made
    the retried check silently aggregate the wrong table)."""
    # table a: v averages 1.0 and carries the poison column (ANSI cast of
    # 'not-a-number' inside avg throws at RUNTIME, after analysis passes)
    a = spark.createDataFrame(
        [Row(v=1.0, s="not-a-number"), Row(v=1.0, s="still-not")]
    )
    # table b: same column names, wildly different values — the bug would
    # aggregate b for the retried a-check (avg 100 -> spurious fail)
    b = spark.createDataFrame([Row(v=100.0, s="9.0"), Row(v=100.0, s="9.0")])
    checks = [
        Check("poison_a", "mean_between", "a", "s", params={"min": 0, "max": 1}),
        Check("mean_a", "mean_between", "a", "v", params={"min": 0.5, "max": 1.5}),
        Check("mean_b", "mean_between", "b", "v", params={"min": 50, "max": 150}),
    ]
    results = {r.check_name: r for r in run_suite({"a": a, "b": b}, checks)}
    assert results["poison_a"].status == "error"  # the ANSI throw isolates
    # the load-bearing assertion: retried against table a, observed mean 1.0
    assert results["mean_a"].status == "pass", results["mean_a"].error_message
    assert float(results["mean_a"].observed.get("mean")) == 1.0
    assert results["mean_b"].status == "pass"


def test_approx_unique_check_fuses_and_detects_duplication(spark):
    """approx=True unique: an HLL expression in the FUSED aggregate (no
    frame_builder / per-key shuffle), passing on key-like data and failing
    on gross duplication — the 100 TB suite posture."""
    chk = Check("k unique", "unique", "t", column="k", params={"approx": True})
    compiled = compile_agg_check(chk, prefix="c0")
    assert compiled.frame_builder is None and compiled.exprs  # fuses

    unique_df = spark.range(5000).withColumnRenamed("id", "k")
    dup_df = spark.range(5000).select((F.col("id") % 10).alias("k"))
    ok = run_suite({"t": unique_df}, [chk])[0]
    bad = run_suite({"t": dup_df}, [chk])[0]
    assert ok.status == "pass", ok.observed
    assert bad.status == "fail" and bad.violations > 4000
    assert str(bad.observed["approx"]) == "True"  # observed is stringified
