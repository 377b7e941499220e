"""Suite JSON round-trip (S7) + property-based invariants (SURVEY.md §5.2.5):
check results invariant under row order and repartitioning; dedup idempotent."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.checks import Check, run_suite
from enterprise_data_quality_platform_spark.checks.suite_io import (
    check_from_dict,
    check_to_dict,
    load_suite,
    render_data_docs,
    save_suite,
    write_validation_results,
)
from enterprise_data_quality_platform_spark.queries.dq import _SUITE

from conftest import SF_SMALL, solo_results


def test_suite_json_round_trip():
    with tempfile.TemporaryDirectory() as d:
        save_suite(_SUITE, f"{d}/suite.json", name="reference-suite")
        loaded = load_suite(f"{d}/suite.json")
    assert len(loaded) == len(_SUITE)
    for orig, back in zip(_SUITE, loaded):
        assert back.name == orig.name
        assert back.check_type == orig.check_type
        assert back.table == orig.table
        assert back.column == orig.column
        assert back.mostly == orig.mostly
        # values tuples survive (lists in JSON)
        if "values" in orig.params:
            assert tuple(back.params["values"]) == tuple(orig.params["values"])


def test_ge_type_mapping_is_ge_compatible():
    d = check_to_dict(
        Check(
            "nn",
            "not_null",
            "orders",
            column="o_custkey",
            mostly=0.99,
        )
    )
    assert d["expectation_type"] == "expect_column_values_to_not_be_null"
    assert d["kwargs"]["column"] == "o_custkey"
    assert d["kwargs"]["mostly"] == 0.99
    back = check_from_dict(d)
    assert back.check_type == "not_null" and back.mostly == 0.99


def test_validation_results_store_and_docs(spark):
    tables = {"orders": table(spark, SF_SMALL, "orders")}
    results = run_suite(
        tables,
        [
            Check("nn", "not_null", "orders", column="o_custkey"),
            Check(
                "bad domain",
                "values_in_set",
                "orders",
                column="o_orderstatus",
                params={"values": ("O",)},
            ),
        ],
    )
    with tempfile.TemporaryDirectory() as d:
        write_validation_results(spark, results, f"{d}/store", run_name="r1")
        write_validation_results(spark, results, f"{d}/store", run_name="r2")
        stored = spark.read.parquet(f"{d}/store")
        assert stored.count() == 4
        assert set(r.run_name for r in stored.collect()) == {"r1", "r2"}
    docs = render_data_docs(results)
    assert "FAIL" in docs and "bad domain" in docs and "✓ nn" in docs


def test_data_docs_html_golden():
    """HTML docs render matches the committed golden page byte-for-byte
    (deterministic: fixed results, no wall-clock in the output)."""
    import datetime
    from pathlib import Path

    from enterprise_data_quality_platform_spark.checks.definitions import (
        CheckResult,
    )
    from enterprise_data_quality_platform_spark.checks.suite_io import (
        render_data_docs_html,
    )

    ts = datetime.datetime(2024, 1, 1)
    results = [
        CheckResult("orders non-empty", "orders", None, "pass", None, None,
                    {"row_count": "15000"}, None, ts),
        CheckResult("custkey not null", "orders", "o_custkey", "pass", 0,
                    15000, {}, None, ts),
        CheckResult("status domain", "orders", "o_orderstatus", "fail", 3750,
                    15000, {"unexpected_pct": "25.0"}, None, ts),
        CheckResult("nation whitelist <tag>", "nation", "n_name", "error",
                    None, None, {}, "AnalysisException: column missing & gone",
                    ts),
    ]
    html = render_data_docs_html(
        results, suite_name="reference-suite", run_name="r1"
    )
    golden = Path(__file__).parent / "golden" / "data_docs.html"
    assert html == golden.read_text()
    # structural invariants worth pinning beyond the byte compare
    assert "&lt;tag&gt;" in html and "&amp; gone" in html  # escaped
    assert html.count("<table>") == 2  # one section per table
    assert "FAIL" in html and "50.0%" in html


def test_write_data_docs_roundtrip(tmp_path, spark):
    from enterprise_data_quality_platform_spark.checks.suite_io import (
        write_data_docs,
    )

    tables = {"orders": table(spark, SF_SMALL, "orders")}
    results = run_suite(
        tables, [Check("nn", "not_null", "orders", column="o_custkey")]
    )
    out = write_data_docs(
        results, str(tmp_path / "docs" / "index.html"), suite_name="s"
    )
    text = open(out).read()
    assert text.startswith("<!doctype html>") and "nn" in text and "PASS" in text


# --- properties -----------------------------------------------------------


def _suite_fingerprint(tables):
    results = run_suite(tables, _SUITE)
    return [(r.check_name, r.status, r.violations, r.total) for r in results]


def test_checks_invariant_under_row_order_and_partitioning(spark):
    base = {
        n: table(spark, SF_SMALL, n)
        for n in ("lineitem", "orders", "nation", "customer")
    }
    shuffled = {
        n: df.orderBy(F.rand(seed=1)).repartition(13) for n, df in base.items()
    }
    assert _suite_fingerprint(base) == _suite_fingerprint(shuffled)


def test_fused_equals_unfused(spark):
    tables = {
        n: table(spark, SF_SMALL, n)
        for n in ("lineitem", "orders", "nation", "customer")
    }
    fused = run_suite(tables, _SUITE)
    unfused = solo_results(tables, _SUITE)
    assert [(r.check_name, r.status, r.violations) for r in fused] == [
        (r.check_name, r.status, r.violations) for r in unfused
    ]


def test_queries_invariant_under_repartition(spark):
    """Declared aggregate queries must not depend on input partitioning —
    the fixed-point float policy's core guarantee."""
    from enterprise_data_quality_platform_spark.models import marts

    orders = table(spark, SF_SMALL, "orders")
    customer = table(spark, SF_SMALL, "customer")
    nation = table(spark, SF_SMALL, "nation")
    region = table(spark, SF_SMALL, "region")
    a = marts.mart_region_revenue(orders, customer, nation, region).collect()
    b = marts.mart_region_revenue(
        orders.repartition(17), customer.repartition(3), nation, region
    ).collect()
    assert a == b


def test_history_docs_sparklines(tmp_path, spark):
    """Three runs of a two-check suite -> one history row per check, bar
    colors tracking status, counts and failure tallies correct, byte-stable
    across re-renders of the same store."""
    import datetime

    from enterprise_data_quality_platform_spark.checks.definitions import (
        CheckResult,
    )
    from enterprise_data_quality_platform_spark.checks.suite_io import (
        render_history_docs_html,
        write_validation_results,
    )

    store = str(tmp_path / "validations.parquet")
    for i, (nn_v, dom_status, dom_v) in enumerate(
        [(0, "pass", 0), (0, "fail", 120), (0, "fail", 60)]
    ):
        ts = datetime.datetime(2024, 1, 1 + i)
        results = [
            CheckResult("custkey not null", "orders", "o_custkey", "pass",
                        nn_v, 1000, {}, None, ts),
            CheckResult("status domain", "orders", "o_orderstatus",
                        dom_status, dom_v, 1000, {}, None, ts),
        ]
        write_validation_results(spark, results, store, run_name=f"run-{i:03d}")

    html = render_history_docs_html(spark, store, suite_name="hist")
    assert html.count("<tr class=") == 2  # one history row per check
    assert html.count("<rect") == 6  # 3 bars per check
    assert html.count('fill="#c62828"') == 2  # the two failing runs
    assert html.count('fill="#2e7d32"') == 4
    # latest-status + failure tally: domain check failed 2 of 3 runs
    assert "<td>fail</td>" in html and "<td>2</td>" in html
    # normalized heights: 120 violations -> full height, 60 -> half
    assert 'height="24"' in html and 'height="12"' in html
    assert render_history_docs_html(spark, store, suite_name="hist") == html


def test_columns_match_list_roundtrip(tmp_path, spark):
    check = Check(
        "ordered cols",
        "columns_match_list",
        "t",
        params={"column_list": ["a", "b"]},
    )
    path = str(tmp_path / "suite.json")
    save_suite([check], path)
    [loaded] = load_suite(path)
    assert loaded.params["column_list"] == ["a", "b"]
    df = spark.createDataFrame([Row(a=1, b=2)])
    [r] = run_suite({"t": df}, [loaded])
    assert r.status == "pass"


def test_pair_greater_than_roundtrip_ge_kwargs(spark):
    # a real GE suite spells the pair as column_A / column_B
    d = {
        "expectation_type": "expect_column_pair_values_a_to_be_greater_than_b",
        "kwargs": {"column_A": "hi", "column_B": "lo"},
        "meta": {"name": "pair", "table": "t"},
    }
    check = check_from_dict(d)
    assert check.columns == ("hi", "lo")
    df = spark.createDataFrame([Row(hi=2, lo=1), Row(hi=0, lo=1)])
    [r] = run_suite({"t": df}, [check])
    assert r.violations == 1
    # and back out: column_A/column_B kwargs are preserved
    out = check_to_dict(check)
    assert out["kwargs"]["column_A"] == "hi" and out["kwargs"]["column_B"] == "lo"


def test_monotonic_ge_roundtrip(tmp_path):
    check = Check(
        "desc ts",
        "monotonic",
        "t",
        column="v",
        params={"order_by": "seq", "decreasing": True},
    )
    d = check_to_dict(check)
    assert d["expectation_type"] == "expect_column_values_to_be_decreasing"
    back = check_from_dict(d)
    assert back.check_type == "monotonic" and back.params.get("decreasing") is True


def test_row_condition_ge_roundtrip():
    d = {
        "expectation_type": "expect_column_values_to_be_between",
        "kwargs": {
            "column": "bal",
            "min_value": 0,
            "row_condition": "seg = 'gold'",
            "condition_parser": "spark",
        },
        "meta": {"name": "scoped", "table": "t"},
    }
    check = check_from_dict(d)
    assert check.params["row_condition"] == "seg = 'gold'"
    assert "condition_parser" not in check.params
