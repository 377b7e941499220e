"""Declarative data-quality check definitions.

The check vocabulary is the reference platform's advertised operator set: the
executed validators (row count / null key / domain whitelist / range /
schema-compliance, ``/root/reference/airflow/dags/pager-workflow.py:126-216``
and the embedded ``DataValidationPipeline`` in
``/root/reference/analysis.md:9``) plus the Great Expectations 0.18 core
gallery the repo pins (``/root/reference/airflow/requirements.txt:3``).
Names are kept GE-compatible (SURVEY.md §2.2 G1-G20).

A ``Check`` is pure data; compilation to Spark expressions happens in
``compiler.py``. Results follow the reference's report-dict model
(``validation_name`` / ``status`` / ``error_message``, analysis.md:9) widened
with observed metrics.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from pyspark.sql import types as T

#: Check types answered from data: ``compiler.compile_agg_check`` lowers each
#: to aggregate expressions fused into one shared scan per table (SURVEY.md
#: §4.2 "multi-check scan sharing") or to its own 1-row frame.
AGG_CHECK_TYPES = frozenset(
    {
        "row_count_between",  # G2; pass iff lo <= count <= hi
        "not_null",  # Q2/G3
        "values_between",  # Q5/G7
        "values_in_set",  # Q3(count form)/G6
        "values_not_in_set",  # G6
        "value_lengths_between",  # G8
        "match_regex",  # G9
        "not_match_regex",  # G9
        "match_strftime",  # G10
        "mean_between",  # G11
        "stddev_between",  # G11
        "min_between",  # G11
        "max_between",  # G11
        "sum_between",  # G11
        "unique_count_between",  # G13
        "unique_proportion_between",  # G14
        "pair_greater_than",  # G16
        "expression",  # R19 escape hatch: params['condition'] is a SQL
        # boolean expr rows must satisfy; compiled to a violation count —
        # custom checks stay JVM-side instead of becoming Python UDFs
        "freshness",  # G20; max(ts) lag bound
        "unique",  # G4 — two-level groupBy factor (no fused Expand)
        "compound_unique",  # G5 — same, over a column tuple
        "distinct_in_set",  # Q3 distinct-violations form
        "quantile_between",  # G12 — percentile() aggregate
        "most_common_in_set",  # G15 — mode() aggregate
        "pair_equal",  # GE expect_column_pair_values_to_be_equal
        "pair_in_set",  # GE expect_column_pair_values_to_be_in_set
        "multicolumn_sum_equal",  # GE expect_multicolumn_sum_to_equal
        "dateutil_parseable",  # GE expect_column_values_to_be_dateutil_parseable
        "match_like_pattern",  # GE expect_column_values_to_match_like_pattern
        "not_match_like_pattern",  # GE ...to_not_match_like_pattern
        "match_like_pattern_list",  # GE ...to_match_like_pattern_list
        "json_parseable",  # GE expect_column_values_to_be_json_parseable
        "distinct_contain_set",  # GE expect_column_distinct_values_to_contain_set
        "distinct_equal_set",  # GE expect_column_distinct_values_to_equal_set
        "referential_integrity",  # G19 — left-anti join against parent table
        "kl_divergence_less_than",  # G18 — in-plan histogram + broadcast map
        "row_count_equal_other_table",  # GE expect_table_row_count_to_equal_other_table
        "z_score_less_than",  # GE expect_column_value_z_scores_to_be_less_than
        "monotonic",  # GE expect_column_values_to_be_increasing/decreasing
        "chi_square_test",  # GE expect_column_chisquare_test_p_value... (statistic form)
    }
)

#: Check types answered from the table's schema alone, at plan time, with no
#: job (``compiler.schema_result``).
SCHEMA_CHECK_TYPES = frozenset(
    {
        "column_exists",  # G1
        "columns_match_list",  # G1
        "column_of_type",  # G17
        "column_count_between",  # GE expect_table_column_count_to_be_between
    }
)

CHECK_TYPES = AGG_CHECK_TYPES | SCHEMA_CHECK_TYPES


@dataclass(frozen=True)
class Check:
    """One declarative expectation.

    ``mostly`` follows GE semantics: the check passes when the fraction of
    non-violating rows is >= mostly (default 1.0 = zero tolerance).
    """

    name: str
    check_type: str
    table: str
    column: str | None = None
    columns: tuple[str, ...] = ()
    params: dict[str, Any] = field(default_factory=dict)
    mostly: float = 1.0

    def __post_init__(self) -> None:
        if self.check_type not in CHECK_TYPES:
            raise ValueError(f"unknown check_type: {self.check_type!r}")


@dataclass
class CheckResult:
    """Mirrors the reference's result records: dicts with validation_name /
    status / error_message (analysis.md:9) and the (name, passed) tuples of
    pager-workflow.py:153-154 — plus observed metrics for the report table."""

    check_name: str
    table: str
    column: str | None
    status: str  # "pass" | "fail" | "error"
    violations: int | None
    total: int | None
    observed: dict[str, str]
    error_message: str | None
    run_ts: datetime

    @property
    def passed(self) -> bool:
        return self.status == "pass"


#: Canonical report-row schema (SURVEY.md §1.4).
REPORT_SCHEMA = T.StructType(
    [
        T.StructField("check_name", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("violations", T.LongType(), True),
        T.StructField("total", T.LongType(), True),
        T.StructField("observed", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("run_ts", T.TimestampType(), False),
    ]
)
