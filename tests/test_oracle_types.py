"""Every oracle's BOUND DuckDB output types must serialize like Spark's.

The driver's order-insensitive value hash serializes Arrow batches: a bare
``SUM(bigint)`` binds HUGEINT in DuckDB (Arrow decimal128(38,0)) while
Spark emits int64 — values equal, hashes differ (the r4 failure mode that
cost 3 red driver rows). A dtype-coercing comparison cannot see this, so
the gate is on the bound relation types themselves, before any fetch.
"""

from __future__ import annotations

import os

import pytest

from enterprise_data_quality_platform_spark.queries import oracle_sqls
from enterprise_data_quality_platform_spark.queries.registry import oracle_connection

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
UNSAFE = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def con():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    return oracle_connection(SF_DIR)


def test_no_oracle_binds_driver_unsafe_types(con):
    offenders = {}
    for name, sql in sorted(oracle_sqls(SF_DIR).items()):
        rel = con.sql(sql)  # binding alone types the output; no execution
        cols = [
            f"{col}:{dt}"
            for col, dt in zip(rel.columns, rel.types)
            if any(bad in str(dt).upper() for bad in UNSAFE)
        ]
        if cols:
            offenders[name] = cols
    assert not offenders, (
        "oracle output columns bind HUGEINT/DECIMAL (Arrow decimal128) — "
        "the driver's value hash will mismatch Spark's int64/double even "
        f"when values are equal. CAST them: {offenders}"
    )
