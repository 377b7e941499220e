"""DuckDB-oracle differential tests — the primary gate (SURVEY.md §5.2.1).

Mirrors the driver's comparison (row count + schema + order-insensitive
values) for every declared query, at sf0.001 for speed; tools/parity.py runs
the same at sf0.01 (the driver's sf).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.parity import compare  # noqa: E402

from enterprise_data_quality_platform_spark.queries import all_queries, oracle_sqls  # noqa: E402
from enterprise_data_quality_platform_spark.queries.registry import (  # noqa: E402
    oracle_connection,
)

from conftest import SF_SMALL  # noqa: E402

SPECS = all_queries()
ORACLES = oracle_sqls(SF_SMALL)


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_parity(name, spark, duck):
    sdf = SPECS[name].fn(spark, SF_SMALL).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only contract: runs and returns a frame
        return
    ddf = duck.execute(ORACLES[name]).fetchdf()
    issues = compare(name, sdf, ddf)
    assert not issues, f"{name}: {issues}"
