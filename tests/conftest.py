from __future__ import annotations

import datetime
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from enterprise_data_quality_platform_spark.catalog import table_path  # noqa: E402
from enterprise_data_quality_platform_spark.checks import run_suite  # noqa: E402
from enterprise_data_quality_platform_spark.queries import all_queries  # noqa: E402
from enterprise_data_quality_platform_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("edqp-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


def minute(m: int) -> datetime.datetime:
    """The timestamp ``m`` minutes after 2024-01-01 00:00, the crafted-event epoch."""
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)


def plan_of(spark, name: str) -> str:
    """The formatted physical plan of registered query ``name`` on sf0.001."""
    df = all_queries()[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def solo_results(tables, checks) -> list:
    """Each check run alone on a frame its footers cannot answer: one job
    per data check and no footer decisions, the reference every shared
    factor and footer answer of ``run_suite`` must equal."""
    results = []
    for check in checks:
        own = tables.get(check.table)
        scan = {} if own is None else {check.table: own.filter(F.lit(True))}
        results += run_suite({**tables, **scan}, [check])
    return results


@pytest.fixture
def crafted_tables(monkeypatch):
    """Serve crafted frames to a query module's ``table``.

    ``crafted_tables(module, df)`` answers every table with ``df``;
    ``crafted_tables(module, {name: df})`` answers by table name."""

    def serve(module, frames) -> None:
        def table(spark, sf_dir, name):
            return frames[name] if isinstance(frames, dict) else frames

        monkeypatch.setattr(module, "table", table)

    return serve


@pytest.fixture
def crafted_tier(spark, tmp_path):
    """Write a crafted tier: ``crafted_tier(tag, name=(rows, schema), ...)``
    writes each table where ``catalog.table`` reads it and returns the
    tier's ``sf_dir``."""

    def write(tag: str, **tables) -> str:
        tier = str(tmp_path / tag)
        for name, (rows, schema) in tables.items():
            spark.createDataFrame(rows, schema).write.parquet(table_path(tier, name))
        return tier

    return write
