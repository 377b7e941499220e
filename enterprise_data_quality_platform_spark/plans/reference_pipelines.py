"""The reference's two DAGs, rebuilt end-to-end on the engine.

1. ``validation_pipeline`` = pager-workflow.py's DAG
   (validate_raw >> trigger_dbt >> wait >> validate_transformed >> alerts,
   ``/root/reference/airflow/dags/pager-workflow.py:285-325``):
   - validate_raw: row-count + null-key checks on the raw dims (:117-143)
   - transform: the dbt job done natively — stg + mart models materialize
     in-process (no trigger/sleep; the 120s barrier disappears because the
     transform is a blocking Spark job)
   - validate_transformed: count checks on stg/mart + the region whitelist
     with deliberate exclusions (:145-245)
   - gate + alert fan-out on failure (:247-267), idempotent sink writes

2. ``etl_pipeline`` = Glue-etl-pipeline.py's fan-in DAG (:125-129):
   three master-data builds run concurrently, feed an enrichment join,
   then a validation layer — stage functions over one SparkSession.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..alerts import AlertSink
from ..catalog import load_tables
from ..checks import Check, gate, run_suite, suite_report_df
from ..models import marts, staging
from .orchestration import Ctx, Pipeline

#: Deliberate whitelist exclusion to exercise the failure path — the
#: reference excludes South America "to create failure"
#: (pager-workflow.py:204-209).
NATION_WHITELIST = tuple(f"NATION_{i}" for i in range(20))


def validation_pipeline(
    spark: SparkSession, sf_dir: str, alert_path: str, inject_failure: bool = True
) -> Pipeline:
    whitelist = (
        NATION_WHITELIST
        if inject_failure
        else tuple(f"NATION_{i}" for i in range(25))
    )

    def validate_raw(ctx: Ctx):
        # only the tables the DAG reads: each one costs a schema-inference
        # job on a cold session
        tables = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
        ctx["tables"] = tables
        results = run_suite(
            tables,
            [
                Check("raw orders non-empty", "row_count_between", "orders",
                      params={"min": 1}),
                Check("raw customer non-empty", "row_count_between", "customer",
                      params={"min": 1}),
                Check("raw orders custkey not null", "not_null", "orders",
                      column="o_custkey"),
                Check("raw customer key unique", "unique", "customer",
                      column="c_custkey"),
            ],
        )
        gate(results)  # pre-transform gate (pager-workflow.py:139-143)
        return results

    def transform(ctx: Ctx):
        t = ctx["tables"]
        out = {
            "stg_nation": staging.stg_nation(t["nation"]),
            "stg_orders": staging.stg_orders_enriched(t["orders"], t["customer"]),
            "mart_region_revenue": marts.mart_region_revenue(
                t["orders"], t["customer"], t["nation"], t["region"]
            ),
        }
        ctx["models"] = out
        return {k: v.count() for k, v in out.items()}  # materialize

    def validate_transformed(ctx: Ctx):
        models = ctx["models"]
        tables = {**ctx["tables"], **models}
        results = run_suite(
            tables,
            [
                Check("stg_nation non-empty", "row_count_between", "stg_nation",
                      params={"min": 1}),
                Check("mart non-empty", "row_count_between", "mart_region_revenue",
                      params={"min": 1}),
                Check("nation whitelist", "values_in_set", "nation",
                      column="n_name", params={"values": whitelist}),
            ],
        )
        ctx["transformed_results"] = results
        ctx["report"] = suite_report_df(spark, results)
        return results

    def alert_and_gate(ctx: Ctx):
        # alert fan-out BEFORE the raise — the reference's order
        # (pager-workflow.py:247-267)
        results = ctx["transformed_results"]
        sink = AlertSink(spark, alert_path, service="validation-pipeline")
        n = sink.trigger_for_failures(results, channels=("pagerduty", "agent"))
        ctx["alerts_written"] = n
        gate(results)
        return n

    return (
        Pipeline()
        .add("validate_raw", validate_raw, retries=1)
        .add("transform", transform, upstream=("validate_raw",), retries=1)
        .add("validate_transformed", validate_transformed, upstream=("transform",))
        # retries=0 on the alerting stage in the reference (:320); here the
        # write is idempotent so retries are safe — keep 0 for parity
        .add("alert_and_gate", alert_and_gate, upstream=("validate_transformed",))
    )


def incremental_refresh_pipeline(
    spark: SparkSession,
    sf_dir: str,
    mart_path: str,
    refresh_dates: list | None = None,
) -> Pipeline:
    """The reference's refresh loop — trigger a dbt re-run, then re-validate
    the refreshed tables (pager-workflow.py:292-306 trigger, :316-322
    re-validate) — as an INCREMENTAL materialization: rebuild only the
    requested date partitions of the daily events mart, swap them in with
    dynamic partition overwrite, re-validate the refreshed table.

    100 TB posture: the build stage filters the source scan to the refresh
    dates (predicate reaches the parquet scan → row-group/partition prune),
    the write replaces only those ``p_date`` partitions
    (``materialize_incremental``), and validation runs on the re-read
    materialized table — so a one-day refresh touches one day of data on
    both sides, never the full mart."""
    from ..catalog import table
    from ..functions.numeric import fx_sum
    from ..sources.writers import materialize_incremental

    def build_increment(ctx: Ctx):
        events = table(spark, sf_dir, "events")
        if refresh_dates:
            events = events.filter(F.to_date(F.col("ts")).isin(refresh_dates))
        daily = (
            events.groupBy(
                F.to_date(F.col("ts")).alias("d"),
                "event_type",
            ).agg(
                F.count(F.lit(1)).alias("event_count"),
                fx_sum(F.col("value"), "total_value"),
            )
        )
        ctx["daily"] = daily
        return True

    def refresh(ctx: Ctx):
        ctx["mart"] = materialize_incremental(
            spark, ctx["daily"], mart_path, date_col="d"
        )
        return ctx["mart"].count()

    def revalidate(ctx: Ctx):
        results = run_suite(
            {"mart_events_daily": ctx["mart"]},
            [
                Check("refreshed mart non-empty", "row_count_between",
                      "mart_events_daily", params={"min": 1}),
                Check("day not null", "not_null", "mart_events_daily",
                      column="d"),
                Check("counts positive", "values_between", "mart_events_daily",
                      column="event_count", params={"min": 1}),
            ],
        )
        gate(results)
        return results

    return (
        Pipeline()
        .add("build_increment", build_increment, retries=1)
        .add("refresh", refresh, upstream=("build_increment",))
        .add("revalidate", revalidate, upstream=("refresh",))
    )


def etl_pipeline(spark: SparkSession, sf_dir: str) -> Pipeline:
    """Glue fan-in DAG: product/hcp/territory masters → enrichment → beta
    validation (Glue-etl-pipeline.py:64-129), natively."""

    def load(ctx: Ctx):
        ctx["tables"] = load_tables(
            spark, sf_dir, ("part", "customer", "nation", "region", "lineitem", "orders")
        )
        return True

    def product_master(ctx: Ctx) -> DataFrame:
        t = ctx["tables"]
        return t["part"].select(
            "p_partkey", "p_name", "p_brand", F.col("p_retailprice").alias("price")
        )

    def customer_master(ctx: Ctx) -> DataFrame:
        t = ctx["tables"]
        return t["customer"].join(
            F.broadcast(t["nation"]),
            t["customer"]["c_nationkey"] == t["nation"]["n_nationkey"],
        ).select("c_custkey", "c_name", "n_name")

    def territory_master(ctx: Ctx) -> DataFrame:
        t = ctx["tables"]
        return t["nation"].join(
            F.broadcast(t["region"]),
            t["nation"]["n_regionkey"] == t["region"]["r_regionkey"],
        ).select("n_nationkey", "n_name", "r_name")

    def enrichment(ctx: Ctx) -> DataFrame:
        # product/customer masters grow with the data (part- and
        # customer-derived) — no broadcast hints; AQE auto-broadcasts them
        # while they fit and shuffles when they don't (the forced hint was
        # measured 1.5x slower at sf10 on the same join shape, PERF.md r3)
        t = ctx["tables"]
        enriched = (
            t["lineitem"]
            .join(ctx["product_master"],
                  t["lineitem"]["l_partkey"] == F.col("p_partkey"))
            .join(t["orders"], t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"])
            .join(ctx["customer_master"],
                  t["orders"]["o_custkey"] == F.col("c_custkey"))
        )
        return enriched

    def beta_validation(ctx: Ctx):
        enriched = ctx["enrichment"]
        results = run_suite(
            {"enriched": enriched},
            [
                Check("enriched non-empty", "row_count_between", "enriched",
                      params={"min": 1}),
                Check("enriched price positive", "values_between", "enriched",
                      column="price", params={"min": 0}),
            ],
        )
        gate(results)
        return results

    return (
        Pipeline()
        .add("load", load)
        .add("product_master", product_master, upstream=("load",))
        .add("customer_master", customer_master, upstream=("load",))
        .add("territory_master", territory_master, upstream=("load",))
        .add(
            "enrichment",
            enrichment,
            upstream=("product_master", "customer_master", "territory_master"),
        )
        .add("beta_validation", beta_validation, upstream=("enrichment",))
    )
