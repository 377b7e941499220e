"""Data-quality queries (SURVEY.md §2.7 ``dq_*``) — the platform's core
domain, reproducing the reference's executed validators and the GE gallery.

Each query returns the *metrics* a check would gate on; the pass/fail policy
layer lives in ``checks/`` (exercised by ``dq_suite_report``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..checks import Check, run_suite
from ..functions.numeric import fx_avg, fx_round, fx_sum, sql_avg, sql_round, sql_sum
from ..operators.packedmap import distinct_presence
from ..session import local_frame
from .registry import register

# Whitelist deliberately excludes NATION_20..24 to create violations, the
# same failure-injection trick as the reference's region whitelist that
# "excludes South America to create failure"
# (/root/reference/airflow/dags/pager-workflow.py:204-209).
NATION_WHITELIST = tuple(f"NATION_{i}" for i in range(20))

ORDERSTATUS_DOMAIN = ("O", "F", "P")
PRIORITY_REGEX = "^[1-5]-"


@register(
    "dq_row_count",
    oracle="SELECT COUNT(*) AS row_count FROM lineitem",
    tables=("lineitem",),
)
def dq_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1/G2: row-count check — `SELECT COUNT(*)` per pager-workflow.py:126.
    Metadata-only parquet count: Spark answers from footers, no data scan."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


@register(
    "dq_null_check",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS null_violations
    FROM orders
    """,
    tables=("orders",),
)
def dq_null_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/G3: null-key check per pager-workflow.py:127,134. One scan computes
    total + null count (conditional aggregation, not two passes)."""
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_violations"
        ),
    )


@register(
    "dq_region_whitelist",
    oracle=f"""
    SELECT n_name AS violating_name
    FROM (SELECT DISTINCT n_name FROM nation)
    WHERE n_name NOT IN ({", ".join(f"'{n}'" for n in NATION_WHITELIST)})
    ORDER BY violating_name
    """,
    tables=("nation",),
)
def dq_region_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3/G6: domain whitelist — DISTINCT + NOT IN, reporting violating
    values, per pager-workflow.py:212-216. Literal list folds into the scan
    filter; for table-sized whitelists use referential_integrity (anti-join)."""
    return (
        table(spark, sf_dir, "nation")
        .select("n_name")
        .distinct()
        .filter(~F.col("n_name").isin(list(NATION_WHITELIST)))
        .select(F.col("n_name").alias("violating_name"))
        .orderBy("violating_name")
    )


@register(
    "dq_range_check",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 0.05) AS range_violations
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5/G7: business-rule range check per analysis.md:9
    (validate_business_rules: value<0). Bounds chosen to produce violations."""
    viol = (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.05)
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(viol, 1).otherwise(0)).alias("range_violations"),
    )


@register(
    "dq_uniqueness",
    oracle="""
    SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS duplicate_rows,
           COUNT(DISTINCT o_orderkey) AS distinct_keys
    FROM orders
    """,
    tables=("orders",),
)
def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: uniqueness as count - count_distinct (excess rows), from 64-bit
    presence bitmaps (``operators.packedmap.distinct_presence``): the
    per-key shuffle carries one row per 64 keys, distinct_keys =
    Σ bit_count(word bits) and duplicate_rows = non-null rows −
    distinct_keys — value-identical to the oracle. Always exact for an
    integral key: a bit set by a key seen any number of times is set
    once, so there is no carry, no guard and no second plan. At 100 TB
    swap in approx_count_distinct via the checks' approx switch."""
    return distinct_presence(table(spark, sf_dir, "orders"), "o_orderkey").select(
        (F.col("non_null") - F.col("distinct")).alias("duplicate_rows"),
        F.col("distinct").alias("distinct_keys"),
    )


@register(
    "dq_compound_unique",
    oracle="""
    SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS duplicate_rows,
           COUNT(DISTINCT (l_orderkey, l_linenumber)) AS distinct_keys
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_compound_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: compound-key uniqueness over (l_orderkey, l_linenumber) — same
    Expand-free two-level aggregate as ``dq_uniqueness`` (groupBy the key
    pair, then sum/count the key frame); key groups with NULL parts form
    their own groups exactly like DISTINCT over a row value."""
    per_key = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return per_key.agg(
        (F.sum("__c") - F.count(F.lit(1))).alias("duplicate_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT COUNT(*) AS orphan_count
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    """,
    tables=("orders", "customer"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19/R7: orphan children via LEFT ANTI join (dbt `relationships` test).
    Anti-join (not NOT IN) so NULL keys can't poison the predicate; parent
    side reduced to distinct keys before the join."""
    orders = table(spark, sf_dir, "orders")
    parents = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    ).dropDuplicates()
    orphans = orders.filter(F.col("o_custkey").isNotNull()).join(
        parents, on="o_custkey", how="left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).alias("orphan_count"))


@register(
    "dq_completeness_ratio",
    oracle="""
    SELECT ROUND(1.0 - COUNT(c_name) * 1.0 / COUNT(*), 6) AS c_name_null_ratio,
           ROUND(1.0 - COUNT(c_nationkey) * 1.0 / COUNT(*), 6) AS c_nationkey_null_ratio,
           ROUND(1.0 - COUNT(c_acctbal) * 1.0 / COUNT(*), 6) AS c_acctbal_null_ratio,
           ROUND(1.0 - COUNT(c_mktsegment) * 1.0 / COUNT(*), 6) AS c_mktsegment_null_ratio
    FROM customer
    """,
    tables=("customer",),
)
def dq_completeness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: per-column completeness profile in ONE scan — the fused-profiling
    shape (SURVEY.md §4.2): COUNT(col)/COUNT(*) for every column at once."""
    df = table(spark, sf_dir, "customer")
    total = F.count(F.lit(1))
    return df.agg(
        *[
            F.round(1.0 - F.count(c) / total, 6).alias(f"{c}_null_ratio")
            for c in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        ]
    )


@register(
    "dq_set_membership",
    oracle=f"""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (
             WHERE o_orderstatus NOT IN ({", ".join(f"'{s}'" for s in ORDERSTATUS_DOMAIN)})
           ) AS set_violations
    FROM orders
    """,
    tables=("orders",),
)
def dq_set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 count form: o_orderstatus must be in {O,F,P}."""
    viol = ~F.col("o_orderstatus").isin(list(ORDERSTATUS_DOMAIN))
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(viol, 1).otherwise(0)).alias("set_violations"),
    )


@register(
    "dq_regex_match",
    oracle=f"""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (
             WHERE NOT regexp_matches(o_orderpriority, '{PRIORITY_REGEX}')
           ) AS regex_violations
    FROM orders
    """,
    tables=("orders",),
)
def dq_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: o_orderpriority must match ^[1-5]- (rlike = partial match, same
    as DuckDB regexp_matches)."""
    viol = ~F.col("o_orderpriority").rlike(PRIORITY_REGEX)
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(viol, 1).otherwise(0)).alias("regex_violations"),
    )


@register(
    "dq_value_lengths",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE LENGTH(c_name) < 5 OR LENGTH(c_name) > 18) AS length_violations,
           MIN(LENGTH(c_name)) AS min_length,
           MAX(LENGTH(c_name)) AS max_length
    FROM customer
    """,
    tables=("customer",),
)
def dq_value_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: value-length bounds on c_name, with observed min/max lengths."""
    ln = F.length("c_name")
    return table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when((ln < 5) | (ln > 18), 1).otherwise(0)).alias(
            "length_violations"
        ),
        F.min(ln).cast("bigint").alias("min_length"),
        F.max(ln).cast("bigint").alias("max_length"),
    )


@register(
    "dq_stats_profile",
    oracle=f"""
    SELECT COUNT(l_quantity) AS n,
           {sql_avg("l_quantity")} AS mean_qty,
           {sql_round("STDDEV(l_quantity)", 4)} AS stddev_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           {sql_sum("l_quantity")} AS sum_qty
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: single-pass numeric profile (mean/stddev/min/max/sum) — one scan,
    one partial+final aggregate; this is the per-table profiling primitive."""
    q = F.col("l_quantity")
    return table(spark, sf_dir, "lineitem").agg(
        F.count(q).alias("n"),
        fx_avg(q, "mean_qty"),
        fx_round(F.stddev(q), 4).alias("stddev_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        fx_sum(q, "sum_qty"),
    )


@register(
    "dq_quantiles",
    oracle=f"""
    SELECT {sql_round("quantile_cont(o_totalprice, 0.25)")} AS p25,
           {sql_round("quantile_cont(o_totalprice, 0.50)")} AS p50,
           {sql_round("quantile_cont(o_totalprice, 0.75)")} AS p75,
           {sql_round("quantile_cont(o_totalprice, 0.95)")} AS p95
    FROM orders
    """,
    tables=("orders",),
)
def dq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). At 100TB use percentile_approx — the checks compiler
    exposes both; exact here for the oracle."""
    df = table(spark, sf_dir, "orders")
    return df.agg(
        *[
            fx_round(F.expr(f"percentile(o_totalprice, {p})"), 2).alias(name)
            for name, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95))
        ]
    )


@register(
    "dq_distinct_count",
    oracle="""
    SELECT COUNT(DISTINCT c_mktsegment) AS distinct_segments,
           ROUND(COUNT(DISTINCT c_mktsegment) * 1.0 / COUNT(c_mktsegment), 6) AS unique_proportion
    FROM customer
    """,
    tables=("customer",),
)
def dq_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13/G14: distinct count + unique proportion in one pass."""
    c = F.col("c_mktsegment")
    return table(spark, sf_dir, "customer").agg(
        F.count_distinct(c).alias("distinct_segments"),
        F.round(F.count_distinct(c) / F.count(c), 6).alias("unique_proportion"),
    )


@register(
    "dq_most_common",
    oracle="""
    SELECT o_orderpriority AS most_common_value, COUNT(*) AS value_count
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY value_count DESC, most_common_value
    LIMIT 1
    """,
    tables=("orders",),
)
def dq_most_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15: most common value (mode) with deterministic tiebreak on value.
    groupBy+TakeOrdered(1): the shuffle carries one row per distinct value."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("most_common_value"))
        .agg(F.count(F.lit(1)).alias("value_count"))
        .orderBy(F.col("value_count").desc(), F.col("most_common_value"))
        .limit(1)
    )


@register(
    "dq_freshness",
    oracle="""
    SELECT MAX(ts) AS max_ts, COUNT(*) AS event_count
    FROM events
    """,
    tables=("events",),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G20: freshness = max event timestamp (lag vs now is policy, computed
    in the checks layer against params['as_of']). Replaces the reference's
    sleep-120s-then-revalidate barrier (pager-workflow.py:309-313)."""
    return table(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("event_count")
    )


@register(
    "dq_table_profile",
    oracle=f"""
    SELECT COUNT(*) AS row_count,
           COUNT(*) FILTER (WHERE c_custkey IS NULL) AS c_custkey__nulls,
           COUNT(DISTINCT c_custkey) AS c_custkey__distinct,
           MIN(CAST(c_custkey AS DOUBLE)) AS c_custkey__min,
           MAX(CAST(c_custkey AS DOUBLE)) AS c_custkey__max,
           {sql_avg("CAST(c_custkey AS DOUBLE)")} AS c_custkey__mean,
           COUNT(*) FILTER (WHERE c_name IS NULL) AS c_name__nulls,
           COUNT(DISTINCT c_name) AS c_name__distinct,
           MIN(LENGTH(c_name)) AS c_name__min_len,
           MAX(LENGTH(c_name)) AS c_name__max_len,
           COUNT(*) FILTER (WHERE c_acctbal IS NULL) AS c_acctbal__nulls,
           COUNT(DISTINCT c_acctbal) AS c_acctbal__distinct,
           MIN(CAST(c_acctbal AS DOUBLE)) AS c_acctbal__min,
           MAX(CAST(c_acctbal AS DOUBLE)) AS c_acctbal__max,
           {sql_avg("CAST(c_acctbal AS DOUBLE)")} AS c_acctbal__mean,
           COUNT(*) FILTER (WHERE c_mktsegment IS NULL) AS c_mktsegment__nulls,
           COUNT(DISTINCT c_mktsegment) AS c_mktsegment__distinct,
           MIN(LENGTH(c_mktsegment)) AS c_mktsegment__min_len,
           MAX(LENGTH(c_mktsegment)) AS c_mktsegment__max_len
    FROM customer
    """,
    tables=("customer",),
)
def dq_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.3 single-pass profiler: null/distinct/min/max/mean (numeric) and
    length bounds (string) for 4 customer columns in ONE scan — the
    profiling primitive the whole check layer tunes against."""
    from ..checks.profiler import profile_table

    return profile_table(
        table(spark, sf_dir, "customer"),
        columns=["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
    )


@register(
    "dq_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_id, value,
             AVG(value) OVER () AS mu,
             STDDEV(value) OVER () AS sigma
      FROM events
    )
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE ABS(value - mu) / sigma > 3) AS outliers_3s,
           COUNT(*) FILTER (WHERE ABS(value - mu) / sigma > 4) AS outliers_4s
    FROM stats
    """,
    tables=("events",),
)
def dq_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: z-score outlier counts at 3σ/4σ — the in-engine
    form of the anomaly investigation the reference delegates to its LLM
    agent ("validate the data quality and investigate any anomalies",
    /root/reference/airflow/dags/Glue-etl-pipeline.py:14). Two-pass shape:
    mu/sigma come from a 1-row aggregate that is broadcast back onto the
    scan, so no stage ever co-locates the raw rows (an unpartitioned
    window would move every row to one partition — a guaranteed straggler
    at scale)."""
    ev = table(spark, sf_dir, "events").select("value")
    stats = ev.agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sigma")
    )
    df = ev.crossJoin(F.broadcast(stats))
    z = F.abs(F.col("value") - F.col("mu")) / F.col("sigma")
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(z > 3, 1).otherwise(0)).alias("outliers_3s"),
        F.sum(F.when(z > 4, 1).otherwise(0)).alias("outliers_4s"),
    )


@register(
    "dq_kl_divergence",
    oracle=f"""
    WITH hist AS (
      SELECT event_type, COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () AS p
      FROM events GROUP BY event_type
    )
    SELECT {sql_round("SUM(p * ln(p / 0.2))", 6)} AS kl_divergence,
           COUNT(*) AS n_buckets
    FROM hist
    """,
    tables=("events",),
)
def dq_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G18: KL divergence of the observed event_type distribution vs the
    uniform expectation (5 types → q=0.2). Histogram via groupBy, total as
    a 1-row aggregate broadcast back onto the buckets (not an unpartitioned
    window — even over a bounded histogram that co-locates rows and spams
    WindowExec warnings) — no driver-side math, so it scales with the scan."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.agg(F.sum("n").alias("__t"))
    hist = counts.crossJoin(F.broadcast(totals)).select(
        (F.col("n") / F.col("__t")).alias("p")
    )
    return hist.agg(
        fx_round(F.sum(F.col("p") * F.log(F.col("p") / 0.2)), 6).alias(
            "kl_divergence"
        ),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@register(
    "dq_pair_check",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (
             WHERE NOT (l_extendedprice > l_quantity)
           ) AS pair_violations
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_pair_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16: column-pair invariant (extendedprice strictly above quantity)."""
    viol = ~(F.col("l_extendedprice") > F.col("l_quantity"))
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(viol, 1).otherwise(0)).alias("pair_violations"),
    )


@register(
    "dq_expression_rule",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (
             WHERE NOT (o_totalprice > 0 AND (o_orderstatus <> 'F' OR o_totalprice < 600000))
           ) AS rule_violations
    FROM orders
    """,
    tables=("orders",),
)
def dq_expression_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R19 escape hatch: an arbitrary SQL business rule compiled through the
    'expression' check type — custom logic without leaving the JVM."""
    tables = {"orders": table(spark, sf_dir, "orders")}
    results = run_suite(
        tables,
        [
            Check(
                "custom rule",
                "expression",
                "orders",
                params={
                    "condition": "o_totalprice > 0 AND "
                    "(o_orderstatus <> 'F' OR o_totalprice < 600000)"
                },
            )
        ],
    )
    r = results[0]
    return local_frame(
        spark, [(r.total, r.violations)], "total bigint, rule_violations bigint"
    )


@register(
    "dq_monotonic_events",
    oracle="""
    WITH seq AS (
      SELECT ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      FROM events
    )
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts)
             AS monotonic_violations
    FROM seq
    """,
    tables=("events",),
)
def dq_monotonic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE increasing-values check through the engine's ``monotonic`` check
    type: per-user, event timestamps must not regress when replayed in
    event_id order. The per-user partition keeps the lag window distributed
    (no global sort)."""
    results = run_suite(
        {"events": table(spark, sf_dir, "events")},
        [
            Check(
                "ts monotonic per user",
                "monotonic",
                "events",
                column="ts",
                params={"order_by": "event_id", "partition_by": "user_id"},
            )
        ],
    )
    r = results[0]
    return local_frame(
        spark, [(r.total, r.violations)], "total bigint, monotonic_violations bigint"
    )


@register(
    "dq_json_validity",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(*) FILTER (WHERE props IS NOT NULL AND NOT json_valid(props))
             AS invalid_json
    FROM events
    """,
    tables=("events",),
)
def dq_json_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE json-parseable check through the ``json_parseable`` check type
    (Spark ``try_parse_json`` vs DuckDB ``json_valid``) — schema-on-read
    hygiene for the semi-structured props column."""
    results = run_suite(
        {"events": table(spark, sf_dir, "events")},
        [Check("props parse", "json_parseable", "events", column="props")],
    )
    r = results[0]
    return local_frame(
        spark, [(r.total, r.violations)], "total bigint, invalid_json bigint"
    )


@register(
    "dq_distinct_coverage",
    oracle="""
    SELECT CAST(3 - COUNT(DISTINCT CASE WHEN o_orderstatus IN ('O','F','P')
                                        THEN o_orderstatus END) AS BIGINT)
             AS missing_values,
           COUNT(DISTINCT o_orderstatus) AS distinct_count
    FROM orders
    """,
    tables=("orders",),
)
def dq_distinct_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE distinct-values-contain-set check: every expected status code must
    actually occur (coverage, the dual of the whitelist). Two-level groupBy
    factor — the distinct set never leaves the executors."""
    results = run_suite(
        {"orders": table(spark, sf_dir, "orders")},
        [
            Check(
                "status coverage",
                "distinct_contain_set",
                "orders",
                column="o_orderstatus",
                params={"values": ORDERSTATUS_DOMAIN},
            )
        ],
    )
    r = results[0]
    return local_frame(
        spark,
        [(r.violations, int(r.observed["distinct_count"]))],
        "missing_values bigint, distinct_count bigint",
    )


@register(
    "dq_rowcount_match",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders) AS orders_count,
           (SELECT COUNT(*) FROM customer) AS customer_count
    """,
    tables=("orders", "customer"),
)
def dq_rowcount_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE row-count-vs-other-table check (dbt cardinality test): orders is
    exactly 10x customer in this schema; both counts land in one job via a
    crossJoin of 1-row aggregates."""
    tables = {
        "orders": table(spark, sf_dir, "orders"),
        "customer": table(spark, sf_dir, "customer"),
    }
    results = run_suite(
        tables,
        [
            Check(
                "orders/customer ratio",
                "row_count_equal_other_table",
                "orders",
                params={"other_table": "customer", "ratio": 10.0},
            )
        ],
    )
    r = results[0]
    return local_frame(
        spark,
        [(int(r.observed["row_count"]), int(r.observed["other_row_count"]))],
        "orders_count bigint, customer_count bigint",
    )


# ---------------------------------------------------------------------------
# Suite runner end-to-end: the engine's check compiler + fused scan + report,
# verified against a UNION ALL oracle replicating each check's semantics.
# ---------------------------------------------------------------------------

_SUITE = [
    Check("lineitem row count", "row_count_between", "lineitem", params={"min": 1}),
    Check("orders custkey not null", "not_null", "orders", column="o_custkey"),
    Check(
        "orders status in domain",
        "values_in_set",
        "orders",
        column="o_orderstatus",
        # categorical: evaluate the predicate on the 3 distinct statuses
        # weighted by counts, not once per row (compiler.py)
        params={"values": ORDERSTATUS_DOMAIN, "categorical": True},
    ),
    Check(
        "orders priority regex",
        "match_regex",
        "orders",
        column="o_orderpriority",
        # categorical: 5 regex evaluations instead of |orders| (measured
        # ~56 exec-s -> ~3 at sf10)
        params={"regex": PRIORITY_REGEX, "categorical": True},
    ),
    Check(
        "lineitem discount range",
        "values_between",
        "lineitem",
        column="l_discount",
        params={"min": 0.0, "max": 0.05},
    ),
    Check("orders key unique", "unique", "orders", column="o_orderkey"),
    Check(
        "nation name whitelist",
        "values_in_set",
        "nation",
        column="n_name",
        params={"values": NATION_WHITELIST},
    ),
    Check(
        "orders customer exists",
        "referential_integrity",
        "orders",
        column="o_custkey",
        # no broadcast hint: AQE already converts the anti-join to
        # broadcast when the parent key set is small, and the explicit
        # hint was measured SLOWER at every scale (sf0.1 0.35 vs 0.26 s,
        # sf10 1.07 vs 0.93 s) — the forced broadcast build costs more
        # than it saves, and a genuinely large parent must shuffle anyway
        params={"parent_table": "customer", "parent_column": "c_custkey"},
    ),
]

_SUITE_ORACLE = f"""
SELECT 'lineitem row count' AS check_name,
       CASE WHEN COUNT(*) >= 1 THEN 'pass' ELSE 'fail' END AS status,
       CAST(NULL AS BIGINT) AS violations
FROM lineitem
UNION ALL
SELECT 'orders custkey not null',
       CASE WHEN COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0 THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE o_custkey IS NULL)
FROM orders
UNION ALL
SELECT 'orders status in domain',
       CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P')) = 0
            THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P'))
FROM orders
UNION ALL
SELECT 'orders priority regex',
       CASE WHEN COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '{PRIORITY_REGEX}')) = 0
            THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '{PRIORITY_REGEX}'))
FROM orders
UNION ALL
SELECT 'lineitem discount range',
       CASE WHEN COUNT(*) FILTER (WHERE l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05)) = 0
            THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05))
FROM lineitem
UNION ALL
SELECT 'orders key unique',
       CASE WHEN COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0 THEN 'pass' ELSE 'fail' END,
       COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'nation name whitelist',
       CASE WHEN COUNT(*) FILTER (WHERE n_name IS NOT NULL AND n_name NOT IN ({", ".join(f"'{n}'" for n in NATION_WHITELIST)})) = 0
            THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE n_name IS NOT NULL AND n_name NOT IN ({", ".join(f"'{n}'" for n in NATION_WHITELIST)}))
FROM nation
UNION ALL
SELECT 'orders customer exists',
       CASE WHEN COUNT(*) FILTER (WHERE c.c_custkey IS NULL) = 0 THEN 'pass' ELSE 'fail' END,
       COUNT(*) FILTER (WHERE c.c_custkey IS NULL)
FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register(
    "dq_suite_report",
    oracle=_SUITE_ORACLE,
    tables=("lineitem", "orders", "nation", "customer"),
)
def dq_suite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: the check-suite runner end-to-end — 8 declarative checks compiled
    and executed with scan fusion (3 fused scans + 1 anti-join instead of 8
    table passes), per-check fault isolation, report rows out. This is the
    engine's flagship DQ surface (pager-workflow.py:153-245 semantics).

    100 TB posture: this declared suite keeps the EXACT unique check (a
    per-key shuffle — the suite's cost floor, ~2 of 3.8 s at sf10) because
    the oracle certifies exact violation counts. At scale the suite runs
    the sketch variant instead (``params={"approx": True}`` on unique /
    unique_count_between — HLL in the fused scan, no extra shuffle);
    ``dq_suite_report_approx`` is that configuration, declared rows-only
    because sketch estimates are engine-specific."""
    tables = {
        name: table(spark, sf_dir, name)
        for name in ("lineitem", "orders", "nation", "customer")
    }
    results = run_suite(tables, _SUITE)
    rows = [(r.check_name, r.status, r.violations) for r in results]
    return local_frame(spark, rows, "check_name string, status string, violations bigint")


@register(
    "dq_key_skew",
    oracle="""
    WITH counts AS (
      SELECT l_orderkey AS key, COUNT(*) AS key_count
      FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(key_count) AS BIGINT) AS total_rows
      FROM counts
    ),
    topk AS (
      SELECT key, key_count FROM counts
      ORDER BY key_count DESC, key LIMIT 5
    )
    SELECT t.key,
           t.key_count,
           t.key_count / s.total_rows AS share,
           t.key_count / (s.total_rows / s.n_keys) AS x_avg,
           s.n_keys,
           s.total_rows
    FROM topk t, stats s
    ORDER BY t.key_count DESC, t.key
    """,
    tables=("lineitem",),
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight check that decides
    salting / skew-join handling before a 100 TB shuffle: per-key counts,
    then the top-5 heavy hitters with their share of all rows and their
    multiple of the mean key size. A `x_avg` in the hundreds on a
    planned join key is the signal to salt or let AQE skew-split.

    Plan (r8 rewrite — PACKED COUNTERS, the vertical-bitmap trick
    generalized from membership bits to 7-bit counts): instead of a
    groupBy over every distinct key (15M groups at sf10 — the
    pass-through-partial signature cost), group by ``key >> 3`` and sum
    ``1 << (key & 7) * 7`` — 8 keys per 64-bit word in 7-bit slots, one
    hash upsert per row into a table 8× smaller, and the shuffle carries
    8× fewer rows. Per-key counts are recovered exactly by slot
    extraction (posexplode of 8 shift/mask terms, post-shuffle, no extra
    exchange), the key by ``word * 8 + slot`` (a two's-complement
    identity, exact for ALL longs including negatives). Slots are 7 bits
    — NOT 8 — so the maximally-loaded valid word sums to 2^56−1 and can
    NEVER trip ANSI overflow on valid data (8-bit slots would: a slot-7
    key with a legitimate count in [128, 255] contributes ≥ 2^63).
    EXACTNESS: a word's slots are exact while each of its keys counts
    ≤ 127. A slot carry moves 128 units out of a slot and adds 1 to the
    next, strictly shrinking the recovered slot sum, so a word is CLEAN
    iff Σ(its slots) equals its true COUNT(*) carried through the same
    aggregate. ``try_sum`` turns an extreme top-slot pile-up (a slot-7
    key counted ≥ 2^14 times reaches 2^63) into a NULL word sum instead
    of an ANSI overflow, and the NULL-key word has a NULL sum by
    construction: both compare as not clean. Clean words posexplode;
    every other word is RECOUNTED in-plan — a left-semi join of lineitem
    against the broadcast carried words on ``l_orderkey >> 3`` (null-safe,
    so the NULL key keeps its oracle group), then a plain per-key
    groupBy. On a carry-free domain the carried side is empty and AQE
    drops the recount branch, scan included. The query never raises and
    is exact for every long key domain.
    Measured sf10 before the recount branch: 2.88 → 1.56 s (alternating
    medians of 3, quiet box); value-identical output, same oracle. Top-5
    via TakeOrderedAndProject — the key-count frame never sorts globally
    and never collects.
    Arithmetic is two IEEE-exact divisions (share, then count over the
    precomputed mean), so the DuckDB oracle matches bit-for-bit."""
    li = table(spark, sf_dir, "lineitem")
    contrib = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST((l_orderkey & 7) * 7 AS INT))"
    )
    word = F.shiftright(F.col("l_orderkey"), 3)
    packed = li.groupBy(word.alias("word")).agg(
        F.try_sum(contrib).alias("p"),
        F.count(F.lit(1)).alias("true_rows"),
    )
    slots = [F.expr(f"(p >> {s * 7}) & 127") for s in range(8)]
    clean = F.coalesce(
        sum(slots[1:], slots[0]) == F.col("true_rows"), F.lit(False)
    )
    clean_counts = (
        packed.filter(clean)
        .select(
            "word",
            F.posexplode(
                F.array(*[s.cast("long") for s in slots])
            ).alias("slot", "key_count"),
        )
        .filter(F.col("key_count") > 0)
        .select((F.col("word") * 8 + F.col("slot")).alias("key"), "key_count")
    )
    carried = F.broadcast(packed.filter(~clean).select("word"))
    recount = (
        li.join(carried, word.eqNullSafe(carried["word"]), "left_semi")
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("key_count"))
    )
    key_counts = clean_counts.unionByName(recount)
    stats = key_counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("key_count").alias("total_rows"),
    )
    # NULLS LAST matches the oracle's ORDER BY for a NULL-key group
    order = (F.col("key_count").desc(), F.col("key").asc_nulls_last())
    topk = key_counts.orderBy(*order).limit(5)
    return (
        topk.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "key_count",
            (F.col("key_count") / F.col("total_rows")).alias("share"),
            (
                F.col("key_count")
                / (F.col("total_rows") / F.col("n_keys"))
            ).alias("x_avg"),
            "n_keys",
            "total_rows",
        )
        .orderBy(*order)
    )


@register(
    "dq_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders
    ),
    dev AS (
      SELECT quantile_cont(ABS(o_totalprice - med.m), 0.5) AS mad
      FROM orders, med
    )
    SELECT {sql_round("med.m", 2)} AS median_value,
           {sql_round("dev.mad", 2)} AS mad,
           CAST(COUNT(CASE WHEN ABS(o_totalprice - med.m) > dev.mad * 4.4478 THEN 1 END) AS BIGINT)
             AS n_outliers,
           COUNT(CASE WHEN ABS(o_totalprice - med.m) > dev.mad * 4.4478 THEN 1 END)
             / COUNT(*) AS outlier_rate
    FROM orders, med, dev
    GROUP BY med.m, dev.mad
    """,
    tables=("orders",),
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier check via median absolute deviation: flag rows
    beyond 3 robust standard deviations (3 x 1.4826 = 4.4478, written as
    ONE literal so neither engine's constant folding can reorder the
    product). Unlike the z-score check (``dq_anomaly_zscore``), MAD is
    insensitive to the outliers it hunts — the estimator every skewed
    money column needs.

    Plan: the two chained medians (median, then median of absolute
    deviations — the chain is inherent to MAD) run through
    ``operators.quantiles.exact_quantile`` — rank selection by bucket
    narrowing: 3 cheap codegen passes per median instead of Spark's
    sort-based ObjectHashAggregate ``percentile`` (measured 2.2 s → 0.55 s
    per median at sf10, and no O(distinct) single-task state, so the shape
    survives 100 TB). The interpolation formula is Spark's own
    ``Percentile`` lerp, so the value is identical to the built-in. The
    final outlier count folds into one map-combined aggregate with both
    medians inlined as literals. At 100 TB with relaxed exactness use
    ``approx_percentile`` — one pass, mergeable sketches."""
    from ..operators.quantiles import exact_quantile

    orders = table(spark, sf_dir, "orders")
    # one stats pass serves BOTH medians: the deviation column's count is
    # the same and [0, max(m-mn, mx-m)] is a containing range for |x - m|
    stat = orders.agg(
        F.count("o_totalprice").alias("n"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    ).collect()[0]
    n, mn, mx = stat["n"], float(stat["mn"] or 0), float(stat["mx"] or 0)
    m = exact_quantile(orders, "o_totalprice", 0.5, stats=(n, mn, mx))
    mad = exact_quantile(
        orders,
        F.abs(F.col("o_totalprice") - F.lit(m)),
        0.5,
        stats=(n, 0.0, max(m - mn, mx - m) if n else 0.0),
    )
    is_out = F.abs(F.col("o_totalprice") - F.lit(m)) > F.lit(mad) * F.lit(
        4.4478
    )
    return orders.agg(
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.count(F.lit(1)).alias("__n"),
    ).select(
        fx_round(F.lit(m), 2).alias("median_value"),
        fx_round(F.lit(mad), 2).alias("mad"),
        F.col("n_outliers"),
        (F.col("n_outliers") / F.col("__n")).alias("outlier_rate"),
    )


@register(
    "dq_histogram",
    oracle="""
    WITH b AS (
      SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
    ),
    bucketed AS (
      SELECT LEAST(19, CAST(FLOOR((o_totalprice - b.mn) * (20.0 / (b.mx - b.mn))) AS BIGINT)) AS bucket
      FROM orders, b
      WHERE o_totalprice IS NOT NULL AND b.mx > b.mn
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(*) / SUM(COUNT(*)) OVER () AS fraction
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tables=("orders",),
)
def dq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 buckets) of a numeric column — the
    profiling primitive under drift detection and the KL/chi-square
    checks. Bucketing reuses the quantizer's IEEE-exact affine form
    (subtract, one multiply with the single literal 20.0/(mx-mn) division,
    floor, clamp), so bucket assignment is bit-identical cross-engine.

    Plan: 1-row min/max aggregate broadcast onto the scan (same pass
    shape as ``dq_anomaly_zscore``), one map-combined groupBy on the
    bucket id, and the fraction normalization as a window over the ≤ 20
    result rows."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    bucket = F.least(
        F.lit(19),
        F.floor(
            (F.col("o_totalprice") - F.col("mn"))
            * (F.lit(20.0) / (F.col("mx") - F.col("mn")))
        ),
    )
    counts = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("mx") > F.col("mn"))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.partitionBy()
    return counts.select(
        "bucket",
        "n_rows",
        (F.col("n_rows") / F.sum("n_rows").over(w)).alias("fraction"),
    ).orderBy("bucket")


# Benford expected first-digit shares, log10(1 + 1/d), inlined as exact
# Python-float reprs so BOTH engines consume the identical IEEE double
# (neither side computes a log at query time — libm drift can't appear).
_BENFORD = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN CAST('{v!r}' AS DOUBLE)" for d, v in _BENFORD.items()
) + " END"


@register(
    "dq_benford",
    oracle=f"""
    WITH digits AS (
      SELECT SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    agg AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    )
    SELECT digit, n,
           n / SUM(n) OVER () AS share,
           {_BENFORD_CASE} AS benford_expected,
           n / SUM(n) OVER () - {_BENFORD_CASE} AS deviation
    FROM agg ORDER BY digit
    """,
    tables=("orders",),
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of a money column — the
    fraud/fabrication screen auditors run on transaction amounts. Reports
    per-digit observed share vs the Benford expectation so the caller can
    gate on max |deviation|.

    Digit extraction stays integer/string-exact (first character of the
    BIGINT integer part — no log10, whose floor at decade boundaries is
    libm-dependent). Plan: one map-combined groupBy onto ≤ 9 rows, then
    the share normalization as a window over those result rows only."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    )
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    expected = F.coalesce(
        *[
            F.when(F.col("digit") == str(d), F.lit(v))
            for d, v in _BENFORD.items()
        ]
    )
    share = F.col("n") / F.sum("n").over(w)
    return counts.select(
        "digit",
        "n",
        share.alias("share"),
        expected.alias("benford_expected"),
        (share - expected).alias("deviation"),
    ).orderBy("digit")


@register(
    "dq_correlation",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM((x * y) // 1073741824) AS BIGINT) AS sxy_hi,
             CAST(SUM((x * y) %  1073741824) AS BIGINT) AS sxy_lo,
             CAST(SUM((x * x) // 1073741824) AS BIGINT) AS sxx_hi,
             CAST(SUM((x * x) %  1073741824) AS BIGINT) AS sxx_lo,
             CAST(SUM((y * y) // 1073741824) AS BIGINT) AS syy_hi,
             CAST(SUM((y * y) %  1073741824) AS BIGINT) AS syy_lo
      FROM q
    ),
    d AS (
      SELECT n,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxy_hi AS DOUBLE) * 1073741824.0 + CAST(sxy_lo AS DOUBLE) AS sxy,
             CAST(sxx_hi AS DOUBLE) * 1073741824.0 + CAST(sxx_lo AS DOUBLE) AS sxx,
             CAST(syy_hi AS DOUBLE) * 1073741824.0 + CAST(syy_lo AS DOUBLE) AS syy
      FROM s
    )
    SELECT n,
           (nd * sxy - sxd * syd)
           / (SQRT(nd * sxx - sxd * sxd) * SQRT(nd * syy - syd * syd))
             AS pearson_r,
           (nd * sxy - sxd * syd) / (nd * sxx - sxd * sxd) AS slope
    FROM d
    """,
    tables=("lineitem",),
)
def dq_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column correlation profile (Pearson r + OLS slope) between
    quantity and extended price — the relationship check under "are these
    two columns still moving together?" drift monitoring.

    Determinism via SPLIT SUMS (r7 rewrite of the DECIMAL(38,0) form —
    the 128-bit multiplies were the whole 4.1× sf10 cost, 2.1 → ~0.9 s):
    each per-row product (x·y, x², y² over the 4-dp fixed-point values)
    is an exact BIGINT, split into (p >> 30, p & (2^30−1)) and summed as
    two plain 64-bit integer aggregates — both exact, so the moment is
    recovered exactly as hi·2^30 + lo. The recovery and the closed-form
    combination run in doubles with an IDENTICAL expression tree on both
    engines (same IEEE ops, same order → bit-identical results; the
    DuckDB twin spells ``//``/``%`` where Spark uses shift/mask — equal
    on the non-negative products these are). Precondition: values
    non-negative (floor of positive money/qty) — ENFORCED in-plan since
    r8 (ADVICE r7): min(x)/min(y) ride the same single aggregate (no
    extra scan) and the 1-row post-aggregate filter raises on a negative
    input instead of silently diverging (Spark's shiftright is floor /
    two's-complement where the oracle's ``//``/``%`` truncate — returns
    or corrections data would corrupt the moments without this). The
    raise lives on the 1-row result, so the 6M-row map-combine stage
    stays whole-stage-codegen and no concurrent stage can race the guard
    (bit ops never throw). Overflow posture: the lo
    sum stays in-range to 2^33 rows (~850× this sf10, ≈140 TB of
    lineitem) and ANSI mode fails LOUDLY beyond, never silently — the
    ``dq_correlation_approx`` double path is the unbounded fallback.
    One scan, partial+final aggregation, 1-row result — a pure
    map-combine, no shuffle beyond the 1-row partials."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x = F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("long")
    y = F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5)).cast("long")
    mask = F.lit(1073741823)  # 2^30 - 1

    def split_sums(prod, name):
        return [
            F.sum(F.shiftright(prod, 30)).alias(f"{name}_hi"),
            F.sum(prod.bitwiseAND(mask)).alias(f"{name}_lo"),
        ]

    s = li.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        *split_sums(F.col("x") * F.col("y"), "sxy"),
        *split_sums(F.col("x") * F.col("x"), "sxx"),
        *split_sums(F.col("y") * F.col("y"), "syy"),
        F.min("x").alias("_mnx"),
        F.min("y").alias("_mny"),
    ).filter(
        F.when(
            # NULL min = empty input: vacuously non-negative, must not raise
            F.col("_mnx").isNull()
            | ((F.col("_mnx") >= 0) & (F.col("_mny") >= 0)),
            F.lit(True),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "dq_correlation: split-sum decomposition requires"
                    " non-negative inputs (shift/mask vs //-% semantics"
                    " diverge below zero); use dq_correlation_approx for"
                    " signed data"
                )
            ).cast("boolean")
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")

    def recover(name):
        return (
            F.col(f"{name}_hi").cast("double") * F.lit(1073741824.0)
            + F.col(f"{name}_lo").cast("double")
        )

    sxy, sxx, syy = recover("sxy"), recover("sxx"), recover("syy")
    cov_n = nd * sxy - sxd * syd
    var_x = nd * sxx - sxd * sxd
    var_y = nd * syy - syd * syd
    return s.select(
        "n",
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("pearson_r"),
        (cov_n / var_x).alias("slope"),
    )


@register(
    "dq_correlation_approx",
    oracle=None,  # double moment sums are summation-order-dependent; the
    # exact-vs-approx agreement is pinned in tests/test_checks.py instead
    tables=("lineitem",),
)
def dq_correlation_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for ``dq_correlation``: identical Pearson r + OLS
    slope formulas, but the five moment sums run as plain DOUBLE
    aggregates instead of exact DECIMAL(38,0) — the suite's approx
    precedent (HLL uniqueness, approx quantiles). The DECIMAL products
    are the CPU cost of the exact form (128-bit multiplies per row,
    measured 2.3 s vs 0.9 s at sf10); a profiling/drift monitor doesn't
    need the last ulp, and centering x/y on their first-row magnitude is
    unnecessary here because the fixed-point units keep |x·y| < 2^63 so
    the double sums lose only low-order bits (agreement with the exact
    path is pinned to 1e-9 relative in tests). Exact stays the default
    (``dq_correlation``) and keeps the oracle."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x = F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("double")
    y = F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5)).cast("double")
    s = li.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("pearson_r"),
        (cov_n / var_x).alias("slope"),
    )


@register(
    "dq_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS key,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    new AS (
      SELECT o_orderkey AS key,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN o.key IS NULL THEN 'added'
                  WHEN n.key IS NULL THEN 'removed'
                  WHEN o.cents <> n.cents OR o.status <> n.status THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM old o FULL OUTER JOIN new n ON o.key = n.key
    ) GROUP BY change_type ORDER BY change_type
    """,
    tables=("orders",),
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (operators/snapshot.py): classify every key
    across two table versions as added / changed / removed / unchanged —
    the "what did the refresh actually change?" audit the reference's
    re-run-then-revalidate loop (pager-workflow.py:292-322) never answers.

    The two snapshots are carved deterministically from ``orders`` (old
    drops keys % 97, new drops keys % 89 and bumps price cents on keys
    % 13). The oracle classifies by direct column comparison; the engine
    classifies by a 64-bit xxhash fingerprint computed BEFORE the full
    outer join, so at 100 TB only (key, fingerprint) pairs cross the
    shuffle — value-identical classes, scale-different plan."""
    from ..operators.snapshot import diff_summary

    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        cents.alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    old = base.filter(F.col("key") % 97 != 0)
    new = base.filter(F.col("key") % 89 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("key") % 13 == 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return diff_summary(old, new, keys=["key"], compare_cols=["cents", "status"])


@register(
    "dq_reconciliation",
    oracle="""
    WITH line_sums AS (
      SELECT l_orderkey,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderkey,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
             l.line_cents
      FROM orders o LEFT JOIN line_sums l ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(line_cents) AS BIGINT) AS n_with_lines,
           CAST(COUNT(*) FILTER (WHERE line_cents IS NULL) AS BIGINT) AS n_childless,
           CAST(COUNT(*) FILTER (WHERE line_cents IS NOT NULL
                                   AND line_cents <> header_cents) AS BIGINT) AS n_mismatched,
           COUNT(*) FILTER (WHERE line_cents IS NOT NULL
                              AND line_cents <> header_cents)
             / COUNT(line_cents) AS mismatch_rate
    FROM joined
    """,
    tables=("orders", "lineitem"),
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation ("does the fact foot to the header"):
    per-order lineitem price sums compared against the order header
    total — the financial-close check a warehouse runs between every
    fact and its rollup, one level up from row-level referential
    integrity (G19/G24 check row counts; this checks VALUES).

    Determinism: both sides quantize to exact integer cents before
    summing/comparing. Plan: lineitem pre-aggregates to per-order cents
    (map-combined) BEFORE the join, so the join carries one row per
    order, not one per line; the final count is a 1-row conditional
    aggregate. Two shuffles total (agg + join), both on the order key —
    on bucketed tables (write_bucketed) the join shuffle disappears."""
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    line_sums = lineitem.groupBy("l_orderkey").agg(
        F.sum(cents("l_extendedprice")).alias("line_cents")
    )
    joined = orders.select(
        "o_orderkey", cents("o_totalprice").alias("header_cents")
    ).join(line_sums, orders["o_orderkey"] == line_sums["l_orderkey"], "left")
    mismatch = F.col("line_cents").isNotNull() & (
        F.col("line_cents") != F.col("header_cents")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("line_cents").alias("n_with_lines"),
        F.count(F.when(F.col("line_cents").isNull(), 1)).alias("n_childless"),
        F.count(F.when(mismatch, 1)).alias("n_mismatched"),
        (F.count(F.when(mismatch, 1)) / F.count("line_cents")).alias(
            "mismatch_rate"
        ),
    )


@register(
    "dq_k_anonymity",
    oracle="""
    WITH combos AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_combos,
           CAST(MIN(n) AS BIGINT) AS k_anonymity,
           CAST(COUNT(*) FILTER (WHERE n < 5) AS BIGINT) AS combos_below_5,
           CAST(COALESCE(SUM(n) FILTER (WHERE n < 5), 0) AS BIGINT) AS rows_at_risk
    FROM combos
    """,
    tables=("customer",),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns (nation × market
    segment): the table's k (size of the smallest identifying combo), how
    many combos fall below k=5, and how many ROWS those combos expose —
    the privacy-release counterpart of the PII scan (PII finds direct
    identifiers; k-anonymity measures re-identification risk from
    indirect ones).

    Plan: one map-combined groupBy onto the combo frame, then a 1-row
    aggregate over combo counts — scales like any two-level aggregate;
    at 100 TB the combo frame is bounded by quasi-identifier cardinality,
    not row count."""
    combos = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    below = F.when(F.col("n") < 5, F.col("n"))
    return combos.agg(
        F.count(F.lit(1)).alias("n_combos"),
        F.min("n").alias("k_anonymity"),
        F.count(below).alias("combos_below_5"),
        F.coalesce(F.sum(below), F.lit(0)).alias("rows_at_risk"),
    )


@register(
    "dq_distribution_drift",
    oracle=f"""
    WITH halves AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref' ELSE 'cur' END AS period
      FROM events
    ),
    hist AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE period = 'ref') AS n_ref,
             COUNT(*) FILTER (WHERE period = 'cur') AS n_cur
      FROM halves GROUP BY event_type
    ),
    shares AS (
      SELECT event_type,
             n_ref / SUM(n_ref) OVER () AS p,
             n_cur / SUM(n_cur) OVER () AS q
      FROM hist
    )
    SELECT {sql_round("SUM((q - p) * ln(q / p))", 6)} AS psi,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM shares
    """,
    tables=("events",),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference period (first half
    of the month) and the current period — the standard drift gate
    (PSI < 0.1 stable, > 0.25 action) run on every scoring pipeline,
    complementing the one-sided KL check (G18) with the symmetric
    production metric.

    Plan: both periods' histograms come from ONE scan (conditional
    aggregation on the period flag — not two passes), the share
    normalization and PSI sum run over the ≤ |types| result rows.
    ``ln`` is rounded to 6 dp on both sides (the KL precedent: last-ulp
    libm drift is rounded away)."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    hist = events.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") < cutoff, 1)).alias("n_ref"),
        F.count(F.when(F.col("ts") >= cutoff, 1)).alias("n_cur"),
    )
    w = Window.partitionBy()
    shares = hist.select(
        (F.col("n_ref") / F.sum("n_ref").over(w)).alias("p"),
        (F.col("n_cur") / F.sum("n_cur").over(w)).alias("q"),
    )
    psi = F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")))
    return shares.agg(
        fx_round(psi, 6).alias("psi"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@register(
    "dq_fd_check",
    oracle=f"""
    WITH pairs AS (
      SELECT o_custkey AS k, o_orderpriority AS v, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    per_key AS (
      SELECT k, COUNT(*) AS n_vals, SUM(n) AS n_rows, MAX(n) AS max_n
      FROM pairs GROUP BY k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_keys,
           CAST(SUM(n_rows - max_n) AS BIGINT) AS violating_rows,
           {sql_round("CAST(SUM(max_n) AS DOUBLE) / SUM(n_rows)", 6)} AS fd_strength
    FROM per_key
    """,
    tables=("orders",),
)
def dq_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit for the candidate FD
    ``o_custkey -> o_orderpriority``: how close is the determinant to
    actually determining the dependent? Reports violating keys (keys with
    >1 distinct dependent value), violating rows (rows outside each key's
    majority value — the minimum deletions to make the FD hold, the g3
    measure from FD-discovery literature), and the row-level strength.

    This is the profiling step before declaring a uniqueness/consistency
    contract (G4/G5 check a *declared* key; this *discovers* whether a
    dependency is real) — the same two-level-aggregate shape as the
    Expand-free ``dq_uniqueness``: groupBy(key, value) first (map-side
    combine collapses the fact), then groupBy(key), then one 1-row
    summary. Pure BIGINT counts + one final division, so the oracle
    matches bit-for-bit."""
    pairs = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderpriority").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_key = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("n_vals") > 1, 1).otherwise(0)).alias("violating_keys"),
        F.sum(F.col("n_rows") - F.col("max_n")).alias("violating_rows"),
        fx_round(
            F.sum("max_n").cast("double") / F.sum("n_rows"), 6
        ).alias("fd_strength"),
    )


@register(
    "dq_sequence_gaps",
    # completeness-by-range audit on a supposedly-contiguous id column:
    # per 1000-id bucket, how many ids in [min,max] are absent. All-integer.
    oracle="""
    SELECT event_id // 1000 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id,
           MAX(event_id) - MIN(event_id) + 1 - CAST(COUNT(*) AS BIGINT)
             AS missing_in_range
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    tables=("events",),
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: lost-row detection on a monotonically assigned
    id. The naive form (LAG over the whole id order) is an unpartitioned
    window over raw rows — the round-1 scale-killer class. This form gets
    the same signal (which id ranges lost rows, and how many) from a plain
    groupBy on ``id div 1000``: min/max/count per bucket imply the number
    of absent ids with zero sorting and full map-side combine. Duplicate
    ids would show as negative missing_in_range — also a finding."""
    events = table(spark, sf_dir, "events")
    b = F.expr("event_id div 1000")
    return (
        events.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            "bucket",
            "n_rows",
            "min_id",
            "max_id",
            (F.col("max_id") - F.col("min_id") + 1 - F.col("n_rows")).alias(
                "missing_in_range"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "dq_distinct_sketch",
    # rows-only: HLL sketch estimates are Apache DataSketches-specific, so
    # no DuckDB twin can match values. Merge identity + error band are
    # pinned by tests/test_seventeenth_pass.py instead.
    oracle=None,
    tables=("events",),
)
def dq_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark's hll_sketch_agg): the incremental pattern behind G13's approx
    switch. At 100 TB you never re-scan history to refresh a distinct
    count — each new partition contributes a ~1 KB sketch, and
    hll_union folds sketches into the running total. This query proves
    the algebra on one table: the union of per-half sketches vs the
    whole-table sketch, against the exact count.

    Output: exact distinct, whole-sketch estimate, merged-halves
    estimate, and the relative error (pct, 4 dp). The two estimates use
    the same lgConfigK=12, so merge costs no accuracy."""
    events = table(spark, sf_dir, "events")
    whole = events.agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("sketch_estimate"),
    )
    halves = events.groupBy(F.pmod(F.col("event_id"), F.lit(2)).alias("h")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    return whole.crossJoin(F.broadcast(merged)).select(
        "exact_distinct",
        "sketch_estimate",
        "merged_estimate",
        fx_round(
            F.abs(F.col("sketch_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            * 100,
            4,
        ).alias("rel_error_pct"),
    )


def _cms_point_query(buf: bytes):
    """Point-frequency lookup over Spark's serialized CountMinSketch,
    decoded with struct — no ``_jvm`` private-API reach-through. The
    binary layout is the sketch's PUBLIC cross-version serialization
    contract (``CountMinSketch.readFrom``; stream-lib heritage):
    version:int, totalCount:long, depth:int, width:int, hashA[depth]:long,
    table[depth][width]:long, all big-endian. The long-item hash is the
    AMS scheme (``hash = hashA[i]*item; hash += hash >> 32;
    hash &= 2^31-1; bucket = hash % width``) — verified bit-equal to JVM
    ``estimateCount`` on this build (tests pin it vs exact counts)."""
    import struct

    depth, width = struct.unpack_from(">ii", buf, 12)
    off = 20
    hash_a = struct.unpack_from(f">{depth}q", buf, off)
    off += 8 * depth
    tbl = [
        struct.unpack_from(f">{width}q", buf, off + 8 * width * i)
        for i in range(depth)
    ]
    prime, m64 = (1 << 31) - 1, (1 << 64) - 1

    def estimate(item: int) -> int:
        best = None
        for i in range(depth):
            h = (hash_a[i] * item) & m64
            if h >= 1 << 63:  # reinterpret as Java signed long
                h -= 1 << 64
            h = (h + (h >> 32)) & prime
            v = tbl[i][h % width]
            best = v if best is None else min(best, v)
        return int(best)

    return estimate


@register(
    "dq_freq_sketch",
    # rows-only: CMS estimates are implementation-specific. Tests pin the
    # never-underestimate invariant and the eps*N overestimate bound.
    oracle=None,
    tables=("events",),
)
def dq_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates vs truth for the top-5 users —
    the mergeable point-frequency sketch that answers "how often does key
    k appear?" from a few KB of state (the CMS companion to
    dq_distinct_sketch's HLL). At 100 TB: each partition contributes a
    fixed-size sketch, merged associatively; the full per-key aggregate
    never materializes for ad-hoc point lookups.

    The sketch is built distributed (Spark's count_min_sketch aggregate,
    seeded → deterministic); only the ~KB binary crosses to the driver,
    where the point queries run. Returns (user_id, exact_count,
    cms_estimate) for the top-5 exact users. eps=0.001 → overestimate
    < 0.1% of total count at 99% confidence."""
    events = table(spark, sf_dir, "events")
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(5)
        .collect()
    )
    sk_bytes = events.agg(
        F.count_min_sketch("user_id", F.lit(0.001), F.lit(0.99), F.lit(42)).alias(
            "sk"
        )
    ).collect()[0]["sk"]
    estimate = _cms_point_query(bytes(sk_bytes))
    rows = [
        (int(r.user_id), int(r.exact_count), estimate(int(r.user_id)))
        for r in top
    ]
    return local_frame(
        spark, rows, "user_id long, exact_count long, cms_estimate long"
    )


def _schema_audit_oracle() -> str:
    """Build the schema-audit DuckDB twin from the SAME contract constant
    the Spark side audits against (catalog.EXPECTED_SCHEMAS), so the two
    can never drift. DuckDB's DESCRIBE over the registered views yields its
    own type names; the CASE maps each to the name SPARK'S reader would
    report for the same parquet footer — including the session's
    nanosAsLong behavior (parquet TIMESTAMP(NANOS) → DuckDB TIMESTAMP_NS →
    Spark bigint) and the NTZ/LTZ split (MICROS isAdjustedToUTC=0 → DuckDB
    TIMESTAMP → Spark timestamp_ntz; =1 → DuckDB TIMESTAMPTZ → Spark
    timestamp). The missing_table branch is not reachable through the
    driver's pre-registered views; it stays pinned by
    tests/test_graph.py::test_schema_audit_detects_all_drift_kinds."""
    from ..catalog import EXPECTED_SCHEMAS

    expected_values = ",\n      ".join(
        f"('{t}', '{f.name}', '{f.dataType.simpleString()}')"
        for t, st in EXPECTED_SCHEMAS.items()
        for f in st.fields
    )
    actual_union = "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS table_name, column_name, column_type"
        f" FROM (DESCRIBE SELECT * FROM {t})"
        for t in EXPECTED_SCHEMAS
    )
    return f"""
    WITH expected(table_name, column_name, expected_type) AS (VALUES
      {expected_values}),
    actual_raw AS (
      {actual_union}),
    actual AS (
      SELECT table_name, column_name,
        CASE column_type
          WHEN 'BIGINT' THEN 'bigint'
          WHEN 'INTEGER' THEN 'int'
          WHEN 'DOUBLE' THEN 'double'
          WHEN 'FLOAT' THEN 'float'
          WHEN 'VARCHAR' THEN 'string'
          WHEN 'BOOLEAN' THEN 'boolean'
          WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
          WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
          WHEN 'TIMESTAMP_NS' THEN 'bigint'
          WHEN 'FLOAT[]' THEN 'array<float>'
          ELSE lower(column_type)
        END AS actual_type
      FROM actual_raw)
    SELECT table_name, column_name, e.expected_type, a.actual_type,
           CASE
             WHEN a.actual_type IS NULL THEN 'missing'
             WHEN e.expected_type IS NULL THEN 'unexpected'
             WHEN e.expected_type = a.actual_type THEN 'match'
             WHEN table_name = 'events' AND column_name = 'ts'
                  AND a.actual_type IN ('bigint', 'timestamp', 'timestamp_ntz')
               THEN 'adapted'
             ELSE 'type_drift'
           END AS status
    FROM expected e
    FULL OUTER JOIN actual a USING (table_name, column_name)
    ORDER BY table_name, column_name
    """


@register(
    "dq_schema_audit",
    oracle=_schema_audit_oracle(),
    tables=(
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ),
)
def dq_schema_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit (Q4's contract, turned into a report): every
    declared table/column vs the parquet footer — match / type_drift /
    missing / unexpected. Footer-only reads (no data scan), so this costs
    seconds at any corpus size; it is the pre-flight gate before a 100 TB
    job discovers drift at task 40,000.

    The known events.ts representational variance (TIMESTAMP(NANOS) vs
    MICROS across driver generations — see catalog._fix_events_ts) is
    reported as status 'adapted', not drift: the reader normalizes it."""
    from ..catalog import EXPECTED_SCHEMAS, table_path

    rows = []
    for name, expected in EXPECTED_SCHEMAS.items():
        try:
            actual = {
                f.name: f.dataType.simpleString()
                for f in spark.read.parquet(table_path(sf_dir, name)).schema
            }
        except Exception:
            for f in expected.fields:
                rows.append((name, f.name, f.dataType.simpleString(), None, "missing_table"))
            continue
        for f in expected.fields:
            want = f.dataType.simpleString()
            got = actual.pop(f.name, None)
            if got is None:
                status = "missing"
            elif got == want:
                status = "match"
            elif name == "events" and f.name == "ts" and got in (
                "bigint", "timestamp", "timestamp_ntz"
            ):
                status = "adapted"
            else:
                status = "type_drift"
            rows.append((name, f.name, want, got, status))
        for col, got in actual.items():
            rows.append((name, col, None, got, "unexpected"))
    return local_frame(
        spark,
        rows,
        "table_name string, column_name string, expected_type string, "
        "actual_type string, status string",
    ).orderBy("table_name", "column_name")


#: file-stats oracle: DuckDB's parquet_metadata() over the same footers —
#: one row per column chunk, so byte sums first collapse to one row per
#: (file, row group). Verified bit-identical to pyarrow on this corpus:
#: row_group_bytes == thrift total_byte_size (uncompressed) and
#: SUM(total_compressed_size) matches pyarrow's per-chunk sum. Built per
#: table and UNION ALL'd; the {SF_PARQUET_DIR} placeholder is bound by
#: registry.oracle_sqls() (driver: sf0.01; parity/multiscale: their dir).
#: Absent-table rows (n_files = 0) are not SQL-expressible here — that
#: branch stays pinned by tests/test_graph.py::test_file_stats_flags.
_FILE_STATS_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{t}' AS table_name,
           CAST(COUNT(DISTINCT file_name) AS INT) AS n_files,
           CAST(SUM(comp) AS BIGINT) AS total_compressed_bytes,
           CAST(SUM(rg_bytes) AS BIGINT) AS total_uncompressed_bytes,
           CAST(SUM(rg_rows) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_row_groups,
           CAST(MAX(rg_rows) AS BIGINT) AS max_rows_per_group,
           (SUM(comp) / COUNT(DISTINCT file_name)) < 1048576 AS small_files,
           MAX(rg_rows) > 200000 AS oversized_row_groups
    FROM (
      SELECT file_name, row_group_id,
             ANY_VALUE(row_group_num_rows) AS rg_rows,
             ANY_VALUE(row_group_bytes) AS rg_bytes,
             SUM(total_compressed_size) AS comp
      FROM parquet_metadata('{{SF_PARQUET_DIR}}/{t}.parquet')
      GROUP BY 1, 2
    )"""
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
)


@register(
    "dq_file_stats",
    oracle=f"SELECT * FROM (\n{_FILE_STATS_ORACLE}\n) ORDER BY table_name",
    tables=("lineitem", "orders", "events", "documents"),
)
def dq_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout health report per table: file count, footer byte
    totals (compressed + uncompressed), row-group count, rows, and the
    small-file / giant-row-group flags that drive maintenance
    (compact_partitions for many-small-files, make_sf1's bounded-row-group
    lesson for too-few-groups — a 500k-row single group cannot split
    across tasks; see PERF.md).

    Footer-only pyarrow reads on the driver — zero data scan, zero Spark
    jobs until the tiny report frame materializes; at 100 TB this is a
    metadata listing, which is exactly why the audit can run before every
    job. Byte totals come from the footer (row-group total_byte_size +
    per-chunk total_compressed_size), not the filesystem, since r8 — the
    same numbers DuckDB's parquet_metadata() exposes, which is what made
    this query oracle-checkable (VERDICT r7 item 5); the small-file flag
    thresholds average COMPRESSED bytes per file (≈ on-disk size)."""
    import os

    import pyarrow.parquet as pq

    from ..catalog import TABLES, table_path

    rows = []
    for name in TABLES:
        path = table_path(sf_dir, name)
        files = []
        if os.path.isdir(path):
            for root, _, names in os.walk(path):
                files += [os.path.join(root, f) for f in names if f.endswith(".parquet")]
        elif os.path.exists(path):
            files = [path]
        n_rows = n_groups = n_comp = n_unc = 0
        max_group = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            n_groups += md.num_row_groups
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                n_unc += rg.total_byte_size
                n_comp += sum(
                    rg.column(c).total_compressed_size
                    for c in range(rg.num_columns)
                )
                max_group = max(max_group, rg.num_rows)
        rows.append(
            (
                name,
                len(files),
                int(n_comp),
                int(n_unc),
                int(n_rows),
                int(n_groups),
                int(max_group),
                bool(files and n_comp / max(len(files), 1) < 1 << 20),
                bool(max_group > 200_000),
            )
        )
    return local_frame(
        spark,
        rows,
        "table_name string, n_files int, total_compressed_bytes long, "
        "total_uncompressed_bytes long, n_rows long, "
        "n_row_groups long, max_rows_per_group long, small_files boolean, "
        "oversized_row_groups boolean",
    ).orderBy("table_name")


# --- round-5 additions: oracle-backed declared queries for the check types
# --- that previously had only pytest coverage (G1, G10, G14, G17, G21,
# --- G27, G28 — VERDICT r4 "What's missing" #2)

#: the declared column contract for orders (G1 columns_match_list + G17
#: type checks), spelled in DuckDB's canonical type names so the oracle can
#: compare information_schema directly
_ORDERS_CONTRACT = (
    (1, "o_orderkey", "BIGINT"),
    (2, "o_custkey", "BIGINT"),
    (3, "o_orderstatus", "VARCHAR"),
    (4, "o_totalprice", "DOUBLE"),
    (5, "o_orderdate", "TIMESTAMP"),
    (6, "o_orderpriority", "VARCHAR"),
)

#: Spark simpleString -> DuckDB canonical type name (the contract language)
_SPARK_TO_CANON = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


@register(
    "dq_column_contract",
    oracle=f"""
    WITH actual AS (
      SELECT CAST(ordinal_position AS BIGINT) AS pos,
             column_name, data_type
      FROM information_schema.columns WHERE table_name = 'orders'
    ),
    expected AS (
      SELECT * FROM (VALUES
        {", ".join(f"({p}, '{n}', '{t}')" for p, n, t in _ORDERS_CONTRACT)}
      ) AS t(pos, col_name, want_type)
    )
    SELECT CAST(e.pos AS BIGINT) AS pos, e.col_name, e.want_type,
           a.column_name AS actual_name, a.data_type AS actual_type,
           (a.column_name = e.col_name) AS name_ok,
           (a.data_type = e.want_type) AS type_ok
    FROM expected e LEFT JOIN actual a ON a.pos = CAST(e.pos AS BIGINT)
    ORDER BY pos
    """,
    tables=("orders",),
)
def dq_column_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 (columns_match_ordered_list) + G17 (column type checks) as a
    declared audit: every contract position vs the table's actual column
    name and type, with per-position name/type verdicts.

    Metadata-only — the schema comes from the parquet footer (no data
    scan), so this is free at any corpus size; the report frame is |cols|
    rows built on the driver. Types are canonicalized to the contract
    language (timestamp_ntz == TIMESTAMP: representational, not drift —
    the dq_schema_audit precedent)."""
    actual = table(spark, sf_dir, "orders").schema
    rows = []
    for pos, col_name, want_type in _ORDERS_CONTRACT:
        if pos <= len(actual.fields):
            f = actual.fields[pos - 1]
            actual_name = f.name
            actual_type = _SPARK_TO_CANON.get(
                f.dataType.simpleString(), f.dataType.simpleString().upper()
            )
        else:
            actual_name = actual_type = None
        rows.append(
            (
                pos,
                col_name,
                want_type,
                actual_name,
                actual_type,
                None if actual_name is None else actual_name == col_name,
                None if actual_type is None else actual_type == want_type,
            )
        )
    return local_frame(
        spark,
        rows,
        "pos long, col_name string, want_type string, actual_name string, "
        "actual_type string, name_ok boolean, type_ok boolean",
    ).orderBy("pos")


@register(
    "dq_strftime_validity",
    # corruption injected on o_orderkey % 97 == 0 so the check has real
    # violations to count (the region-whitelist failure-injection trick)
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN '2024-13-99'
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS sval
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (
             WHERE try_strptime(sval, '%Y-%m-%d') IS NULL
           ) AS BIGINT) AS format_violations
    FROM s
    """,
    tables=("orders",),
)
def dq_strftime_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 (match_strftime): string values validated against a C strftime
    format via the check compiler's strftime→JVM pattern translation and
    try_to_timestamp — exactly the expression ``match_strftime`` compiles.
    The synthetic tables carry no string-typed dates, so the query derives
    the string column in-plan and corrupts a deterministic slice (every
    97th order key becomes month-13) to give the check real violations."""
    from ..checks.compiler import strftime_to_spark

    fmt = strftime_to_spark("%Y-%m-%d")  # -> yyyy-MM-dd
    s = F.when(
        F.col("o_orderkey") % 97 == 0, F.lit("2024-13-99")
    ).otherwise(F.date_format("o_orderdate", fmt))
    return (
        table(spark, sf_dir, "orders")
        .select(s.alias("sval"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(F.try_to_timestamp(F.col("sval"), F.lit(fmt)).isNull(), 1)
                .otherwise(0)
            ).alias("format_violations"),
        )
    )


@register(
    "dq_dateutil_parseable",
    # same failure-injection trick as dq_strftime_validity: every 97th key
    # becomes a non-date so the check counts real violations; the three
    # healthy format branches exercise the permissive parser (bare date,
    # datetime, ISO-T) — all in the Java-parser ∩ DuckDB-cast agreement set
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-date'
                  WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                  WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d 08:30:00')
                  ELSE strftime(o_orderdate, '%Y-%m-%dT12:45:09') END AS sval
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (
             WHERE TRY_CAST(sval AS TIMESTAMP) IS NULL
               AND TRY_CAST(sval AS DATE) IS NULL
           ) AS BIGINT) AS parse_violations
    FROM s
    """,
    tables=("orders",),
)
def dq_dateutil_parseable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE expect_column_values_to_be_dateutil_parseable: "is this value
    date-like at all" — the permissive-parse profiling check (contrast
    match_strftime, which pins ONE format). The engine twin of
    python-dateutil is the JVM's permissive parser: parseable iff the
    value try-casts to TIMESTAMP or DATE — exactly the expression the
    ``dateutil_parseable`` check type compiles
    (checks/compiler.py::_violation_cond). Three healthy format branches
    (bare date / datetime / ISO-T) plus an injected non-date slice give
    the check real violations to count."""
    s = (
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("not-a-date"))
        .when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.date_format("o_orderdate", "yyyy-MM-dd 08:30:00"),
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd'T'12:45:09"))
    )
    sval = F.col("sval")
    viol = (
        sval.isNotNull()
        & F.try_to_timestamp(sval).isNull()
        & sval.try_cast("date").isNull()
    )
    return (
        table(spark, sf_dir, "orders")
        .select(s.alias("sval"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(viol, 1).otherwise(0)).alias("parse_violations"),
        )
    )


@register(
    "dq_like_pattern",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN c_custkey % 97 = 0
                  THEN REPLACE(c_name, 'Customer#', 'cust-')
                  ELSE c_name END AS name
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (
             WHERE name NOT LIKE 'Customer#%'
           ) AS BIGINT) AS like_violations,
           CAST(COUNT(*) FILTER (
             WHERE name NOT LIKE 'Customer#%' AND name NOT LIKE '%0'
           ) AS BIGINT) AS list_violations
    FROM s
    """,
    tables=("customer",),
)
def dq_like_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE expect_column_values_to_match_like_pattern(+_list): SQL LIKE
    contracts (%/_ wildcards — the non-regex pattern language analysts
    actually write). Single-pattern count plus the list form with
    match_on=any ('Customer#%' OR '%0'), both as one fused conditional
    aggregate — the expressions the ``match_like_pattern`` /
    ``match_like_pattern_list`` check types compile. Every 97th customer
    name is rewritten so both counts are non-zero."""
    name = F.when(
        F.col("c_custkey") % 97 == 0,
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("cust-")),
    ).otherwise(F.col("c_name"))
    n = F.col("name")
    single_viol = ~n.like("Customer#%")
    list_viol = ~(n.like("Customer#%") | n.like("%0"))
    return (
        table(spark, sf_dir, "customer")
        .select(name.alias("name"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(single_viol, 1).otherwise(0)).alias("like_violations"),
            F.sum(F.when(list_viol, 1).otherwise(0)).alias("list_violations"),
        )
    )


@register(
    "dq_pair_in_set",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (WHERE NOT (
             (l_returnflag = 'A' AND l_linestatus = 'F') OR
             (l_returnflag = 'N' AND l_linestatus = 'F') OR
             (l_returnflag = 'N' AND l_linestatus = 'O') OR
             (l_returnflag = 'R' AND l_linestatus = 'F')
           )) AS BIGINT) AS pair_violations
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_pair_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GE expect_column_pair_values_to_be_in_set: the cross-column domain
    contract — (returnflag, linestatus) must be one of the four TPC-H-legal
    combinations (A/F, N/F, N/O, R/F). The synthetic generator emits all
    six flag×status combos uniformly, so A/O and R/O rows are NATURAL
    violations — no injection needed. The OR-chain over the allowed pairs
    is exactly what the ``pair_in_set`` check type compiles: row-local,
    codegen, fused into the shared scan."""
    pairs = [("A", "F"), ("N", "F"), ("N", "O"), ("R", "F")]
    ok = F.lit(False)
    for va, vb in pairs:
        ok = ok | (
            (F.col("l_returnflag") == F.lit(va))
            & (F.col("l_linestatus") == F.lit(vb))
        )
    viol = (
        F.col("l_returnflag").isNotNull()
        & F.col("l_linestatus").isNotNull()
        & ~ok
    )
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(viol, 1).otherwise(0)).alias("pair_violations"),
    )


@register(
    "dq_unique_proportion",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           {sql_round("CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / COUNT(o_custkey)", 6)}
             AS unique_ratio
    FROM orders
    """,
    tables=("orders",),
)
def dq_unique_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 (unique_proportion): distinct share of non-null values — the
    cardinality-profile check behind "is this column key-like".

    Plan: two-level aggregation (per-key counts, then one row) instead of
    count_distinct's Expand — the dq_uniqueness rewrite precedent; one
    shuffle on the key, exact at any scale. r12 note: the 15-bit × 4-slot
    packed-counter variant (VERDICT r11 item 7) was built, guarded, and
    REJECTED on measurement — sf10 alternating A/B medians 0.515 s
    (this plan) vs 0.628 s (packed + carry gate), and the gate-free
    packed frame alone still read 0.561 vs 0.541 s: the FK domain's
    per-key counts (~10 at sf10) already collapse in the map-side
    partial, so the 4× shuffled-row cut buys nothing locally while the
    contrib bit-arithmetic adds per-row CPU and the carry gate adds a
    stage. OPTIMIZATION_r12.md §2 carries the full A/B."""
    per_key = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_key.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.when(F.col("o_custkey").isNotNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_nonnull"),
        F.count(F.col("o_custkey")).alias("n_distinct"),
    ).select(
        "total",
        "n_nonnull",
        "n_distinct",
        fx_round(
            F.col("n_distinct").cast("double") / F.col("n_nonnull"), 6
        ).alias("unique_ratio"),
    )


@register(
    "dq_multicolumn_sum_audit",
    # the two discount-accounting paths genuinely diverge on rows where
    # the rounded itemized parts don't foot to the rounded net — the
    # multicolumn_sum_equal check shape (B + C == A) with real violations
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS gross_c,
             CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT) AS disc_c,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS net_c
      FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (WHERE net_c <> gross_c - disc_c) AS BIGINT)
             AS sum_violations,
           CAST(MAX(ABS(net_c - (gross_c - disc_c))) AS BIGINT)
             AS max_abs_diff_cents
    FROM c
    """,
    tables=("lineitem",),
)
def dq_multicolumn_sum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G21 (pair_equal / multicolumn_sum_equal): does itemized discount
    accounting foot? net_cents == gross_cents - discount_cents per row.
    The two paths round at different points, so mismatches are genuine
    (cent-rounding reconciliation — the row-level sibling of
    dq_reconciliation's header/detail foot check).

    All three legs are integer cents (IEEE-exact quantization both
    engines), the comparison is pure BIGINT, one scan, map-side agg."""
    li = table(spark, sf_dir, "lineitem")
    ep, disc = F.col("l_extendedprice"), F.col("l_discount")
    gross_c = F.floor(ep * 100 + F.lit(0.5)).cast("long")
    disc_c = F.floor(ep * disc * 100 + F.lit(0.5)).cast("long")
    net_c = F.floor(ep * (1 - disc) * 100 + F.lit(0.5)).cast("long")
    diff = net_c - (gross_c - disc_c)
    return li.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(diff != 0, 1).otherwise(0)).alias("sum_violations"),
        F.max(F.abs(diff)).alias("max_abs_diff_cents"),
    )


@register(
    "dq_chi_square",
    # expected shares scaled to integer per-mille so both engines form the
    # expected counts from the same exact rational (no decimal-literal trap)
    oracle=f"""
    WITH obs AS (
      SELECT CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p,
             CAST(COUNT(*) AS BIGINT) AS total
      FROM orders
    )
    SELECT n_o, n_f, n_p, total,
           {sql_round(
               "(CAST(n_o AS DOUBLE) - CAST(total * 490 AS DOUBLE) / 1000)"
               " * (CAST(n_o AS DOUBLE) - CAST(total * 490 AS DOUBLE) / 1000)"
               " / (CAST(total * 490 AS DOUBLE) / 1000)"
               " + (CAST(n_f AS DOUBLE) - CAST(total * 490 AS DOUBLE) / 1000)"
               " * (CAST(n_f AS DOUBLE) - CAST(total * 490 AS DOUBLE) / 1000)"
               " / (CAST(total * 490 AS DOUBLE) / 1000)"
               " + (CAST(n_p AS DOUBLE) - CAST(total * 20 AS DOUBLE) / 1000)"
               " * (CAST(n_p AS DOUBLE) - CAST(total * 20 AS DOUBLE) / 1000)"
               " / (CAST(total * 20 AS DOUBLE) / 1000)", 6
           )} AS chi_square
    FROM obs
    """,
    tables=("orders",),
)
def dq_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G27 (chi_square_test): Pearson goodness-of-fit of the order-status
    distribution against declared shares (49% O / 49% F / 2% P). The
    check compiler's in-plan form handles arbitrary category maps; this
    declared query pins the 3-category case with a FIXED expression tree —
    observed counts pivot to one row (conditional aggregate, one scan),
    the statistic is a deterministic sum of three double terms, so the
    oracle compares bit-exactly (a grouped float SUM would be
    order-dependent)."""
    obs = table(spark, sf_dir, "orders").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
        .cast("long")
        .alias("n_p"),
        F.count(F.lit(1)).alias("total"),
    )

    def term(n: str, permille: int):
        e = (F.col("total") * permille).cast("double") / F.lit(1000)
        d = F.col(n).cast("double") - e
        return d * d / e

    chi2 = term("n_o", 490) + term("n_f", 490) + term("n_p", 20)
    return obs.select(
        "n_o", "n_f", "n_p", "total", fx_round(chi2, 6).alias("chi_square")
    )


@register(
    "dq_row_condition_scope",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
             AS scope_rows,
           CAST(COUNT(*) FILTER (
             WHERE l_returnflag = 'R' AND l_discount > 0.04
           ) AS BIGINT) AS scoped_violations,
           CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
             AS out_of_scope_rows,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.04) AS BIGINT)
             AS overall_violations
    FROM lineitem
    """,
    tables=("lineitem",),
)
def dq_row_condition_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G28 (row_condition scoping): a range check evaluated ONLY on the
    scoped slice (returned lines), with the unscoped count alongside to
    show the scope is load-bearing — the GE ``row_condition`` kwarg the
    check compiler implements. One conditional-aggregate scan; the scope
    predicate never forces a second pass."""
    rf, disc = F.col("l_returnflag"), F.col("l_discount")
    return table(spark, sf_dir, "lineitem").agg(
        F.sum(F.when(rf == "R", 1).otherwise(0)).alias("scope_rows"),
        F.sum(F.when((rf == "R") & (disc > 0.04), 1).otherwise(0)).alias(
            "scoped_violations"
        ),
        F.sum(F.when(rf != "R", 1).otherwise(0)).alias("out_of_scope_rows"),
        F.sum(F.when(disc > 0.04, 1).otherwise(0)).alias("overall_violations"),
    )


@register(
    "dq_suite_report_approx",
    oracle=None,  # sketch estimates are engine-specific -> rows-only;
    # pass/fail agreement with the exact suite is pytest-pinned
    tables=("lineitem", "orders", "nation", "customer"),
)
def dq_suite_report_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB configuration of ``dq_suite_report``: the unique check
    runs as an HLL sketch INSIDE the fused orders scan (approx=True), so
    the suite costs 3 fused scans + 1 anti-join with NO per-key shuffle.
    The sketch can't certify exact uniqueness — its pass rule is
    "estimated duplicate share <= 3*rsd" — which is the right pre-gate at
    scale; the exact suite remains the certification/oracle path."""
    approx_suite = [
        Check(
            c.name,
            c.check_type,
            c.table,
            column=c.column,
            columns=c.columns,
            params={**c.params, "approx": True}
            if c.check_type == "unique"
            else c.params,
            mostly=c.mostly,
        )
        for c in _SUITE
    ]
    tables = {
        name: table(spark, sf_dir, name)
        for name in ("lineitem", "orders", "nation", "customer")
    }
    results = run_suite(tables, approx_suite)
    rows = [(r.check_name, r.status, r.violations) for r in results]
    return local_frame(
        spark, rows, "check_name string, status string, violations bigint"
    )
