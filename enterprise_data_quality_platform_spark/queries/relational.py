"""Relational/dataflow queries (SURVEY.md §2.7 ``stg_* mart_* set_* sort_*``)
— the dbt-replacement layer, delegating to ``models/``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..models import marts, staging
from ..operators.packedmap import (
    join_packed_codes,
    packed_code_map,
    packed_map_worthwhile,
    words_fit_broadcast,
)
from ..session import local_frame
from .registry import register

from ..functions.numeric import fx_round, fx_sum, sql_avg, sql_round, sql_sum


@register(
    "stg_projection_cast",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           LOWER(n_name) AS nation_name,
           CAST(n_regionkey AS BIGINT) AS region_key
    FROM nation
    """,
    tables=("nation",),
)
def stg_projection_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: staging rename/cast projection (models.staging.stg_nation)."""
    return staging.stg_nation(table(spark, sf_dir, "nation"))


@register(
    "stg_derived_column",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           {sql_round("l_extendedprice * (1 - l_discount)")} AS net_price,
           {sql_round("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS charge_price
    FROM lineitem
    """,
    tables=("lineitem",),
)
def stg_derived_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15: row-wise derived expression columns (models.staging)."""
    return staging.stg_lineitem_pricing(table(spark, sf_dir, "lineitem"))


@register(
    "mart_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum("l_quantity")} AS sum_qty,
           {sql_sum("l_extendedprice")} AS sum_base_price,
           {sql_sum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {sql_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {sql_avg("l_quantity", "l_quantity")} AS avg_qty,
           {sql_avg("l_extendedprice", "l_extendedprice")} AS avg_price,
           {sql_avg("l_discount", "l_discount")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tables=("lineitem",),
)
def mart_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: TPC-H Q1-shaped multi-aggregate groupBy (models.marts)."""
    return marts.mart_pricing_summary(table(spark, sf_dir, "lineitem"))


@register(
    "mart_region_revenue",
    oracle=f"""
    SELECT r.r_name AS region_name,
           {sql_sum("o.o_totalprice")} AS total_revenue,
           COUNT(*) AS order_count,
           COUNT(DISTINCT o.o_custkey) AS customer_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY total_revenue DESC, region_name
    """,
    tables=("orders", "customer", "nation", "region"),
)
def mart_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6/R8: 4-way broadcast star join + agg + sort — the flagship."""
    return marts.mart_region_revenue(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
    )


@register(
    "mart_topk_customers",
    oracle=f"""
    WITH revenue AS (
      SELECT n.n_name, c.c_custkey, c.c_name,
             {sql_sum("o.o_totalprice")} AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, c.c_custkey, c.c_name
    ),
    ranked AS (
      SELECT n_name, c_name, revenue,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_name) AS rk
      FROM revenue
    )
    SELECT n_name AS nation_name, c_name AS customer_name, revenue,
           CAST(rk AS BIGINT) AS revenue_rank
    FROM ranked WHERE rk <= 3
    """,
    tables=("orders", "customer", "nation"),
)
def mart_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9/R10: window rank top-3 customers per nation, deterministic
    tiebreaks (revenue rounded before ranking on both sides)."""
    return marts.mart_topk_customers(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        k=3,
    )


@register(
    "mart_rollup_revenue",
    oracle=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {sql_sum("o.o_totalprice")} AS total_revenue,
           COUNT(*) AS order_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tables=("orders", "customer", "nation", "region"),
)
def mart_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: ROLLUP subtotals (region, nation, grand total)."""
    return marts.mart_rollup_revenue(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
    )


@register(
    "mart_priority_semijoin",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS order_count,
           {sql_sum("o_totalprice")} AS total_price
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity >= 30
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tables=("orders", "lineitem"),
)
def mart_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: left-semi join + agg (models.marts.mart_priority_semijoin)."""
    return marts.mart_priority_semijoin(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    )


@register(
    "set_except_segments",
    oracle="""
    SELECT c_mktsegment FROM customer WHERE c_acctbal > 0
    EXCEPT
    SELECT c_mktsegment FROM customer WHERE c_acctbal > 9000
    """,
    tables=("customer",),
)
def set_except_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: EXCEPT (distinct) set difference — segments with positive
    balances but no >9000 balances."""
    customer = table(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_acctbal") > 0).select("c_mktsegment")
    b = customer.filter(F.col("c_acctbal") > 9000).select("c_mktsegment")
    return a.subtract(b)  # EXCEPT (distinct) semantics


@register(
    "sort_limit_orders",
    oracle=f"""
    SELECT o_orderkey, {sql_round("o_totalprice")} AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tables=("orders",),
)
def sort_limit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: top-10 by price with key tiebreak. Spark plans this as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey", fx_round(F.col("o_totalprice"), 2).alias("total_price")
        )
    )


@register(
    "mart_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment AS segment, o_orderstatus AS status,
           COUNT(*) AS order_count,
           {sql_sum("o_totalprice")} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), (c_mktsegment, o_orderstatus))
    """,
    tables=("orders", "customer"),
)
def mart_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: explicit GROUPING SETS (per-segment, per-status, and cross) —
    one scan feeds all three groupings via Expand. DataFrame API
    (``groupingSets``) so the money arithmetic is byte-identical to every
    other query (Spark SQL text parses `0.5` as DECIMAL, which would change
    the rounding path)."""
    from ..models.marts import money_sum

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return joined.groupingSets(
        [["segment"], ["status"], ["segment", "status"]],
        F.col("segment"),
        F.col("status"),
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        money_sum(F.col("o_totalprice"), "total_price"),
    )


@register(
    "mart_cube_status_segment",
    oracle=f"""
    SELECT o_orderstatus AS status, c_mktsegment AS segment,
           COUNT(*) AS order_count,
           {sql_sum("o_totalprice")} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (o_orderstatus, c_mktsegment)
    """,
    tables=("orders", "customer"),
)
def mart_cube_status_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: CUBE — all four grouping combinations (status×segment,
    per-status, per-segment, grand total) from one scan via Expand."""
    from ..models.marts import money_sum

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .cube(
            F.col("o_orderstatus").alias("status"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            money_sum(F.col("o_totalprice"), "total_price"),
        )
    )


@register(
    "set_intersect_segments",
    oracle="""
    SELECT c_mktsegment FROM customer WHERE c_nationkey < 12
    INTERSECT
    SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12
    """,
    tables=("customer",),
)
def set_intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: INTERSECT (distinct) — segments present in both nation halves."""
    customer = table(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_nationkey") < 12).select("c_mktsegment")
    b = customer.filter(F.col("c_nationkey") >= 12).select("c_mktsegment")
    return a.intersect(b)


@register(
    "events_hourly_delta",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT hour_start, n,
           n - LAG(n) OVER (ORDER BY hour_start) AS delta_prev,
           LEAD(n) OVER (ORDER BY hour_start) - n AS delta_next
    FROM hourly
    """,
    tables=("events",),
)
def events_hourly_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 lag/lead: hour-over-hour event-count deltas — the
    DQ-metrics-over-time trend the platform's monitoring premise implies.
    Single global window over ~720 hourly rows (pre-aggregated first, so
    the unpartitioned window never sees raw events)."""
    from pyspark.sql import Window

    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("hour_start")
    return hourly.select(
        "hour_start",
        "n",
        (F.col("n") - F.lag("n").over(w)).alias("delta_prev"),
        (F.lead("n").over(w) - F.col("n")).alias("delta_next"),
    )


@register(
    "mart_brand_volume",
    oracle=f"""
    SELECT p.p_brand, s.s_name,
           {sql_sum("l_quantity")} AS total_qty,
           COUNT(*) AS shipment_count
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY p.p_brand, s.s_name
    ORDER BY total_qty DESC, p_brand, s_name
    LIMIT 25
    """,
    tables=("lineitem", "part", "supplier"),
)
def mart_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6/R10: fact ⋈ two dimensions + agg + deterministic top-25.

    No broadcast hints: part/supplier GROW with the data (2M/100k rows at
    sf10) — the forced broadcast was measured 1.5x SLOWER than letting AQE
    decide (5.6 vs 3.8 s at sf10; AQE still auto-broadcasts them at small
    scale where it pays). Hints are reserved for size-constant dims
    (nation, region)."""
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    from ..models.marts import money_sum

    return (
        lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
        .join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("p_brand", "s_name")
        .agg(
            money_sum(F.col("l_quantity"), "total_qty"),
            F.count(F.lit(1)).alias("shipment_count"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("p_brand"), F.col("s_name"))
        .limit(25)
    )


@register(
    "union_balance_tiers",
    oracle="""
    SELECT entity, tier, COUNT(*) AS n FROM (
      SELECT 'customer' AS entity,
             CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'low' END AS tier
      FROM customer
      UNION ALL
      SELECT 'supplier',
             CASE WHEN s_acctbal >= 5000 THEN 'high' ELSE 'low' END
      FROM supplier
    ) GROUP BY entity, tier
    """,
    tables=("customer", "supplier"),
)
def union_balance_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: UNION ALL across heterogeneous sources via unionByName."""
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")

    def tiers(df: DataFrame, entity: str, bal: str) -> DataFrame:
        return df.groupBy(
            F.lit(entity).alias("entity"),
            F.when(F.col(bal) >= 5000, "high").otherwise("low").alias("tier"),
        ).agg(F.count(F.lit(1)).alias("n"))

    return tiers(customer, "customer", "c_acctbal").unionByName(
        tiers(supplier, "supplier", "s_acctbal")
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
    WITH pairs AS (
      SELECT a.c_nationkey AS nationkey,
             a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    )
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS near_dup_pairs
    FROM pairs GROUP BY nationkey ORDER BY nationkey
    """,
    tables=("customer",),
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: near-duplicate customer names (edit
    distance ≤ 1) within nation blocks. Both engines implement the same
    Wagner-Fischer Levenshtein (deterministic integer), so the result is
    oracle-exact — but the ENGINES TAKE DIFFERENT ROADS there: the oracle
    is the naive within-block O(n²) comparison; the Spark plan is a
    FastSS deletion-neighborhood join — each name expands to itself plus
    its single-character deletions, candidates are names sharing a
    variant (two strings are within edit distance 1 iff they share a
    member of each other's deletion neighborhood), and only candidates
    pay the exact ``levenshtein`` verify (3-arg early-exit form). That
    turns O(n² · L²) comparisons into O(n · L) generation + a hash join
    + O(candidates) verifies: 7.2 s → 2.0 s at sf0.1 (15k names, 4.5M
    naive pairs skipped; DuckDB's quadratic oracle takes 5.5 s on the
    same data), and unlike the quadratic form it survives blocks growing
    100× — candidate count tracks true near-dup density, not block size
    squared."""
    cust = table(spark, sf_dir, "customer")
    # r11 (guide §2.3, narrower shuffle keys): the deletion variants join
    # on xxhash64(variant) LONGS instead of ~18-char strings — the
    # exploded frames shuffle 8-byte keys, and the equi-join compares
    # longs. A hash COLLISION can only ADD a candidate pair, and every
    # candidate is verified by the exact levenshtein <= 1 filter before
    # counting, so the result is collision-proof (the minhash
    # hashed-gram precedent). Alternating A/B at sf0.1 (two sessions,
    # 5 runs each): pooled medians 1.47 s -> 1.41 s — noise-class
    # locally where both frames broadcast; kept for the 8-byte-vs-18-char
    # shuffle key once the exploded sides exceed the broadcast bound
    # (OPTIMIZATION_r11.md).
    variants = F.expr(
        "transform(array_union(array(c_name),"
        " transform(sequence(1, length(c_name)),"
        " i -> concat(substr(c_name, 1, i - 1),"
        " substr(c_name, i + 1, length(c_name))))), v -> xxhash64(v))"
    )
    sides = {}
    for side in ("a", "b"):
        sides[side] = cust.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias(f"id_{side}"),
            F.col("c_name").alias(f"name_{side}"),
            F.explode(variants).alias("variant"),
        )
    return (
        sides["a"].join(sides["b"], ["nationkey", "variant"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b"), 1) >= 0)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("near_dup_pairs"))
        .orderBy("nationkey")
    )


@register(
    "mart_daily_revenue_ma7",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT)) AS units,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders GROUP BY 1
    )
    SELECT day,
           FLOOR(units / 10000.0 * 100 + 0.5) / 100.0 AS revenue,
           order_count,
           (SUM(units) OVER w / 10000.0) / COUNT(units) OVER w AS ma7_revenue
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
    tables=("orders",),
)
def mart_daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 window frames: trailing 7-day moving average of daily revenue —
    the smoothing every ops dashboard puts over a noisy daily series.

    Plan: aggregate to exact integer revenue units per day FIRST (one
    map-combined groupBy), then run the frame window over the ~2.4k daily
    rows only — the unpartitioned window never sees raw orders, so the
    shape survives 100× fact growth (day count grows with calendar time,
    not data volume). The frame SUM runs over exact longs; the average is
    two IEEE divisions written identically in the oracle."""
    from pyspark.sql import Window

    from ..functions.numeric import fx_from_units, fx_units

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(fx_units(F.col("o_totalprice"))).alias("units"),
        F.count(F.lit(1)).alias("order_count"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        fx_from_units(F.col("units")).alias("revenue"),
        "order_count",
        (
            (F.sum("units").over(w) / F.lit(10000.0))
            / F.count("units").over(w)
        ).alias("ma7_revenue"),
    ).orderBy("day")


@register(
    "mart_nation_revenue_quartiles",
    oracle="""
    WITH nat AS (
      SELECT n.n_name AS nation_name,
             SUM(CAST(FLOOR(o.o_totalprice * 10000 + 0.5) AS BIGINT)) AS units
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation_name,
           FLOOR(units / 10000.0 * 100 + 0.5) / 100.0 AS revenue,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM nat
    WINDOW w AS (ORDER BY units DESC, nation_name)
    ORDER BY units DESC, nation_name
    """,
    tables=("orders", "customer", "nation"),
)
def mart_nation_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 distribution windows (ntile / percent_rank / cume_dist): nations
    bucketed into revenue quartiles — the league-table form of the
    reference's sales-performance dashboard mart.

    The distribution functions need a single total order, so they run over
    the 25 PRE-AGGREGATED nation rows (exact unit sums, name tiebreak),
    never over raw orders — same pre-agg-then-window discipline as
    ``events_hourly_delta``. All three window values are exact rationals
    of rank and row count; the one division each matches IEEE-wise."""
    from pyspark.sql import Window

    from ..functions.numeric import fx_from_units, fx_units

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    nat = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(fx_units(F.col("o_totalprice"))).alias("units"))
    )
    w = Window.orderBy(F.col("units").desc(), F.col("nation_name"))
    return nat.select(
        "nation_name",
        fx_from_units(F.col("units")).alias("revenue"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy(F.col("units").desc(), F.col("nation_name"))


def _shj_build_fits(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    bytes_per_row: int = 48,
    safety: float = 0.5,
) -> bool:
    """Size arithmetic for a shuffled-hash-join hint whose build side is a
    FACT table: Spark's hash-relation build is the one execution-memory
    consumer that cannot spill (it throws "Can't acquire N bytes memory to
    build hash relation" — observed live in the r8 sf30/6g probe), so the
    hint is only sound when the expected per-partition build fits in a
    task's share of execution memory. Estimate: footer row count (driver-
    side metadata read, no scan) × ~48 B/row (two longs in an UnsafeRow +
    LongHashedRelation overhead) ÷ shuffle partitions, compared against
    0.5 × (0.6 × heap ÷ cores) — Spark's unified-memory execution share
    split across concurrent tasks, with headroom for the probe side. Any
    estimation failure returns True (status quo: the hint), because the
    estimate only exists to AVOID a loud failure, never to mask one. At
    cluster scale the same arithmetic holds per executor; a deployment
    sized per SURVEY §4.3 (heap/core ≥ split size + build) always passes."""
    import os
    import re

    import pyarrow.parquet as pq

    from ..catalog import table_path

    try:
        path = table_path(sf_dir, table_name)
        if os.path.isdir(path):
            n_rows = 0
            for root, _, names in os.walk(path):
                for f in names:
                    if f.endswith(".parquet"):
                        n_rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        else:
            n_rows = pq.ParquetFile(path).metadata.num_rows
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        build_per_task = n_rows * bytes_per_row / max(shuffle_parts, 1)

        heap_str = spark.conf.get("spark.driver.memory", "16g")
        m = re.fullmatch(r"(\d+)([kmgt]?)b?", heap_str.lower())
        mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        heap = int(m.group(1)) * mult[m.group(2)]
        cores = spark.sparkContext.defaultParallelism
        exec_per_task = 0.6 * heap / max(cores, 1)
        return build_per_task < safety * exec_per_task
    except Exception:
        return True


@register(
    "mart_part_affinity",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS together_count
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY together_count DESC, part_a, part_b
    LIMIT 20
    """,
    tables=("lineitem",),
)
def mart_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together —
    the affinity mining shape (self-join on the basket key) behind
    "frequently bought together".

    Scale posture: the self-join on the basket key with IDENTICAL subtrees
    on both sides — same projection, same shuffle key — so the one
    hashpartitioning(l_orderkey) exchange is built once and ReusedExchange
    feeds the other side (plan-asserted). The pair blow-up is bounded by
    lines-per-order (≤ 21 pairs/order in TPC-H shapes) and collapses into
    a map-combined pair-count aggregate; the top-20 is
    TakeOrderedAndProject. This shape deliberately avoids the earlier
    ``collect_list``-basket + row-local-pair-explode plan: that plan wins
    on a fresh JVM (one scan, no join) but its ObjectHashAggregate basket
    state degraded 3× (5.5 → 16.9 s at sf10) once a long session filled
    the old gen with allocation history — the self-join stays in
    whole-stage codegen end-to-end with flat UnsafeRow state, so the
    long-session number IS the fresh number (A/B ledger in PERF.md).
    For carts with unbounded/skewed sizes, cap lines per basket first
    (the standard guard)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    # shuffle_hash hint, twice deliberate: (1) at tiny SFs the planner
    # would broadcast the whole fact — fine locally, death at 100 TB;
    # (2) vs sort-merge it skips BOTH 60M-row sorts (the per-order groups
    # are tiny, so the per-partition hash build is cheap), measured ~10%
    # faster and with far less sort-buffer churn in a long session.
    # SIZE-GATED since r8: the SHJ build is Spark's one NON-SPILLABLE
    # memory consumer — the r8 oversized-tier probe (PERF_SCALEPROBE)
    # showed this exact query dying with "Can't acquire ... to build hash
    # relation" at sf30 under a 6 GB heap while every SMJ-shaped query
    # spilled and completed. When the estimated per-partition build does
    # not fit task execution memory, fall back to sort-merge (graceful
    # spill) instead of forcing the hint; the ~10% hint win only exists
    # in deployments sized per the engine's own rule anyway.
    b = li.alias("b")
    if _shj_build_fits(spark, sf_dir, "lineitem"):
        b = b.hint("shuffle_hash")
    # The pair aggregate dominates this query (~13 of 17 s at sf10: ~120M
    # mostly-distinct keys make the map-side partial a pass-through), so
    # the pair is packed into ONE 64-bit key (part_a << 32 | part_b) for
    # the shuffle + hash agg — 13% whole-query win, value-identical:
    # unpacking is exact for partkeys < 2^32 and the packed ordering is
    # the (part_a, part_b) lexicographic ordering. The precondition is
    # ENFORCED in-plan, but NOT per pair row: a raise_error branch inside
    # this projection makes the whole 120M-row stage fall out of codegen
    # (measured 17.4 → 28.3 s at sf10 — the r6 first attempt); instead a
    # 1-row min/max aggregate of the key domain guards via a FILTER whose
    # violation branch raises, cross-joined after the top-20 (20×1 rows).
    # One extra column-pruned scan (~0.3 s), hot path stays codegen, and
    # a scale-up with partkeys outside [0, 2^31) still fails loudly at
    # action time instead of returning wrong co-occurrence counts.
    # The pack itself is shiftleft|OR, NOT an ANSI multiply+add: for the
    # guarded domain they are value-identical (low 32 bits of the shifted
    # side are zero), but bit ops can never throw ARITHMETIC_OVERFLOW —
    # with the multiply form, an out-of-range partkey made the 120M-row
    # pair stage itself throw, RACING the guard stage for which error
    # reaches the driver first (the r6→r7 test flake: ~1 in 8 full-file
    # runs surfaced the overflow instead of the guard message). The guard
    # must be the ONLY failure path.
    packed = F.shiftleft(F.col("a.l_partkey"), 32).bitwiseOR(
        F.col("b.l_partkey")
    )
    # r12 (guide §1.2/§6: don't scan for what metadata already proves):
    # parquet column-chunk statistics give the EXACT l_partkey min/max
    # from the footers — when every value-bearing chunk carries exact
    # stats, the range check resolves at build time and the in-plan guard
    # subtree (one extra column-pruned lineitem scan + min/max aggregate +
    # 20×1 BroadcastNestedLoopJoin attach) is not built at all. A proven
    # violation raises the SAME "pack range" message, just at build time
    # instead of action time — still loud, never wrong counts. Stats
    # missing/untrusted (non-parquet input, a writer without statistics,
    # >256 files — the driver-side footer-read bound) falls back to the
    # in-plan guard unchanged. The footer-verified path trusts a BUILD-TIME
    # snapshot of the file listing: the footers are read, and Spark lists
    # lineitem's files, when this frame is built. A file rewritten in place
    # (same path, new contents) between building and running the frame
    # would be scanned without its range being proven, so build and run
    # the frame against one table state (each query call builds afresh).
    _PACK_MSG = (
        "mart_part_affinity: l_partkey outside [0, 2^31)"
        " pack range; use the two-column groupBy form for"
        " this key domain"
    )
    from ..operators.packedmap import _footer_col_minmax

    stats = _footer_col_minmax(sf_dir, "lineitem", "l_partkey")
    if stats is not None:
        mn, mx = stats
        if mn is not None and (mn < 0 or mx >= 2147483648):
            raise ValueError(_PACK_MSG)
        pack_guard = None  # footer-verified: nothing to attach
    else:
        pack_guard = (
            li.agg(
                F.min("l_partkey").alias("_mn"),
                F.max("l_partkey").alias("_mx"),
            ).filter(
                F.when(
                    # NULL bounds = empty input: vacuously in range (no
                    # pairs exist to mis-pack), must not trip the raise
                    F.col("_mn").isNull()
                    | (
                        (F.col("_mn") >= 0)
                        & (F.col("_mx") < F.lit(2147483648))
                    ),
                    F.lit(True),
                ).otherwise(
                    F.raise_error(F.lit(_PACK_MSG)).cast("boolean")
                )
            )
        )
    agg = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(packed.alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("together_count"))
        .orderBy(F.col("together_count").desc(), "pk")
        .limit(20)
    )
    # attach the 1-row guard (fallback path only): a broadcast cross join
    # of 20 × 1 rows. This IS a BroadcastNestedLoopJoin in the plan —
    # deliberately: any equi key we synthesize constant-folds away
    # (verified: count*0+1 folds, the condition is pushed into the guard
    # side, BNLJ anyway). The plan test pins that the footer-verified
    # plan has NO nested loop and the fallback's only nested loop is this
    # guard attach; the pair self-join stays an equi hash join either way.
    if pack_guard is not None:
        agg = agg.crossJoin(
            F.broadcast(pack_guard.select(F.lit(1).alias("_g")))
        )
    return agg.select(
        F.expr("pk div 4294967296").alias("part_a"),
        (F.col("pk") % F.lit(4294967296)).alias("part_b"),
        "together_count",
    ).orderBy(F.col("together_count").desc(), "part_a", "part_b")


@register(
    "stg_unpivot_metrics",
    oracle=f"""
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_sum("value")} AS total
    FROM (
      SELECT 'discount' AS metric, l_discount AS value FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'quantity', l_quantity FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem
    )
    GROUP BY metric ORDER BY metric
    """,
    tables=("lineitem",),
)
def stg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide measures → long (metric, value) form) via
    ``stack`` — the reshaping step that feeds generic per-metric profiling
    (one DQ check definition over N columns instead of N definitions).

    ``stack`` is a narrow row-local generator (no shuffle, no Python); the
    4× row blow-up collapses immediately into the map-side partial
    aggregate, so the shuffle carries 4 rows per task regardless of input
    size. The DuckDB twin spells the same reshape as UNION ALL — dialect-
    portable and semantically identical."""
    li = table(spark, sf_dir, "lineitem")
    long_form = li.select(
        F.expr(
            "stack(4, 'discount', l_discount, 'extendedprice', l_extendedprice,"
            " 'quantity', l_quantity, 'tax', l_tax) AS (metric, value)"
        )
    )
    return (
        long_form.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            fx_sum(F.col("value"), "total"),
        )
        .orderBy("metric")
    )


@register(
    "mart_customer_rfm",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1970-01-01' AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT)) AS monetary_units
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT
        FLOOR(quantile_cont(recency_days, 0.25) * 1000000 + 0.5) / 1000000.0 AS r1,
        FLOOR(quantile_cont(recency_days, 0.50) * 1000000 + 0.5) / 1000000.0 AS r2,
        FLOOR(quantile_cont(recency_days, 0.75) * 1000000 + 0.5) / 1000000.0 AS r3,
        FLOOR(quantile_cont(frequency, 0.25) * 1000000 + 0.5) / 1000000.0 AS f1,
        FLOOR(quantile_cont(frequency, 0.50) * 1000000 + 0.5) / 1000000.0 AS f2,
        FLOOR(quantile_cont(frequency, 0.75) * 1000000 + 0.5) / 1000000.0 AS f3,
        FLOOR(quantile_cont(monetary_units, 0.25) * 1000000 + 0.5) / 1000000.0 AS m1,
        FLOOR(quantile_cont(monetary_units, 0.50) * 1000000 + 0.5) / 1000000.0 AS m2,
        FLOOR(quantile_cont(monetary_units, 0.75) * 1000000 + 0.5) / 1000000.0 AS m3
      FROM per_cust
    ),
    scored AS (
      SELECT CONCAT(
               CAST(1 + CAST(recency_days > r1 AS INTEGER)
                      + CAST(recency_days > r2 AS INTEGER)
                      + CAST(recency_days > r3 AS INTEGER) AS VARCHAR),
               CAST(1 + CAST(frequency > f1 AS INTEGER)
                      + CAST(frequency > f2 AS INTEGER)
                      + CAST(frequency > f3 AS INTEGER) AS VARCHAR),
               CAST(1 + CAST(monetary_units > m1 AS INTEGER)
                      + CAST(monetary_units > m2 AS INTEGER)
                      + CAST(monetary_units > m3 AS INTEGER) AS VARCHAR)
             ) AS rfm_segment,
             monetary_units
      FROM per_cust, b
    )
    SELECT rfm_segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           FLOOR(SUM(monetary_units) / 10000.0 * 100 + 0.5) / 100.0 AS total_revenue
    FROM scored GROUP BY rfm_segment ORDER BY rfm_segment
    """,
    tables=("orders",),
)
def mart_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary quartile
    scores) — the classic marketing mart. The quartile ASSIGNMENT uses
    broadcast percentile boundaries + three comparisons per metric, NOT a
    global ``ntile`` window: ntile needs a single total order over all
    customers (the per-entity frame GROWS with the data — exactly the
    unpartitioned-window scale-killer), while boundary scoring is a 1-row
    aggregate broadcast onto a map-only pass. The trade: ntile splits
    boundary TIES by row order, boundary scoring puts equal values in the
    same bucket — the semantics a segmentation actually wants.

    Determinism: metrics are exact integers (days / counts / fixed-point
    units); interpolated boundaries are rounded to 6 dp on both sides so
    a last-ulp lerp difference can't flip an integer-vs-boundary
    comparison. Plan: per-customer groupBy (one shuffle), 1-row
    percentile aggregate, broadcast crossJoin, map-side segment scoring,
    final ≤64-row groupBy."""
    from ..functions.numeric import fx_from_units, fx_units

    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.max(F.to_date("o_orderdate")), F.lit("1970-01-01"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(fx_units(F.col("o_totalprice"))).alias("monetary_units"),
    )
    bounds = per_cust.agg(
        *[
            fx_round(F.expr(f"percentile({m}, {q})"), 6).alias(f"{a}{i}")
            for m, a in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary_units", "m"),
            )
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(metric: str, a: str):
        s = F.lit(1)
        for i in (1, 2, 3):
            s = s + (F.col(metric) > F.col(f"{a}{i}")).cast("int")
        return s.cast("string")

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        F.concat(
            score("recency_days", "r"),
            score("frequency", "f"),
            score("monetary_units", "m"),
        ).alias("rfm_segment"),
        "monetary_units",
    )
    return (
        scored.groupBy("rfm_segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fx_from_units(F.sum("monetary_units")).alias("total_revenue"),
        )
        .orderBy("rfm_segment")
    )


@register(
    "mart_small_qty_revenue",
    oracle=f"""
    WITH stats AS (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) AS qsum
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS small_qty_lines,
           {sql_sum("l.l_extendedprice")} AS small_qty_revenue
    FROM lineitem l
    JOIN stats s ON s.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(FLOOR(l.l_quantity * 10000 + 0.5) AS BIGINT) * 5 * s.cnt < s.qsum
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    tables=("lineitem", "part"),
)
def mart_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped query: revenue from lineitems whose quantity is
    below 20% of their part's average quantity — hand-planned, with a
    SIZE-GATED physical strategy (VERDICT r8 item 2): below ~20M probe
    rows the packed-map builds are pure overhead (sf0.1 A/B: 0.68 vs
    1.22 s) so the gate picks the plain thr+SHJ form; above it the
    packed form's removed fact shuffle wins. Both sides value-identical
    (pinned in tests/test_packedmap_gate.py).

    Packed plan (r8 rewrite — PACKED THRESHOLD MAP, the packed-map family's
    first deployment on DERIVED-AGGREGATE values): the per-part stats
    collapse to ONE BIGINT threshold — ``qty*5*cnt < qsum ⇔ qty_units ≤
    (qsum-1) div (5·cnt)`` (exact integer division, no float drift) —
    and the threshold (≤ max-avg-qty·10000/5 ≈ 100k) fits a 32-bit slot,
    so the 2M-entry build side re-packs to a 1M-word map (~16 MB,
    size-gated broadcast hint): the 60M-row probe's threshold join never
    shuffles. The brand rollup consumes 8 MORE bits of part per fact row
    (the brand's index in a deterministic dictionary over the distinct
    brand strings), so part collapses to an 8-bit brand-code map; strings
    decode via the ≤255-row dictionary after the small aggregate, and a
    >255-brand catalog raises through the map's domain guard.
    ONE fact exchange remains — the stats aggregate itself, which is
    irreducible (every line contributes to its part's average). Rejected
    forms at sf10, cumulative ledger: window-over-partkey 6.8 s,
    repartition+ReusedExchange (pruning cascade), correlated subquery
    5.0 s (kept as mart_small_qty_revenue_subquery), thr+SHJ 4.3 s → ...
    → 3.13 s, packed maps 2.47 s (−21%, medians of 5; an arithmetic
    'Brand#NN'-parsing decode measured 2.23 s but narrows the brand
    domain — the dictionary form keeps the query general).

    Portability: predicate and threshold are pure BIGINT — no float
    division, no DECIMAL literals (ROUND_NOTES gotcha #3); revenue goes
    through the fixed-point helpers. The `div`-rewrite requires qsum ≥ 1
    (guaranteed: positive quantities) — don't lift onto signed
    measures."""
    if packed_map_worthwhile(sf_dir, "lineitem"):
        return _mart_small_qty_revenue_packed(spark, sf_dir)
    return _mart_small_qty_revenue_plain(spark, sf_dir)


def _mart_small_qty_revenue_plain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The small-SF side of the gate: the r6 thr+SHJ winner — per-part
    stats collapse to one BIGINT threshold, shuffle_hash-hinted join
    (build partitions are |parts|/32 entries; SMJ would sort the probe),
    plain part join for the brand."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)").alias(
            "qty_units"
        ),
        F.expr("CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)").alias(
            "rev_units"
        ),
    )
    part = table(spark, sf_dir, "part")
    thr = (
        li.groupBy("l_partkey")
        .agg(
            F.expr(
                "CAST((sum(qty_units) - 1) div (5 * count(1)) AS BIGINT)"
            ).alias("thr")
        )
        .withColumnRenamed("l_partkey", "t_partkey")
        .hint("shuffle_hash")
    )
    flagged = li.join(thr, li.l_partkey == thr.t_partkey).filter(
        F.col("qty_units") <= F.col("thr")
    )
    grouped = (
        flagged.join(
            # part is SCALE-GROWING: no explicit broadcast (policy). AQE
            # converts to BHJ at local sizes (measured equal to the hint,
            # r6 A/B) and correctly keeps a shuffle join at 100 TB.
            part.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("small_qty_lines"),
            F.sum("rev_units").alias("rev_units"),
        )
    )
    return grouped.select(
        "p_brand",
        "small_qty_lines",
        fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias(
            "small_qty_revenue"
        ),
    ).orderBy("p_brand")


def _mart_small_qty_revenue_packed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)").alias(
            "qty_units"
        ),
        F.expr("CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)").alias(
            "rev_units"
        ),
    )
    part = table(spark, sf_dir, "part")
    thr = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST((sum(qty_units) - 1) div (5 * count(1)) AS BIGINT)"
        ).alias("thr")
    )
    tmap = packed_code_map(
        thr,
        "l_partkey",
        F.col("thr") + 1,  # 0 is the reserved absent marker
        slot_bits=32,
        guard_message=(
            "mart_small_qty_revenue: packed threshold-map domain violated"
            " (duplicate partkey or threshold outside [0, 2^32-2]); use a"
            " plain threshold join"
        ),
    )
    # brand dictionary: deterministic dense codes 1..n over the distinct
    # brand strings (bounded: >255 distinct brands would produce code 256
    # and the map's domain guard raises). The unpartitioned window is over
    # the ≤|brands| distinct rows, never facts (adjudicated class).
    from pyspark.sql import Window as _W

    bdict = (
        part.select("p_brand")
        .distinct()
        .select(
            "p_brand",
            F.row_number().over(_W.orderBy("p_brand")).alias("_bcode"),
        )
        # materialize the ≤255-row dictionary ONCE: it has three consumers
        # (part coding, decode join) and Catalyst's pruning cascade would
        # otherwise give each its own part scan + distinct (~1 s at sf10,
        # measured); 25 localCheckpoint rows also give exact stats.
        .localCheckpoint(eager=True)
    )
    part_coded = part.select("p_partkey", "p_brand").join(
        F.broadcast(bdict), "p_brand"
    )
    bmap = packed_code_map(
        part_coded,
        "p_partkey",
        F.col("_bcode"),
        slot_bits=8,
        guard_message=(
            "mart_small_qty_revenue: packed brand-map domain violated"
            " (duplicate p_partkey or more than 255 distinct brands); use"
            " a plain part join"
        ),
    )
    probed = join_packed_codes(
        li,
        tmap,
        "l_partkey",
        "_thr1",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "part", slot_bits=32, dense_keys=True
        ),
    )
    flagged = probed.filter(F.col("qty_units") <= F.col("_thr1") - 1)
    branded = join_packed_codes(
        flagged,
        bmap,
        "l_partkey",
        "_bcode",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "part", slot_bits=8, dense_keys=True
        ),
    )
    return (
        branded.groupBy("_bcode")
        .agg(
            F.count(F.lit(1)).alias("small_qty_lines"),
            F.sum("rev_units").alias("rev_units"),
        )
        .join(F.broadcast(bdict), "_bcode")
        .select(
            "p_brand",
            "small_qty_lines",
            fx_round(
                F.col("rev_units") / F.lit(10000.0), 2
            ).alias("small_qty_revenue"),
        )
        .orderBy("p_brand")
    )


@register(
    "mart_small_qty_revenue_subquery",
    oracle=f"""
    WITH stats AS (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) AS qsum
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS small_qty_lines,
           {sql_sum("l.l_extendedprice")} AS small_qty_revenue
    FROM lineitem l
    JOIN stats s ON s.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(FLOOR(l.l_quantity * 10000 + 0.5) AS BIGINT) * 5 * s.cnt < s.qsum
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    tables=("lineitem", "part"),
    demo=True,
)
def mart_small_qty_revenue_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-scalar-subquery form of ``mart_small_qty_revenue``,
    kept as the Catalyst-decorrelation demo: written AS the correlated
    subqueries, the optimizer rewrites each correlated aggregate into a
    groupBy(l_partkey) + join (NO per-row subquery execution —
    plan-asserted in tests/test_plans.py) and MergeScalarSubqueries folds
    the COUNT and SUM subqueries over the same correlation into one
    aggregate. The hand-planned twin above is ~15% faster at sf10; this
    form shows what you get for free when a user writes the natural SQL.
    (Scan-count note: the executed plan still reads lineitem 3× — the
    merge folds the two subqueries into one aggregate but that aggregate
    scans separately from the outer fact read, and the join-inferred
    IsNotNull de-canonicalizes the third subtree. That residual is the
    point of keeping the demo next to the hand-planned form.)"""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("sqr_lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("sqr_part")
    grouped = spark.sql(
        """
        SELECT p.p_brand,
               COUNT(*) AS small_qty_lines,
               SUM(CAST(FLOOR(l.l_extendedprice * 10000 + 0.5) AS BIGINT)) AS rev_units
        FROM sqr_lineitem l
        JOIN sqr_part p ON p.p_partkey = l.l_partkey
        WHERE CAST(FLOOR(l.l_quantity * 10000 + 0.5) AS BIGINT) * 5
              * (SELECT COUNT(*) FROM sqr_lineitem l2
                 WHERE l2.l_partkey = l.l_partkey)
            < (SELECT SUM(CAST(FLOOR(l2.l_quantity * 10000 + 0.5) AS BIGINT))
               FROM sqr_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        """
    )
    return grouped.select(
        "p_brand",
        "small_qty_lines",
        fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("small_qty_revenue"),
    ).orderBy("p_brand")


@register(
    "mart_nation_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation_name,
             SUM(CAST(FLOOR(o.o_totalprice * 10000 + 0.5) AS BIGINT)) AS rev_units
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    cum AS (
      SELECT nation_name, rev_units,
             SUM(rev_units) OVER (ORDER BY rev_units DESC, nation_name
                                  ROWS UNBOUNDED PRECEDING) AS cum_units,
             SUM(rev_units) OVER () AS total_units
      FROM rev
    )
    SELECT nation_name,
           {sql_round("rev_units / 10000.0", 2)} AS revenue,
           {sql_round("CAST(cum_units AS DOUBLE) / total_units", 6)} AS cum_share,
           CASE WHEN cum_units * 100 <= total_units * 80 THEN 'A'
                WHEN cum_units * 100 <= total_units * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    ORDER BY rev_units DESC, nation_name
    """,
    tables=("orders", "customer", "nation"),
)
def mart_nation_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: nations ranked by revenue with cumulative
    share and A/B/C class cuts at 80% / 95% — the concentration view every
    ops dashboard carries.

    Plan: the fact collapses to 25 nation rows FIRST (broadcast star join
    + map-combined groupBy on integer revenue units); the running sum AND
    the grand total come from ONE Window node over those 25 rows (same
    partitioning/ordering, two frames) — no second star-join subtree, no
    crossJoin factor, and the unpartitioned window never sees raw orders
    (the round-1 z-score scale-killer lesson). Classification is integer
    cross-multiplication (``cum*100 <= total*80``) — an exact rational
    comparison no float boundary can flip; only the reported share is a
    (rounded) division."""
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(10000) + F.lit(0.5)).cast("long")
            ).alias("rev_units")
        )
    )
    order_spec = [F.col("rev_units").desc(), F.col("nation_name")]
    w_cum = W.orderBy(*order_spec).rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy(*order_spec).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = rev.withColumn("cum_units", F.sum("rev_units").over(w_cum)).withColumn(
        "total_units", F.sum("rev_units").over(w_all)
    )
    return cum.select(
        "nation_name",
        fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
        fx_round(F.col("cum_units").cast("double") / F.col("total_units"), 6).alias(
            "cum_share"
        ),
        F.when(F.col("cum_units") * 100 <= F.col("total_units") * 80, "A")
        .when(F.col("cum_units") * 100 <= F.col("total_units") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    ).orderBy(F.col("rev_units").desc(), "nation_name")


@register(
    "mart_part_value_share",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS val_units,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS total_units
      FROM lineitem
    )
    SELECT p.l_partkey,
           p.n_lines,
           {sql_round("p.val_units / 10000.0", 2)} AS part_value,
           {sql_round("CAST(p.val_units AS DOUBLE) / t.total_units", 6)} AS value_share
    FROM pv p CROSS JOIN tot t
    WHERE p.val_units * 10000 > t.total_units
    ORDER BY p.val_units DESC, p.l_partkey
    LIMIT 20
    """,
    tables=("lineitem",),
)
def mart_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped significant-value filter: parts whose lineitem
    value exceeds 0.01% of the global total, top-20 by value — a grouped
    aggregate filtered against a SCALAR aggregate of itself.

    Plan: the grand total is a map-side-combined 1-row aggregate straight
    off the lineitem scan — NOT a re-aggregation of the per-part frame,
    which would pay the per-part shuffle twice (and Catalyst's column
    pruning makes those two exchanges non-identical, so AQE cannot reuse
    them — measured). Exact integer units make the two roads provably
    equal (sum of per-part unit sums == global unit sum). The total then
    joins as a broadcast 1-row factor (the checks compiler's fused-factor
    pattern); the threshold is integer cross-multiplication
    (``part_units * 10000 > total_units``), the top-20 is
    TakeOrderedAndProject on exact units — no float enters until the two
    reported (rounded) divisions."""
    li = table(spark, sf_dir, "lineitem")
    units = F.floor(F.col("l_extendedprice") * F.lit(10000) + F.lit(0.5)).cast("long")
    pv = li.groupBy("l_partkey").agg(
        F.sum(units).alias("val_units"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    tot = li.agg(F.sum(units).alias("total_units"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val_units") * 10000 > F.col("total_units"))
        .orderBy(F.col("val_units").desc(), "l_partkey")
        .limit(20)
        .select(
            "l_partkey",
            "n_lines",
            fx_round(F.col("val_units") / F.lit(10000.0), 2).alias("part_value"),
            fx_round(
                F.col("val_units").cast("double") / F.col("total_units"), 6
            ).alias("value_share"),
        )
    )


@register(
    "mart_custdist",
    oracle="""
    WITH oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderpriority <> '1-URGENT'
      GROUP BY o_custkey
    )
    SELECT COALESCE(oc.order_count, 0) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY custdist DESC, c_count DESC
    """,
    tables=("customer", "orders"),
)
def mart_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed 0, 1, 2, ... (non-urgent) orders — the filtered
    outer-join histogram (the reference's BigQuery layer expresses the
    same shape over adventureworks orders).

    Plan: orders collapse to one row per customer FIRST (map-combined
    count before any join), so the join input is |customers| vs
    |customers-with-orders| — never the raw fact. The left join then
    runs custkey-to-custkey (co-partitioned sort-merge at scale; neither
    side broadcastable at 100 TB, and none needed). Zero-order customers
    surface via COALESCE on the outer join, and the final histogram is a
    tiny two-column aggregate. Counts are exact integers end to end —
    nothing for distributed summation order to perturb."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    oc = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    return (
        customer.select("c_custkey")
        .join(oc, customer.c_custkey == oc.o_custkey, "left")
        .select(F.coalesce(F.col("order_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "mart_idle_rich_customers",
    oracle=f"""
    WITH pos AS (
      SELECT SUM(CAST(FLOOR(c_acctbal * 10000 + 0.5) AS BIGINT)) AS sum_units,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_sum("c.c_acctbal")} AS total_acctbal
    FROM customer c CROSS JOIN pos
    WHERE CAST(FLOOR(c.c_acctbal * 10000 + 0.5) AS BIGINT) * pos.n_pos
            > pos.sum_units
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    tables=("customer", "orders"),
)
def mart_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant-high-balance audit: customers whose balance
    exceeds the average positive balance but who have gone dormant (no
    order since 1999), grouped by nation (Q22's phone country-code becomes
    c_nationkey — the synthetic schema has no phone column; "never
    ordered" becomes "no recent order" because the generator gives nearly
    every customer some order, which left the literal Q22 predicate
    degenerate at test SF).

    Plan: the global average is a map-combined 1-row aggregate off the
    customer scan, attached as a broadcast crossJoin factor (the checks
    compiler's fused-factor pattern); the above-average predicate is
    integer cross-multiplication (bal_units * n_pos > sum_units) — exact,
    no float-boundary drift between engines. The never-ordered test is a
    LEFT ANTI join against orders projected to o_custkey only (column
    pruning keeps the anti-join build narrow; at 100 TB this is a
    co-partitioned sort-merge anti, not a broadcast)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    bal_units = F.floor(F.col("c_acctbal") * F.lit(10000) + F.lit(0.5)).cast("long")
    pos = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_units).alias("sum_units"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        customer.crossJoin(F.broadcast(pos))
        .filter(bal_units * F.col("n_pos") > F.col("sum_units"))
    )
    idle = rich.join(
        orders.filter(
            F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
        ).select("o_custkey"),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            fx_sum(F.col("c_acctbal"), "total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "mart_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                      AS BIGINT)) AS rev_units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           {sql_round("r.rev_units / 10000.0", 2)} AS total_revenue
    FROM supplier s
    JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.rev_units = (SELECT MAX(rev_units) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tables=("lineitem", "supplier"),
)
def mart_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the supplier(s) with maximum
    quarterly discounted revenue — a grouped aggregate filtered against
    its own scalar MAX, ties kept (Q15 keeps every supplier at the max).

    Plan: per-supplier revenue is ONE map-combined groupBy off the pruned,
    date-filtered lineitem scan (predicate reaches the parquet reader —
    pushed-down range on l_shipdate). The scalar MAX is a window over
    that per-supplier frame — |suppliers| bounded rows, the
    mart_nation_pareto single-Window-node move. The r4 crossJoin-factor
    form re-derived the max from a SECOND copy of the aggregate subtree,
    and the broadcast exchange around it defeated AQE reuse: the executed
    plan scanned lineitem twice (caught round 5 by scan-counting the
    final plan; now one scan). No unpartitioned window ever sees the
    fact table — only the aggregated frame. Revenue units are exact
    BIGINT across every shuffle; the one float division is the final
    reported rounding. The supplier join is broadcast (dim side)."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(units).alias("rev_units"))
    )
    return (
        rev.withColumn("max_units", F.max("rev_units").over(W.partitionBy()))
        .filter(F.col("rev_units") == F.col("max_units"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "mart_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                 AS BIGINT)) DESC,
             c.c_custkey
    LIMIT 20
    """,
    tables=("customer", "orders", "lineitem", "nation"),
)
def mart_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-20 customers by revenue
    lost to returns in one year.

    Plan: the two pushed-down filters (returnflag on lineitem, date range
    on orders) cut both fact inputs BEFORE the orderkey join; the
    filtered-orders side carries a shuffle_hash hint (r9 A/B, the
    Q17/affinity size-arithmetic precedent: the one-year window keeps
    ~1/7 of orders — ~2M 16-byte rows at sf10, ~1 MB hash table per
    shuffle partition — and SHJ skips sorting BOTH fact sides; measured
    3.13→2.91 and 3.10→2.91 s medians in two sessions, status quo
    slowest in 9/10 alternating rounds; an orders-side broadcast hint
    measured the same but caps at the broadcast ceiling, so the
    partition-local hint wins on scale posture — the shuffle stays, AQE
    still splits skew). Customer and nation attach after the per-customer
    aggregate (nation broadcast). The top-20 is TakeOrderedAndProject
    over exact revenue units with c_custkey as the deterministic
    tiebreak — no global sort materializes."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    nation = table(spark, sf_dir, "nation")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    o = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
        .hint("shuffle_hash")
    )
    l = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(units).alias("rev_units"), F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        per_cust.join(
            customer.select("c_custkey", "c_name", "c_nationkey"),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("rev_units").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "n_lines",
        )
    )


@register(
    "mart_discount_effect",
    oracle=f"""
    SELECT {sql_sum("l_extendedprice * l_discount")} AS promo_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
    """,
    tables=("lineitem",),
)
def mart_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped what-if: revenue that would be kept by dropping
    mid-range discounts on small orders for a year — the pure
    filter-and-reduce forecasting query.

    Plan: every predicate (ship-date range, discount band, quantity cap)
    is a pushed-down parquet filter; the scan reads four columns and the
    aggregate map-combines to a single row — zero shuffled data beyond
    the 1-row partials. The discount band compares against the same
    double literals on both engines over the same parquet doubles, so no
    representable-value drift exists. This is the query class where the
    engine floor dominates at test SF and the scan wins at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            fx_sum(F.col("l_extendedprice") * F.col("l_discount"), "promo_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "mart_customer_first_last_order",
    # first/last order per customer WITHOUT a window: min_by/max_by over a
    # packed (epoch_day, orderkey) integer key — deterministic under date
    # ties because the key is unique. Prices pass through untouched
    # (same parquet doubles both engines).
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderdate) AS first_order_date,
           arg_min(o_totalprice,
                   (epoch_us(o_orderdate) // 86400000000) * 10000000000
                     + o_orderkey) AS first_order_price,
           MAX(o_orderdate) AS last_order_date,
           arg_max(o_totalprice,
                   (epoch_us(o_orderdate) // 86400000000) * 10000000000
                     + o_orderkey) AS last_order_price
    FROM orders
    GROUP BY o_custkey
    ORDER BY n_orders DESC, o_custkey
    LIMIT 1000
    """,
    tables=("orders",),
)
def mart_customer_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order per customer — acquisition value vs current value,
    the input to LTV curves.

    Plan: the classic form is two ROW_NUMBER windows (or one window with
    first_value/last_value) partitioned by customer over raw orders; this
    form is ONE map-combinable groupBy using min_by/max_by over a packed
    sortable integer (epoch_day·10¹⁰ + orderkey — unique, so date ties
    break deterministically on orderkey, matching DuckDB's arg_min on the
    identical key). No sort, no window state, shuffle carries one row per
    customer. Output is the top-1000 customers by order count (ties on
    custkey) via TakeOrderedAndProject — at warehouse scale the
    per-customer frame is a table you WRITE, not a driver result; the
    declared query keeps the driver transfer bounded so the bench measures
    the aggregate, not 1.5M-row py4j serialization (measured: the
    unbounded form spent 11 of 13 s at sf10 on collect)."""
    orders = table(spark, sf_dir, "orders")
    packed = (
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        * F.lit(10000000000)
        + F.col("o_orderkey")
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderdate").alias("first_order_date"),
            F.min_by("o_totalprice", packed).alias("first_order_price"),
            F.max("o_orderdate").alias("last_order_date"),
            F.max_by("o_totalprice", packed).alias("last_order_price"),
        )
        .orderBy(F.col("n_orders").desc(), "o_custkey")
        .limit(1000)
    )


@register(
    "mart_promo_revenue_share",
    oracle=f"""
    SELECT date_trunc('month', l.l_shipdate) AS ship_month,
           {sql_round('''
             CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                            + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE) * 100
             / SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                       + 0.5) AS BIGINT))''', 6)} AS promo_share_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    ORDER BY 1
    """,
    tables=("lineitem", "part"),
)
def mart_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion effect: the monthly share of revenue on
    PROMO-type parts — the conditional-aggregate-ratio shape (CASE inside
    two SUMs of one scan, no second pass, no join per branch).

    Plan (r8 rewrite — BROADCAST BITMAP FLAG-JOIN): the join consumes
    exactly ONE BIT of the dim per fact row (is this part PROMO?), so
    instead of hashing 60M probes against a 2M-entry (key, type) table,
    part collapses to TWO vertical bitmaps keyed by ``p_partkey >> 6``
    (31k words at sf10): an EXISTENCE bitmap (preserves exact inner-join
    semantics — a probe whose word matches but whose bit is absent is
    filtered, exactly like a failed join) and a PROMO bitmap (the flag).
    The probe joins on the word and tests bits — the build side is 512×
    fewer entries, so the per-probe hash lookup hits an L2-resident
    table instead of thrashing a ~100 MB one. Size arithmetic at scale:
    2 bits/part vs ~9 B + ~48 B hash-entry overhead per part ≈ 200×;
    a 2-billion-part catalog is a 500 MB bitmap — past the broadcast
    ceiling, where AQE correctly degrades this to an SMJ on 31M words
    (still 64× fewer rows than keys). No explicit broadcast hint: AQE
    converts the ~500 KB build side itself (scale-growing-side policy).
    Uniqueness of p_partkey is load-bearing (a duplicate key would
    silently de-duplicate fact matches) and ENFORCED on the cheap dim
    side: Σ bit_count(exists) must equal COUNT(*), raising loudly —
    the guard rides the 2M-row bitmap aggregate, NEVER the 60M-row
    probe. Word/bit recovery is a two's-complement identity, exact for
    any long key incl. negatives; NULL l_partkey drops at the word join
    like the original inner join. Both sums come from ONE conditional
    aggregate (exact integer revenue units). Measured sf10: 2.63 →
    1.94 s (−26%, alternating medians of 5; PERF.md r8)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    pbit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p_partkey & 63 AS INT))")
    bitmaps = part.groupBy(F.shiftright(F.col("p_partkey"), 6).alias("w")).agg(
        F.bit_or(pbit).alias("exists_bits"),
        F.bit_or(
            F.when(F.col("p_type") == "PROMO", pbit).otherwise(F.lit(0))
        ).alias("promo_bits"),
        F.count(F.lit(1)).alias("cnt"),
    )
    guard = (
        bitmaps.agg(
            F.sum(F.bit_count(F.col("exists_bits")).cast("long")).alias("_bits"),
            F.sum("cnt").alias("_cnt"),
        )
        .filter(
            F.when(
                F.col("_cnt").isNull() | (F.col("_bits") == F.col("_cnt")),
                F.lit(True),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "mart_promo_revenue_share: duplicate p_partkey;"
                        " the bitmap flag-join requires unique dim keys —"
                        " use a plain dim join for this key domain"
                    )
                ).cast("boolean")
            )
        )
        .select(F.lit(1).alias("_guard_ok"))
    )
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    joined = li.join(
        bitmaps.drop("cnt"), F.shiftright(F.col("l_partkey"), 6) == F.col("w")
    ).filter(F.expr("(exists_bits >> CAST(l_partkey & 63 AS INT)) & 1 = 1"))
    promo = F.expr("((promo_bits >> CAST(l_partkey & 63 AS INT)) & 1) = 1")
    return (
        joined.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum(F.when(promo, units).otherwise(F.lit(0))).alias("promo_units"),
            F.sum(units).alias("all_units"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .crossJoin(F.broadcast(guard))
        .select(
            "ship_month",
            fx_round(
                F.col("promo_units").cast("double") * 100 / F.col("all_units"), 6
            ).alias("promo_share_pct"),
            "n_lines",
        )
        .orderBy("ship_month")
    )


@register(
    "mart_disjunctive_revenue",
    # TPC-H Q19 shape: OR-of-ANDs predicate spanning BOTH join sides —
    # the test of disjunctive predicate handling (the common subexpression
    # p_partkey = l_partkey must still drive a hash join, with the OR as
    # a post-join filter, never a nested loop).
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    tables=("lineitem", "part"),
)
def mart_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive filter join: revenue from three OR'd
    (brand, size, quantity) bands. Catalyst must extract the common
    equi-condition (partkey) for the hash join and keep the OR as a
    residual filter — AND push each side's single-side conjuncts
    (brand/size bands to the part scan via an OR-derived filter). The
    plan test asserts no BroadcastNestedLoopJoin appears."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # part is scale-growing: AQE-decided join (broadcast-hint policy)
    j = li.join(
        part.select("p_partkey", "p_brand", "p_size"),
        li.l_partkey == F.col("p_partkey"),
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.count(F.lit(1)).alias("n_lines"),
        fx_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        ),
    )


@register(
    "mart_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                     + 0.5) AS BIGINT)) DESC,
             o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    tables=("customer", "orders", "lineitem"),
)
def mart_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: the 10 highest-revenue orders
    placed before a date but (partially) shipped after it, for one market
    segment — the fact-granularity top-k over a 3-way join. SIZE-GATED
    strategy (VERDICT r8 item 2): below ~20M probe rows the packed-map
    builds are pure overhead (sf0.1: 0.63→0.98 s) so the gate picks the
    plain 3-way-join form; above it the packed form wins. Both sides
    value-identical (tests/test_packedmap_gate.py).

    Packed plan (r8 rewrite — PACKED DATE-CODE MAP, the packedmap family): the
    orders side collapses to a 16-bit day-code word map built from orders
    PRE-FILTERED to the date range and the BUILDING segment (broadcast
    semi against the filtered customer keys), so both filters fold into
    slot ABSENCE and the lineitem probe drops non-matching lines at the
    word join — the orderkey fact-fact shuffle disappears (size-gated
    broadcast hint; see ``words_fit_broadcast`` for why AQE's runtime
    conversion is too late for this shape). The day code
    ``datediff(o_orderdate, 1969-12-31)`` is monotone in the date, so the
    (revenue desc, orderdate, orderkey) top-10 tiebreaks are exact BEFORE
    dates are re-materialized arithmetically; ``o_orderpriority`` (not in
    the sort) late-materializes via a 10-row broadcast back-join. A
    non-midnight-aligned o_orderdate would make the recovered date wrong,
    so the code expression maps it to -1 and the map's domain guard
    raises loudly. Measured sf10: 3.16 → 2.80 s medians (−11%; the agg
    input also shrinks ~20× because the word join filters to matching
    orders' lines before the shuffle)."""
    if packed_map_worthwhile(sf_dir, "lineitem"):
        return _mart_shipping_priority_packed(spark, sf_dir)
    return _mart_shipping_priority_plain(spark, sf_dir)


def _mart_shipping_priority_plain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The small-SF side of the gate: segment filter reduces customer
    before its join (projected to the key column only), both date
    filters push to their scans, TakeOrderedAndProject top-10 over exact
    revenue units with (orderdate, orderkey) tiebreaks."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    o = orders.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = li.filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(units).alias("rev_units"))
        .orderBy(F.col("rev_units").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


def _mart_shipping_priority_packed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o2 = orders.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    day_code = F.when(
        F.col("o_orderdate") == F.date_trunc("day", F.col("o_orderdate")),
        F.datediff(F.col("o_orderdate"), F.lit("1969-12-31").cast("timestamp_ntz")),
    ).otherwise(F.lit(-1))
    dmap = packed_code_map(
        o2,
        "o_orderkey",
        day_code,
        slot_bits=16,
        guard_message=(
            "mart_shipping_priority: packed date-map domain violated"
            " (duplicate o_orderkey, non-midnight o_orderdate, or date"
            " outside 1970-2149); use a plain orders join"
        ),
    )
    l = li.filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    # selectivity: date < 1997 keeps ~2 of the generator's ~7 years; the
    # segment semi keeps ~1/5 — 0.3 stays a sound upper bound for the
    # date part alone, and keys are dense surrogates
    probed = join_packed_codes(
        l,
        dmap,
        "l_orderkey",
        "_dcode",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "orders", slot_bits=16, selectivity=0.3, dense_keys=True
        ),
    )
    top = (
        probed.groupBy("l_orderkey", "_dcode")
        .agg(F.sum(units).alias("rev_units"))
        .orderBy(F.col("rev_units").desc(), "_dcode", "l_orderkey")
        .limit(10)
    )
    # Late-materialize o_orderpriority from o2 — the GUARDED filtered set
    # the map was built from (dmap's duplicate guard covers only o2, so a
    # duplicate orderkey outside the filter would silently duplicate
    # top-10 rows if we probed raw orders; ADVICE r8). Every top-10 key
    # came from o2's map, so the restriction is value-identical.
    return (
        o2.select("o_orderkey", "o_orderpriority")
        .join(F.broadcast(top), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            F.date_add(F.lit("1969-12-31").cast("date"), F.col("_dcode").cast("int"))
            .cast("timestamp_ntz")
            .alias("o_orderdate"),
            "o_orderpriority",
            "rev_units",
        )
        .orderBy(F.col("rev_units").desc(), "o_orderdate", "l_orderkey")
        .drop("rev_units")
    )


@register(
    "mart_copurchase_pagerank",
    oracle=None,  # iterative float fixpoint — rows-only; invariants
    # (stochastic sum, symmetry, hub dominance) pinned in tests/test_graph.py
    tables=("lineitem",),
)
def mart_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part importance via weighted PageRank on the co-purchase graph —
    the iterative-dataflow capability (superstep = join + groupBy,
    lineage truncated by localCheckpoint; see operators/graph.py). Edges
    are the basket pair counts from the mart_part_affinity shape; output
    is the top-20 parts by rank.

    At 100 TB the edge build is the dominant cost (same plan as
    mart_part_affinity); each of the 10 supersteps then shuffles only
    |parts| rank rows against the cached normalized edge frame."""
    from ..operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps")
    )
    edges = (
        baskets.select(F.explode("ps").alias("x"), "ps")
        .select(
            F.col("x").alias("src"),
            F.explode(F.expr("filter(ps, y -> y > x)")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    ranks = pagerank(edges, iterations=10)
    return (
        ranks.orderBy(F.col("rank").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("part_key"), "rank")
    )


@register(
    "mart_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation_name,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
)
def mart_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue where the customer
    and the line's supplier share a nation — the 5-way star-plus-residual
    join (the c_nationkey = s_nationkey condition links two DIMENSION
    branches, which is what makes Q5 a join-ORDER benchmark). SIZE-GATED
    strategy (VERDICT r8 item 2): below ~20M probe rows the packed-map
    builds are pure overhead (sf0.1: 0.62→1.05 s) so the gate picks the
    plain star-join form; above it the packed form's zero fact shuffles
    win. Both sides value-identical (tests/test_packedmap_gate.py).

    Packed plan (r8 rewrite — COMPOSED PACKED NATION-CODE MAPS; ZERO fact
    shuffles): every join here ultimately feeds the probe a single small
    code per key — the customer's nation, the supplier's nation — so the
    whole join tree collapses into packed-map composition: (1) customer
    → 8-bit nation-code word map; (2) the date-filtered orders probe
    that map (broadcast, no shuffle) and re-pack BY ORDERKEY, giving an
    orderkey → customer-nation map whose slot ABSENCE encodes both the
    date filter and a missing customer; (3) supplier → nation-code map.
    The 60M-row lineitem probe then takes two broadcast word joins and a
    code-equality filter (the same-nation residual), aggregating into
    ≤25 nation groups map-side — the lineitem⋈orders fact edge that even
    the bucketed twin could not remove for the SUPPKEY side
    (test_local_supplier_volume_bucketed's documented one-layout limit)
    is gone entirely, because the supplier edge consumes only a nation
    code. Size-gated broadcast hints (``words_fit_broadcast``) pin the
    word builds — measured without them the initial-plan SMJ shuffles
    the probe before AQE converts (4.5 → 9.2 s REGRESSION). Nation names
    decode from codes via the 25-row nation dim AFTER aggregation.
    Guards: per-word inline in each map (duplicate keys, nationkey
    outside [0, 254]). Measured sf10: 3.71 → 3.17 s medians (−15%).
    Revenue units exact BIGINT."""
    if packed_map_worthwhile(sf_dir, "lineitem"):
        return _mart_local_supplier_volume_packed(spark, sf_dir)
    return _mart_local_supplier_volume_plain(spark, sf_dir)


def _mart_local_supplier_volume_plain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The small-SF side of the gate: date filter cuts orders first,
    customer and supplier attach as broadcast dims (key + nationkey
    only), same-nation residual after both are in scope, nation
    broadcasts last for the name. One co-partitioned fact edge
    (lineitem⋈orders on orderkey).

    The explicit broadcasts on customer/supplier — SCALE-GROWING tables,
    normally a no-explicit-broadcast policy violation — are sound ONLY
    because packed_map_worthwhile bounds this branch: it runs iff the
    lineitem footer count is below the 20M-row gate (packedmap.py), which
    caps customer at ~500k and supplier at ~33k rows (TPC-H ratios) —
    both far under the broadcast threshold. Above the gate the packed
    branch runs instead. If the gate threshold ever moves up, re-check
    this arithmetic or drop the hints and let AQE convert (the Q17 plain
    form's approach)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    j = (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(units).alias("rev_units"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "nation_name",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "n_lines",
            "rev_units",
        )
        .orderBy(F.col("rev_units").desc(), "nation_name")
        .drop("rev_units")
    )


def _mart_local_supplier_volume_packed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    cmap = packed_code_map(
        customer,
        "c_custkey",
        F.col("c_nationkey") + 1,
        slot_bits=8,
        guard_message=(
            "mart_local_supplier_volume: packed customer nation-map domain"
            " violated (duplicate c_custkey or c_nationkey outside"
            " [0, 254]); use a plain customer join"
        ),
    )
    o2 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    o3 = join_packed_codes(
        o2,
        cmap,
        "o_custkey",
        "_cn",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "customer", dense_keys=True
        ),
    )
    omap = packed_code_map(
        o3,
        "o_orderkey",
        F.col("_cn"),
        slot_bits=8,
        guard_message=(
            "mart_local_supplier_volume: packed order nation-map domain"
            " violated (duplicate o_orderkey); use a plain orders join"
        ),
    )
    smap = packed_code_map(
        supplier,
        "s_suppkey",
        F.col("s_nationkey") + 1,
        slot_bits=8,
        guard_message=(
            "mart_local_supplier_volume: packed supplier nation-map domain"
            " violated (duplicate s_suppkey or s_nationkey outside"
            " [0, 254]); use a plain supplier join"
        ),
    )
    # selectivity: the one-year date range keeps ~1/7 of the generator's
    # orders; keys are dense surrogates
    probed = join_packed_codes(
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        omap,
        "l_orderkey",
        "_cn",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "orders", selectivity=0.15, dense_keys=True
        ),
    )
    probed = join_packed_codes(
        probed,
        smap,
        "l_suppkey",
        "_sn",
        hint_broadcast=words_fit_broadcast(
            spark, sf_dir, "supplier", dense_keys=True
        ),
    ).filter(F.col("_cn") == F.col("_sn"))
    agg = probed.groupBy("_cn").agg(
        F.sum(units).alias("rev_units"), F.count(F.lit(1)).alias("n_lines")
    )
    return (
        agg.join(F.broadcast(nation), agg["_cn"] - 1 == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation_name"),
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "n_lines",
            "rev_units",
        )
        .orderBy(F.col("rev_units").desc(), "nation_name")
        .drop("rev_units")
    )


@register(
    "mart_nation_trade_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE ((cn.n_name = 'NATION_9' AND sn.n_name = 'NATION_10')
        OR (cn.n_name = 'NATION_10' AND sn.n_name = 'NATION_9'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
)
def mart_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between two
    named nations (both directions) by year — the two-aliases-of-one-dim
    join (nation joins twice under different roles).

    Plan: both nation aliases broadcast; the disjunctive nation-pair
    predicate evaluates post-join on two broadcast-resolved names (AND
    each alias prunes to the 2 relevant rows pre-broadcast via an IN
    filter — the OR collapses to in-lists per side, which Catalyst pushes
    into both dimension scans). Year extraction is exact integer."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    pair = ("NATION_9", "NATION_10")
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    cn = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        j.groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(F.sum(units).alias("vol_units"))
        .select(
            "cust_nation",
            "supp_nation",
            "ship_year",
            fx_round(F.col("vol_units") / F.lit(10000.0), 2).alias("volume"),
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@register(
    "mart_brand_market_share",
    oracle=f"""
    WITH all_rev AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
             CASE WHEN p.p_brand = 'Brand#11' THEN
               CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                    AS BIGINT) ELSE 0 END AS brand_units,
             CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                  AS BIGINT) AS units
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'STANDARD'
    )
    SELECT order_year,
           {sql_round("CAST(SUM(brand_units) AS DOUBLE) / SUM(units)", 6)}
             AS brand_share
    FROM all_rev
    GROUP BY order_year
    ORDER BY order_year
    """,
    tables=("lineitem", "orders", "part"),
)
def mart_brand_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: one brand's fraction of STANDARD-type
    revenue by order year — the conditional-numerator-over-total ratio
    computed in ONE aggregate (the Q14 pattern generalized to a grouped
    time series).

    Plan (r8 rewrite — BOTH joins collapse to packed broadcast maps, so
    the fact NEVER shuffles):

    * Part side (the Q14 bitmap flag-join verbatim): the probe consumes
      two bits per part — "is STANDARD" (the join+filter; absent key and
      non-STANDARD both drop, preserving exact inner-join semantics) and
      "is STANDARD Brand#11" (the numerator flag) — so part collapses to
      three ``p_partkey >> 6``-keyed bitmaps (exists feeds the uniqueness
      guard only). 512× fewer build entries than a (key, brand) dim.
    * Orders side (NEW — the bitmap mechanism generalized from 1-bit
      flags to n-bit VALUES): the probe consumes only ``year(o_orderdate)``
      — a handful of distinct values — so the 15M-row orders fact
      collapses to a PACKED 8-BIT YEAR-CODE MAP keyed by
      ``o_orderkey >> 3``: slot ``o_orderkey & 7`` holds
      ``year - 1989`` (1..255 ⇒ years 1990–2244; 0 = no such order, which
      makes the inner-join drop a bit test exactly like the bitmaps).
      ~1.9M words ≈ 15 MB at sf10 — under the 64 MB adaptive threshold,
      so AQE broadcasts it and the orderkey fact-fact SHUFFLE DISAPPEARS
      (the family-floor entry in PERF.md assumed the orders payload was
      join-irreducible; a sub-byte payload is the exception the bitmap
      family exploits). At 100 TB a 15B-order map is ~15 GB — past any
      broadcast ceiling, where AQE degrades to a shuffle on 8× fewer
      build rows, the same honest fallback as Q14's.

    PRECONDITIONS, ENFORCED loudly and dim-side only (the Q18 lesson:
    guards never ride the fact-cardinality hot path): unique p_partkey
    (per-word bit_count(exists) == count raising filter inline in the
    word frame, AQE-empty-proof); unique o_orderkey and
    order years within [1990, 2244] — both via the packed map's PER-WORD
    raising filter (see ``operators/packedmap.py``: a detached 1-row
    guard subtree re-scanned orders and cancelled the win, A/B'd; and an
    out-of-range code would silently bleed into neighbor slots because
    shiftleft is a bit op precisely so the hot path cannot ANSI-throw,
    the r7 affinity race lesson, so the range MUST be guarded). Numerator
    and denominator are exact integer units in the same map-combined
    aggregate — never two query subtrees. Measured sf10: 2.48/2.77 →
    2.08/2.26 s medians across two alternating-A/B sessions (−17%;
    PERF.md r8)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    part = table(spark, sf_dir, "part")

    pbit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p_partkey & 63 AS INT))")
    is_std = F.col("p_type") == "STANDARD"
    # The duplicate-p_partkey guard is PER-WORD and inline in pmaps (the
    # packed_code_map shape), not a detached result-side crossJoin: a
    # detached guard is a second consumer of the part subtree (its own
    # scan+aggregate, the pruning-cascade cost) AND is AQE-empty-relation
    # eliminated when every probe row drops — silently-empty output
    # instead of the loud raise (ADVICE r8).
    pmaps = (
        part.groupBy(F.shiftright(F.col("p_partkey"), 6).alias("pw"))
        .agg(
            F.bit_or(pbit).alias("exists_bits"),
            F.bit_or(
                F.when(is_std, pbit).otherwise(F.lit(0))
            ).alias("std_bits"),
            F.bit_or(
                F.when(
                    is_std & (F.col("p_brand") == "Brand#11"), pbit
                ).otherwise(F.lit(0))
            ).alias("brand_bits"),
            F.count(F.lit(1)).alias("pcnt"),
        )
        .filter(
            F.when(
                F.bit_count(F.col("exists_bits")).cast("long")
                == F.col("pcnt"),
                F.lit(True),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "mart_brand_market_share: duplicate p_partkey;"
                        " the bitmap flag-join requires unique dim keys"
                    )
                ).cast("boolean")
            )
        )
    )

    ymap = packed_code_map(
        orders,
        "o_orderkey",
        F.year("o_orderdate") - F.lit(1989),
        slot_bits=8,
        guard_message=(
            "mart_brand_market_share: packed year-map domain violated"
            " (duplicate o_orderkey or order year outside [1990, 2244]);"
            " use a plain orders join for this key/date domain"
        ),
    )
    # ymap's own guard is embedded in its words frame (see packedmap.py).
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    probed = join_packed_codes(
        li.select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
        .join(
            pmaps.select("pw", "std_bits", "brand_bits"),
            F.shiftright(F.col("l_partkey"), 6) == F.col("pw"),
        )
        .filter(F.expr("(std_bits >> CAST(l_partkey & 63 AS INT)) & 1 = 1")),
        ymap,
        "l_orderkey",
        "_ycode",
    )
    is_brand = F.expr("((brand_bits >> CAST(l_partkey & 63 AS INT)) & 1) = 1")
    return (
        probed.groupBy((F.col("_ycode") + 1989).alias("order_year"))
        .agg(
            F.sum(F.when(is_brand, units).otherwise(F.lit(0))).alias(
                "brand_units"
            ),
            F.sum(units).alias("units"),
        )
        .select(
            "order_year",
            fx_round(
                F.col("brand_units").cast("double") / F.col("units"), 6
            ).alias("brand_share"),
        )
        .orderBy("order_year")
    )


@register(
    "mart_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) AS qty_units
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) > 3000000
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           {sql_round("o.o_totalprice")} AS total_price,
           {sql_round("b.qty_units / 10000.0", 2)} AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tables=("lineitem", "orders", "customer"),
)
def mart_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume customers: orders whose total line
    quantity exceeds 300 — the HAVING-filtered aggregate JOINED BACK to
    its facts (the aggregate is a filter, not the answer).

    Plan (r8 rewrite — PACKED 14-BIT QUANTITY SUMS, the dq_key_skew
    packed-counter mechanism extended from counts to small integer SUMS):
    the per-order aggregate was the whole cost (15M mostly-distinct
    orderkeys at sf10 — the pass-through-partial signature), so instead
    of one group per order, group by ``l_orderkey >> 2`` and sum
    ``qty << (l_orderkey & 3) * 14`` — 4 orders per 64-bit word in
    14-bit slots (per-order capacity 16383; TPC-H-shaped sums run ≤ ~500),
    4× fewer hash groups and shuffled rows. Per-order sums are recovered
    exactly post-shuffle by slot extraction; the HAVING filter then
    shrinks to the rare big orders exactly as before, driving
    broadcast-sized joins back to orders and customer — the fact is never
    re-scanned at fact granularity. PRECONDITIONS, all ENFORCED loudly
    (guard attached to the top-100 like the affinity pack guard — a
    100×1 broadcast nested loop): quantities integer-valued (the pack
    floors; a fractional quantity would silently truncate) and
    non-negative (negative packed contributions alias neighbor slots),
    and Σ(recovered slot sums) must equal the true Σ(qty) — a slot carry
    or a per-row slot overflow strictly shrinks the recovered total, so
    the equality catches both. GUARD PLACEMENT is load-bearing (A/B'd):
    riding the guard columns (Σqty, max frac, min qty) on the 60M-row
    hot aggregate cancelled the packing win entirely (3.01 vs 3.12 tie);
    the shipped form keeps the hot aggregate at ONE expression and puts
    the truth side in a separate l_quantity-only scan (~0.3 s) plus the
    recovered side in a 1-row pass over the 3.75M-word frame. The
    maximally-loaded valid word is < 2^56, so valid data can never
    ANSI-overflow (the key_skew 7-bit lesson applied at design time).
    Exact integer quantity units in the output; top-100 via
    TakeOrderedAndProject. Measured sf10: 2.85 → 2.43 s (−15%,
    alternating medians of 5; smaller than key_skew's −46% because the
    group reduction is 4× not 8× and the guard scan is paid — PERF.md
    r8)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    contrib = F.expr(
        "shiftleft(CAST(FLOOR(l_quantity) AS BIGINT),"
        " CAST((l_orderkey & 3) * 14 AS INT))"
    )
    packed = li.groupBy(F.shiftright(F.col("l_orderkey"), 2).alias("word")).agg(
        F.sum(contrib).alias("p"),
    )
    slots = [F.expr(f"(p >> {s * 14}) & 16383") for s in range(4)]
    recovered = packed.agg(
        F.sum(slots[0] + slots[1] + slots[2] + slots[3]).alias("_rec")
    )
    truth = li.agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("_true"),
        F.max(F.abs(F.col("l_quantity") - F.floor(F.col("l_quantity")))).alias(
            "_frac"
        ),
        F.min("l_quantity").alias("_mn"),
    )
    pack_guard = (
        recovered.crossJoin(truth).filter(
            F.when(
                F.col("_true").isNull()
                | (
                    (F.col("_rec") == F.col("_true"))
                    & (F.col("_frac") == 0)
                    & (F.col("_mn") >= 0)
                ),
                F.lit(True),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "mart_large_volume_customers: quantity outside the"
                        " packed-sum domain (fractional, negative, or"
                        " per-order sum beyond 16383); use a plain per-key"
                        " groupBy for this measure domain"
                    )
                ).cast("boolean")
            )
        )
    ).select(F.lit(1).alias("_guard_ok"))
    big = (
        packed.select(
            "word",
            F.posexplode(F.array(*[s.cast("long") for s in slots])).alias(
                "slot", "qty_sum"
            ),
        )
        .filter(F.col("qty_sum") > 300)
        .select(
            (F.col("word") * 4 + F.col("slot")).alias("l_orderkey"),
            (F.col("qty_sum") * 10000).alias("qty_units"),
        )
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(
            customer.select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .crossJoin(F.broadcast(pack_guard))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            fx_round(F.col("o_totalprice"), 2).alias("total_price"),
            fx_round(F.col("qty_units") / F.lit(10000.0), 2).alias("total_qty"),
        )
    )


@register(
    "mart_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
    )
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    LIMIT 50
    """,
    tables=("lineitem", "part", "supplier"),
)
def mart_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: distinct suppliers per
    (brand, size), excluding a NOT-IN denylist (negative-balance
    suppliers stand in for Q16's complaints list; the synthetic schema
    has no partsupp, so the lineitem edge provides the part↔supplier
    link).

    Plan: the denylist is a broadcast LEFT ANTI join (NOT IN with a
    provably non-null key — never a nested loop). The distinct count is a
    VERTICAL-BITMAP aggregate, not a row dedup: the two-level
    (brand,size,suppkey)-distinct form shuffled ~60M rows into a ~47M-key
    hash table whose map-side partial was pure pass-through (measured
    4.1 s of 6.6 at sf10 — and pre-deduping (partkey,suppkey) edges is
    useless on this data: 59.1M distinct pairs of 60M lines). Instead
    each line contributes ONE bit: group key = (gid, suppkey >> 6),
    value = bit_or(1L << (suppkey & 63)) — a single codegen expression
    per row — then supplier_cnt = Σ bit_count per gid. The final hash
    table shrinks to |groups|·|supplier domain|/64 ≈ 2M entries (vs 47M)
    and the merge is a long OR. sf10: 6.6 → 3.2 s; the residual 1.4 s is
    the scan + two broadcast probes (profiled), i.e. Spark's join floor,
    not the aggregate. 100 TB posture: with dense supplier keys the
    bitmap chunks stay packed; with sparse/random 64-bit keys each chunk
    degrades to ~1 bit and the plan gracefully equals the row-dedup form
    — never worse, no precondition. gid is a dense (brand,size) index
    assigned on the driver from the distinct dim — a BOUNDED fetch
    (≤ |brands|·|sizes| rows, the same boundedness the bit-pack already
    requires; the quantiles-bucket precedent), deterministic by sort, and
    cheaper than a single-partition window (whose WindowExec WARN would
    also dirty the bench-tail cleanliness gate)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    deny = supplier.filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    dim_rows = sorted(
        (r["p_brand"], r["p_size"])
        for r in part.select("p_brand", "p_size").distinct().collect()
    )
    dim = local_frame(
        spark,
        [(b, s, i) for i, (b, s) in enumerate(dim_rows)],
        "p_brand string, p_size int, gid long",
    )
    part_gid = (
        part.select("p_partkey", "p_brand", "p_size")
        .join(F.broadcast(dim), ["p_brand", "p_size"])
        .select("p_partkey", "gid")
    )
    edges = (
        li.select("l_partkey", "l_suppkey")
        # deny and part_gid keep their broadcast hints as the DOCUMENTED
        # exception to the hint-only-size-constant policy: unhinted, the
        # initial-plan SMJ shuffles the 60M edge side before AQE can
        # convert (measured +2 s at sf10, r6 A/B — unlike the promo/
        # disjunctive shapes where AQE-decided is free). deny is a ~1%
        # dim filter (8-byte keys); part_gid is 16 B/row — both remain
        # broadcastable well past sf1000; re-evaluate at true 100 TB.
        .join(F.broadcast(deny), li.l_suppkey == deny.s_suppkey, "left_anti")
        .join(F.broadcast(part_gid), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "gid",
            F.shiftright(F.col("l_suppkey"), 6).alias("chunk"),
            F.expr("shiftleft(1L, CAST(l_suppkey & 63 AS INT))").alias("bit"),
        )
    )
    counts = (
        edges.groupBy("gid", "chunk")
        .agg(F.bit_or("bit").alias("w"))
        .select("gid", F.bit_count("w").alias("c"))
        .groupBy("gid")
        .agg(F.sum("c").alias("supplier_cnt"))
    )
    return (
        counts.join(F.broadcast(dim), "gid")
        .select("p_brand", "p_size", "supplier_cnt")
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(50)
    )


@register(
    "mart_sole_late_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    tables=("lineitem", "orders", "supplier"),
)
def mart_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for finished
    orders, lines shipped >90 days after ordering, where OTHER suppliers
    participated in the order (EXISTS) but NONE of them was also late
    (NOT EXISTS) — the double-correlated-subquery shape (the synthetic
    schema has no receiptdate; ship-lag beyond 90 days stands in for
    Q21's receipt-after-commit).

    Plan: instead of per-row subqueries, BOTH correlations collapse into
    one per-order aggregate over the late-flagged lines, and the culprit
    supplier's identity travels INSIDE that aggregate — per (order,
    supplier): max(is_late) + its late-line count; per order: supplier
    count, late-supplier count, and ``max(struct(suppkey, n_late_lines))
    FILTER (late)`` which IS the sole late supplier whenever the Q21
    predicate (``n_suppliers > 1 AND n_late_suppliers = 1``) holds. No
    join-back: the r4 join-back form re-derived ``flagged`` in two
    subtrees whose column pruning differed, so NOTHING reused — the
    executed plan scanned lineitem AND orders 4× each (caught round 5 by
    counting scans in the final AQE plan; now plan-asserted 1×). Never a
    dual ``count_distinct`` either (Expand doubles 60M rows; 12.3 → 8.5 s
    at sf10). Both stacked aggregates ride the fact join's orderkey
    partitioning (hashpartitioning(ok) satisfies (ok, sk) clustering);
    the only later shuffle is the ≤|suppliers| culprit rollup. Late-line
    multiplicity is preserved: a supplier with two late lines in one
    order waits twice (EXISTS correlates per outer LINE)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier")
    o = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lines = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        o, F.col("l_orderkey") == o.o_orderkey
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    flagged = lines.select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    pair = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late"),
        F.sum(F.col("is_late").cast("long")).alias("n_late_lines"),
    )
    per_order = pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("supp_late").cast("int")).alias("n_late_suppliers"),
        # with n_late_suppliers == 1 this max is exactly the culprit row
        F.max(
            F.when(
                F.col("supp_late"),
                F.struct(F.col("l_suppkey"), F.col("n_late_lines")),
            )
        ).alias("late_supp"),
    )
    culprit = per_order.filter(
        (F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1)
    ).select(
        F.col("late_supp.l_suppkey").alias("l_suppkey"),
        F.col("late_supp.n_late_lines").alias("n_waits"),
    )
    return (
        culprit.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            culprit.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("n_waits").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "mart_part_hierarchy_rollup",
    oracle=f"""
    WITH RECURSIVE anc AS (
      SELECT l_partkey AS part, l_partkey AS ancestor
      FROM (SELECT DISTINCT l_partkey FROM lineitem)
      UNION ALL
      SELECT part, ancestor // 10 FROM anc WHERE ancestor >= 10
    ),
    rev AS (
      SELECT l_partkey AS part,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS units
      FROM lineitem GROUP BY 1
    )
    SELECT a.ancestor AS category,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {sql_round("SUM(r.units) / 10000.0", 2)} AS revenue
    FROM anc a JOIN rev r ON r.part = a.part
    GROUP BY a.ancestor
    ORDER BY revenue DESC, category
    LIMIT 20
    """,
    tables=("lineitem",),
)
def mart_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM/category-tree) rollup: revenue aggregated at every
    ancestor of each part in a synthetic decimal-digit tree (parent(p) =
    p div 10; roots are the one-digit nodes) — the recursive-hierarchy
    aggregation shape (org charts, bills of materials, category trees).

    The ORACLE is the genuine recursive definition (``WITH RECURSIVE``
    ancestor closure). The engine side deliberately does NOT iterate:
    for a fixed-arithmetic hierarchy the ancestor set of a row is
    computable ROW-LOCALLY (filter k ≤ 7 where p ≥ 10^k, then floor
    division — provably equal to the recursion, which strictly divides
    by 10 until the root), so the closure explode never joins, never
    loops, and never re-shuffles: one explode over a ≤8-element array,
    one map-combined groupBy. For data-driven parent POINTERS (no closed
    form) the iterative pattern is ``operators/graph.py``'s loop; this
    query covers the far more common fixed-hierarchy case at zero
    iterations. Division by 10^k in doubles is exact-safe here: quotients
    stay < 2^21, so rounding can never cross an integer boundary."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
                + F.lit(0.5)
            ).cast("long")
        ).alias("units")
    )
    p = F.col("part")
    ks = F.filter(
        F.sequence(F.lit(0), F.lit(7)),
        lambda k: (k == F.lit(0))
        | (p >= F.pow(F.lit(10.0), k.cast("double"))),
    )
    ancestors = F.transform(
        ks, lambda k: F.floor(p / F.pow(F.lit(10.0), k.cast("double"))).cast("long")
    )
    return (
        rev.select(F.explode(ancestors).alias("category"), "units")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("units").alias("rev_units"),
        )
        .select(
            "category",
            "n_parts",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
        )
        .orderBy(F.col("rev_units").desc(), "category")
        .limit(20)
    )


@register(
    "mart_status_priority_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    tables=("orders",),
)
def mart_status_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT to wide (long→wide reshape; the inverse of
    ``stg_unpivot_metrics``): order counts per priority spread across
    status columns — the crosstab every BI layer asks for.

    ``pivot`` with an EXPLICIT value list: without it Spark runs an extra
    distinct-collect job to discover columns AND the output schema becomes
    data-dependent (schema drift at 100 TB if a new status appears —
    here a new status is a DQ violation, see ``dq_set_membership``).
    The pivot compiles to one map-combined aggregate with 3 conditional
    branches — same plan as the oracle's FILTER form; absent combinations
    coalesce to 0 on both engines."""
    orders = table(spark, sf_dir, "orders")
    pv = (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        (
            F.coalesce(F.col("F"), F.lit(0))
            + F.coalesce(F.col("O"), F.lit(0))
            + F.coalesce(F.col("P"), F.lit(0))
        ).alias("n_total"),
    ).orderBy("priority")


@register(
    "mart_high_value_range_ma",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
             SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT)) AS units,
             CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_totalprice > 400000
      GROUP BY 1
    )
    SELECT day_num,
           order_count,
           FLOOR(units / 10000.0 * 100 + 0.5) / 100.0 AS revenue,
           CAST(SUM(units) OVER w AS BIGINT) AS units_7d,
           CAST(SUM(order_count) OVER w AS BIGINT) AS orders_7d
    FROM daily
    WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day_num
    """,
    tables=("orders",),
)
def mart_high_value_range_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 RANGE frames on a GAPPY series: trailing 7-calendar-day totals
    of high-value orders. The day series is sparse (most days have no
    order over the threshold), so this is the frame shape ROWS BETWEEN
    gets WRONG — a ROWS frame would reach back 6 *observations* (weeks of
    calendar time across gaps); RANGE bounds the frame by the ORDER
    VALUE, looking back exactly 6 days whether or not they exist
    (``mart_daily_revenue_ma7`` is the dense-series ROWS twin).

    Plan: aggregate to exact integer units per day first, then one
    unpartitioned RANGE window over the ≤|days| rows — never raw orders.
    The frame key is an integer epoch-day on BOTH engines, sidestepping
    interval-frame dialect differences entirely."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(10000) + F.lit(0.5)).cast(
                "long"
            )
        ).alias("units"),
        F.count(F.lit(1)).alias("order_count"),
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day_num",
        "order_count",
        fx_round(F.col("units") / F.lit(10000.0), 2).alias("revenue"),
        F.sum("units").over(w).alias("units_7d"),
        F.sum("order_count").over(w).alias("orders_7d"),
    ).orderBy("day_num")


# ONE bucketed copy of each fact serves the whole orderkey-join family
# (Q3/Q10/Q5 twins): the projection is the UNION of the family's needed
# columns, and readers column-prune the bucketed parquet, so each query
# still scans only its own columns — this is the warehouse call at 100 TB
# (one bucketize amortized across every consumer, not a copy per query).
# Keep these in sync with every _bucketed_fact caller: the table is
# materialized ONCE per session+sf under the fact's name, so a narrower
# per-query projection would poison later family members.
_BUCKETED_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]
_BUCKETED_LINEITEM_COLS = [
    "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate",
    "l_returnflag", "l_suppkey",
]


def _bucketed_fact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    cols: list,
    key: str,
    num_buckets: int = 32,
) -> DataFrame:
    """Session-scoped bucketed materialization of one fact projection:
    writes ``<name>`` bucketed+sorted on ``key`` into a warehouse DB
    (ONCE per session+sf — later calls hit the catalog), returns the
    catalog table. The bucket spec lives in table metadata, so reads
    expose outputPartitioning = HashPartitioning(key, n) and every
    equi-join/groupBy on ``key`` plans WITHOUT an Exchange. 32 buckets
    matches the local shuffle-partition count; a 100 TB deployment picks
    thousands (bucket count is the parallelism floor for bucket-local
    stages)."""
    import os
    import tempfile

    from ..catalog import table as _table
    from ..sources.writers import write_bucketed

    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    # Spark 3+ stopped reporting bucketed-scan sort order by default
    # because MULTI-file buckets broke it; write_bucketed guarantees the
    # invariant the conf requires (repartition-aligned → exactly one
    # sorted file per bucket) and since r8 ENFORCES it (rejects
    # mode='append' onto sorted buckets), so enabling it is sound for
    # every table this engine can create. It stays set session-wide by
    # necessity: the conf is consulted at physical planning time, which
    # happens lazily AFTER this helper returns — a save/restore wrapper
    # here would disable the very sort-elision it exists for. Sessions
    # reading EXTERNALLY-written bucketed tables (none in this repo)
    # must not combine them with this helper in one session.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    # session-scoped DB location: the in-memory catalog dies with the
    # session but a static warehouse LOCATION would survive it, and
    # saveAsTable refuses a managed table whose location already exists
    # (LOCATION_ALREADY_EXISTS on the next session). Keying the DB dir by
    # applicationId gives each session a fresh, self-consistent namespace
    # — one write per session, absorbed by the bench warm-up; a real
    # deployment uses a persistent metastore and writes ONCE ever.
    loc = os.path.join(
        tempfile.gettempdir(),
        f"edqp-bucketmart-{spark.sparkContext.applicationId}",
    )
    if not os.path.exists(loc):
        # housekeeping: DEAD sessions' bucketmart dirs are dead weight
        # (their catalogs died with them — ~0.7 GB each at sf10). The
        # mtime gate keeps a concurrently-live session's files safe even
        # if the one-session-at-a-time contract is violated (ADVICE r7).
        from ..session import drop_stale_session_dirs

        drop_stale_session_dirs("edqp-bucketmart", keep=loc)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketmart LOCATION '{loc}'")
    tbl = f"bucketmart.{name}_{tag}"
    if not spark.catalog.tableExists(tbl):
        write_bucketed(
            _table(spark, sf_dir, name).select(*cols),
            tbl,
            [key],
            num_buckets,
            sort_cols=[key],
        )
    return spark.table(tbl)


@register(
    "mart_shipping_priority_bucketed",
    # identical result contract to mart_shipping_priority — the oracle is
    # the same Q3 SQL over the raw parquet; only Spark's physical layout
    # differs (bucketed facts -> zero-exchange join AND aggregate).
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                     + 0.5) AS BIGINT)) DESC,
             o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    tables=("customer", "orders", "lineitem"),
    demo=True,  # Spark side includes a one-time bucketize the oracle skips
)
def mart_shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 over BUCKETED facts — the declared 100 TB answer to the
    fact-join family floor (PERF.md r7 entry): both facts live bucketed+
    sorted on orderkey, so the orderkey join has NO shuffle and NO sort
    on either side, and the (l_orderkey, …) aggregate rides the same
    bucket partitioning — the steady-state plan is EXCHANGE-FREE up to
    the final top-10 (plan-asserted in tests/test_plans.py). The shuffle
    the un-bucketed twin pays per query is paid once at write time; a
    warehouse that joins lineitem⋈orders daily amortizes it in two runs.

    Registered demo=True: the first call per session materializes the
    bucketed tables (the oracle reads raw parquet and skips that), so
    the comparable aggregate excludes it; the per-query timing after
    warm-up measures the steady state a deployed warehouse actually
    runs. Results are value-identical to ``mart_shipping_priority``
    (same oracle, hash-compared)."""
    customer = table(spark, sf_dir, "customer")
    o_b = _bucketed_fact(
        spark, sf_dir, "orders", _BUCKETED_ORDERS_COLS, "o_orderkey"
    )
    l_b = _bucketed_fact(
        spark, sf_dir, "lineitem", _BUCKETED_LINEITEM_COLS, "l_orderkey"
    )
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = o_b.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    l = l_b.filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(units).alias("rev_units"))
        .orderBy(F.col("rev_units").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register(
    "mart_returned_revenue_bucketed",
    # identical result contract to mart_returned_revenue — same Q10 SQL
    # over raw parquet; only Spark's physical layout differs.
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                 AS BIGINT)) DESC,
             c.c_custkey
    LIMIT 20
    """,
    tables=("customer", "orders", "lineitem", "nation"),
    demo=True,  # Spark side includes a one-time bucketize the oracle skips
)
def mart_returned_revenue_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 over BUCKETED facts — extends the bucketed-fact mechanism
    past the Q3 shape (VERDICT r7 item 2): Q10 joins on orderkey but then
    RE-AGGREGATES on a different key (custkey), so it tests exactly what
    the mechanism can and cannot remove.

    What bucketing removes: both fact-side shuffles AND both sorts under
    the lineitem⋈orders merge join (the 100 TB-dominant edge — the same
    pre-sorted single-file buckets Q3 uses; one bucketized copy serves
    the whole family via the union projection, readers column-prune).
    What it cannot remove: the custkey re-aggregation does NOT ride
    orderkey bucketing — group keys ⊉ bucket key — so it keeps its ONE
    exchange. That exchange carries map-side partial aggregates (≤ one
    row per custkey per bucket-partition), not fact rows: at 100 TB the
    shuffle is bounded by |customers touched| × buckets, orders of
    magnitude under the fact shuffle the un-bucketed twin pays. The plan
    is pinned to exactly one shuffle exchange and zero Sorts
    (tests/test_plans.py::test_returned_revenue_bucketed_single_exchange).

    Registered demo=True like the Q3 twin: first call per session pays
    the shared bucketize; steady state is what a warehouse that serves
    this join family daily actually runs. Reference shape: the marts the
    reference validates post-hoc (sales_performance,
    /root/reference/airflow/dags/pager-workflow.py:188) are exactly
    repeated fact-join families a warehouse materializes daily — the
    physical-layout decision this twin demonstrates."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    o_b = _bucketed_fact(
        spark, sf_dir, "orders", _BUCKETED_ORDERS_COLS, "o_orderkey"
    )
    l_b = _bucketed_fact(
        spark, sf_dir, "lineitem", _BUCKETED_LINEITEM_COLS, "l_orderkey"
    )
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    o = o_b.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    l = l_b.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(units).alias("rev_units"), F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        per_cust.join(
            customer.select("c_custkey", "c_name", "c_nationkey"),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("rev_units").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "n_lines",
        )
    )


@register(
    "mart_local_supplier_volume_bucketed",
    # identical result contract to mart_local_supplier_volume — same Q5
    # SQL over raw parquet; only Spark's physical layout differs.
    oracle=f"""
    SELECT n.n_name AS nation_name,
           {sql_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
    demo=True,  # Spark side includes a one-time bucketize the oracle skips
)
def mart_local_supplier_volume_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5 over BUCKETED facts — the honest hard case for the
    bucketed-fact mechanism (VERDICT r7 item 2): Q5's fact joins hit TWO
    different lineitem keys (orderkey to orders, suppkey to supplier),
    and ONE physical layout can only serve one of them.

    What bucketing removes: the lineitem⋈orders shuffle and both its
    sorts — the only fact⋈fact edge in this plan, and the dominant one
    at 100 TB (orders ≈ lineitem scale). What it cannot remove: nothing
    co-locates the l_suppkey edge — a table has one bucket spec, and
    re-bucketing lineitem on suppkey would forfeit the orderkey join.
    That edge survives here as a broadcast of the (suppkey, nationkey)
    dim projection — fine while supplier × 8 bytes fits an executor; a
    deployment where supplier outgrows broadcast keeps a SECOND bucketed
    copy of lineitem on suppkey (double storage for a second shuffle-free
    family) or eats one fact shuffle — that tradeoff is the honest limit
    of bucketing, documented here rather than hidden. The final 25-group
    nation aggregate exchanges only map-side partials (≤25 rows per
    partition), and the result ORDER BY adds a range exchange + Sort over
    those ≤25 aggregated rows — bounded by the group count, never by the
    facts. Plan pinned to exactly one hash exchange, one range exchange,
    and exactly one Sort (the 25-row result ordering — NO sort under the
    fact join)
    (tests/test_plans.py::test_local_supplier_volume_bucketed).

    Registered demo=True like the Q3/Q10 twins (shared one-time
    bucketize; steady state measured after warm-up)."""
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    o_b = _bucketed_fact(
        spark, sf_dir, "orders", _BUCKETED_ORDERS_COLS, "o_orderkey"
    )
    l_b = _bucketed_fact(
        spark, sf_dir, "lineitem", _BUCKETED_LINEITEM_COLS, "l_orderkey"
    )
    units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
        + F.lit(0.5)
    ).cast("long")
    o = o_b.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    j = (
        l_b.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(units).alias("rev_units"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "nation_name",
            fx_round(F.col("rev_units") / F.lit(10000.0), 2).alias("revenue"),
            "n_lines",
        )
        .orderBy(F.col("rev_units").desc(), "nation_name")
    )


@register(
    "mart_nation_yearly_growth",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation_name,
             CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             SUM(CAST(FLOOR(o.o_totalprice * 10000 + 0.5) AS BIGINT)) AS revu
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, year(o.o_orderdate)
    ),
    lagged AS (
      SELECT nation_name, order_year, revu,
             LAG(revu) OVER (PARTITION BY nation_name ORDER BY order_year) AS prev_revu
      FROM rev
    )
    SELECT nation_name, order_year,
           FLOOR((revu / 10000.0) * 100 + 0.5) / 100.0 AS revenue,
           FLOOR(((revu - prev_revu) / 10000.0) * 100 + 0.5) / 100.0 AS yoy_growth
    FROM lagged
    ORDER BY nation_name, order_year
    """,
    tables=("orders", "customer", "nation"),
)
def mart_nation_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue trend per nation — the growth-report shape
    (this year minus last year, NULL for each nation's first year).

    Float discipline: per-order totals quantize to integer 1e-4 units
    before the grouped sum, the LAG difference happens on the exact unit
    sums (not on rounded doubles — subtracting two independently-rounded
    revenues can differ from rounding the exact difference), and each
    output rounds once via the fx helpers' floor(x*100+0.5) tree.

    Scale shape: the fact collapses to |nations| x |years| rows (~175)
    BEFORE the window, so the LAG shuffle+sort touches a constant-size
    frame — the window-over-aggregate discipline (mart_daily_revenue_ma7
    precedent), never a window over raw orders. The customer join is
    AQE-decided (scale-growing side, no explicit broadcast per policy);
    nation broadcasts (size-constant)."""
    from pyspark.sql import Window

    from ..functions.numeric import fx_from_units, fx_units

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = (
        orders.select(
            "o_custkey",
            F.year("o_orderdate").alias("order_year"),
            fx_units(F.col("o_totalprice")).alias("units"),
        )
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"), "order_year")
        .agg(F.sum("units").alias("revu"))
    )
    w = Window.partitionBy("nation_name").orderBy("order_year")
    return (
        rev.withColumn("prev_revu", F.lag("revu").over(w))
        .select(
            "nation_name",
            F.col("order_year").cast("int").alias("order_year"),
            fx_from_units(F.col("revu")).alias("revenue"),
            fx_from_units(F.col("revu") - F.col("prev_revu")).alias("yoy_growth"),
        )
        .orderBy("nation_name", "order_year")
    )
