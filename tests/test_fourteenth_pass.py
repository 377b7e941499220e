from __future__ import annotations

import datetime
import re

from conftest import plan_of

from enterprise_data_quality_platform_spark.queries import relational as rel


def _d(y: int, m: int = 1, d: int = 1) -> datetime.datetime:
    return datetime.datetime(y, m, d)


def test_custdist_counts_zero_order_customers(spark, crafted_tables):
    cust = spark.createDataFrame([(i,) for i in range(1, 6)], "c_custkey long")
    # cust 1: two non-urgent; cust 2: one urgent (filtered -> zero);
    # cust 3: one of each -> one; cust 4,5: none -> zero
    orders = spark.createDataFrame(
        [
            (10, 1, "3-MEDIUM"),
            (11, 1, "5-LOW"),
            (12, 2, "1-URGENT"),
            (13, 3, "1-URGENT"),
            (14, 3, "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    tables = {"customer": cust, "orders": orders}
    crafted_tables(rel, tables)
    got = {r.c_count: r.custdist for r in rel.mart_custdist(spark, "x").collect()}
    assert got == {0: 3, 1: 1, 2: 1}


def test_custdist_aggregates_orders_before_join(spark):
    """The per-customer order count must collapse BEFORE the outer join —
    the join input is one row per ordering customer, never raw orders."""
    plan = plan_of(spark, "mart_custdist")
    join_at = plan.find("SortMergeJoin")
    if join_at < 0:
        join_at = plan.find("BroadcastHashJoin")
    agg_at = plan.find("HashAggregate")
    assert join_at > 0 and agg_at > 0
    # a HashAggregate node appears below (before, in formatted node order)
    # the join: the orders count is pre-join
    assert "HashAggregate" in plan[:join_at] or plan.count("HashAggregate") >= 3


def test_idle_rich_filters_and_anti_joins(spark, crafted_tables):
    # avg positive balance = (100 + 300)/2 = 200
    cust = spark.createDataFrame(
        [
            (1, 0, 100.0),  # below avg
            (2, 0, 300.0),  # above avg, has recent order -> excluded
            (3, 1, 300.0),  # above avg, only old order -> kept
            (4, 1, -50.0),  # negative: not in avg, below it anyway
        ],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [(10, 2, _d(2000)), (11, 3, _d(1997))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    tables = {"customer": cust, "orders": orders}
    crafted_tables(rel, tables)
    rows = rel.mart_idle_rich_customers(spark, "x").collect()
    assert [(r.c_nationkey, r.numcust, r.total_acctbal) for r in rows] == [
        (1, 1, 300.0)
    ]


def test_idle_rich_average_boundary_is_strict(spark, crafted_tables):
    """Balance exactly equal to the average must NOT pass (strict >) —
    pinned via integer cross-multiplication on both engines."""
    cust = spark.createDataFrame(
        [(1, 0, 200.0), (2, 0, 200.0)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderdate timestamp"
    )
    tables = {"customer": cust, "orders": orders}
    crafted_tables(rel, tables)
    assert rel.mart_idle_rich_customers(spark, "x").count() == 0


def test_idle_rich_broadcasts_scalar_factor(spark):
    plan = plan_of(spark, "mart_idle_rich_customers")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row factor
    assert "LeftAnti" in plan


def test_top_supplier_keeps_ties(spark, crafted_tables):
    li = spark.createDataFrame(
        [
            # suppliers 1 and 2 tie at 200.0 net; supplier 3 lower;
            # supplier 4 is outside the date window
            (1, 100.0, 0.0, _d(1996, 2)),
            (1, 100.0, 0.0, _d(1996, 3)),
            (2, 200.0, 0.0, _d(1996, 2)),
            (3, 50.0, 0.0, _d(1996, 2)),
            (4, 999.0, 0.0, _d(1995, 2)),
        ],
        "l_suppkey long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    supp = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")],
        "s_suppkey long, s_name string",
    )
    tables = {"lineitem": li, "supplier": supp}
    crafted_tables(rel, tables)
    rows = rel.mart_top_supplier(spark, "x").collect()
    assert [(r.s_suppkey, r.total_revenue) for r in rows] == [(1, 200.0), (2, 200.0)]


def test_top_supplier_single_scan_and_pushed_filter(spark):
    # scalar MAX via a Window over the aggregated |suppliers| frame: a
    # broadcast-factor form would re-derive the max from a SECOND aggregate
    # subtree and scan lineitem twice (plan text prints each actual
    # scan's path twice — Location + metadata line)
    plan = plan_of(spark, "mart_top_supplier")
    assert plan.count("lineitem.parquet") <= 2  # ONE fact scan
    assert "Window" in plan  # over the bounded aggregated frame only
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_returned_revenue_filters_flag_and_year(spark, crafted_tables):
    cust = spark.createDataFrame(
        [(1, "c1", 0), (2, "c2", 1)], "c_custkey long, c_name string, c_nationkey int"
    )
    orders = spark.createDataFrame(
        [(10, 1, _d(1996, 6)), (11, 2, _d(1997, 6))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        [
            (10, 100.0, 0.1, "R"),  # kept: 90.0
            (10, 50.0, 0.0, "N"),  # wrong flag
            (11, 70.0, 0.0, "R"),  # order outside window
        ],
        "l_orderkey long, l_extendedprice double, l_discount double, l_returnflag string",
    )
    nation = spark.createDataFrame(
        [(0, "n0"), (1, "n1")], "n_nationkey int, n_name string"
    )
    tables = {"customer": cust, "orders": orders, "lineitem": li, "nation": nation}
    crafted_tables(rel, tables)
    rows = rel.mart_returned_revenue(spark, "x").collect()
    assert [(r.c_custkey, r.nation_name, r.revenue, r.n_lines) for r in rows] == [
        (1, "n0", 90.0, 1)
    ]


def test_returned_revenue_topk_no_global_sort(spark):
    plan = plan_of(spark, "mart_returned_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "l_returnflag" in plan[plan.find("PushedFilters") :][:4000]


def test_discount_effect_band_and_quantity(spark, crafted_tables):
    li = spark.createDataFrame(
        [
            (100.0, 0.05, 10.0, _d(1996, 2)),  # kept: 5.0
            (100.0, 0.07, 23.0, _d(1996, 3)),  # kept: 7.0
            (100.0, 0.08, 10.0, _d(1996, 4)),  # discount out of band
            (100.0, 0.06, 24.0, _d(1996, 5)),  # quantity at cap -> excluded
            (100.0, 0.06, 10.0, _d(1997, 1)),  # outside the year
        ],
        "l_extendedprice double, l_discount double, l_quantity double, l_shipdate timestamp",
    )
    crafted_tables(rel, li)
    row = rel.mart_discount_effect(spark, "x").collect()[0]
    assert (row.promo_revenue, row.n_lines) == (12.0, 2)


def test_discount_effect_single_scan_map_combined(spark):
    plan = plan_of(spark, "mart_discount_effect")
    assert "Exchange" in plan  # only the 1-row partial exchange
    # one scan node (the formatted tree lists each node twice: summary+detail)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "PushedFilters" in plan


def test_local_supplier_volume_same_nation_only(spark, crafted_tables):
    d = datetime.datetime(1996, 6, 1)
    li = spark.createDataFrame(
        [(10, 1, 100.0, 0.0), (11, 2, 50.0, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
    )
    orders = spark.createDataFrame(
        [(10, 1, d), (11, 1, d)], "o_orderkey long, o_custkey long, o_orderdate timestamp"
    )
    cust = spark.createDataFrame([(1, 7)], "c_custkey long, c_nationkey int")
    supp = spark.createDataFrame(
        [(1, 7), (2, 8)], "s_suppkey long, s_nationkey int"
    )  # supplier 2 is foreign -> excluded
    nation = spark.createDataFrame([(7, "n7"), (8, "n8")], "n_nationkey int, n_name string")
    tables = {"lineitem": li, "orders": orders, "customer": cust,
              "supplier": supp, "nation": nation}
    crafted_tables(rel, tables)
    rows = rel.mart_local_supplier_volume(spark, "x").collect()
    assert [(r.nation_name, r.revenue, r.n_lines) for r in rows] == [("n7", 100.0, 1)]


def test_nation_trade_volume_is_directional(spark, crafted_tables):
    d = datetime.datetime(1996, 6, 1)
    li = spark.createDataFrame(
        [(10, 1, 100.0, 0.0, d), (11, 2, 70.0, 0.0, d)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [(10, 1, d), (11, 2, d)], "o_orderkey long, o_custkey long, o_orderdate timestamp"
    )
    # cust 1 in NATION_9 buys from supp 1 in NATION_10; cust 2 reverse
    cust = spark.createDataFrame([(1, 9), (2, 10)], "c_custkey long, c_nationkey int")
    supp = spark.createDataFrame([(1, 10), (2, 9)], "s_suppkey long, s_nationkey int")
    nation = spark.createDataFrame(
        [(9, "NATION_9"), (10, "NATION_10")], "n_nationkey int, n_name string"
    )
    tables = {"lineitem": li, "orders": orders, "customer": cust,
              "supplier": supp, "nation": nation}
    crafted_tables(rel, tables)
    got = {
        (r.cust_nation, r.supp_nation): r.volume
        for r in rel.mart_nation_trade_volume(spark, "x").collect()
    }
    assert got == {("NATION_9", "NATION_10"): 100.0, ("NATION_10", "NATION_9"): 70.0}


def test_brand_market_share_single_aggregate(spark, crafted_tables):
    d = datetime.datetime(1996, 6, 1)
    li = spark.createDataFrame(
        [(10, 1, 100.0, 0.0), (10, 2, 300.0, 0.0), (10, 3, 999.0, 0.0)],
        "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
    )
    orders = spark.createDataFrame([(10, d)], "o_orderkey long, o_orderdate timestamp")
    part = spark.createDataFrame(
        [(1, "Brand#11", "STANDARD"), (2, "Brand#22", "STANDARD"), (3, "Brand#11", "PROMO")],
        "p_partkey long, p_brand string, p_type string",
    )
    tables = {"lineitem": li, "orders": orders, "part": part}
    crafted_tables(rel, tables)
    rows = rel.mart_brand_market_share(spark, "x").collect()
    # PROMO line excluded by type filter; share = 100/400
    assert [(r.order_year, r.brand_share) for r in rows] == [(1996, 0.25)]


def test_large_volume_having_then_joinback(spark):
    plan = plan_of(spark, "mart_large_volume_customers")
    assert "TakeOrderedAndProject" in plan
    # the HAVING threshold is a Filter over the aggregate's output (packed
    # form: per-order sums recovered from 14-bit slots, filtered
    # at > 300 before the joins back to orders/customer)
    assert "qty_sum" in plan and "> 300" in plan
    assert "Window" not in plan


def test_supplier_part_counts_no_expand_and_anti_join(spark):
    plan = plan_of(spark, "mart_supplier_part_counts")
    assert "Expand" not in plan  # two-level distinct, never the Expand form
    assert "LeftAnti" in plan  # NOT IN as anti join, no nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_sole_late_supplier_crafted(spark, crafted_tables):
    """Order 1: suppliers A late, B on time, multi-supplier -> A waits
    (twice: two late lines). Order 2: A and B both late -> nobody. Order
    3: only A participates -> nobody (EXISTS fails)."""
    d0 = datetime.datetime(1996, 1, 1)
    late = datetime.datetime(1996, 6, 1)  # > 90 days
    ok = datetime.datetime(1996, 1, 15)
    li = spark.createDataFrame(
        [
            (1, 100, late), (1, 100, late), (1, 200, ok),
            (2, 100, late), (2, 200, late),
            (3, 100, late),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [(1, "F", d0), (2, "F", d0), (3, "F", d0)],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
    )
    supp = spark.createDataFrame(
        [(100, "supp_a"), (200, "supp_b")], "s_suppkey long, s_name string"
    )
    tables = {"lineitem": li, "orders": orders, "supplier": supp}
    crafted_tables(rel, tables)
    rows = rel.mart_sole_late_supplier(spark, "x").collect()
    assert [(r.s_name, r.numwait) for r in rows] == [("supp_a", 2)]
