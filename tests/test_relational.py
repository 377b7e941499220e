"""Relational marts and staging queries (``queries/relational.py``):
crafted-input semantics, packed-map domain guards and plan shapes."""

from __future__ import annotations

import datetime
import re

import pytest

from conftest import plan_of

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.queries import relational as rel


def _d(y: int, m: int = 1, d: int = 1) -> datetime.datetime:
    return datetime.datetime(y, m, d)


_PART_TYPE = "p_partkey long, p_type string"


def test_large_volume_packed_sums_guards(spark, crafted_tier):
    """The packed-quantity-sum form of mart_large_volume_customers:
    fractional quantities, negative quantities, and per-order sums beyond
    the 14-bit slot each raise loudly instead of silently corrupting the
    HAVING filter; valid integer data still reproduces exact sums."""

    def tier(tag, li_rows):
        orders = [(k, 1, 10.0, "1996-01-01") for k in {r[0] for r in li_rows}]
        return crafted_tier(
            tag,
            lineitem=(li_rows, "l_orderkey long, l_quantity double"),
            orders=(
                orders,
                "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
            ),
            customer=([(1, "c1")], "c_custkey long, c_name string"),
        )

    # fractional quantity, negative quantity, per-order sum beyond the
    # 14-bit slot (carry): each raises
    for tag, li_rows in (
        ("frac", [(1, 2.5), (2, 400.0)]),
        ("neg", [(1, -3.0), (2, 400.0)]),
        ("carry", [(4, 9000.0), (4, 9000.0)]),
    ):
        with pytest.raises(Exception, match="packed-sum domain"):
            rel.mart_large_volume_customers(spark, tier(tag, li_rows)).collect()
    # valid data: exact sums, HAVING boundary respected (301 in, 300 out)
    sf = tier("ok", [(8, 200.0), (8, 101.0), (9, 300.0), (10, 50.0)])
    rows = rel.mart_large_volume_customers(spark, sf).collect()
    assert [(r.o_orderkey, r.total_qty) for r in rows] == [(8, 301.0)]


def test_promo_share_bitmap_flag_join_semantics(spark, crafted_tier):
    """The bitmap flag-join form of mart_promo_revenue_share:
    (a) exact inner-join semantics — a lineitem whose partkey is ABSENT
    from part (but whose word exists) must be dropped, and a negative
    partkey recovers its bit exactly; (b) duplicate dim keys raise via
    the bit_count guard instead of silently de-duplicating matches."""
    lines = "l_partkey long, l_extendedprice double, l_discount double, l_shipdate timestamp_ntz"
    ts = datetime.datetime(1996, 3, 7)
    # parts 5 (PROMO) and -3 (STANDARD) exist; partkey 6 shares word 0
    # with part 5 but is absent -> its 100.0 revenue must NOT count
    sf = crafted_tier(
        "ok",
        part=([(5, "PROMO"), (-3, "STANDARD")], _PART_TYPE),
        lineitem=([(5, 10.0, 0.0, ts), (6, 100.0, 0.0, ts), (-3, 30.0, 0.0, ts)], lines),
    )
    rows = rel.mart_promo_revenue_share(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_lines == 2  # absent partkey 6 dropped
    assert r.promo_share_pct == 25.0  # 10 promo / 40 total

    # duplicate partkey -> loud failure
    dup = crafted_tier(
        "dup",
        part=([(5, "PROMO"), (5, "PROMO")], _PART_TYPE),
        lineitem=([(5, 10.0, 0.0, ts)], lines),
    )
    with pytest.raises(Exception, match="duplicate p_partkey"):
        rel.mart_promo_revenue_share(spark, dup).collect()


def test_brand_share_packed_year_map_semantics(spark, crafted_tier):
    """The packed-map form of mart_brand_market_share: (a) exact
    inner-join semantics on BOTH packed sides — a lineitem whose partkey
    or orderkey is ABSENT (word present, slot/bit empty) must drop, and
    negative keys recover exactly; (b) the numerator counts only
    STANDARD Brand#11 revenue; (c) duplicate part/order keys and order
    years outside [1990, 2244] raise via the dim-side guards instead of
    silently corrupting slots."""

    def tier(tag, parts, orders, lines):
        return crafted_tier(
            tag,
            part=(parts, "p_partkey long, p_type string, p_brand string"),
            orders=(orders, "o_orderkey long, o_orderdate timestamp_ntz"),
            lineitem=(
                lines,
                "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
            ),
        )

    d96 = datetime.datetime(1996, 3, 7)
    d97 = datetime.datetime(1997, 6, 1)
    parts = [
        (5, "STANDARD", "Brand#11"),
        (6, "STANDARD", "Brand#22"),
        (-3, "STANDARD", "Brand#11"),
        (7, "PROMO", "Brand#11"),  # non-STANDARD -> never counts
    ]
    orders = [(100, d96), (101, d97), (-9, d96)]
    lines = [
        (100, 5, 10.0, 0.0),   # 1996 brand revenue 10
        (100, 6, 30.0, 0.0),   # 1996 other-brand revenue 30
        (101, -3, 7.0, 0.0),   # 1997 brand revenue 7 (negative partkey)
        (-9, 6, 5.0, 0.0),     # 1996, negative orderkey
        (100, 8, 999.0, 0.0),  # partkey 8 ABSENT (word 0 exists) -> drop
        (102, 5, 999.0, 0.0),  # orderkey 102 ABSENT (word 12 exists) -> drop
        (100, 7, 999.0, 0.0),  # PROMO part -> filtered like a failed join
    ]
    rows = rel.mart_brand_market_share(spark, tier("ok", parts, orders, lines)).collect()
    got = {r.order_year: r.brand_share for r in rows}
    # 1996: brand 10 of total 45 = 0.222222 (6 dp); 1997: brand 7 of 7
    assert got == {1996: 0.222222, 1997: 1.0}

    # duplicate orderkey -> loud failure (two year codes OR'd into a slot)
    dup_o = tier("dupo", parts, [(100, d96), (100, d97)], [(100, 5, 1.0, 0.0)])
    with pytest.raises(Exception, match="packed year-map domain"):
        rel.mart_brand_market_share(spark, dup_o).collect()

    # duplicate partkey -> loud failure
    dup_p = tier(
        "dupp",
        [(5, "STANDARD", "Brand#11"), (5, "STANDARD", "Brand#11")],
        [(100, d96)],
        [(100, 5, 1.0, 0.0)],
    )
    with pytest.raises(Exception, match="duplicate p_partkey"):
        rel.mart_brand_market_share(spark, dup_p).collect()

    # order year outside the 8-bit code range -> loud failure
    old = tier("old", parts, [(100, _d(1989))], [(100, 5, 1.0, 0.0)])
    with pytest.raises(Exception, match="packed year-map domain"):
        rel.mart_brand_market_share(spark, old).collect()


def test_q3_packed_date_map_guards(spark, crafted_tier):
    """mart_shipping_priority's packed date map: a NON-midnight-aligned
    o_orderdate would silently recover a truncated date, so the code
    expression maps it to -1 and the map's domain guard raises."""
    sf = crafted_tier(
        "q3bad",
        customer=([(1, "BUILDING")], "c_custkey long, c_mktsegment string"),
        orders=(
            [(10, 1, datetime.datetime(1996, 3, 7, 12, 30), "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz,"
            " o_orderpriority string",
        ),
        lineitem=(
            [(10, 100.0, 0.0, _d(1997, 6))],
            "l_orderkey long, l_extendedprice double, l_discount double,"
            " l_shipdate timestamp_ntz",
        ),
    )
    with pytest.raises(Exception, match="packed date-map domain"):
        rel._mart_shipping_priority_packed(spark, sf).collect()


def test_q5_packed_nation_maps_guard(spark, crafted_tier):
    """mart_local_supplier_volume's nation-code maps: a nationkey outside
    the 8-bit code domain raises via the per-word guard instead of
    bleeding into a neighbor slot."""
    sf = crafted_tier(
        "q5bad",
        customer=([(1, 300)], "c_custkey long, c_nationkey int"),
        orders=(
            [(10, 1, _d(1996, 6))],
            "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz",
        ),
        supplier=([(1, 7)], "s_suppkey long, s_nationkey int"),
        nation=([(7, "n7")], "n_nationkey int, n_name string"),
        lineitem=(
            [(10, 1, 100.0, 0.0)],
            "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
        ),
    )
    with pytest.raises(Exception, match="packed customer nation-map domain"):
        rel._mart_local_supplier_volume_packed(spark, sf).collect()


def test_promo_share_conditional_aggregate(spark, crafted_tables):
    d = datetime.datetime(2024, 5, 10)
    li = spark.createDataFrame(
        [
            (1, 100.0, 0.0, d),  # promo: 100
            (2, 300.0, 0.0, d),  # standard: 300
        ],
        "l_partkey long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    part = spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey long, p_type string"
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    rows = rel.mart_promo_revenue_share(spark, "x").collect()
    assert len(rows) == 1
    assert rows[0].promo_share_pct == 25.0 and rows[0].n_lines == 2


def test_promo_share_single_aggregate_no_second_scan(spark):
    plan = plan_of(spark, "mart_promo_revenue_share")
    # bitmap flag-join: ONE lineitem scan (the load-bearing invariant —
    # both sums still come from one conditional aggregate over one probe
    # pass) + TWO part scans (the word-bitmap build and the duplicate-key
    # guard's recount; Catalyst duplicates the dim subtree for the 1-row
    # guard aggregate — adjudicated: 2M dim rows off the fact path, the
    # same deliberate trade as the affinity pack guard).
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert plan.count("lineitem.parquet") == 1


def test_disjunctive_join_stays_hash_join(spark):
    """The OR spans both sides, but the common partkey equi-condition must
    still drive a hash join — never a nested loop."""
    plan = plan_of(spark, "mart_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_bands_are_exclusive_filters(spark, crafted_tables):
    li = spark.createDataFrame(
        [
            (1, 5.0, 100.0, 0.0),   # Brand#12, qty 5 in [1,11] -> kept
            (1, 12.0, 100.0, 0.0),  # Brand#12, qty 12 out of band
            (2, 15.0, 50.0, 0.0),   # Brand#23, qty 15 in [10,20] -> kept
            (3, 15.0, 70.0, 0.0),   # Brand#34, qty 15 out of [20,30]
        ],
        "l_partkey long, l_quantity double, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame(
        [(1, "Brand#12", 10), (2, "Brand#23", 20), (3, "Brand#34", 30)],
        "p_partkey long, p_brand string, p_size int",
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    row = rel.mart_disjunctive_revenue(spark, "x").collect()[0]
    assert (row.n_lines, row.revenue) == (2, 150.0)


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


def test_small_qty_revenue_matches_manual(spark, crafted_tables):
    # part 1: quantities 1, 10, 10 -> avg 7 -> only qty 1 < 1.4 qualifies
    # part 2: quantities 5, 5 -> avg 5 -> nothing < 1.0
    li = spark.createDataFrame(
        [
            (1, 1.0, 100.0),
            (1, 10.0, 100.0),
            (1, 10.0, 100.0),
            (2, 5.0, 100.0),
            (2, 5.0, 100.0),
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "BRAND_A"), (2, "BRAND_B")], "p_partkey long, p_brand string"
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    got = rel.mart_small_qty_revenue(spark, "unused").collect()
    assert [(r.p_brand, r.small_qty_lines, r.small_qty_revenue) for r in got] == [
        ("BRAND_A", 1, 100.0)
    ]


def test_small_qty_revenue_decorrelates(spark):
    """Catalyst must rewrite the correlated scalar subqueries into
    aggregate+join — no per-row subquery execution in the physical plan."""
    plan = plan_of(spark, "mart_small_qty_revenue_subquery")
    assert "Subquery" not in plan
    assert "NestedLoop" not in plan


def test_small_qty_revenue_threshold_plan(spark):
    """The packed-threshold-map form: the 60M probe's threshold AND
    brand joins are broadcast word joins — no SortMergeJoin, no SMJ sort
    of the probe; the single fact exchange is the per-part stats
    aggregate (irreducible: every line feeds its part's average)."""
    plan = plan_of(spark, "mart_small_qty_revenue")
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_pareto_classes_and_cumshare(spark, crafted_tables):
    # nation revenues 80 / 15 / 5 -> classes A, B, C at the 80/95 cuts
    orders = spark.createDataFrame(
        [(i, c, v) for i, (c, v) in enumerate([(1, 80.0), (2, 15.0), (3, 5.0)])],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame(
        [(10, "N_A"), (20, "N_B"), (30, "N_C")], "n_nationkey int, n_name string"
    )
    tables = {"orders": orders, "customer": customer, "nation": nation}
    crafted_tables(rel, tables)
    got = rel.mart_nation_pareto(spark, "unused").collect()
    assert [(r.nation_name, r.abc_class) for r in got] == [
        ("N_A", "A"),
        ("N_B", "B"),
        ("N_C", "C"),
    ]
    assert got[-1].cum_share == pytest.approx(1.0, abs=1e-6)


def test_pareto_single_window_no_total_factor(spark):
    """Running sum and grand total share ONE window pass over the 25
    aggregated nation rows: no crossJoin total factor, no second
    star-join subtree (window-over-aggregate)."""
    plan = plan_of(spark, "mart_nation_pareto")
    assert "Window" in plan
    assert "NestedLoop" not in plan  # the 1-row crossJoin factor is gone
    # one star-join subtree: orders scanned once
    assert plan.count("orders.parquet") == 1


def test_part_value_share_total_avoids_second_per_part_shuffle(spark):
    """The grand total is a map-combined 1-row aggregate off the scan —
    exactly one per-part hash exchange in the whole plan (re-aggregating
    the grouped frame would shuffle by l_partkey twice)."""
    plan = plan_of(spark, "mart_part_value_share")
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "TakeOrderedAndProject" in plan


def test_part_value_share_threshold_is_exact(spark, crafted_tables):
    # part 1 carries 99.99% of value; part 2 exactly 0.01% -> excluded (>)
    li = spark.createDataFrame(
        [(1, 9999.0), (2, 1.0)],
        "l_partkey long, l_extendedprice double",
    )
    crafted_tables(rel, li)
    got = rel.mart_part_value_share(spark, "unused").collect()
    assert [r.l_partkey for r in got] == [1]
    assert got[0].value_share == pytest.approx(0.9999, abs=1e-6)


def test_yearly_growth_delta_and_first_year_null(spark, crafted_tables):
    def ts(y):
        return datetime.datetime(y, 6, 1)

    orders = spark.createDataFrame(
        [
            (1, 1, ts(1995), 100.0),
            (2, 1, ts(1995), 50.0),
            (3, 1, ts(1996), 120.0),
            (4, 2, ts(1996), 10.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, 0), (2, 1)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey int, n_name string"
    )
    frames = {"orders": orders, "customer": customer, "nation": nation}
    crafted_tables(rel, frames)
    rows = {
        (r.nation_name, r.order_year): (r.revenue, r.yoy_growth)
        for r in rel.mart_nation_yearly_growth(spark, "unused").collect()
    }
    assert rows[("ALPHA", 1995)] == (150.0, None)
    assert rows[("ALPHA", 1996)] == (120.0, -30.0)
    assert rows[("BETA", 1996)] == (10.0, None)


def test_yearly_growth_window_over_aggregate_plan(spark):
    """The LAG window must run over the aggregated (nation, year) frame,
    never over raw orders: the Window node's child chain contains the
    HashAggregate, and no explicit broadcast of the scale-growing
    customer side appears (AQE-decided per policy)."""
    plan = plan_of(spark, "mart_nation_yearly_growth")
    assert "Window" in plan
    # formatted explain prints root-first: the Window printing BEFORE the
    # HashAggregate means the aggregate is the window's descendant (the
    # window runs over aggregated rows, not raw orders)
    assert plan.index("Window") < plan.index("HashAggregate")


def test_ma7_is_trailing_and_partial_at_series_start(spark, crafted_tables):
    days = [datetime.datetime(2024, 1, d) for d in range(1, 11)]
    # revenue 100, 200, ..., 1000 (one order per day)
    df = spark.createDataFrame(
        [(d, float((i + 1) * 100)) for i, d in enumerate(days)],
        "o_orderdate timestamp, o_totalprice double",
    )
    crafted_tables(rel, df)
    rows = rel.mart_daily_revenue_ma7(spark, "unused").collect()
    assert [r.revenue for r in rows] == [float((i + 1) * 100) for i in range(10)]
    # day 1: avg(100); day 3: avg(100..300)=200; day 10: avg(400..1000)=700
    assert rows[0].ma7_revenue == 100.0
    assert rows[2].ma7_revenue == 200.0
    assert rows[9].ma7_revenue == 700.0


def test_quartiles_ntile_and_percent_rank(spark, sf_dir):
    rows = rel.mart_nation_revenue_quartiles(spark, sf_dir).collect()
    n = len(rows)
    assert sorted({r.quartile for r in rows}) == [1, 2, 3, 4]
    # quartiles are monotone along the revenue-desc order and balanced ±1
    qs = [r.quartile for r in rows]
    assert qs == sorted(qs)
    sizes = [qs.count(q) for q in (1, 2, 3, 4)]
    assert max(sizes) - min(sizes) <= 1
    assert rows[0].pct_rank == 0.0 and rows[-1].pct_rank == 1.0
    assert rows[-1].cume == 1.0
    assert rows[0].cume == pytest.approx(1.0 / n)


def test_part_affinity_counts_pairs_within_basket(spark, crafted_tables):
    rows = [
        (1, 10), (1, 20), (1, 30),   # basket 1 -> (10,20) (10,30) (20,30)
        (2, 10), (2, 20),            # basket 2 -> (10,20)
        (3, 40),                     # singleton -> nothing
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    crafted_tables(rel, df)
    got = {
        (r.part_a, r.part_b): r.together_count
        for r in rel.mart_part_affinity(spark, "unused").collect()
    }
    assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}


def test_unpivot_produces_one_row_per_metric(spark, sf_dir):
    rows = rel.stg_unpivot_metrics(spark, sf_dir).collect()
    assert [r.metric for r in rows] == [
        "discount", "extendedprice", "quantity", "tax",
    ]
    assert len({r.n_rows for r in rows}) == 1  # all four same row count
